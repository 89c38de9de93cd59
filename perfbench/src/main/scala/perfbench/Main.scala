package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.io.Source
import scala.util.Using

import org.apache.spark.sql.SparkSession

import graft.plans.SortThroughProject

/** Benchmark entry point: one workload per JVM.
  *
  * {{{
  * Main --workload NAME --seed N --seconds S --trace 0|1 [--scale F] --work DIR
  * }}}
  *
  * Builds the session the way the production entry points do (local[nproc],
  * shuffle partitions = nproc, UTC, SortThroughProject), sets the workload up
  * from the seed three times, warms it up, then measures for `--seconds`.
  * With `--trace 0` the last stdout line carries the end-to-end metrics;
  * with `--trace 1` it carries the per-layer metrics of a traced run. The
  * artifact (fingerprint, metrics, spans) goes to `DIR/out/`.
  */
object Main {
  val SetupReps = 3
  val WarmUpSeconds = 5.0

  val Workloads = Seq("e1_features", "geo_build", "serve_mix")

  /** Workload sizes at scale 1.0 (see BENCHMARK.json for the reasons). */
  def workload(name: String, ctx: Ctx, cores: Int): Workload = name match {
    case "e1_features" => new E1Features(ctx.scaled(2000, 48), 20)
    case "geo_build" => new GeoBuild(ctx.scaled(250, 48), 40, nEdges = 5000)
    case "serve_mix" => new ServeMix(ctx.scaled(20000, 9000), clients = cores)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  def session(cores: Int, work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SortThroughProject.install(spark)
    spark
  }

  def fingerprint(spark: SparkSession): Map[String, Any] = {
    val cpu = Using(Source.fromFile("/proc/cpuinfo"))(_.getLines()
      .find(_.startsWith("model name")).map(_.split(":", 2)(1).trim))
      .toOption.flatten.getOrElse("unknown")
    Map("nproc" -> Runtime.getRuntime.availableProcessors,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "cpu_model" -> cpu, "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "git_commit" -> sys.props.getOrElse("perfbench.commit", "unknown"),
      "source_sha256" -> sys.props.getOrElse("perfbench.sources", "unknown"))
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** One small pass over every workload, traced and untraced, to load
    * the classes a run uses (the launcher records them in its
    * class-data-sharing archive). Prints nothing on stdout.
    */
  def prepare(spark: SparkSession, seed: Long, scale: Double, work: File, cores: Int): Unit = {
    val ctx = new Ctx(spark, seed, scale, work)
    val tel = new Telemetry(spark)
    Workloads.foreach { name =>
      val wl = workload(name, ctx, cores)
      wl.setup(ctx, new File(work, s"prepare-$name").getAbsolutePath)
      wl.warmUp(ctx, Some(tel), reps = 1, seconds = 0)
    }
    tel.close()
  }

  def main(args: Array[String]): Unit = {
    def need(k: String) = arg(args, k).getOrElse(
      throw new IllegalArgumentException(s"missing $k"))
    val name = need("--workload")
    val seed = need("--seed").toLong
    val seconds = need("--seconds").toDouble
    val trace = need("--trace") == "1"
    val scale = arg(args, "--scale").map(_.toDouble).getOrElse(1.0)
    val work = new File(need("--work"))
    val cores = Runtime.getRuntime.availableProcessors

    val t0 = System.nanoTime()
    val spark = session(cores, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    if (name == "all") {
      try prepare(spark, seed, scale, work, cores) finally spark.stop()
      sys.exit(0)
    }
    try {
      val ctx = new Ctx(spark, seed, scale, work)
      val wl = workload(name, ctx, cores)
      val inputs = new File(work, s"inputs-$name")
      deleteTree(inputs)
      val setups = (1 to SetupReps).map { i =>
        val s0 = System.nanoTime()
        wl.setup(ctx, new File(inputs, s"set$i").getAbsolutePath)
        (System.nanoTime() - s0) / 1e9
      }
      val tel = if (trace) Some(new Telemetry(spark)) else None
      val w0 = System.nanoTime()
      // the first execution pays class loading and code generation, the
      // next ones still run partly in the interpreter
      wl.warmUp(ctx, tel, reps = 2, seconds = WarmUpSeconds)
      val warmS = (System.nanoTime() - w0) / 1e9
      val setupS = sessionS + Stats.median(setups) + warmS
      val heapMb = LiveHeap.mb(spark)
      val outcome = tel match {
        case None =>
          val o = wl.measure(ctx, seconds)
          o.copy(metrics = o.metrics ++ Map("setup_s" -> setupS, "live_heap_mb" -> heapMb))
        case Some(t) => wl.trace(ctx, seconds, t)
      }
      val names = if (trace) MetricNames.perLayer else MetricNames.endToEnd
      val metrics = names.map { case (n, unit) =>
        n -> Map("value" -> outcome.metrics.getOrElse(n, 0.0), "unit" -> unit)
      }.toMap
      val fp = fingerprint(spark)
      val detail = outcome.detail ++ Map("session_s" -> sessionS, "setup_reps_s" -> setups,
        "warm_up_s" -> warmS)
      val artifact = new File(work, s"out/${name}_seed${seed}_trace${if (trace) 1 else 0}.json")
      artifact.getParentFile.mkdirs()
      Files.write(artifact.toPath, Json(Map("workload" -> name, "seed" -> seed,
        "seconds" -> seconds, "trace" -> trace, "scale" -> scale, "host" -> fp,
        "metrics" -> metrics, "detail" -> detail, "errors" -> outcome.errors,
        "spans" -> outcome.spans)).getBytes(StandardCharsets.UTF_8))
      println(s"# host ${Json(fp)}")
      println(s"# $name ${Json(detail)}")
      outcome.errors.take(20).foreach(e => println(s"# error $e"))
      println(Json(Map("correct" -> (outcome.failed == 0), "attempted" -> outcome.attempted,
        "failed" -> outcome.failed, "metrics" -> metrics)))
      tel.foreach(_.close())
    } finally spark.stop()
    sys.exit(0)
  }
}
