package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Names and units of every metric the benchmark reports. */
object MetricNames {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "run_s" -> "s", "throughput_per_s" -> "1/s", "live_heap_mb" -> "MB")

  val perLayer: Seq[(String, String)] = Seq(
    "sources.csv_scan_s" -> "s", "sources.geojson_write_s" -> "s",
    "sources.geojson_write_mb" -> "MB", "sources.map_rows_scanned_per_returned" -> "ratio",
    "operators.fanout_join_s" -> "s", "operators.fanout_join_shuffle_mb" -> "MB",
    "functions.calendar_s" -> "s",
    "windows.trailing_s" -> "s", "windows.trailing_spill_mb" -> "MB",
    "windows.trailing_task_skew" -> "ratio",
    "pipelines.split_s" -> "s",
    "ml.fit_s" -> "s", "ml.fit_jobs" -> "count", "ml.fit_input_passes" -> "ratio",
    "ml.score_s" -> "s", "ml.predict_local_us" -> "us",
    "metrics.eval_s" -> "s",
    "geo.wkt_parse_s" -> "s", "geo.crs_s" -> "s", "geo.point_feature_s" -> "s",
    "geo.line_feature_s" -> "s", "geo.nearest_edge_s" -> "s",
    "geo.nearest_edge_candidates_per_point" -> "ratio",
    "plans.plan_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.input_records" -> "count", "spark.scheduler_delay_ms" -> "ms") ++
    Layers.all.map(l => s"layer.${l}_self_s" -> "s") :+
    ("trace.overhead_pct" -> "%")
}

object Layers {
  val all: Seq[String] = Seq("sources", "operators", "functions", "windows",
    "pipelines", "ml", "metrics", "geo")
}

/** The session and inputs of one benchmark run. */
final class Ctx(val spark: SparkSession, val seed: Long, val scale: Double,
    val work: java.io.File) {
  def scaled(n: Int, min: Int = 1): Int = math.max(min, math.round(n * scale).toInt)

  /** Drop what earlier operations cached or checkpointed. */
  def release(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  /** Materialise a layer's output at its boundary. */
  def mat(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)
}

/** Heap in use after a full collection, the least of three. Each
  * collection is followed by a one-row job, which gives Spark's cleaner
  * thread the time to drop the broadcast and shuffle blocks the
  * collection found dead, so the reading does not depend on when that
  * thread last ran.
  */
object LiveHeap {
  def mb(spark: SparkSession): Double = (1 to 3).map { _ =>
    System.gc()
    spark.range(1).count()
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min
}

/** What one run of a workload reports. */
final case class Outcome(attempted: Long, failed: Long, metrics: Map[String, Double],
    detail: Map[String, Any], errors: Seq[String], spans: Seq[Map[String, Any]] = Nil)

trait Workload {
  def name: String
  /** Generate and write the inputs (and fit what is served) into `dir`. */
  def setup(ctx: Ctx, dir: String): Unit
  /** Unmeasured operations that fill the JIT and codegen caches: at least
    * `reps` and, after those, until `seconds` have passed.
    */
  def warmUp(ctx: Ctx, traced: Option[Telemetry], reps: Int, seconds: Double): Unit
  def measure(ctx: Ctx, seconds: Double): Outcome
  def trace(ctx: Ctx, seconds: Double, tel: Telemetry): Outcome
}

/** A batch workload: repeated executions of one pipeline call. */
abstract class BatchWorkload extends Workload {
  type Out
  /** Input traffic rows one execution processes. */
  def inputRows: Long
  /** The pipeline call, untraced. */
  def execute(ctx: Ctx): Out
  /** Output problems of one execution, checked without the code under test. */
  def check(out: Out, first: Option[Out]): Seq[String]
  /** The same pipeline, called layer by layer inside spans. */
  def traced(ctx: Ctx, tr: Tracer): Out
  /** Whether a traced decomposition reproduced the pipeline's output. */
  def same(untraced: Out, traced: Out): Boolean
  /** A few output values of one execution, for the run's report. */
  def describe(out: Out): Map[String, Any] = Map.empty
  /** Workload-specific per-layer metrics of one traced execution. */
  def layerMetrics(spans: Seq[Span], tel: Telemetry, out: Out): Map[String, Double]

  def warmUp(ctx: Ctx, tel: Option[Telemetry], reps: Int, seconds: Double): Unit = {
    val until = System.nanoTime() + (seconds * 1e9).toLong
    var n = 0
    while (n < reps || System.nanoTime() < until) {
      execute(ctx); ctx.release()
      if (tel.isDefined) { traced(ctx, new Tracer(ctx.spark)); ctx.release() }
      n += 1
    }
  }

  private def timed[T](f: => T): (Try[T], Double) = {
    val t0 = System.nanoTime()
    val r = Try(f)
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def measure(ctx: Ctx, seconds: Double): Outcome = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val times = mutable.ArrayBuffer[Double]()
    val errors = mutable.ArrayBuffer[String]()
    var first: Option[Out] = None
    var attempted = 0L
    var failed = 0L
    do {
      attempted += 1
      val (r, dt) = timed(execute(ctx))
      val problems = r match {
        case Success(out) =>
          times += dt
          val ps = check(out, first)
          if (first.isEmpty && ps.isEmpty) first = Some(out)
          ps
        case Failure(e) => Seq(s"threw $e")
      }
      if (problems.nonEmpty) {
        failed += 1
        errors ++= problems.map(p => s"rep $attempted: $p")
      }
      ctx.release()
    } while (System.nanoTime() < deadline)
    val runS = Stats.median(times.toSeq)
    Outcome(attempted, failed,
      Map("run_s" -> runS, "throughput_per_s" -> inputRows / runS),
      Map("reps_s" -> times.toSeq, "input_rows" -> inputRows, "rows_per_s" -> inputRows / runS,
        "error_rate" -> failed.toDouble / attempted,
        "output" -> first.map(describe).getOrElse(Map.empty)),
      errors.toSeq)
  }

  def trace(ctx: Ctx, seconds: Double, tel: Telemetry): Outcome = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val plain = mutable.ArrayBuffer[Double]()
    val tracedS = mutable.ArrayBuffer[Double]()
    val perRep = mutable.ArrayBuffer[Map[String, Double]]()
    val allSpans = mutable.ArrayBuffer[Map[String, Any]]()
    val errors = mutable.ArrayBuffer[String]()
    var planMs = 0L
    var attempted = 0L
    var failed = 0L
    do {
      attempted += 2
      tel.sync()
      val plans0 = tel.planTotals
      val (r, dt) = timed(Telemetry.keyed(ctx.spark, "op")(execute(ctx)))
      tel.sync()
      planMs += (tel.planTotals - plans0).planMs
      ctx.release()
      val tr = new Tracer(ctx.spark)
      val (t, tdt) = timed(traced(ctx, tr))
      tel.sync()
      val spans = tr.take()
      val plainProblems = r.fold(e => Seq(s"threw $e"), check(_, None))
      val tracedProblems = t.fold(e => Seq(s"traced decomposition threw $e"), tout =>
        check(tout, None) ++ r.toOption.filterNot(same(_, tout))
          .map(_ => "the traced decomposition's output differs from the pipeline's"))
      for (tout <- t if r.isSuccess) {
        plain += dt
        tracedS += tdt
        perRep += layerMetrics(spans, tel, tout) ++
          Tracer.layerSelfSeconds(spans).map { case (l, s) => s"layer.${l}_self_s" -> s }
      }
      failed += Seq(plainProblems, tracedProblems).count(_.nonEmpty)
      errors ++= (plainProblems ++ tracedProblems).map(p => s"rep ${attempted / 2}: $p")
      allSpans ++= Tracer.toJson(spans)
      ctx.release()
    } while (System.nanoTime() < deadline)
    val n = math.max(1, plain.length)
    val sparkMetrics = tel.of("op").perOp(n) + ("plans.plan_ms" -> planMs.toDouble / n)
    val spanMetrics = perRep.flatMap(_.keys).distinct.map { k =>
      k -> Stats.median(perRep.flatMap(_.get(k)).toSeq)
    }.toMap
    val overhead = 100.0 * (Stats.median(tracedS.toSeq) - Stats.median(plain.toSeq)) /
      Stats.median(plain.toSeq)
    Outcome(attempted, failed,
      spanMetrics ++ sparkMetrics + ("trace.overhead_pct" -> overhead),
      Map("untraced_reps_s" -> plain.toSeq, "traced_reps_s" -> tracedS.toSeq),
      errors.toSeq, allSpans.toSeq)
  }
}
