package perfbench

import java.time.ZoneOffset

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.metrics.Metrics
import graft.ml.Models
import graft.operators.Relational
import graft.pipelines.{DomainFixtures, GeoPipeline, ServingPipeline}
import graft.pipelines.ServingPipeline.PredictRequest
import graft.sources.Tables

/** One served request: its kind, latency and whether its output was right. */
final case class Sample(kind: String, ms: Double, ok: Boolean, returned: Long)

/** serve_mix: a closed loop of `clients` callers, each sending its next
  * request when the previous one returns. Four in five are `/predict`
  * ([[ServingPipeline.predict]] on a GBT fitted in setup) and one is
  * `/map` (Parquet read of the features table, [[GeoPipeline.filterFeatures]]
  * with a borough and year, collect).
  */
final class ServeMix(nPoints: Int, clients: Int) extends Workload {
  val name = "serve_mix"
  private val Model = "gbt"
  /** Every fifth request of a client is a map request. */
  private val MapEvery = 5
  private var dir = ""
  private var registry: ServingPipeline.Registry = _
  private var requests = IndexedSeq.empty[PredictRequest]
  private var expected = IndexedSeq.empty[Double]
  private var mapCounts = Map.empty[(String, Int), Long]
  private var modelTable: DataFrame = _
  private var holdoutR2 = 0.0
  private val ModelRows = 500
  /** Holdout R² the served model must exceed. */
  private val R2Floor = 0.5
  private val FeatureCols = Seq("hour_sin", "hour_cos", "wd_sin", "wd_cos", "month_sin",
    "month_cos", "vol_lag_1", "vol_roll_3", "vol_roll_24")

  /** The served model is trained and validated like the E1 model: the
    * first 80% of the rows train, the rest score, R² on the holdout.
    */
  private def split(df: DataFrame) =
    Relational.temporalSplitAt(df, "t", lit(ModelRows * 4 / 5 - 1))
  private def fit(train: DataFrame) =
    Models.gbt(FeatureCols, "label", maxIter = 2, maxDepth = 3).fit(train)
  private def eval(scored: DataFrame): Double =
    scored.agg(Metrics.r2(col("label"), col("prediction"))).head().getDouble(0)
  /** Calendar years the features table covers in full (hourly points
    * from 2024-01-01).
    */
  private val years = (2024 to 2100).takeWhile { y =>
    java.time.LocalDate.of(y + 1, 1, 1).toEpochDay * 24 <=
      java.time.LocalDate.of(2024, 1, 1).toEpochDay * 24 + nPoints
  }

  private def request(r: java.util.Random): PredictRequest = {
    val (h, wd, m) = (r.nextInt(24), r.nextInt(7), r.nextInt(12))
    def s(x: Int, p: Int) = math.sin(2 * math.Pi * x / p)
    def c(x: Int, p: Int) = math.cos(2 * math.Pi * x / p)
    val lag = 150 + r.nextInt(300).toDouble
    PredictRequest(s(h, 24), c(h, 24), s(wd, 7), c(wd, 7), s(m, 12), c(m, 12),
      lag, lag + r.nextGaussian() * 20, lag + r.nextGaussian() * 40)
  }

  def setup(ctx: Ctx, d: String): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val traffic = Inputs.traffic(spark, ctx.seed, nPoints, 1)
    GeoPipeline.buildFeatures(traffic).write.mode("overwrite").parquet(s"$d/features.parquet")
    mapCounts = spark.read.parquet(s"$d/features.parquet")
      .groupBy(lower(col("Boro")), year(col("ts"))).count().collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val r = new java.util.Random(ctx.seed)
    modelTable = (0 until ModelRows).map { i =>
      val q = request(r)
      val y = 250 + 60 * q.hour_sin + 25 * q.hour_cos - 30 * q.wd_sin + 0.3 * q.vol_lag_1 +
        0.2 * q.vol_roll_3 + r.nextGaussian() * 10
      (i, q, math.log1p(math.max(1.0, y)))
    }.toDF("t", "req", "label").select(col("t"), col("req.*"), col("label"))
    val (train, test) = split(modelTable)
    val model = fit(train)
    holdoutR2 = eval(model.transform(test))
    require(holdoutR2 > R2Floor, s"served model holdout R2 $holdoutR2 is not above $R2Floor")
    registry = ServingPipeline.registry(Model -> model)
    requests = IndexedSeq.fill(64)(request(r))
    expected = requests.map(ServingPipeline.predictLocal(registry, Model, _, expm1Inverse = true))
    dir = d
  }

  /** Request number `i` of a client, timed; its output checked after timing. */
  private def call(ctx: Ctx, r: java.util.Random, i: Long): Sample =
    if (i % MapEvery != MapEvery - 1) {
      val q = r.nextInt(requests.length)
      val t0 = System.nanoTime()
      val v = scala.util.Try(ServingPipeline.predict(ctx.spark, registry, Model, requests(q),
        expm1Inverse = true))
      val ms = (System.nanoTime() - t0) / 1e6
      Sample("predict", ms, v.toOption.contains(expected(q)), 1)
    } else {
      val b = DomainFixtures.boroughs(r.nextInt(DomainFixtures.boroughs.length))
      val asked = b.map(ch => if (r.nextBoolean()) ch.toUpper else ch.toLower)
      val y = years(r.nextInt(years.length))
      val t0 = System.nanoTime()
      val rows = scala.util.Try(GeoPipeline.filterFeatures(
        Tables.table(ctx.spark, dir, "features"), asked, y)
        .select("Boro", "ts", "feature").collect())
      val ms = (System.nanoTime() - t0) / 1e6
      val ok = rows.toOption.exists { rs =>
        rs.length == mapCounts.getOrElse((b.toLowerCase, y), 0L) && rs.forall { row =>
          row.getString(0).equalsIgnoreCase(b) &&
            row.getTimestamp(1).toInstant.atZone(ZoneOffset.UTC).getYear == y &&
            row.getString(2).startsWith("{\"type\":\"Feature\"")
        }
      }
      Sample("map", ms, ok, rows.map(_.length.toLong).getOrElse(0L))
    }

  /** Run the closed loop for `seconds`; `wrap` runs around each request. */
  private def loop(ctx: Ctx, seconds: Double, salt: Int)(
      wrap: (Int, => Sample) => Sample): (Seq[Sample], Double) = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val out = Array.fill(clients)(mutable.ArrayBuffer[Sample]())
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        val r = new java.util.Random(ctx.seed * 7919 + salt * 131 + c)
        var i = c.toLong // clients start at different points of the 4:1 cycle
        while (System.nanoTime() < deadline) { out(c) += wrap(c, call(ctx, r, i)); i += 1 }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (out.toSeq.flatten, (System.nanoTime() - t0) / 1e9)
  }

  def warmUp(ctx: Ctx, tel: Option[Telemetry], reps: Int, seconds: Double): Unit = {
    val t0 = System.nanoTime()
    val r = new java.util.Random(ctx.seed)
    (0 until reps * 20).foreach(i => call(ctx, r, i))
    loop(ctx, math.max(0.0, seconds - (System.nanoTime() - t0) / 1e9), 1)((_, s) => s)
  }

  private def lat(ss: Seq[Sample], kind: String) = ss.filter(_.kind == kind).map(_.ms)

  def measure(ctx: Ctx, seconds: Double): Outcome = {
    val (ss, wall) = loop(ctx, seconds, 2)((_, s) => s)
    val failed = ss.count(!_.ok).toLong
    val (p, m) = (lat(ss, "predict"), lat(ss, "map"))
    Outcome(ss.length, failed,
      Map("run_s" -> Stats.median(ss.map(_.ms)) / 1e3, "throughput_per_s" -> ss.length / wall),
      Map("holdout_r2" -> holdoutR2,
        "predict_p50_ms" -> Stats.percentile(p, 50), "predict_p99_ms" -> Stats.percentile(p, 99),
        "map_p50_ms" -> Stats.percentile(m, 50), "map_p99_ms" -> Stats.percentile(m, 99),
        "serve_rps" -> ss.length / wall, "predict_samples" -> p.length,
        "map_samples" -> m.length, "clients" -> clients,
        "error_rate" -> failed.toDouble / math.max(1, ss.length)),
      if (failed > 0) Seq(s"$failed of ${ss.length} requests failed or returned wrong output")
      else Nil)
  }

  def trace(ctx: Ctx, seconds: Double, tel: Telemetry): Outcome = {
    tel.sync()
    val plans0 = tel.planTotals
    val (plain, _) = loop(ctx, seconds / 2, 3) { (_, s) =>
      Telemetry.keyed(ctx.spark, "op")(s)
    }
    tel.sync()
    val plans = tel.planTotals - plans0
    val tracers = (0 until clients).map(_ => new Tracer(ctx.spark))
    val (traced, _) = loop(ctx, seconds / 2, 4) { (c, s) =>
      tracers(c).span("pipelines", "request")(s)
    }
    tel.sync()
    val spans = tracers.flatMap(_.take())
    // the set-up's model training and validation, one layer per span
    val mt = new Tracer(ctx.spark)
    val (train, test) = mt.span("pipelines", "split") {
      val (a, b) = split(modelTable)
      (ctx.mat(a), ctx.mat(b))
    }
    val trainRows = train.count()
    val model = mt.span("ml", "fit") { fit(train) }
    val scored = mt.span("ml", "score") { ctx.mat(model.transform(test)) }
    val r2 = mt.span("metrics", "eval") { eval(scored) }
    tel.sync()
    val modelSpans = mt.take()
    val fitCounters = Tracer.counters(tel, modelSpans, "ml.fit")
    // the model-compute floor of /predict: the local-vector path, no Spark job
    val r = new java.util.Random(ctx.seed)
    val localUs = (0 until 20000).map { _ =>
      val q = requests(r.nextInt(requests.length))
      val t0 = System.nanoTime()
      ServingPipeline.predictLocal(registry, Model, q, expm1Inverse = true)
      (System.nanoTime() - t0) / 1e3
    }
    val n = math.max(1, plain.length)
    val mean = (ss: Seq[Sample]) => Stats.mean(ss.map(_.ms))
    val all = plain ++ traced
    val sameModel = r2 == holdoutR2
    val failed = all.count(!_.ok).toLong + (if (sameModel) 0 else 1)
    // layer self time per traced request, plus the model build's
    val perRequest = Tracer.layerSelfSeconds(spans)
    val build = Tracer.layerSelfSeconds(modelSpans)
    Outcome(all.length + 1, failed,
      Map(
        "sources.map_rows_scanned_per_returned" ->
          plans.scanRows.toDouble / math.max(1L, plain.filter(_.kind == "map").map(_.returned).sum),
        "ml.predict_local_us" -> Stats.median(localUs),
        "pipelines.split_s" -> Tracer.seconds(modelSpans, "pipelines.split"),
        "ml.fit_s" -> Tracer.seconds(modelSpans, "ml.fit"),
        "ml.fit_jobs" -> fitCounters.jobs.toDouble,
        "ml.fit_input_passes" -> fitCounters.inputRecords.toDouble / math.max(1L, trainRows),
        "ml.score_s" -> Tracer.seconds(modelSpans, "ml.score"),
        "metrics.eval_s" -> Tracer.seconds(modelSpans, "metrics.eval"),
        "plans.plan_ms" -> plans.planMs.toDouble / n,
        "trace.overhead_pct" -> 100.0 * (mean(traced) - mean(plain)) / mean(plain)) ++
        Layers.all.map { l =>
          s"layer.${l}_self_s" ->
            (perRequest.getOrElse(l, 0.0) / math.max(1, traced.length) + build.getOrElse(l, 0.0))
        } ++
        tel.of("op").perOp(n),
      Map("untraced_requests" -> plain.length, "traced_requests" -> traced.length,
        "holdout_r2" -> holdoutR2),
      (if (failed > 0) Seq(s"$failed of ${all.length} requests failed or returned wrong output")
       else Nil) ++
        (if (sameModel) Nil
         else Seq(s"traced model build: holdout R2 $r2, set-up's $holdoutR2")),
      Tracer.toJson(spans ++ modelSpans))
  }
}
