package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.json4s.jackson.JsonMethods.{compact, render}

/** Dedicated serving-latency lane (VERDICT r15 #6): the /predict p50
  * history kept re-litigating as lane contention (17.8 → 21.6 →
  * 27.5 ms across driver windows with zero ServingPipeline changes),
  * so the protocol measurement now has a main of its own — one fresh
  * JVM, nothing else run before or after — producing a committed
  * per-round artifact (`SERVING_r{N}.json`) that regressions can be
  * attributed against.
  *
  * Protocol (identical to the suite's serving lane, PLANS.md): one OLS
  * fit on the 9-feature PredictRequest fixture, [[WarmupCalls]] warm-up
  * calls, then `windows` independent [[TimedCalls]]-call timed windows.
  * `predict` on the compiled OLS is µs-scale, so a window takes
  * thousands of calls for a stable p95. Reporting p50/p95 per window
  * plus the cross-window median-of-p50s as the quotable number.
  */
object ServingBench {

  val WarmupCalls = 2000
  val TimedCalls = 2000

  /** Shared fixture: OLS fit on the 9-feature PredictRequest shape. */
  def fixture(spark: SparkSession): (pipelines.ServingPipeline.Registry,
      pipelines.ServingPipeline.PredictRequest) = {
    val featNames = Seq("hour_sin", "hour_cos", "wd_sin", "wd_cos",
      "month_sin", "month_cos", "vol_lag_1", "vol_roll_3", "vol_roll_24")
    val base = spark.range(2000).select(col("id") +:
      featNames.zipWithIndex.map { case (n, i) =>
        sin(col("id") * (0.1 * (i + 1))).as(n) }: _*)
    val train = base.withColumn("y",
      featNames.zipWithIndex.map { case (n, i) => col(n) * (i + 1.0) }
        .reduce(_ + _) + lit(5.0)).drop("id")
    val model = ml.Models.ols(featNames, "y").fit(train)
    (pipelines.ServingPipeline.registry("ols" -> model),
      pipelines.ServingPipeline.PredictRequest(
        0.5, 0.87, 0.78, 0.62, 0.1, 0.99, 100.0, 110.0, 95.0))
  }

  /** Build the fixture, fit, and return `timed` single-call latencies
    * (ms) after `warmup` unmeasured calls. Shared by [[Bench]]'s
    * serving lane and this dedicated main so the two artifacts measure
    * the same code path by construction.
    */
  def measure(spark: SparkSession, warmup: Int, timed: Int): Seq[Double] = {
    val (reg, req) = fixture(spark)
    def call(): Double =
      pipelines.ServingPipeline.predict(spark, reg, "ols", req,
        expm1Inverse = false)
    (1 to warmup).foreach(_ => call())
    (1 to timed).map { _ =>
      val t0 = System.nanoTime()
      call()
      (System.nanoTime() - t0) / 1e6
    }
  }

  /** The order statistic both serving artifacts report: index
    * p·n/100 − 1 when p·n divides evenly, else p·n/100. [[Bench]] and
    * [[main]] must report the SAME statistic or a phantom one-index gap
    * reads as drift between them. p = 50 is the lower-middle median
    * every [[Bench]] timing reports.
    */
  def percentile(xs: Seq[Double], p: Int): Double = {
    val s = xs.sorted
    val scaled = p * s.length
    val idx = if (scaled % 100 == 0) scaled / 100 - 1 else scaled / 100
    s(math.max(0, math.min(s.length - 1, idx)))
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("SERVING_r17.json")
    val windows = sys.env.getOrElse("SPARK_GRAFT_SERVING_WINDOWS", "5").toInt
    val spark = GraftSession.local()
    // µs-scale calls: 4 decimal places (0.1 µs)
    def ms(x: Double) = math.rint(x * 1e4) / 1e4
    val perWindow = (1 to windows).map { _ =>
      val lats = measure(spark, warmup = WarmupCalls, timed = TimedCalls)
      (ms(percentile(lats, 50)), ms(percentile(lats, 95)))
    }
    val med = percentile(perWindow.map(_._1), 50)
    import org.json4s.JsonDSL._
    val line = compact(render(("metric" -> "serving_p50_ms") ~ ("value" -> med) ~
      ("unit" -> "ms") ~
      ("windows" -> perWindow.map { case (a, b) => ("p50" -> a) ~ ("p95" -> b) }) ~
      ("warmup_calls" -> WarmupCalls) ~ ("timed_calls" -> TimedCalls) ~
      ("heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024))))
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (line + "\n").getBytes("UTF-8"))
    println(line)
    spark.stop()
  }
}
