package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{DateTimeKit, Holidays}
import graft.metrics.Metrics
import graft.ml.{Models, SegmentedModel}
import graft.operators.Relational
import graft.windows.TrailingFeatures

/** E1 — the reference's primary batch-training pipeline
  * (save_models.main → SegmentedModeling.load_and_prepare_data,
  * SURVEY.md §3 E1), as ONE lazy Spark plan up to the fit:
  *
  *   weather ∪ → derive(Yr,M,D,HH) ⋈ traffic (fan-out, J2) → sort →
  *   cyclical + holiday + heavy_snow + lag/roll features → dropna →
  *   temporal 80/20 split → SegmentedModel(GBT normal / GBT event)
  *
  * Shuffle inventory (the 100 TB view): one shuffle at the fan-out join
  * (keyed Yr,M,D,HH), one at the window partition (borough, into
  * `spark.sql.shuffle.partitions` tasks, never coalesced), one at the
  * split's quantile scan. The holiday flag tests a literal date set per
  * row: no shuffle, no broadcast, no join. The global sort of the
  * reference (O1) is subsumed by the window's per-partition ordering —
  * no global sort stage at all.
  */
object TrainingPipeline {

  val featureCols: Seq[String] = Seq(
    "hour_sin", "hour_cos", "wd_sin", "wd_cos", "month_sin", "month_cos",
    "temperature_2m", "precipitation", "snowfall",
    "vol_lag_1", "vol_roll_3", "vol_roll_24")

  /** Steps 1-6: the feature table (everything before the fit).
    *
    * `windowKeyCols` keys the lag/rolling windows. The reference keys on
    * borough alone (SegmentedModeling.py:238-247) — 5 partitions, which
    * at 100× data means one borough is one task. The scale configuration
    * is `windowKeyCols = Seq("borough", "SegmentID")`: it re-keys the
    * windows per road segment (thousands of partitions), with the same
    * per-segment trailing semantics; parity with borough keying on a
    * single-segment fixture is spec-pinned.
    */
  def featureTable(traffic: DataFrame, weather: DataFrame,
      windowKeyCols: Seq[String] = Seq("borough")): DataFrame = {
    // weather side: derive the join key components (reference
    // SegmentedModeling.py:206-209)
    val w = weather.select(
      year(col("date")).as("Yr"), month(col("date")).as("M"),
      dayofmonth(col("date")).as("D"), hour(col("date")).as("HH"),
      col("date"), col("borough"),
      col("temperature_2m"), col("precipitation"), col("snowfall"),
      col("snow_depth"))
    // traffic side: dedup + safe numeric Vol + rename (raw_merge.py:13-24)
    val t = traffic.dropDuplicates().select(
      col("RequestID"), col("Yr"), col("M"), col("D"), col("HH"),
      col("Boro").as("borough_t"), col("SegmentID"),
      Relational.safeNumeric(col("Vol")).as("Vol"))
    // J2: the DELIBERATE fan-out join — borough absent from the key
    val joined = Relational.fanOutJoin(t, w, Seq("Yr", "M", "D", "HH"))
    // window features FIRST, scalar features after: the per-borough
    // window sorts its whole input, so it should see the narrow joined
    // rows, not rows already widened by ~10 derived columns (the scalar
    // features are map-only and commute with the window)
    val ordered = Seq("date", "RequestID") // deterministic tie-break (O1 fix)
    val windowed = TrailingFeatures.withTrailing(joined, "Vol",
      partitionCols = windowKeyCols, orderCols = ordered,
      lags = Seq(1), rolls = Seq(3, 24))
    // features (F9, J4, F13, F10), one projection: every chained
    // withColumn is a new DataFrame that Spark analyses eagerly
    val heavySnow = (col("snow_depth") > 5).cast("int")
    val scalar = DateTimeKit.cyclicalFeatures(col("date")).map { case (n, c) => c.as(n) } ++ Seq(
      heavySnow.as("heavy_snow"),
      (col("is_holiday") === 1 || coalesce(heavySnow, lit(0)) === 1).cast("int").as("is_event"),
      log1p(col("Vol")).as("vol_log"))
    Holidays.withIsHoliday(windowed, "date", 2024, 2024)
      .withColumnsRenamed(Map("Vol_lag_1" -> "vol_lag_1", "Vol_roll_3" -> "vol_roll_3",
        "Vol_roll_24" -> "vol_roll_24"))
      .select(col("*") +: scalar: _*)
      .na.drop(featureCols :+ "vol_log")
  }

  /** Fitted artifacts + holdout metrics of one full E1 run. */
  case class Result(model: SegmentedModel, r2: Double, mae: Double, mape: Double)

  /** Steps 7-9: temporal split, segmented fit (log target, expm1
    * inverse), holdout metrics. `gbtIter` small for tests, reference
    * config is 200.
    */
  def run(spark: SparkSession, traffic: DataFrame, weather: DataFrame,
      gbtIter: Int = 20): Result = {
    val feat = featureTable(traffic, weather).cache()
    try {
      // temporal 80/20 at scale: quantile cutoff on unix micros (no
      // global row_number window — a pushed-down comparison filter)
      val Array(cutM) = feat.withColumn("__dm", unix_micros(col("date")))
        .stat.approxQuantile("__dm", Array(0.8), 0.001)
      val (train, test) = Relational.temporalSplitAt(feat, "date",
        timestamp_micros(lit(cutM.toLong)))
      val model = SegmentedModel.fit(train, "is_event",
        (f, p) => Models.gbt(featureCols, "vol_log", maxIter = gbtIter,
          featuresCol = f, predictionCol = p),
        predictionCol = "prediction", expm1Inverse = true)
      val scored = model.transform(test)
      val m = scored.agg(
        Metrics.r2(col("Vol"), col("prediction")).as("r2"),
        Metrics.mae(col("Vol"), col("prediction")).as("mae"),
        Metrics.mapeNonzero(col("Vol"), col("prediction")).as("mape")).head()
      Result(model, m.getDouble(0), m.getDouble(1), m.getDouble(2))
    } finally feat.unpersist()
  }
}
