package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{DateTimeKit, Holidays}
import graft.sources.Tables
import graft.windows.TrailingFeatures

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    *
    * Mirrors the reference's E1 training-feature pipeline shape
    * (SURVEY.md §3): scan → derive calendar features → fan-out join
    * against an hourly dimension → holiday flag → grouped trailing
    * window features → dropna → aggregate. One lazy plan; shuffles only
    * at the join, the window partition, and the final aggregate.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, dir)
      .withColumn("h", date_trunc("hour", col("ts")))
    val hourly = ev.groupBy(col("h"))
      .agg(count(lit(1)).as("hour_n"), avg(col("value")).as("hour_avg"))
    val joined = ev.join(hourly, Seq("h"))
    val withCal = DateTimeKit.withCyclicalFeatures(
      Holidays.withIsHoliday(joined, "ts", 2024, 2024), col("ts"))
    val feat = TrailingFeatures.withTrailing(withCal, "value",
      partitionCols = Seq("user_id"), orderCols = Seq("ts", "event_id"),
      lags = Seq(1, 24), rolls = Seq(3, 24))
    feat
      .na.drop(Seq("value_lag_1", "value_roll_3"))
      .groupBy("event_type", "is_holiday")
      .agg(count(lit(1)).as("n"),
        avg("value").as("avg_value"),
        avg("value_roll_24").as("avg_roll_24"),
        corr(col("value"), col("hour_avg")).as("corr_hourly"))
      .orderBy("event_type", "is_holiday")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Queries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops →
    * driver records a weaker rows-only check.
    */
  def oracleSql: Map[String, String] = Queries.oracleSql
}
