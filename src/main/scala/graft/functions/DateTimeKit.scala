package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Datetime + calendar-feature kit (SURVEY.md §2.6 F4–F14).
  *
  * All functions compile to built-in Catalyst expressions (whole-stage
  * codegen; no UDFs), replacing the reference's pandas `.dt` accessors and
  * Python lambdas.
  */
object DateTimeKit {

  /** pandas dayofweek convention: Monday=0 … Sunday=6 (reference
    * SegmentedModeling.py:229 `df['date'].dt.dayofweek`). Spark's
    * `dayofweek` is Sunday=1 … Saturday=7, so shift+rotate
    * (SURVEY.md §7 risk 5).
    */
  def weekdayMon0(ts: Column): Column = ((dayofweek(ts) + 5) % 7).as("weekday")

  /** isWeekend flag: weekday >= 5 i.e. Sat/Sun (reference
    * backend/features.py:22).
    */
  def isWeekend(ts: Column): Column = (weekdayMon0(ts) >= 5).cast("int")

  /** F9: cyclical encodings sin/cos(2π·x/period) (reference
    * SegmentedModeling.py:227-233). Periods: hour 24, weekday 7, month 12.
    */
  def cyc(x: Column, period: Int): (Column, Column) = {
    val theta = lit(2.0 * math.Pi) * x / period
    (sin(theta), cos(theta))
  }

  /** The six cyclical feature columns of the reference's model input
    * (hour_sin/cos, wd_sin/cos, month_sin/cos — SegmentedModeling.py:227-233).
    */
  def cyclicalFeatures(ts: Column): Seq[(String, Column)] = {
    val (hs, hc) = cyc(hour(ts), 24)
    val (ws, wc) = cyc(weekdayMon0(ts), 7)
    val (ms, mc) = cyc(month(ts), 12)
    Seq("hour_sin" -> hs, "hour_cos" -> hc, "wd_sin" -> ws, "wd_cos" -> wc,
      "month_sin" -> ms, "month_cos" -> mc)
  }

  /** F12: rush-hour bucket — 1 when 7<=h<=9 or 16<=h<=18 (reference
    * backend/random_forest.py:153 Python lambda; here a pure `when`
    * expression, codegen'd).
    */
  def rushHour(h: Column): Column =
    ((h >= 7 && h <= 9) || (h >= 16 && h <= 18)).cast("int")

  /** F18: threshold bucket classification (reference main.py:215-225
    * volume→color). Generic descending-threshold `when` chain.
    */
  def thresholdBuckets(x: Column, buckets: Seq[(Double, String)], default: String): Column =
    buckets.sortBy(-_._1).foldRight(lit(default)) { case ((t, label), acc) =>
      when(x > t, label).otherwise(acc)
    }
}
