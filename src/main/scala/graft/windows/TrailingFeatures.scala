package graft.windows

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Grouped time-series features: lags and trailing-exclusive rolling means
  * (SURVEY.md §2.4 A3/A4 — the semantic heart of the reference's feature
  * pipeline).
  *
  * Reference semantics, reproduced exactly:
  *  - lag:  `groupby(key)[v].shift(n)` (SegmentedModeling.py:238-239) —
  *    null for the first n rows of each group, never leaks across groups.
  *  - trailing rolling mean:
  *    `groupby(key)[v].rolling(w, min_periods=1).mean().shift(1)`
  *    (SegmentedModeling.py:240-247) — at row t this is the mean of rows
  *    [t−w, t−1] within the group; null only at the group's first row
  *    (empty window frame → null, which matches the shifted NaN).
  *
  * The reference sorts with an *unstable* quicksort before computing these
  * (SegmentedModeling.py:224), so its values are nondeterministic on
  * timestamp ties (SURVEY.md §7 risk 3). We require explicit tie-break
  * columns and are deterministic.
  *
  * Scale note: one `Window.partitionBy(keys).orderBy(...)` spec is shared
  * by every feature column, so all lags + rolling means compute in a
  * single shuffle + single sort per partition key — the plan has exactly
  * one Exchange regardless of how many features are derived.
  */
object TrailingFeatures {

  def spec(partitionCols: Seq[String], orderCols: Seq[String]) =
    Window.partitionBy(partitionCols.map(col): _*).orderBy(orderCols.map(col): _*)

  /** Grouped lag feature: value `n` rows back within the group. */
  def groupedLag(v: Column, n: Int, partitionCols: Seq[String], orderCols: Seq[String]): Column =
    lag(v, n).over(spec(partitionCols, orderCols))

  /** Trailing-exclusive rolling mean over the previous `w` rows
    * ([t−w, t−1]); null at each group's first row.
    */
  def trailingMean(v: Column, w: Int, partitionCols: Seq[String], orderCols: Seq[String]): Column =
    avg(v).over(spec(partitionCols, orderCols).rowsBetween(-w, -1))

  /** The reference's full trailing feature block (lags {1,24,168}, rolling
    * {3,24}) in one pass (single window spec → single shuffle).
    */
  def withTrailing(df: DataFrame, valueCol: String, partitionCols: Seq[String],
      orderCols: Seq[String], lags: Seq[Int] = Seq(1, 24, 168),
      rolls: Seq[Int] = Seq(3, 24)): DataFrame = {
    val w = spec(partitionCols, orderCols)
    val v = col(valueCol)
    val lagCols = lags.map(n => s"${valueCol}_lag_$n" -> lag(v, n).over(w))
    val rollCols = rolls.map(n =>
      s"${valueCol}_roll_$n" -> avg(v).over(w.rowsBetween(-n, -1)))
    (lagCols ++ rollCols).foldLeft(df) { case (d, (name, c)) => d.withColumn(name, c) }
  }
}
