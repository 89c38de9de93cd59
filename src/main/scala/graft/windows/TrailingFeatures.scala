package graft.windows

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.{Aggregator, Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

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
  * one Exchange regardless of how many features are derived, and
  * [[withTrailing]] pins that exchange to `spark.sql.shuffle.partitions`
  * tasks so AQE cannot fold several keys into one task. A trailing
  * mean runs over the growing frame `[unboundedPreceding, −1]` with a
  * ring of the last `w` values as its buffer: Spark feeds a growing frame
  * one `update` per row, where a sliding `rowsBetween(−w, −1)` frame
  * copies every row into its buffer and re-aggregates all `w` rows of the
  * frame for every output row.
  */
object TrailingFeatures {

  def spec(partitionCols: Seq[String], orderCols: Seq[String]) =
    Window.partitionBy(partitionCols.map(col): _*).orderBy(orderCols.map(col): _*)

  /** Grouped lag feature: value `n` rows back within the group. */
  def groupedLag(v: Column, n: Int, partitionCols: Seq[String], orderCols: Seq[String]): Column =
    lag(v, n).over(spec(partitionCols, orderCols))

  /** Trailing-exclusive rolling mean over the previous `w` rows
    * ([t−w, t−1]); null at each group's first row. `v` is cast to double
    * and the result is a double, bit for bit `avg(v)` over
    * `rowsBetween(−w, −1)` for every non-decimal numeric `v` (a NaN
    * result may carry a different NaN bit pattern).
    */
  def trailingMean(v: Column, w: Int, partitionCols: Seq[String], orderCols: Seq[String]): Column =
    running(v, w, spec(partitionCols, orderCols))

  /** The reference's full trailing feature block (lags {1,24,168}, rolling
    * {3,24}) in one pass (single window spec → single shuffle), added in
    * one projection.
    *
    * With partition columns, the input is hash-repartitioned on them to
    * `spark.sql.shuffle.partitions` before the window. That exchange
    * satisfies the window's distribution, so it replaces the one the
    * planner would add rather than stacking on it. AQE sizes its own
    * exchanges' tasks by bytes, and with fewer keys than cores it folds
    * several keys into one task; a window's cost grows with the rows it
    * sorts and frames, not with bytes, and AQE never coalesces an
    * explicit-count repartition.
    *
    * `valueCol` must be a non-decimal numeric column: the rolling means
    * are doubles ([[trailingMean]]).
    */
  def withTrailing(df: DataFrame, valueCol: String, partitionCols: Seq[String],
      orderCols: Seq[String], lags: Seq[Int] = Seq(1, 24, 168),
      rolls: Seq[Int] = Seq(3, 24)): DataFrame = {
    val valueType = df.schema(valueCol).dataType
    require(!valueType.isInstanceOf[DecimalType],
      s"withTrailing: value column `$valueCol` is ${valueType.simpleString}; " +
        "its rolling means are doubles — cast it to double first")
    val in = if (partitionCols.isEmpty) df
      else df.repartition(df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
        partitionCols.map(col): _*)
    val w = spec(partitionCols, orderCols)
    val v = col(valueCol)
    in.select(col("*") +:
      (lags.map(n => lag(v, n).over(w).as(s"${valueCol}_lag_$n")) ++
        rolls.map(n => running(v, n, w).as(s"${valueCol}_roll_$n"))): _*)
  }

  private def running(v: Column, n: Int, w: WindowSpec): Column =
    udaf(new TrailingMean(n), Encoders.DOUBLE)(v.cast("double"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))

  /** The last `n` values seen (`vals`, `isNull`), `next` the slot the next
    * value goes to, `size` how many slots are filled.
    */
  private final case class Ring(vals: Array[Double], isNull: Array[Boolean],
      var next: Int, var size: Int)

  /** Mean of the last `n` inputs of a growing frame. `finish` sums the
    * ring oldest-first from 0.0, adding 0.0 for a null and leaving it out
    * of the count: the order in which `Average` sums a sliding frame, so
    * the result has its bits.
    */
  private final class TrailingMean(n: Int)
      extends Aggregator[java.lang.Double, Ring, java.lang.Double] {
    require(n >= 1, s"trailing mean window must be >= 1, got $n")

    def zero: Ring = Ring(new Array[Double](n), new Array[Boolean](n), 0, 0)

    def reduce(b: Ring, x: java.lang.Double): Ring = {
      if (x == null) { b.vals(b.next) = 0.0; b.isNull(b.next) = true }
      else { b.vals(b.next) = x; b.isNull(b.next) = false }
      b.next = (b.next + 1) % n
      if (b.size < n) b.size += 1
      b
    }

    /** Window frames only update; a trailing mean has no order-free merge. */
    def merge(a: Ring, b: Ring): Ring =
      throw new UnsupportedOperationException("a trailing mean is evaluated over a window frame only")

    def finish(b: Ring): java.lang.Double = {
      var sum = 0.0
      var count = 0L
      var i = (b.next - b.size + n) % n
      var k = 0
      while (k < b.size) {
        sum += b.vals(i)
        if (!b.isNull(i)) count += 1
        i = (i + 1) % n
        k += 1
      }
      if (count == 0) null else sum / count.toDouble
    }

    def bufferEncoder: Encoder[Ring] = Encoders.product[Ring]
    def outputEncoder: Encoder[java.lang.Double] = Encoders.DOUBLE
  }
}
