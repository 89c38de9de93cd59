package graft.functions

import java.time.{DayOfWeek, LocalDate}
import java.time.temporal.TemporalAdjusters

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** US federal (+ NY state) holiday calendar (SURVEY.md §2.3 J4, §4).
  *
  * The reference calls the `holidays` PyPI package
  * (`date.isin(holidays.US(years=...))`, reference
  * traffic_volume_models/SegmentedModeling.py:234-236, and
  * `holidays.US(subdiv='NY')`, backend/features.py:26-29). Here the same
  * calendar rules are implemented in pure Scala from the public statutory
  * definitions (5 U.S.C. §6103). `is_holiday` tests `to_date(ts)` against
  * the calendar's dates as a literal set (Catalyst's `InSet`, a hash-set
  * probe per row): about a dozen dates a year ride inside the
  * expression, so the flag needs no join, no broadcast and no job of its
  * own, and no per-row UDF either. [[dimension]] is the same calendar as
  * a table, for engines that join against it.
  */
object Holidays {

  private def nthWeekday(year: Int, month: Int, dow: DayOfWeek, n: Int): LocalDate =
    LocalDate.of(year, month, 1).`with`(TemporalAdjusters.dayOfWeekInMonth(n, dow))

  private def lastWeekday(year: Int, month: Int, dow: DayOfWeek): LocalDate =
    LocalDate.of(year, month, 1).`with`(TemporalAdjusters.lastInMonth(dow))

  /** US federal holidays (actual dates, no observed-shift; matches the
    * package's default `observed=True` adding shifted duplicates — we emit
    * BOTH actual and observed dates, as `holidays.US` does).
    */
  def federal(year: Int): Seq[(LocalDate, String)] = {
    val fixed = Seq(
      LocalDate.of(year, 1, 1) -> "New Year's Day",
      LocalDate.of(year, 6, 19) -> "Juneteenth National Independence Day",
      LocalDate.of(year, 7, 4) -> "Independence Day",
      LocalDate.of(year, 11, 11) -> "Veterans Day",
      LocalDate.of(year, 12, 25) -> "Christmas Day")
    val floating = Seq(
      nthWeekday(year, 1, DayOfWeek.MONDAY, 3) -> "Martin Luther King Jr. Day",
      nthWeekday(year, 2, DayOfWeek.MONDAY, 3) -> "Washington's Birthday",
      lastWeekday(year, 5, DayOfWeek.MONDAY) -> "Memorial Day",
      nthWeekday(year, 9, DayOfWeek.MONDAY, 1) -> "Labor Day",
      nthWeekday(year, 10, DayOfWeek.MONDAY, 2) -> "Columbus Day",
      nthWeekday(year, 11, DayOfWeek.THURSDAY, 4) -> "Thanksgiving")
    // Observed shifts for fixed-date holidays falling on a weekend.
    val observed = fixed.flatMap { case (d, name) =>
      d.getDayOfWeek match {
        case DayOfWeek.SATURDAY => Some(d.minusDays(1) -> s"$name (observed)")
        case DayOfWeek.SUNDAY => Some(d.plusDays(1) -> s"$name (observed)")
        case _ => None
      }
    }
    fixed ++ floating ++ observed
  }

  /** NY-state additions (subdiv='NY' in the reference's package call):
    * Lincoln's Birthday (Feb 12) and Election Day (first Tuesday after the
    * first Monday of November).
    */
  def nyState(year: Int): Seq[(LocalDate, String)] = Seq(
    LocalDate.of(year, 2, 12) -> "Lincoln's Birthday",
    nthWeekday(year, 11, DayOfWeek.MONDAY, 1).plusDays(1) -> "Election Day")

  /** Holiday dimension DataFrame over [startYear, endYear]:
    * (holiday_date: date, holiday_name: string).
    */
  def dimension(spark: SparkSession, startYear: Int, endYear: Int,
      includeNY: Boolean = false): DataFrame = {
    import spark.implicits._
    val rows = (startYear to endYear).flatMap { y =>
      federal(y) ++ (if (includeNY) nyState(y) else Nil)
    }.map { case (d, n) => (java.sql.Date.valueOf(d), n) }.distinct
    rows.toDF("holiday_date", "holiday_name")
  }

  /** Attach `is_holiday` (int 0/1): whether `to_date(tsCol)` is one of the
    * federal holiday dates (observed shifts included) of
    * [startYear, endYear] — the Spark-native form of the reference's
    * `.apply(lambda x: x in us_holidays)` row loop. A null `tsCol` gives 0.
    */
  def withIsHoliday(df: DataFrame, tsCol: String, startYear: Int, endYear: Int): DataFrame = {
    val dates = (startYear to endYear).flatMap(federal).map(_._1).distinct
    df.withColumn("is_holiday",
      coalesce(to_date(col(tsCol)).isin(dates: _*).cast("int"), lit(0)))
  }
}
