package graft

import java.lang.Double.doubleToRawLongBits
import java.time.LocalDate

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{DateTimeKit, Holidays}
import graft.operators.Relational
import graft.pipelines.{DomainFixtures, TrainingPipeline}
import graft.windows.TrailingFeatures

/** Value tests for the E1 feature kernels: the running-frame trailing
  * mean against Spark's own `avg` over the sliding frame, the literal
  * holiday set against the holiday dimension join, and the feature table
  * against the same table built with chained projections.
  */
class WindowsSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  private val widths = Seq(1, 2, 3, 24, 500)

  /** Seeded rows (g, t, id, v, vi, vf): partitions of 1 to 1,500 rows,
    * ties on `t`, and `v` drawn from nulls, ±0.0, ±∞, 1e±308, subnormals,
    * NaN and ordinary values.
    */
  private lazy val series: DataFrame = {
    val rnd = new Random(20261019)
    val special = Array(0.0, -0.0, Double.PositiveInfinity, Double.NegativeInfinity,
      1e308, -1e308, 1e-308, -1e-308, Double.MinPositiveValue, 3 * Double.MinPositiveValue,
      -2.5e-320, Double.NaN, Double.MaxValue, -Double.MaxValue)
    val sizes = Seq(1, 2, 3, 5, 23, 24, 25, 200, 499, 500, 501, 1500) ++
      Seq.fill(30)(1 + rnd.nextInt(60))
    var id = 0L
    val rows = sizes.zipWithIndex.flatMap { case (n, g) =>
      (0 until n).map { i =>
        id += 1
        val v: Option[Double] = rnd.nextInt(20) match {
          case 0 | 1 => None
          case 2 | 3 => Some(special(rnd.nextInt(special.length)))
          case 4 => Some(rnd.nextGaussian() * 1e300)
          case _ => Some(rnd.nextGaussian() * math.pow(10, rnd.nextInt(12) - 6))
        }
        // ties: every two rows share an order key
        (g, i / 2, id, v, v.filter(_.abs < 1e6).map(_.round),
          v.map(_.toFloat))
      }
    }
    rows.toDF("g", "t", "id", "v", "vi", "vf")
  }

  private def sameDoubles(got: Option[Double], want: Option[Double]): Boolean =
    (got, want) match {
      case (Some(a), Some(b)) if a.isNaN || b.isNaN => a.isNaN && b.isNaN
      case (Some(a), Some(b)) => doubleToRawLongBits(a) == doubleToRawLongBits(b)
      case (a, b) => a == b
    }

  private def opt(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
    if (r.isNullAt(i)) None else Some(r.getDouble(i))

  test("trailingMean: bit-identical to avg over rowsBetween(-n, -1), nulls and NaN in the same rows") {
    val s = TrailingFeatures.spec(Seq("g"), Seq("t"))
    // one select: both windows share the sort, so tied rows see one order
    val cols = Seq("v", "vi", "vf").flatMap { c =>
      widths.flatMap(n => Seq(
        TrailingFeatures.trailingMean(col(c), n, Seq("g"), Seq("t")),
        avg(col(c)).over(s.rowsBetween(-n, -1))))
    }
    val got = series.select(col("id") +: cols: _*).collect()
    assert(got.length == series.count())
    val labels = for (c <- Seq("v", "vi", "vf"); n <- widths) yield s"$c/n=$n"
    labels.zipWithIndex.foreach { case (label, k) =>
      var nonNull, nan = 0
      got.foreach { r =>
        val (a, b) = (opt(r, 1 + 2 * k), opt(r, 2 + 2 * k))
        assert(sameDoubles(a, b), s"$label id=${r.getLong(0)}: ring $a, avg $b")
        if (a.nonEmpty) nonNull += 1
        if (a.exists(_.isNaN)) nan += 1
      }
      assert(nonNull > 0, s"$label: no non-null result")
      if (label.startsWith("v/")) assert(nan > 0, s"$label: the table has no NaN result")
    }
  }

  test("trailingMean and withTrailing agree, with one exchange pinned to the shuffle partitions") {
    val viaSelect = series.select(col("id"),
      TrailingFeatures.groupedLag(col("v"), 1, Seq("g"), Seq("t", "id")).as("v_lag_1"),
      TrailingFeatures.trailingMean(col("v"), 3, Seq("g"), Seq("t", "id")).as("v_roll_3"))
    val feat = TrailingFeatures.withTrailing(series, "v", Seq("g"), Seq("t", "id"),
      lags = Seq(1), rolls = Seq(3))
    assert(feat.columns.toSeq == series.columns.toSeq ++ Seq("v_lag_1", "v_roll_3"))
    val bits = udf((d: java.lang.Double) => Option(d).map(x => doubleToRawLongBits(x)))
    def keyed(df: DataFrame) =
      df.select(col("id"), bits(col("v_lag_1")), bits(col("v_roll_3")))
    assert(keyed(feat).exceptAll(keyed(viaSelect)).isEmpty)
    assert(keyed(viaSelect).exceptAll(keyed(feat)).isEmpty)
    val p = feat.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    assert(p.contains("hashpartitioning(g#") &&
      p.contains(s", ${spark.conf.get("spark.sql.shuffle.partitions")}), REPARTITION_BY_NUM"), p)
  }

  test("withTrailing rejects a decimal value column and names it") {
    val df = Seq(("a", 1, BigDecimal("1.50")), ("a", 2, BigDecimal("2.25")))
      .toDF("g", "t", "price")
    val e = intercept[IllegalArgumentException](
      TrailingFeatures.withTrailing(df, "price", Seq("g"), Seq("t")))
    assert(e.getMessage.contains("price") && e.getMessage.contains("decimal"), e.getMessage)
  }

  test("withIsHoliday over 2020-2028 equals the dimension left-join flag; null ts gives 0") {
    val days = (0L to LocalDate.of(2028, 12, 31).toEpochDay - LocalDate.of(2020, 1, 1).toEpochDay)
      .map(d => LocalDate.of(2020, 1, 1).plusDays(d))
    val ts = (days.zipWithIndex.map { case (d, i) =>
      (i.toLong, Some(java.sql.Timestamp.valueOf(d.atTime(i % 24, 30))))
    } :+ (-1L, None)).toDF("id", "ts")
    val got = Holidays.withIsHoliday(ts, "ts", 2020, 2028)
    assert(got.columns.toSeq == Seq("id", "ts", "is_holiday"))
    val dim = Holidays.dimension(spark, 2020, 2028).select("holiday_date").distinct()
      .withColumn("hit", lit(1))
    val want = ts.join(broadcast(dim), to_date(col("ts")) === dim("holiday_date"), "left")
      .select(col("id"), col("ts"), coalesce(col("hit"), lit(0)).as("is_holiday"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    val flagged = got.filter(col("is_holiday") === 1)
      .select(date_format(col("ts"), "yyyy-MM-dd")).as[String].collect().toSet
    // weekend-observed dates: Christmas 2021 (Sat), Christmas 2022 (Sun),
    // Independence Day 2027 (Sun)
    Seq("2021-12-24", "2022-12-26", "2027-07-05", "2024-07-04").foreach(d =>
      assert(flagged(d), s"$d not flagged"))
    assert(got.filter(col("id") === -1L).select("is_holiday").as[Int].collect().toSeq == Seq(0))
  }

  /** The E1 feature table as it was built with chained projections, the
    * sliding-frame `avg` and the holiday dimension join.
    */
  private def chainedFeatureTable(traffic: DataFrame, weather: DataFrame): DataFrame = {
    val w = weather.select(
      year(col("date")).as("Yr"), month(col("date")).as("M"),
      dayofmonth(col("date")).as("D"), hour(col("date")).as("HH"),
      col("date"), col("borough"),
      col("temperature_2m"), col("precipitation"), col("snowfall"),
      col("snow_depth"))
    val t = traffic.dropDuplicates()
      .withColumn("Vol", Relational.safeNumeric(col("Vol")))
      .withColumnRenamed("Boro", "borough_t")
      .select("RequestID", "Yr", "M", "D", "HH", "borough_t", "SegmentID", "Vol")
    val joined = Relational.fanOutJoin(t, w, Seq("Yr", "M", "D", "HH"))
    val s = Window.partitionBy("borough").orderBy("date", "RequestID")
    val windowed = Seq(
        "Vol_lag_1" -> lag(col("Vol"), 1).over(s),
        "Vol_roll_3" -> avg(col("Vol")).over(s.rowsBetween(-3, -1)),
        "Vol_roll_24" -> avg(col("Vol")).over(s.rowsBetween(-24, -1)))
      .foldLeft(joined) { case (d, (n, c)) => d.withColumn(n, c) }
    val dim = Holidays.dimension(spark, 2024, 2024).select(col("holiday_date")).distinct()
      .withColumn("__hit", lit(1))
    val flagged = windowed
      .join(broadcast(dim), to_date(col("date")) === dim("holiday_date"), "left")
      .withColumn("is_holiday", coalesce(col("__hit"), lit(0)))
      .drop("holiday_date", "__hit")
    DateTimeKit.cyclicalFeatures(col("date"))
      .foldLeft(flagged) { case (d, (n, c)) => d.withColumn(n, c) }
      .withColumn("heavy_snow", (col("snow_depth") > 5).cast("int"))
      .withColumn("is_event",
        (col("is_holiday") === 1 || coalesce(col("heavy_snow"), lit(0)) === 1).cast("int"))
      .withColumnRenamed("Vol_lag_1", "vol_lag_1")
      .withColumnRenamed("Vol_roll_3", "vol_roll_3")
      .withColumnRenamed("Vol_roll_24", "vol_roll_24")
      .withColumn("vol_log", log1p(col("Vol")))
      .na.drop(TrainingPipeline.featureCols :+ "vol_log")
  }

  test("featureTable equals the chained-projection build row for row, rolling means bit for bit") {
    val traffic = DomainFixtures.traffic(spark, 24 * 14)
    val weather = DomainFixtures.weather(spark, 24 * 14)
    val feat = TrainingPipeline.featureTable(traffic, weather)
    val ref = chainedFeatureTable(traffic, weather)
    assert(feat.schema == ref.schema)
    assert(feat.exceptAll(ref).isEmpty && ref.exceptAll(feat).isEmpty)
    // exceptAll compares -0.0 equal to 0.0 and one NaN equal to another;
    // the raw bits tell them apart
    val bits = udf((d: java.lang.Double) => Option(d).map(x => doubleToRawLongBits(x)))
    def rolls(df: DataFrame) = df.select(col("RequestID"), col("borough"), col("date"),
      bits(col("vol_roll_3")).as("r3"), bits(col("vol_roll_24")).as("r24"))
    assert(rolls(feat).exceptAll(rolls(ref)).isEmpty && rolls(ref).exceptAll(rolls(feat)).isEmpty)
    assert(feat.count() > 0)
  }
}
