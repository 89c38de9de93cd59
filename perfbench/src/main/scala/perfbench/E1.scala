package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{DateTimeKit, Holidays}
import graft.operators.Relational
import graft.pipelines.TrainingPipeline
import graft.sources.Tables
import graft.windows.TrailingFeatures

/** E1 inputs: traffic and weather CSVs written by the generator. */
final class E1Inputs(nHours: Int, rowsPerHour: Int) {
  private var dir = ""
  /** Traffic CSV data rows, duplicates included. */
  var trafficRows = 0L
  /** Distinct traffic CSV data rows. */
  var distinctTraffic = 0L

  def setup(ctx: Ctx, d: String): Unit = {
    Tables.writeCsv(Inputs.traffic(ctx.spark, ctx.seed, nHours, rowsPerHour), s"$d/traffic")
    Tables.writeCsv(Inputs.weather(ctx.spark, ctx.seed, nHours), s"$d/weather")
    val lines = Inputs.partLines(s"$d/traffic", header = true).toVector
    trafficRows = lines.length
    distinctTraffic = lines.distinct.length
    dir = d
  }

  def load(ctx: Ctx): (DataFrame, DataFrame) =
    (Tables.csv(ctx.spark, s"$dir/traffic", Inputs.trafficSchema),
      Tables.csv(ctx.spark, s"$dir/weather", Inputs.weatherSchema))

  /** Both inputs, materialised inside a `sources` span. */
  def loadTraced(ctx: Ctx, tr: Tracer): (DataFrame, DataFrame) =
    tr.span("sources", "csv_scan") {
      val (t, w) = load(ctx)
      (ctx.mat(t), ctx.mat(w))
    }
}

/** Per-(borough, is_event) aggregate of the feature table. */
final case class Group(borough: String, isEvent: Int, n: Long, avgVol: Double, avgRoll24: Double)

object E1 {
  /** Weather rows per hour: the fan-out of the traffic ⋈ weather join. */
  val FanOut = 10

  def summarize(feat: DataFrame): DataFrame =
    feat.groupBy("borough", "is_event").agg(count(lit(1)).as("n"),
      avg("Vol").as("avg_vol"), avg("vol_roll_24").as("avg_roll_24"))

  def groups(df: DataFrame): Seq[Group] = df.collect().toSeq.map(r =>
    Group(r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3), r.getDouble(4))
  ).sortBy(g => (g.borough, g.isEvent))

  def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))

  def sameGroups(a: Seq[Group], b: Seq[Group]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) =>
      x.borough == y.borough && x.isEvent == y.isEvent && x.n == y.n &&
        close(x.avgVol, y.avgVol) && close(x.avgRoll24, y.avgRoll24)
    }

  /** [[TrainingPipeline.featureTable]] (reference borough keying), one
    * layer at a time, each layer's output materialised inside its span.
    * Returns the feature table and the fan-out join's row count.
    */
  def featureTableTraced(ctx: Ctx, tr: Tracer, traffic: DataFrame,
      weather: DataFrame): (DataFrame, Long) = {
    val (t, w) = tr.span("pipelines", "prepare") {
      (ctx.mat(weather.select(
        year(col("date")).as("Yr"), month(col("date")).as("M"),
        dayofmonth(col("date")).as("D"), hour(col("date")).as("HH"),
        col("date"), col("borough"),
        col("temperature_2m"), col("precipitation"), col("snowfall"),
        col("snow_depth"))),
        ctx.mat(traffic.dropDuplicates()
          .withColumn("Vol", Relational.safeNumeric(col("Vol")))
          .withColumnRenamed("Boro", "borough_t")
          .select("RequestID", "Yr", "M", "D", "HH", "borough_t", "SegmentID", "Vol")))
    }
    val (joined, joinedRows) = tr.span("operators", "fanout_join") {
      val out = ctx.mat(Relational.fanOutJoin(t, w, Seq("Yr", "M", "D", "HH")))
      (out, out.count())
    }
    val windowed = tr.span("windows", "trailing") {
      ctx.mat(TrailingFeatures.withTrailing(joined, "Vol",
        partitionCols = Seq("borough"), orderCols = Seq("date", "RequestID"),
        lags = Seq(1), rolls = Seq(3, 24)))
    }
    val cal = tr.span("functions", "calendar") {
      ctx.mat(DateTimeKit.cyclicalFeatures(col("date"))
        .foldLeft(Holidays.withIsHoliday(windowed, "date", 2024, 2024)) {
          case (d, (n, c)) => d.withColumn(n, c)
        })
    }
    val feat = tr.span("pipelines", "features") {
      ctx.mat(cal
        .withColumn("heavy_snow", (col("snow_depth") > 5).cast("int"))
        .withColumn("is_event",
          (col("is_holiday") === 1 || coalesce(col("heavy_snow"), lit(0)) === 1).cast("int"))
        .withColumnRenamed("Vol_lag_1", "vol_lag_1")
        .withColumnRenamed("Vol_roll_3", "vol_roll_3")
        .withColumnRenamed("Vol_roll_24", "vol_roll_24")
        .withColumn("vol_log", log1p(col("Vol")))
        .na.drop(TrainingPipeline.featureCols :+ "vol_log"))
    }
    (feat, joinedRows)
  }
}

/** e1_features: CSV scan, then the E1 feature table reduced to the
  * per-(borough, is_event) aggregate.
  */
final class E1Features(nHours: Int, rowsPerHour: Int) extends BatchWorkload {
  type Out = (Seq[Group], Seq[Long])
  val name = "e1_features"
  private val in = new E1Inputs(nHours, rowsPerHour)
  def inputRows: Long = in.trafficRows

  def setup(ctx: Ctx, dir: String): Unit = in.setup(ctx, dir)

  /** Groups, and the output rows of every inner join in the executed plan. */
  def execute(ctx: Ctx): Out = {
    val (traffic, weather) = in.load(ctx)
    val agg = E1.summarize(TrainingPipeline.featureTable(traffic, weather))
    val groups = E1.groups(agg)
    (groups, PlanMetrics.innerJoinRows(agg.queryExecution.executedPlan))
  }

  def check(out: Out, first: Option[Out]): Seq[String] = {
    val (groups, joins) = out
    val want = in.distinctTraffic * E1.FanOut
    Seq(
      (!joins.contains(want)) ->
        s"joined rows ${joins.mkString("/")} != distinct traffic ${in.distinctTraffic} x ${E1.FanOut}",
      (groups.map(g => (g.borough, g.isEvent)).distinct.length != 10) ->
        s"expected 5 boroughs x 2 event flags, got ${groups.length} groups",
      (groups.map(_.n).sum > want) -> "feature table holds more rows than the join",
      first.exists(f => !E1.sameGroups(f._1, groups)) -> "aggregate differs from the first rep"
    ).collect { case (true, msg) => msg }
  }

  def traced(ctx: Ctx, tr: Tracer): Out = tr.span("pipelines", "e1_features") {
    val (traffic, weather) = in.loadTraced(ctx, tr)
    val (feat, joined) = E1.featureTableTraced(ctx, tr, traffic, weather)
    val groups = tr.span("pipelines", "summarize") { E1.groups(E1.summarize(feat)) }
    (groups, Seq(joined))
  }

  def same(a: Out, b: Out): Boolean = E1.sameGroups(a._1, b._1)

  override def describe(out: Out): Map[String, Any] =
    Map("feature_rows" -> out._1.map(_.n).sum, "joined_rows" -> out._2)

  def layerMetrics(spans: Seq[Span], tel: Telemetry, out: Out): Map[String, Double] = {
    val window = Tracer.counters(tel, spans, "windows.trailing")
    Map(
      "sources.csv_scan_s" -> Tracer.seconds(spans, "sources.csv_scan"),
      "operators.fanout_join_s" -> Tracer.seconds(spans, "operators.fanout_join"),
      "operators.fanout_join_shuffle_mb" ->
        Tracer.counters(tel, spans, "operators.fanout_join").shuffleWriteBytes / 1048576.0,
      "functions.calendar_s" -> Tracer.seconds(spans, "functions.calendar"),
      "windows.trailing_s" -> Tracer.seconds(spans, "windows.trailing"),
      "windows.trailing_spill_mb" -> window.spillBytes / 1048576.0,
      "windows.trailing_task_skew" -> window.taskSkew)
  }
}
