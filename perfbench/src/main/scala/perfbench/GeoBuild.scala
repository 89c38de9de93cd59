package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.geo.{Crs, GeoOps, SpatialJoin}
import graft.operators.Relational
import graft.pipelines.GeoPipeline
import graft.sources.Tables

/** Line count, order-independent content hash and, for Point features,
  * the number of coordinates outside the NYC bounding box — read back
  * from the written GeoJSON lines without Spark.
  */
final case class Digest(lines: Long, hash: Long, outsideBbox: Long)

object Digest {
  private val Point = "\"coordinates\":\\[(-?[0-9.Ee-]+),(-?[0-9.Ee-]+)\\]".r.unanchored
  /** lon/lat bounds that enclose the five boroughs. */
  val Lon = (-74.30, -73.65)
  val Lat = (40.45, 40.95)

  def of(dir: String, points: Boolean): Digest = {
    var n, h, out = 0L
    Inputs.partLines(dir, header = false).foreach { l =>
      n += 1
      h += MurmurHash3.stringHash(l)
      if (points) l match {
        case Point(lon, lat) =>
          val (x, y) = (lon.toDouble, lat.toDouble)
          if (x < Lon._1 || x > Lon._2 || y < Lat._1 || y > Lat._2) out += 1
        case _ => out += 1
      }
    }
    Digest(n, h, out)
  }
}

/** Output of one E3 build: the written feature sets and the serve-side
  * volume→color histogram.
  */
final case class GeoOut(points: Digest, lines: Digest, histogram: Seq[(String, String, Long)])

/** geo_build: the E3 GeoJSON build. WKT parse, EPSG:2263→4326, Point
  * features with the volume→color histogram, nearest-segment snap and
  * LineString features, both feature sets written as GeoJSON lines.
  */
final class GeoBuild(nHours: Int, rowsPerHour: Int, nEdges: Int) extends BatchWorkload {
  type Out = GeoOut
  val name = "geo_build"
  private var dir = ""
  private var csvRows = 0L
  private var distinctIds = 0L
  private var candidatesPerPoint = 0.0
  def inputRows: Long = csvRows

  def setup(ctx: Ctx, d: String): Unit = {
    Tables.writeCsv(Inputs.traffic(ctx.spark, ctx.seed, nHours, rowsPerHour), s"$d/traffic")
    Tables.writeCsv(Inputs.edges(ctx.spark, ctx.seed, nEdges), s"$d/edges")
    val ids = Inputs.partLines(s"$d/traffic", header = true).map(_.takeWhile(_ != ',')).toVector
    csvRows = ids.length
    distinctIds = ids.distinct.length
    dir = d
  }

  private def traffic(ctx: Ctx) = Tables.csv(ctx.spark, s"$dir/traffic", Inputs.trafficSchema)
  private def edges(ctx: Ctx) = Tables.csv(ctx.spark, s"$dir/edges", Inputs.edgeSchema)

  private def histogram(features: DataFrame): Seq[(String, String, Long)] =
    features.withColumn("color", GeoPipeline.volumeColor(col("vol")))
      .groupBy("Boro", "color").count().collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted

  private def points(traffic: DataFrame): DataFrame = traffic.select(col("RequestID"),
    GeoOps.wktPointX(col("WktGeom")).as("x"), GeoOps.wktPointY(col("WktGeom")).as("y"))

  private def snap(points: DataFrame, edges: DataFrame): DataFrame =
    SpatialJoin.nearestEdge(points, "RequestID", edges, "edge_id",
      "x", "y", "ax", "ay", "bx", "by")

  /** LineString feature of each point's nearest segment, in lon/lat. */
  private def lineFeatures(snapped: DataFrame, edges: DataFrame): DataFrame = {
    val ends = Crs.withLonLat(Crs.withLonLat(edges, col("ax"), col("ay"), "a_lon", "a_lat"),
      col("bx"), col("by"), "b_lon", "b_lat")
    def r(c: String) = round(col(c), 6)
    snapped.join(broadcast(ends), snapped("nearest_edge") === ends("edge_id"))
      .select(GeoOps.lineFeature(
        array(array(r("a_lon"), r("a_lat")), array(r("b_lon"), r("b_lat"))),
        struct(col("RequestID").as("RequestID"), col("nearest_edge").as("edge"))).as("feature"))
  }

  private def out(kind: String) = s"$dir/out_$kind"

  private def digest(kind: String, hist: Seq[(String, String, Long)]): GeoOut =
    GeoOut(Digest.of(s"${out(kind)}/points", points = true),
      Digest.of(s"${out(kind)}/lines", points = false), hist)

  def execute(ctx: Ctx): Out = {
    val t = traffic(ctx)
    val features = GeoPipeline.buildFeatures(t)
    val hist = histogram(features)
    Tables.writeGeoJsonLines(features.select("feature"), s"${out("plain")}/points")
    val e = edges(ctx)
    Tables.writeGeoJsonLines(lineFeatures(snap(points(t), e), e), s"${out("plain")}/lines")
    digest("plain", hist)
  }

  def check(o: Out, first: Option[Out]): Seq[String] = Seq(
    (o.points.lines != csvRows) -> s"${o.points.lines} point features for $csvRows traffic rows",
    // the snap is keyed by RequestID: the fixture's exact-duplicate rows snap once
    (o.lines.lines != distinctIds) ->
      s"${o.lines.lines} snapped segments for $distinctIds distinct parsed points",
    (o.points.outsideBbox != 0) -> s"${o.points.outsideBbox} points outside the NYC bbox",
    (o.histogram.map(_._3).sum != csvRows) -> "color histogram does not cover every point",
    first.exists(_ != o) -> "output differs from the first rep"
  ).collect { case (true, msg) => msg }

  /** The build one layer at a time; [[GeoPipeline.buildFeatures]] is split
    * into its WKT, CRS and feature steps.
    */
  def traced(ctx: Ctx, tr: Tracer): Out = tr.span("pipelines", "geo_build") {
    val (t, e) = tr.span("sources", "csv_scan") { (ctx.mat(traffic(ctx)), ctx.mat(edges(ctx))) }
    val parsed = tr.span("geo", "wkt_parse") {
      ctx.mat(t
        .withColumn("vol", Relational.safeNumeric(col("Vol")))
        .withColumn("ts", make_timestamp(col("Yr"), col("M"), col("D"), col("HH"), lit(0), lit(0)))
        .withColumn("__x_ft", GeoOps.wktPointX(col("WktGeom")))
        .withColumn("__y_ft", GeoOps.wktPointY(col("WktGeom")))
        .filter(col("__x_ft").isNotNull && col("__y_ft").isNotNull))
    }
    val lonLat = tr.span("geo", "crs") {
      ctx.mat(Crs.withLonLat(parsed, col("__x_ft"), col("__y_ft"))
        .withColumn("lon", round(col("lon"), 6))
        .withColumn("lat", round(col("lat"), 6)))
    }
    val features = tr.span("geo", "point_feature") {
      ctx.mat(lonLat.withColumn("feature", GeoOps.pointFeature(col("lon"), col("lat"),
        struct(col("RequestID").as("RequestID"),
          col("Boro").as("Borough"),
          date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss").as("Timestamp"),
          col("vol").as("Volume"),
          col("street").as("Street"))))
        .select("RequestID", "Boro", "ts", "vol", "lon", "lat", "feature"))
    }
    val hist = tr.span("pipelines", "color_histogram") { histogram(features) }
    tr.span("sources", "geojson_write") {
      Tables.writeGeoJsonLines(features.select("feature"), s"${out("traced")}/points")
    }
    val pts = tr.span("geo", "wkt_parse") { ctx.mat(points(t)) }
    val snapped = tr.span("geo", "nearest_edge") {
      val s = snap(pts, e)
      val m = ctx.mat(s)
      candidatesPerPoint = PlanMetrics.innerJoinRows(s.queryExecution.executedPlan).sum.toDouble /
        math.max(1L, csvRows)
      m
    }
    val lines = tr.span("geo", "line_feature") { ctx.mat(lineFeatures(snapped, e)) }
    tr.span("sources", "geojson_write") {
      Tables.writeGeoJsonLines(lines, s"${out("traced")}/lines")
    }
    digest("traced", hist)
  }

  def same(a: Out, b: Out): Boolean = a == b

  def layerMetrics(spans: Seq[Span], tel: Telemetry, o: Out): Map[String, Double] = Map(
    "sources.csv_scan_s" -> Tracer.seconds(spans, "sources.csv_scan"),
    "sources.geojson_write_s" -> Tracer.seconds(spans, "sources.geojson_write"),
    "sources.geojson_write_mb" ->
      Tracer.counters(tel, spans, "sources.geojson_write").bytesWritten / 1048576.0,
    "geo.wkt_parse_s" -> Tracer.seconds(spans, "geo.wkt_parse"),
    "geo.crs_s" -> Tracer.seconds(spans, "geo.crs"),
    "geo.point_feature_s" -> Tracer.seconds(spans, "geo.point_feature"),
    "geo.nearest_edge_s" -> Tracer.seconds(spans, "geo.nearest_edge"),
    "geo.nearest_edge_candidates_per_point" -> candidatesPerPoint,
    "geo.line_feature_s" -> Tracer.seconds(spans, "geo.line_feature"))
}
