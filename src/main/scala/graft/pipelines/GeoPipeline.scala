package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.geo.{Crs, GeoOps}

/** E3 — the reference's GeoJSON build + map-filter serving path
  * (convert_traffic_csv_to_geojson_point.py → main.py:166-198, SURVEY.md
  * §3 E3).
  *
  * Build: traffic CSV → WKT parse (F1/F2) → EPSG:2263→4326 inverse LCC
  * (F16, pure Column math) → GeoJSON Point Features (F19), written as
  * JSONL parts (S10 — a single envelope object wrapping millions of
  * features can't stream through a line-oriented writer; the envelope is
  * assembled at the consumer boundary, SURVEY.md §7 risk 6).
  *
  * Serve: borough/year filter with the reference's semantics — case-
  * insensitive borough compare, rows with unparseable timestamps
  * silently skipped (main.py:182-191).
  */
object GeoPipeline {

  /** Traffic rows → (RequestID, borough, ts, vol, lon, lat, feature). */
  def buildFeatures(traffic: DataFrame): DataFrame = {
    val base = traffic
      .withColumn("vol", graft.operators.Relational.safeNumeric(col("Vol")))
      .withColumn("ts", make_timestamp(
        col("Yr"), col("M"), col("D"), col("HH"), lit(0), lit(0)))
      // Drop unparseable-WKT rows on the PARSED inputs, not on lon/lat
      // after the inverse: null propagates through the CRS arithmetic
      // (non-null x/y always yields non-null lon/lat), so the filters
      // are equivalent — but a lon.isNotNull filter below the inverse
      // gets alias-substituted through withLonLat's staged projections,
      // doubling the unrolled latitude iteration per layer (~2^Iters
      // copies of the regex parse + trig in ONE predicate; measured
      // 49.5 s for 41k rows, 1.5 s with the pre-filter).
      .withColumn("__x_ft", GeoOps.wktPointX(col("WktGeom")))
      .withColumn("__y_ft", GeoOps.wktPointY(col("WktGeom")))
      .filter(col("__x_ft").isNotNull && col("__y_ft").isNotNull)
    Crs.withLonLat(base, col("__x_ft"), col("__y_ft"))
      .withColumn("lon", round(col("lon"), 6))
      .withColumn("lat", round(col("lat"), 6))
      .withColumn("feature", GeoOps.pointFeature(col("lon"), col("lat"),
        struct(col("RequestID").as("RequestID"),
          col("Boro").as("Borough"),
          date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss").as("Timestamp"),
          col("vol").as("Volume"),
          col("street").as("Street"))))
      .select("RequestID", "Boro", "ts", "vol", "lon", "lat", "feature")
  }

  /** The reference's volume→color buckets (F18, main.py:215-225). */
  def volumeColor(vol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(vol > 20, "red").when(vol > 10, "orange")
      .when(vol > 5, "yellow").otherwise("green")

  /** E3 filter: case-insensitive borough equality + calendar year;
    * null/unparseable timestamps are skipped (never error; a null `ts`
    * fails both bounds).
    *
    * The year is the half-open range [y-01-01 00:00, (y+1)-01-01 00:00)
    * with both bounds built in the session time zone, so it selects
    * exactly the rows `year(ts) === y` does. Unlike `year(ts)`, a bare
    * comparison on `ts` against constants pushes down to the scan
    * (`PushedFilters`), where a Parquet file with usable `ts` statistics
    * can skip row groups.
    */
  def filterFeatures(features: DataFrame, borough: String, yearN: Int): DataFrame = {
    def newYear(y: Int) = make_timestamp_ltz(lit(y), lit(1), lit(1), lit(0), lit(0), lit(0))
    features.filter(
      lower(col("Boro")) === lit(borough.toLowerCase) &&
        col("ts") >= newYear(yearN) && col("ts") < newYear(yearN + 1))
  }
}
