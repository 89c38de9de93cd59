package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipelines.DomainFixtures

/** Seeded workload generator. Starts from the repository's domain fixtures
  * (traffic counts with duplicate rows and junk volumes, hourly weather with
  * a heavy-snow stretch) and perturbs them with the seed: volumes follow a
  * learnable daily profile plus seeded noise, point locations and
  * temperatures are jittered, and the street segments are shifted. Every
  * perturbation is a function of the row's key, so the fixture's duplicate
  * rows stay exact duplicates.
  */
object Inputs {

  val trafficSchema: StructType = StructType(Seq(
    StructField("RequestID", LongType), StructField("Boro", StringType),
    StructField("Yr", IntegerType), StructField("M", IntegerType),
    StructField("D", IntegerType), StructField("HH", IntegerType),
    StructField("MM", IntegerType), StructField("Vol", StringType),
    StructField("SegmentID", LongType), StructField("WktGeom", StringType),
    StructField("street", StringType), StructField("fromSt", StringType),
    StructField("toSt", StringType), StructField("Direction", StringType)))

  val weatherSchema: StructType = StructType(
    StructField("date", TimestampType) +: StructField("latitude", DoubleType) +:
      StructField("longitude", DoubleType) +: StructField("borough", StringType) +:
      Seq("temperature_2m", "precipitation", "cloud_cover_low", "snow_depth",
        "visibility", "weather_code", "freezing_level_height", "rain",
        "showers", "snowfall", "uv_index").map(StructField(_, DoubleType)))

  val edgeSchema: StructType = StructType(StructField("edge_id", LongType) +:
    Seq("ax", "ay", "bx", "by").map(StructField(_, DoubleType)))

  /** Uniform in [0, 1), a function of (seed, salt, key) only. */
  private def u(seed: Long, salt: Int, key: Column): Column =
    pmod(xxhash64(lit(seed), lit(salt), key), lit(1000000L)) / 1e6

  /** Traffic counts: `nHours` × `rowsPerHour` rows plus the fixture's
    * duplicates. Every 97th RequestID carries the junk volume "n/a".
    */
  def traffic(spark: SparkSession, seed: Long, nHours: Int, rowsPerHour: Int): DataFrame = {
    val id = col("RequestID")
    val h = col("HH").cast("double")
    val ts = make_timestamp(col("Yr"), col("M"), col("D"), col("HH"), lit(0), lit(0))
    val boro = array_position(array(DomainFixtures.boroughs.map(lit): _*), col("Boro"))
    val noise = (u(seed, 1, id) + u(seed, 2, id) + u(seed, 3, id) - 1.5) * 40.0
    val vol = lit(300.0) - (boro - 1) * 10.0 +
      lit(60.0) * sin(h * (2 * math.Pi / 24) - 1.5) + lit(30.0) * sin(h * (4 * math.Pi / 24)) -
      when(dayofweek(ts).isin(1, 7), 40.0).otherwise(0.0) + noise
    val wkt = "POINT \\(([0-9]+) ([0-9]+)\\)"
    val x = regexp_extract(col("WktGeom"), wkt, 1).cast("long") + floor(u(seed, 4, id) * 800).cast("long")
    val y = regexp_extract(col("WktGeom"), wkt, 2).cast("long") + floor(u(seed, 5, id) * 800).cast("long")
    DomainFixtures.traffic(spark, nHours, rowsPerHour)
      .withColumn("Vol", when(id % 97 === 0, lit("n/a"))
        .otherwise(greatest(lit(1L), round(vol).cast("long")).cast("string")))
      .withColumn("WktGeom", concat(lit("POINT ("), x, lit(" "), y, lit(")")))
  }

  /** Hourly weather, ten rows per hour (two sample points per borough). */
  def weather(spark: SparkSession, seed: Long, nHours: Int): DataFrame =
    DomainFixtures.weather(spark, nHours).withColumn("temperature_2m",
      col("temperature_2m") + u(seed, 6, unix_seconds(col("date"))) * 4.0 - 2.0)

  /** `n` street segments in EPSG:2263 feet, shifted by the seed. */
  def edges(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    val r = new java.util.Random(seed)
    val (ox, oy) = (r.nextInt(154000).toLong, r.nextInt(154000).toLong)
    val ax = lit(913175L) + pmod(col("id") * 6151L + ox, lit(154000L))
    val ay = lit(120000L) + pmod(col("id") * 9973L + oy, lit(154000L))
    spark.range(n).select(col("id").as("edge_id"),
      ax.cast("double").as("ax"), ay.cast("double").as("ay"),
      (ax + 2000L + (col("id") * 31L) % 15000L).cast("double").as("bx"),
      (ay - 7000L + (col("id") * 53L) % 14000L).cast("double").as("by"))
  }

  /** Data lines of a directory of CSV or text part files, read without
    * Spark (a header line, when `header`, is dropped from each file).
    */
  def partLines(dir: String, header: Boolean): Iterator[String] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && f.isFile).sortBy(_.getName)
      .iterator.flatMap { f =>
        val ls = Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala.iterator
        if (header && ls.hasNext) { ls.next(); ls } else ls
      }
}
