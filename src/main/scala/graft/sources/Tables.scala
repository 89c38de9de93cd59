package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table loaders and source/sink helpers (SURVEY.md §2.1, S1–S14).
  *
  * The reference reads CSV eagerly with pandas (`pd.read_csv`,
  * reference backend/raw_merge.py:8-9) with manual projection pushdown
  * (`usecols`, SegmentedModeling.py:198-205) and manual chunking
  * (`chunksize=200_000`, SegmentedModeling.py:199-211). On Spark all of
  * that is subsumed by the partitioned, column-pruned, predicate-pushed
  * scan that Catalyst plans from a declarative `spark.read`. CSV and JSON
  * domain inputs are read with fixed schemas (the reference relies on
  * inference); Parquet tables carry their schema in their footers, and
  * [[table]] infers it once per file listing ([[parquetSchema]]).
  */
object Tables {

  /** Parquet scan of one test table, `dir/<name>.parquet`, under the
    * schema [[parquetSchema]] resolved for it: only the first scan of a
    * file listing runs the footer-reading inference job, later scans of
    * the same files plan with the remembered schema and run none.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(parquetSchema(spark, path)).parquet(path)
  }

  /** The session confs that change what Parquet schema inference returns
    * for the same files (nanos as long, NTZ inference, binary as string,
    * INT96 as timestamp, footer merging, case sensitivity).
    */
  private val SchemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive")

  /** A file listing: (name, size, mtime) per file, sorted by name. */
  private type Stamp = Vector[(String, Long, Long)]

  /** Every file under `path` (recursively, or `path` itself when it is a
    * file), listed through the session's Hadoop `FileSystem`; empty when
    * `path` does not exist. Part-file names carry a per-write UUID, so a
    * rewritten table lists differently even at the same sizes and within
    * the file system's mtime resolution.
    */
  private def listingStamp(spark: SparkSession, path: String): Stamp = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    // listStatus, not listFiles: a located status also reads each file's
    // block locations, owner and permissions; on the local file system
    // that measured 6.4 ms against 0.5 ms for one sf0.001 table file
    def walk(p: Path): Iterator[FileStatus] = fs.listStatus(p).iterator.flatMap(s =>
      if (s.isDirectory) walk(s.getPath) else Iterator(s))
    try walk(root).map(s => (s.getPath.toString, s.getLen, s.getModificationTime))
      .toVector.sortBy(_._1)
    catch { case _: java.io.FileNotFoundException => Vector.empty }
  }

  /** One entry per (path, [[SchemaConfs]] values): the listing stamp the
    * schema was inferred under, and the schema. A changed listing
    * replaces the entry, so a table rewritten in a loop holds one.
    */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[(String, Seq[String]), (Stamp, StructType)]()

  /** Parquet schema of `path`, inferred once per file listing and values
    * of [[SchemaConfs]], the way a Spark SQL data source reports its
    * schema to the catalog once instead of a footer-reading job per scan.
    *
    * The stamp is listed BEFORE inferring, so a rewrite racing the
    * inference can only leave an entry whose stamp is already stale.
    * Inference runs outside the map (get, infer, put): a
    * `computeIfAbsent` would hold a bin lock for a whole Spark job while
    * concurrent callers (serving threads) wait on it; two callers
    * missing at once both infer and store the same schema. A missing
    * path is never stored and throws `spark.read.parquet`'s
    * `AnalysisException` on every call.
    */
  private[graft] def parquetSchema(spark: SparkSession, path: String): StructType =
    underStamp(schemas, (path, SchemaConfs.map(k => spark.conf.getOption(k).getOrElse(""))),
      listingStamp(spark, path))(spark.read.parquet(path).schema)

  /** `cache`'s value for `key` when it was computed under `stamp`; else
    * `compute` (outside the map, no bin lock held) and store it over any
    * stale entry. Nothing is stored for an empty listing or a throwing
    * `compute`.
    */
  private def underStamp[K, V](cache: java.util.concurrent.ConcurrentHashMap[K, (Stamp, V)],
      key: K, stamp: Stamp)(compute: => V): V =
    Option(cache.get(key)).collect { case (`stamp`, v) => v }.getOrElse {
      val v = compute
      if (stamp.nonEmpty) cache.put(key, (stamp, v))
      v
    }

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  /** The events table's `ts` parquet type has varied across driver
    * testdata generations — TIMESTAMP(NANOS) (rejected by Spark's
    * µs TimestampType by default), TIMESTAMP(MICROS, isAdjustedToUTC
    * = false) (read as TIMESTAMP_NTZ under Spark 4's NTZ inference),
    * and plain UTC micros. [[eventsWithTimestamp]] normalizes all three
    * to TimestampType.
    */
  def events(spark: SparkSession, dir: String, widen: Boolean = false): DataFrame = {
    val df = eventsWithTimestamp(spark)(table(spark, dir, "events"))
    // Same opt-in widening as documents/embeddings below: the test
    // fixture is one row group = one map task, so per-row-expensive
    // consumers (JSON assembly/parse) would run on one core of 32.
    if (widen) withMinMapParallelism(spark, s"$dir/events.parquet", df) else df
  }

  /** Run `scan` (a batch or streaming read of the events table) and
    * normalize its `ts` column to TimestampType: nanos are read as long
    * (session conf set here, before `scan`, so any session, including
    * the driver's, can read events without special setup) and floored
    * to µs; NTZ is reinterpreted as UTC wall time — the engine runs
    * with spark.sql.session.timeZone=UTC, so the cast is value-identical
    * to what the DuckDB oracle computes from the same naive timestamps.
    *
    * The timezone is pinned, like nanosAsLong, because the NTZ cast
    * interprets naive wall time in the SESSION timezone — only under
    * UTC are its epoch values identical to the tz-independent nanos
    * path (timestamp_micros), so a non-UTC caller session gets the same
    * instants as the engine's own sessions instead of shifted epochs.
    * Deliberately NOT set-and-restored: the returned plan is LAZY, and
    * the timezone must still hold when an action finally executes it —
    * a scoped restore would hand back a plan whose correctness expired
    * with the scope. Callers needing non-UTC sessions should use a
    * separate session for events access.
    */
  private[graft] def eventsWithTimestamp(spark: SparkSession)(scan: => DataFrame): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val raw = scan
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** Documents and embeddings feed the per-row-EXPENSIVE operators
    * (tokenize → md5 → shingle, dot products): their map parallelism is
    * whatever the scan yields, and a parquet row group is the smallest
    * schedulable unit — the test fixtures are ONE row group, so without
    * widening every dedup/similarity map stage runs on one core of 32
    * (measured: most of q_ngram_jaccard_pairs at sf0.1 sat in
    * single-task stages). Widening is OPT-IN (`widen = true`): cheap
    * consumers (projections, counts) must not pay a round-robin shuffle
    * just for loading the table. At real scale a 100 TB corpus scans as
    * thousands of row-group splits and the widen is a no-op.
    *
    * The split-count probe (`rdd.getNumPartitions` — file listing +
    * physical planning, no job) is cached per (path, target) so repeated
    * loads in a bench/verify loop plan the probe once. Like
    * [[parquetSchema]], each entry carries the [[listingStamp]] it was
    * probed under, so a fixture regenerated at the same path (e.g. a test
    * rewriting its input) re-probes and replaces the stale count.
    */
  private val scanSplitCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), (Stamp, Int)]()

  private def withMinMapParallelism(spark: SparkSession, path: String, df: DataFrame): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    val n = underStamp(scanSplitCache, (path, target), listingStamp(spark, path))(
      df.rdd.getNumPartitions)
    if (n < target) df.repartition(target) else df
  }

  def documents(spark: SparkSession, dir: String, widen: Boolean = false): DataFrame = {
    val df = table(spark, dir, "documents")
    if (widen) withMinMapParallelism(spark, s"$dir/documents.parquet", df) else df
  }
  def embeddings(spark: SparkSession, dir: String, widen: Boolean = false): DataFrame = {
    val df = table(spark, dir, "embeddings")
    if (widen) withMinMapParallelism(spark, s"$dir/embeddings.parquet", df) else df
  }

  // ----------------------------------------------------------------------
  // Domain schemas (reference inputs, reconstructed in FIXTURES.md §B1-B2).
  // Fixed StructTypes replace pandas' per-read inference.
  // ----------------------------------------------------------------------

  /** NYC DOT traffic counts CSV schema (reference
    * scripts/convert_traffic_csv_to_geojson_point.py:37-47).
    */
  val trafficSchema: StructType = StructType(Seq(
    StructField("RequestID", LongType),
    StructField("Boro", StringType),
    StructField("Yr", IntegerType),
    StructField("M", IntegerType),
    StructField("D", IntegerType),
    StructField("HH", IntegerType),
    StructField("MM", IntegerType),
    StructField("Vol", StringType), // mixed-type in raw file; coerced via safeNumeric (P11)
    StructField("SegmentID", LongType),
    StructField("WktGeom", StringType),
    StructField("street", StringType),
    StructField("fromSt", StringType),
    StructField("toSt", StringType),
    StructField("Direction", StringType)))

  /** Open-Meteo hourly weather CSV schema (reference
    * scripts/enrich_weather.py:145-166).
    */
  val weatherSchema: StructType = StructType(Seq(
    StructField("date", TimestampType),
    StructField("latitude", DoubleType),
    StructField("longitude", DoubleType),
    StructField("borough", StringType),
    StructField("temperature_2m", DoubleType),
    StructField("precipitation", DoubleType),
    StructField("cloud_cover_low", DoubleType),
    StructField("snow_depth", DoubleType),
    StructField("visibility", DoubleType),
    StructField("weather_code", DoubleType),
    StructField("freezing_level_height", DoubleType),
    StructField("rain", DoubleType),
    StructField("showers", DoubleType),
    StructField("snowfall", DoubleType),
    StructField("uv_index", DoubleType)))

  /** S11: remote-file localization shim (reference main.py:170-172 —
    * `gdown` fetches the segment GeoJSON by Drive file-id on every map
    * request). Modeled as a driver-side localize-then-scan: copy `url`
    * to `localPath` once, then read through the local path. Idempotent —
    * an existing file is kept, so repeated calls (the reference
    * re-downloads per request) cost one stat; `expectedSha256`, when
    * given, guards both the skip (a corrupt/partial file is re-fetched)
    * and the fetch itself (a mismatched download throws rather than
    * poisoning downstream scans). Any URL scheme the JVM can open
    * (file:, http:, https:) works; the atomic temp-file rename means a
    * crashed fetch never leaves a half-written file at `localPath`.
    *
    * At cluster scale this stays a driver/edge-node concern: the fetch
    * localizes small artifacts (a 10 MB GeoJSON, a model blob) that are
    * then broadcast or scanned — bulk data lands via the distributed
    * scan paths above, never through this shim.
    */
  def fetchToLocal(url: String, localPath: String,
      expectedSha256: Option[String] = None): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    def sha256(p: java.nio.file.Path): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val in = Files.newInputStream(p)
      try {
        val buf = new Array[Byte](1 << 16)
        Iterator.continually(in.read(buf)).takeWhile(_ > 0)
          .foreach(n => md.update(buf, 0, n))
      } finally in.close()
      md.digest().map("%02x".format(_)).mkString
    }
    val target = Paths.get(localPath)
    val fresh = Files.exists(target) &&
      expectedSha256.forall(_.equalsIgnoreCase(sha256(target)))
    if (!fresh) {
      Option(target.getParent).foreach(Files.createDirectories(_))
      val tmp = Files.createTempFile(
        Option(target.getParent).getOrElse(Paths.get(".")), ".fetch-", ".tmp")
      try {
        val in = new java.net.URI(url).toURL.openStream()
        try Files.copy(in, tmp, StandardCopyOption.REPLACE_EXISTING)
        finally in.close()
        expectedSha256.foreach { want =>
          val got = sha256(tmp)
          require(want.equalsIgnoreCase(got),
            s"checksum mismatch fetching $url: expected $want got $got")
        }
        Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING,
          StandardCopyOption.ATOMIC_MOVE)
      } finally Files.deleteIfExists(tmp)
    }
    target.toString
  }

  /** S1/S3/S5: header CSV scan with fixed schema; `path` may be a glob
    * (reference sorts `glob.glob` results, backend/random_forest.py:116 —
    * irrelevant after the union, SURVEY.md O4).
    */
  def csv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** S9: whole-document (multiLine) JSON scan — e.g. a GeoJSON
    * FeatureCollection — exploded to one row per feature (reference
    * main.py:175-181 `json.load` + feature loop).
    */
  def geojsonFeatures(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", "true").json(path)
      .select(explode(col("features")).as("feature"))
      .select(col("feature.*"))

  /** S7: header CSV sink. */
  def writeCsv(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).option("header", "true").csv(path)

  /** S8: idempotent sink — skip when target exists (reference
    * `os.path.exists` guard, backend/raw_merge.py:47-52). `SaveMode.Ignore`
    * is the Spark-native equivalent of the guard.
    */
  def writeCsvIfAbsent(df: DataFrame, path: String): Unit =
    writeCsv(df, path, SaveMode.Ignore)

  /** S10: GeoJSON sink. A single top-level envelope object wrapping
    * millions of features does not fit Spark's line-oriented JSON writer
    * (SURVEY.md §7 risk 6): features are written as JSONL parts, and the
    * envelope is assembled at the consumer boundary. `featureJson` must be
    * a single string column holding one serialized Feature per row.
    */
  def writeGeoJsonLines(features: DataFrame, path: String): Unit =
    features.write.mode(SaveMode.Overwrite).text(path)

  /** JSON-lines sink (one object per row) — the interchange format for
    * corpus pipelines (WebText-style dumps, eval-set exports). Columnar
    * formats beat it for analytics; it exists for the boundaries where
    * the other side speaks JSONL.
    */
  def writeJsonl(df: DataFrame, path: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).json(path)

  /** JSON-lines scan with an explicit schema — schema-on-read without
    * an inference pass (PERMISSIVE: malformed lines null out, matching
    * the engine's CSV posture).
    */
  def jsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** ORC sink — the second columnar format Spark carries natively, for
    * interop with ORC-based warehouses (Hive ACID, some lakehouse
    * stacks). Same writer surface as parquet: column pruning, predicate
    * pushdown, and min/max stats all work through the same
    * DataSource V2 scan machinery (SourcesSpec pins roundtrip equality
    * and pruned ReadSchema).
    */
  def writeOrc(df: DataFrame, path: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).orc(path)

  /** ORC scan (schema from the file footer, like parquet). */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Bucketed parquet table sink — the co-located-join primitive for
    * repeatedly-joined big tables. Writing both sides of a hot join
    * bucketed (and sorted) on the join key lets every later
    * `spark.table(a).join(spark.table(b), key)` plan as a sort-merge
    * join with ZERO Exchange: at 100 TB that deletes the dominant
    * shuffle from every consumer of the table pair (bucket count should
    * be sized so one bucket ≈ one task's worth of data — pick a
    * power-of-two ≥ cluster cores).
    *
    * Registers `name` in the session catalog with data at `path`
    * (external table, plain parquet files + bucket metadata — readable
    * by any engine, bucket-aware only through the catalog).
    */
  def writeBucketed(df: DataFrame, name: String, path: String,
      bucketCols: Seq[String], numBuckets: Int,
      sortCols: Seq[String] = Nil, mode: SaveMode = SaveMode.Overwrite): Unit = {
    require(bucketCols.nonEmpty && numBuckets > 0,
      "bucketed write needs at least one bucket column and a positive bucket count")
    val w = df.write.mode(mode).format("parquet").option("path", path)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(name)
  }

  /** Hive-style partitioned parquet sink: one directory per partition
    * value. The complement of bucketing for the OTHER hot predicate
    * class: equality/range filters on the partition column prune whole
    * directories at PLANNING time (`PartitionFilters` in the scan — zero
    * I/O for excluded partitions), which is what makes
    * "last 7 days of a 100 TB table" a small scan instead of a full one.
    * Partition by low-cardinality, always-filtered columns (date,
    * region); high-cardinality partitioning produces a small-files
    * explosion — that's what bucketing is for.
    */
  def writePartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String], mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(path)

  /** Z-order clustered parquet sink: rows are range-partitioned and
    * sorted by the interleaved-bit key of TWO dimensions
    * ([[graft.functions.ZOrder.zKey]]), so a box predicate on either or
    * both dimensions touches a small run of files/row-groups instead of
    * all of them — the data-layout complement to directory partitioning
    * (one always-filtered column) and bucketing (equi-join keys) for
    * the multi-dimensional range-scan class (lat×lon, time×key,
    * price×date). Parquet's per-row-group min/max stats do the actual
    * skipping; Z-ordering is what makes those ranges TIGHT on both
    * columns at once. `SourcesSpec` pins the layout property: per-file
    * z ranges are disjoint and each dimension's per-file spread shrinks
    * vs an unclustered write.
    */
  def writeZOrdered(df: DataFrame, path: String, dimA: Column, dimB: Column,
      bits: Int = 16, numFiles: Int = 8,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.withColumn("__z", graft.functions.ZOrder.zKey(dimA, dimB, bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(mode).parquet(path)
}
