package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import graft.Lineage.LineageOps
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming slice (SURVEY.md §2.7 T1-T3).
  *
  * The reference has no stream processor — its incremental patterns are a
  * chunked CSV loop (T1), a checkpointed REST-ingestion script with
  * per-response CSV appends (T2, scripts/enrich_weather.py:170-183), and
  * precomputed trailing features served point-in-time (T3,
  * main.py:278-310). Spark-first mappings:
  *
  *  - T1/T2 → file-source `readStream` + `foreachBatch` with a
  *    checkpointLocation: exactly-once incremental append without the
  *    hand-rolled progress log.
  *  - T3 → either windowed aggregation with a watermark, or
  *    `flatMapGroupsWithState` keeping a per-key trailing buffer — the
  *    online twin of the batch window in [[graft.windows.TrailingFeatures]].
  *
  * State scale: per-key state is O(window width) doubles; keys partition
  * across executors by hash — 100 M keys at w=24 is ~20 GB cluster-wide,
  * well within state-store territory (RocksDB-backed in production confs).
  */
object Streams {

  /** events.parquet schema under `nanosAsLong` (the test tables carry
    * TIMESTAMP(NANOS), which Spark reads as long when the legacy conf is
    * set — see [[graft.sources.Tables.events]]).
    */
  val eventsNanosSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming scan of the documents table — the corpus-ingest source
    * for streaming curation (quality gates, language gates,
    * decontamination are all stateless predicates and apply unchanged;
    * see `Dedup.contaminationPredicate`).
    */
  def documentsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(documentsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)

  /** Streaming scan of the events table (file source, micro-batched).
    *
    * The file-source requires a user schema, and the events table's
    * parquet timestamp type has varied across driver testdata
    * generations (TIMESTAMP(NANOS) → long under `nanosAsLong`;
    * TIMESTAMP(MICROS) naive → TIMESTAMP_NTZ) — a hardcoded long
    * schema read µs-precision files as µs-valued "nanos" and shrank
    * every timestamp 1000×, collapsing event-time windows (caught by
    * the oracle as a 3385-row aggregate dropping to 10). Take the
    * footer's type from [[graft.sources.Tables.parquetSchema]] (one
    * metadata job per file listing, shared with the batch scans) and
    * normalize to TimestampType through
    * [[graft.sources.Tables.eventsWithTimestamp]], as the batch
    * [[graft.sources.Tables.events]] does.
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.eventsWithTimestamp(spark) {
      // Footer probe needs the file to exist; a stream defined over a
      // directory populated LATER (the production ingest shape) falls back
      // to a schema instead of throwing at definition time. The fallback
      // is NTZ — the CURRENT testdata generation — and deliberately NOT
      // the nanos/long schema: if nanos files later land under an NTZ
      // schema the read fails LOUDLY (parquet type mismatch), whereas a
      // long fallback would read µs files as "nanos" and silently shrink
      // every timestamp 1000× (the exact corruption the probe exists to
      // prevent; see the scaladoc above).
      val tsType =
        try graft.sources.Tables.parquetSchema(spark, s"$dir/events.parquet")("ts").dataType
        catch {
          case scala.util.control.NonFatal(_) => TimestampNTZType
        }
      val schema = StructType(eventsNanosSchema.map(f =>
        if (f.name == "ts") f.copy(dataType = tsType) else f))
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet") // the table is a single file; the stream source needs a directory
        .parquet(dir)
    }

  /** State-store instance count of every one-shot harness stream
    * ([[runAvailableNow]]). A stateful stream's instance count is fixed
    * from `spark.sql.shuffle.partitions` at FIRST start (and pinned by
    * the checkpoint thereafter), and every instance pays a
    * per-micro-batch commit (delta file write + maintenance) that is
    * pure fixed cost — so state parallelism should track state-row
    * cardinality, not the session's batch-analytics shuffle width.
    * Measured at sf0.1 on local[32]: 32→8 instances cut the stateful
    * trailing stream 5.1→2.1 s and the near-dup ingest 3.7→2.3 s with
    * row-identical output. On a 4-core session (4 shuffle partitions)
    * the same constant RAISES the count from 4 to 8; it has not been
    * re-measured there. At ingest scale the trade-off runs in reverse:
    * size the count to keep per-instance state within executor memory.
    */
  private[graft] val HarnessStatePartitions = 8

  /** Run `data` to completion as the AvailableNow query `queryName` on
    * [[HarnessStatePartitions]] state-store instances (the session conf
    * is restored after, also on failure) and record it in
    * [[StreamMetrics]]. Sink: the memory table `queryName`, or with
    * `collect` a `foreachBatch` over a temp checkpoint deleted after —
    * a one-shot run, not a resumable ingest.
    */
  private def runAvailableNow[T](data: Dataset[T], queryName: String,
      mode: OutputMode, collect: Option[Dataset[T] => Unit] = None): Unit = {
    val spark = data.sparkSession
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.getOption(key)
    val ckpt = collect.map(_ => java.nio.file.Files.createTempDirectory("graft-stream-ckpt"))
    spark.conf.set(key, HarnessStatePartitions.toString)
    try {
      val w = data.writeStream.queryName(queryName).outputMode(mode)
      val sink = collect.zip(ckpt).fold(w.format("memory")) { case (f, dir) =>
        w.option("checkpointLocation", dir.toString)
          .foreachBatch((batch: Dataset[T], _: Long) => f(batch))
      }
      val q = sink.trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      StreamMetrics.record(q)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
      ckpt.foreach(deleteRecursively)
    }
  }

  /** [[runAvailableNow]] into the memory sink; returns its table. */
  private def runToMemory(data: Dataset[_], queryName: String,
      mode: OutputMode): DataFrame = {
    runAvailableNow(data, queryName, mode)
    data.sparkSession.table(queryName)
  }

  /** T3 (windowed): hourly per-type aggregate over a stream, with a
    * 1-hour watermark bounding state. Complete output mode so a single
    * AvailableNow pass over historical files yields the full result
    * (batch-equivalent semantics — oracle-checked in q_stream_hourly_agg).
    */
  def hourlyAggAvailableNow(spark: SparkSession, dir: String,
      queryName: String = "stream_hourly"): DataFrame = {
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
    runToMemory(agg, queryName, OutputMode.Complete())
      .select(col("w.start").as("hour"), col("event_type"), col("n"),
        col("sum_value"))
  }

  /** Streaming sessionization: the SAME `session_window` aggregate as
    * the batch operator (operators/Temporal.sessionize), run as a
    * Structured Streaming query — session merging happens inside the
    * streaming state store, so late events within a session's gap extend
    * it across micro-batches. Complete output + AvailableNow gives the
    * batch-equivalent full result for the oracle check; a production
    * deployment would use a watermark + Append and emit each session
    * once it can no longer grow.
    */
  def sessionizeAvailableNow(spark: SparkSession, dir: String,
      queryName: String = "stream_sessions"): DataFrame = {
    val agg = eventsStream(spark, dir)
      .groupBy(session_window(col("ts"), "30 minutes").as("__sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
    runToMemory(agg, queryName, OutputMode.Complete())
      .select(col("user_id"), col("__sw.start").as("session_start"),
        col("n_events"), col("sum_value"))
  }

  /** Streaming drift monitor: per-event-time-window PSI of the live
    * `value` distribution against a STATIC reference — the
    * production-monitoring companion to [[graft.operators.Drift]]: the
    * batch detectors gate a data drop after the fact; this one watches
    * drift arrive window by window at ingest.
    *
    * The reference rides as LITERALS (`edges` = its quantile bin edges,
    * `refProps` = its per-bin mass — both O(nBins), computed once from
    * the reference corpus, e.g. via [[graft.operators.Drift.psiBins]]),
    * so the stream side is ONE windowed aggregate: binning is literal
    * column math and the per-bin counts are nBins conditional sums in a
    * single `agg` — Structured Streaming restricts chained streaming
    * aggregations, so the second level (summing PSI terms over bins)
    * is a pure PROJECTION over the nBins count columns, which is also
    * exactly the state-minimal shape: one row of nBins longs per open
    * window, nothing data-sized. Complete output + AvailableNow gives
    * the batch-equivalent full result (oracle-checked stream==batch in
    * q_stream_drift); a production deployment would use Update mode
    * and alert on `psi` crossing its threshold as windows close.
    */
  def driftMonitorAvailableNow(spark: SparkSession, dir: String,
      edges: Seq[Double], refProps: Seq[Double],
      windowDur: String = "1 day", eps: Double = 1e-6,
      queryName: String = "stream_drift"): DataFrame = {
    require(refProps.length == edges.length + 1,
      "refProps must have edges.length + 1 bins")
    val nBins = refProps.length
    def binOf(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      edges.map(e => when(c > lit(e), 1L).otherwise(0L)).reduce(_ + _)
    val binned = eventsStream(spark, dir)
      .filter(col("value").isNotNull)
      .withWatermark("ts", "1 hour")
      .withColumn("__bin", binOf(col("value")))
    val aggs = (0 until nBins).map(i =>
      sum(when(col("__bin") === i, 1L).otherwise(0L)).as(s"__c$i"))
    val agg = binned.groupBy(window(col("ts"), windowDur).as("w"))
      .agg(aggs.head, aggs.tail: _*)
    val counts = runToMemory(agg, queryName, OutputMode.Complete())
    val n = (0 until nBins).map(i => col(s"__c$i")).reduce(_ + _)
    val psi = (0 until nBins).map { i =>
      val p = col(s"__c$i") / col("__n")
      (p - lit(refProps(i))) *
        log(greatest(p, lit(eps)) / lit(math.max(refProps(i), eps)))
    }.reduce(_ + _)
    counts
      .withColumn("__n", n)
      .select(col("w.start").as("window_start"), col("__n").as("n"),
        psi.as("psi"))
  }

  /** Multi-FEATURE streaming drift monitor — the streaming face of
    * [[graft.operators.Drift.driftMatrix]] (round 16): per
    * (event-time window × feature) PSI against static per-feature
    * reference bins, in ONE streaming aggregate. Each feature carries
    * its own reference-derived edges and proportions as literals (the
    * same ride-along-the-plan contract as the single-column monitor —
    * chained streaming aggregates are restricted, so everything after
    * the windowed count is batch arithmetic on the bins-sized result):
    * the stream is melted map-side into (ts, feature, bin) — bin
    * computed per feature BEFORE the explode, so the generator emits
    * small ints, not values — and the one windowed groupBy(window,
    * feature, bin) count is the only stateful stage. State =
    * windows × features × bins longs; post-processing densifies
    * zero-count bins against the literal grid and folds the
    * eps-floored PSI terms per (window, feature).
    *
    * `features`: (name, column expr over the events schema, edges,
    * refProps) — null feature values drop that feature's row only
    * (the melt keeps the other features of the same event).
    */
  def driftMatrixMonitorAvailableNow(spark: SparkSession, dir: String,
      features: Seq[(String, org.apache.spark.sql.Column, Seq[Double], Seq[Double])],
      windowDur: String = "1 day", eps: Double = 1e-6,
      queryName: String = "stream_drift_matrix"): DataFrame = {
    require(features.nonEmpty, "need >= 1 feature")
    features.foreach { case (n, _, edges, refProps) =>
      require(refProps.length == edges.length + 1,
        s"feature $n: refProps must have edges.length + 1 bins")
    }
    def binOf(c: org.apache.spark.sql.Column, edges: Seq[Double]) =
      edges.map(e => when(c > lit(e), 1L).otherwise(0L)).reduce(_ + _)
    val melted = eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .select(col("ts"), explode(array(features.map { case (n, c, ed, _) =>
        struct(lit(n).as("f"),
          when(c.isNotNull, binOf(c.cast("double"), ed)).as("bin"))
      }: _*)).as("__fb"))
      .filter(col("__fb.bin").isNotNull)
      .select(col("ts"), col("__fb.f").as("__f"), col("__fb.bin").as("__bin"))
    val agg = melted
      .groupBy(window(col("ts"), windowDur).as("w"), col("__f"), col("__bin"))
      .agg(count(lit(1)).as("__c"))
    // bins-sized; checkpoint breaks the memory-table self-join lineage
    // (grid derives from counts) and drops the watermark metadata that
    // otherwise makes the join's reference dedup fail
    val counts = runToMemory(agg, queryName, OutputMode.Complete())
      .graftCheckpoint()
    // batch tail over the bins-sized memory table
    import spark.implicits._
    val dim = features.flatMap { case (n, _, _, rp) =>
      rp.zipWithIndex.map { case (p, i) => (n, i.toLong, p) }
    }.toDF("__f", "__bin", "__p")
    val grid = counts.select(col("w")).distinct().crossJoin(broadcast(dim))
    val dense = grid
      .join(counts, Seq("w", "__f", "__bin"), "left")
      .select(col("w"), col("__f"), col("__bin"), col("__p"),
        coalesce(col("__c"), lit(0L)).as("__c"))
    val tot = dense.groupBy(col("w"), col("__f")).agg(sum(col("__c")).as("__n"))
    dense.join(tot, Seq("w", "__f"))
      .withColumn("__pc", col("__c").cast("double") / col("__n"))
      .withColumn("__t", (col("__pc") - col("__p")) *
        log(greatest(col("__pc"), lit(eps)) / greatest(col("__p"), lit(eps))))
      .groupBy(col("w"), col("__f"))
      .agg(max(col("__n")).as("n"), sum(col("__t")).as("psi"))
      .select(col("w.start").as("window_start"), col("__f").as("feature"),
        col("n"), col("psi"))
      // a feature with zero mass in a window has no defined PSI there
      .filter(col("n") > 0)
  }

  /** Windowed STREAMING data-quality gate — the streaming face of
    * [[graft.operators.Profiling.validate]] /
    * [[graft.operators.Expectations]] (round 16, completing the
    * monitoring triad: drift, drift matrix, quality): per event-time
    * window, every check's violation count in ONE streaming aggregate.
    * Checks are the SAME (name, violation-aggregate) pairs validate
    * takes (notNullViolations / rangeViolations / inSetViolations…), so
    * a pipeline declares its constraints once and runs them batch at
    * publish time and streaming at ingest time. State = one row of
    * longs per open window; the checks-sized melt to (window_start,
    * check, n_rows, violations, passed) happens batch-side on the
    * result table.
    */
  def qualityMonitorAvailableNow(spark: SparkSession, dir: String,
      checks: Seq[(String, org.apache.spark.sql.Column)],
      windowDur: String = "1 day",
      queryName: String = "stream_quality"): DataFrame = {
    require(checks.nonEmpty, "checks must be non-empty")
    val aggs = count(lit(1)).as("__n") +: checks.zipWithIndex.map {
      case ((_, c), i) => coalesce(c.cast("long"), lit(0L)).as(s"__v$i") }
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), windowDur).as("w"))
      .agg(aggs.head, aggs.tail: _*)
    val stackArgs = lit(checks.length) +: checks.zipWithIndex.flatMap {
      case ((n, _), i) => Seq(lit(n), col(s"__v$i")) }
    runToMemory(agg, queryName, OutputMode.Complete())
      .select(col("w.start").as("window_start"), col("__n").as("n_rows"),
        stack(stackArgs: _*).as(Seq("check", "violations")))
      .withColumn("passed", col("violations") === 0)
      .select(col("window_start"), col("check"), col("n_rows"),
        col("violations"), col("passed"))
  }

  /** T4: stream-static enrichment at ingest — the streaming side joins
    * a small STATIC dimension (here a tier mapping) before aggregating.
    * Spark plans the static side as a broadcast against every
    * micro-batch, so enrichment costs no stream-side shuffle and no
    * state; only the post-enrichment aggregate keeps state. This is
    * the canonical "decorate events with reference data while
    * ingesting" shape; the oracle is the equivalent batch CASE
    * mapping, pinning stream≡batch row parity.
    */
  def enrichedAggAvailableNow(spark: SparkSession, dir: String,
      tiers: Seq[(String, String)],
      queryName: String = "stream_enriched"): DataFrame = {
    import spark.implicits._
    val dim = tiers.toDF("event_type", "tier")
    val agg = eventsStream(spark, dir)
      .join(broadcast(dim), Seq("event_type"), "left")
      .withColumn("tier", coalesce(col("tier"), lit("other")))
      .groupBy(window(col("ts"), "1 day").as("w"), col("tier"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
    runToMemory(agg, queryName, OutputMode.Complete())
      .select(col("tier"), col("w.start").as("day"), col("n"),
        col("sum_value"))
  }

  /** T2: checkpointed incremental ingestion — every new source file lands
    * in `destDir` exactly once (the reference's requests-cache +
    * progress-log idempotence, enrich_weather.py:21-23,170-183).
    *
    * Exactly-once holds because the sink is IDEMPOTENT per micro-batch:
    * each batch overwrites its own `batch_id=<id>` subdirectory, so when
    * Structured Streaming replays the last batch after a failure (its
    * contract is at-least-once delivery to foreachBatch) the replay
    * replaces the identical data instead of appending a duplicate.
    * Downstream `spark.read.parquet(destDir)` sees `batch_id` as a
    * partition column.
    *
    * destDir LAYOUT CONTRACT: destDir must contain ONLY `batch_id=<id>`
    * subdirectories written by this ingester against the SAME checkpoint.
    * Two misuse modes are rejected up front rather than corrupting data:
    *  - destDir holding flat (non-partitioned) files breaks partition
    *    discovery for downstream readers;
    *  - a FRESH checkpoint over a non-empty destDir would restart batch
    *    ids at 0 and silently REPLACE previously ingested batches.
    */
  def ingestAvailableNow(spark: SparkSession, srcGlob: String,
      schema: StructType, destDir: String, checkpointDir: String,
      format: String = "parquet"): Unit = {
    val hconf = spark.sessionState.newHadoopConf()
    val destPath = new org.apache.hadoop.fs.Path(destDir)
    val fs = destPath.getFileSystem(hconf)
    if (fs.exists(destPath)) {
      val entries = fs.listStatus(destPath)
        .filterNot(s => s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith("."))
      val stray = entries.filterNot(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
      require(stray.isEmpty,
        s"destDir $destDir contains non-batch_id entries (${stray.take(3).map(_.getPath.getName).mkString(", ")}); " +
          "the sink writes a batch_id=<id> partition layout and cannot mix with flat files")
      val ckptPath = new org.apache.hadoop.fs.Path(checkpointDir, "offsets")
      val ckptFs = ckptPath.getFileSystem(hconf)
      require(entries.isEmpty || ckptFs.exists(ckptPath),
        s"destDir $destDir already holds ingested batches but checkpoint $checkpointDir is fresh: " +
          "batch ids would restart at 0 and replace existing data; use the original checkpoint or a new destDir")
    }
    val q = spark.readStream.schema(schema).format(format).load(srcGlob)
      .writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$destDir/batch_id=$batchId"): Unit
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming exact dedup — the streaming twin of [[graft.operators.Dedup.exact]]
    * for incremental corpus ingestion: a document re-delivered within the
    * watermark horizon (at-least-once sources re-send on retry/replay) is
    * dropped; exactly ONE delivery survives per id. (Across micro-batches
    * the earlier batch's row wins — state already exists; WITHIN a batch
    * the survivor among same-id rows is arbitrary, as
    * `dropDuplicatesWithinWatermark` gives no intra-batch ordering
    * guarantee.) State is BOUNDED by the watermark:
    * one key per id survives only until the event-time horizon passes, so
    * state size tracks the dedup window, never the corpus — the property
    * that makes this run forever at ingest scale. (Exact-forever dedup
    * belongs in the batch layer: `dropDuplicates` on a stream keeps
    * unbounded state.)
    */
  def dedupStream(df: DataFrame, idCol: String, tsCol: String,
      watermark: String = "1 hour"): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(idCol)

  // -- T3 (stateful): per-key trailing features online ---------------------

  case class Ev(k: String, t: Long, v: Double, id: Long = 0L)
  case class EvOut(k: String, t: Long, v: Double, id: Long,
    lag1: Option[Double], roll3: Option[Double])
  case class TrailState(recent: List[Double])

  /** Online lag-1 + trailing-exclusive 3-mean per key — the streaming twin
    * of TrailingFeatures (batch window A3/A4): at each row, features are
    * computed from the state BEFORE appending the row (frame [t-3, t-1]).
    * Rows within a micro-batch are folded in (t, id) order — the same
    * deterministic tie-break as the batch window, so on an in-order feed
    * the two are row-identical (oracle-checked by
    * q_stream_stateful_trailing).
    *
    * The rolling mean is summed oldest→newest to match the batch
    * accumulation order bit-for-bit.
    */
  def trailingOnline(ds: Dataset[Ev]): Dataset[EvOut] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.k)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (key: String, rows: Iterator[Ev], state: GroupState[TrailState]) => {
          var recent = state.getOption.map(_.recent).getOrElse(Nil) // newest first
          val out = rows.toSeq.sortBy(e => (e.t, e.id)).map { e =>
            val lag1 = recent.headOption
            val w = recent.take(3).reverse // oldest-first accumulation
            val roll3 = if (w.isEmpty) None else Some(w.sum / w.size)
            recent = (e.v :: recent).take(24)
            EvOut(key, e.t, e.v, e.id, lag1, roll3)
          }
          state.update(TrailState(recent))
          out.iterator
        })
  }

  /** q_stream_stateful_trailing: run [[trailingOnline]] over the events
    * table as a real stream (AvailableNow → memory sink) and return the
    * per-event features; on this in-order historical feed the result is
    * row-identical to the batch window functions (the oracle).
    */
  def statefulTrailingAvailableNow(spark: SparkSession, dir: String,
      queryName: String = "stream_stateful"): DataFrame = {
    import spark.implicits._
    val ev = eventsStream(spark, dir)
      .select(col("user_id").cast("string").as("k"),
        unix_micros(col("ts")).as("t"), col("value").as("v"),
        col("event_id").as("id"))
      .as[Ev]
    runToMemory(trailingOnline(ev), queryName, OutputMode.Append())
  }

  // -- Streaming near-duplicate dedup at ingest (MinHash-LSH band state) ---

  /** A row that [[firstClaimFlags]] folds: `ts` is its event time. */
  sealed trait EventTimed { def ts: java.sql.Timestamp }

  /** One LSH band bucket touched by one document. `ts` is the document's
    * event time (ingest time in production; a constant for historical
    * corpora with no time column) — it drives the watermark that bounds
    * bucket state in [[nearDupFlags]].
    */
  case class BandRow(doc_id: Long, band: Int, band_hash: Long, n_bands: Int,
    ts: java.sql.Timestamp) extends EventTimed
  /** Per-key state of [[firstClaimFlags]] (an LSH bucket, a span
    * hash): event-time of the key's most recent claimant.
    * A key whose `lastTouchMs + horizon` has fallen behind the
    * watermark is EXPIRED — logically absent even if the physical
    * timeout has not fired yet (timeouts only fire for groups with no
    * data in the batch, so a re-touched stale key must be expired
    * in-function).
    */
  case class BucketState(lastTouchMs: Long)
  /** Per-(doc, bucket) claim verdict: `fresh` iff this doc is the
    * bucket's FIRST claimant ever (no prior batch, lowest doc id within
    * this batch).
    */
  case class BandFlag(doc_id: Long, fresh: Boolean, n_bands: Int)

  /** Event time of the dedup-at-ingest rows: `tsCol` when given (ingest
    * time in a live deployment). `None` — for historical corpora with
    * no time column — stamps every row with one constant timestamp, so
    * the watermark never advances and no state is ever evicted (the
    * pre-eviction behavior, appropriate for a bounded backfill).
    */
  private def eventTime(tsCol: Option[String]): Column =
    tsCol.map(col).getOrElse(to_timestamp(lit("2020-01-01 00:00:00")))

  /** (doc, band, band_hash) rows for streaming (or batch) near-dup
    * dedup: MinHash signatures → LSH band buckets — all stateless
    * per-row expressions, so the SAME plan fragment runs under a
    * streaming source unchanged. A document too short to produce any
    * shingle gets a PRIVATE always-fresh bucket (band −1, keyed by its
    * own id) so it is always kept — the same contract as batch fuzzy
    * dedup, where a shingle-less doc pairs with nothing and survives.
    * The short-doc branch is a `when` over ONE band array (band hashes
    * computed exactly like `Dedup.lshBuckets`), not a union of two
    * filters — a union would evaluate the signature pipeline once per
    * branch, and checkpointing it away is a batch-only tool.
    *
    * `tsCol`: the event-time column carried into [[BandRow.ts]] (ingest
    * time in a live deployment); see [[eventTime]] for `None`.
    */
  def lshBandRows(docs: DataFrame, textCol: String, idCol: String,
      n: Int = 3, k: Int = 12, rowsPerBand: Int = 2,
      tsCol: Option[String] = None): Dataset[BandRow] = {
    import docs.sparkSession.implicits._
    require(k % rowsPerBand == 0, "k must be divisible by rowsPerBand")
    val sig = graft.operators.Dedup.withMinhash(
      docs.select(Seq(col(idCol), col(textCol)) ++
        tsCol.map(c => col(c)): _*), textCol, idCol, n, k)
    val nBands = k / rowsPerBand
    val bandStructs = (0 until nBands).map { b =>
      val parts = (0 until rowsPerBand).map(r => col(s"mh_${b * rowsPerBand + r}"))
      struct(lit(b).as("band"),
        graft.functions.Hashing.h60(concat_ws("_", parts: _*)).as("band_hash"))
    }
    sig
      .select(col(idCol).as("doc_id"), eventTime(tsCol).as("ts"),
        explode(when(col("mh_0").isNull, // null iff the shingle set is empty
          array(struct(lit(-1).as("band"),
            col(idCol).cast("long").as("band_hash"))))
          .otherwise(array(bandStructs: _*))).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.band_hash"), col("ts"))
      .withColumn("n_bands", when(col("band") === -1, 1).otherwise(nBands))
      .as[BandRow]
  }

  /** The stateful core of streaming near-dup dedup: one small state
    * record per LSH band bucket ("when was this bucket last claimed").
    * Rows within a bucket group fold in doc-id order, so the
    * batch-internal winner is deterministic (lowest id — the batch
    * operators' tie rule).
    *
    * The decision this enables is GREEDY FIRST-WINS: a doc is kept iff
    * every one of its band buckets is fresh, i.e. iff no earlier doc
    * (kept or dropped, this batch or any before) touched any of them.
    * That is the one-pass streaming counterpart of batch
    * LSH → connected components → lowest-id survivor; the two agree on
    * the common cases (a fresh doc, an exact/near copy of one kept doc)
    * and diverge only on chain topologies a single pass cannot see
    * (batch CC merges A–B, B–C into one cluster even when A∩C = ∅). The
    * streaming-side guarantee is still exactly what dedup-at-ingest
    * needs: NO TWO KEPT DOCS ARE LSH CANDIDATES of each other within
    * the state horizon.
    *
    * State is one `lastTouchMs` long per distinct bucket — 8-byte key +
    * timestamp, the smallest state the eviction contract permits — and
    * it is BOUNDED: the watermark on [[BandRow.ts]] drives
    * `EventTimeTimeout`, so a bucket untouched for `horizonMs` of event
    * time is physically dropped from the state store. State size tracks
    * the dedup horizon (buckets touched in the last `horizonMs`), never
    * the corpus — the same property [[dedupStream]] gets from
    * `dropDuplicatesWithinWatermark`. Because a timeout only fires for
    * groups with NO data in a batch, a stale bucket that IS re-touched
    * is expired in-function instead: state older than the horizon
    * relative to `getCurrentWatermarkMs` counts as absent, so both
    * eviction paths agree.
    *
    * Horizon semantics: a near-dup arriving MORE than
    * `horizonMs + latenessMs` of event time after its bucket's last
    * claimant is KEPT (the bucket was forgotten); one arriving within
    * `horizonMs` is dropped; in between, retention depends on how far
    * the watermark lags max event time — dedup-at-ingest trades
    * completeness-beyond-the-horizon for bounded state, exactly like
    * the exact-dedup sibling. `latenessMs` is the ALLOWED-LATENESS
    * bound (watermark delay): rows more than `latenessMs` of event
    * time behind the stream's max are dropped by the watermark before
    * they reach the state function. It is deliberately DECOUPLED from
    * the horizon — with `delay = horizonMs` (one knob for both) the
    * watermark lags by a full horizon and buckets survive up to
    * 2×`horizonMs`, silently dropping near-dups the contract says to
    * keep. With the constant-`ts` stamping of [[lshBandRows]]
    * (`tsCol = None`) the watermark never advances and nothing is ever
    * evicted — bounded backfills get full-corpus greedy semantics.
    */
  def nearDupFlags(bands: Dataset[BandRow],
      horizonMs: Long = 30L * 24 * 3600 * 1000,
      latenessMs: Long = 3600L * 1000): Dataset[BandFlag] = {
    import bands.sparkSession.implicits._
    firstClaimFlags(bands, horizonMs, latenessMs)(
      b => (b.band, b.band_hash), Ordering.by[BandRow, Long](_.doc_id))(
      (r, first) => BandFlag(r.doc_id, fresh = first, r.n_bands))
  }

  /** The state function of [[nearDupFlags]] and [[duplicateSpanFlags]]
    * (state and eviction contract: [[nearDupFlags]]). `verdict(row,
    * first)` is the output row; `first` holds for the first row in
    * `order` of a key no earlier batch claimed within the horizon.
    */
  private def firstClaimFlags[R <: EventTimed, K: Encoder, F: Encoder](
      rows: Dataset[R], horizonMs: Long, latenessMs: Long)(
      key: R => K, order: Ordering[R])(verdict: (R, Boolean) => F): Dataset[F] = {
    import rows.sparkSession.implicits._
    rows
      .withWatermark("ts", s"$latenessMs milliseconds")
      .groupByKey(key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        (_: K, group: Iterator[R], state: GroupState[BucketState]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val wm = state.getCurrentWatermarkMs()
            val seen = state.getOption.exists(_.lastTouchMs + horizonMs >= wm)
            val rs = group.toVector.sorted(order)
            val maxTs = rs.iterator.map(_.ts.getTime).max
            val touch = if (seen) math.max(state.get.lastTouchMs, maxTs) else maxTs
            state.update(BucketState(touch))
            // input rows are never below the watermark, so touch+horizon
            // is a valid (future) timeout timestamp
            state.setTimeoutTimestamp(touch + horizonMs)
            rs.iterator.zipWithIndex.map { case (r, i) => verdict(r, !seen && i == 0) }
          }
        })
  }

  /** Per-batch kept-doc aggregation shared by the harness and sink
    * variants: a doc survives iff ALL its band flags are fresh. Every
    * band row of a doc rides the same input row, so the aggregation is
    * BATCH-LOCAL — cross-batch memory lives only in [[nearDupFlags]]'s
    * bucket state.
    */
  private[graft] def keptIds(batch: Dataset[BandFlag]): DataFrame =
    batch.groupBy(col("doc_id"), col("n_bands"))
      .agg(sum(when(col("fresh"), 1L).otherwise(0L)).as("n_fresh"))
      .filter(col("n_fresh") === col("n_bands"))
      .select(col("doc_id"))

  /** q_stream_neardup: near-duplicate dedup AT INGEST over the documents
    * table as a real stream — kept doc ids, one row per survivor.
    *
    * ORACLE-EQUIVALENCE ASSUMPTION: the greedy first-wins closed form in
    * the SQL oracle ranks claimants by doc id GLOBALLY, which matches
    * this query only when the AvailableNow file source delivers all docs
    * in ONE micro-batch (the fixture directory holds a single
    * `documents.parquet`, and no maxFilesPerTrigger is set, so it does).
    * With multiple batches, batch arrival order outranks id order and
    * the kept set is the (still candidate-pair-free) multi-batch greedy
    * set instead — the StreamingSpec fixture covers that path.
    *
    * The foreachBatch body collects kept ids for the harness (bounded:
    * survivors of one micro-batch); [[nearDupDedupToSink]] is the
    * production shape. The temp checkpoint is deleted on completion —
    * AvailableNow over a fixed directory is a one-shot run, not a
    * resumable ingest.
    */
  def nearDupDedupAvailableNow(spark: SparkSession, dir: String,
      n: Int = 3, k: Int = 12, rowsPerBand: Int = 2): DataFrame = {
    import spark.implicits._
    val kept = scala.collection.mutable.ArrayBuffer[Long]()
    val flags = nearDupFlags(
      lshBandRows(documentsStream(spark, dir), "text", "doc_id", n, k, rowsPerBand))
    runAvailableNow(flags, "q_stream_neardup_run", OutputMode.Append(),
      Some { (batch: Dataset[BandFlag]) =>
        val ids = keptIds(batch).as[Long].collect()
        kept.synchronized { val _ = kept ++= ids }
      })
    kept.toSeq.toDF("doc_id")
  }

  /** Production near-dup-dedup-at-ingest: kept doc ids land in
    * `destDir/batch_id=<id>` parquet, one idempotent overwrite per
    * micro-batch (the [[ingestAvailableNow]] exactly-once sink pattern),
    * against a CALLER-OWNED durable checkpoint so the ingest resumes
    * where it left off. `tsCol` should be the ingest-time column so
    * [[nearDupFlags]]'s horizon actually evicts; downstream joins the
    * kept-id table back to the raw corpus (or inlines the doc payload —
    * swap `keptIds` for a kept-rows projection).
    */
  def nearDupDedupToSink(docs: DataFrame, destDir: String,
      checkpointDir: String, textCol: String = "text",
      idCol: String = "doc_id", tsCol: Option[String] = None,
      n: Int = 3, k: Int = 12, rowsPerBand: Int = 2,
      horizonMs: Long = 30L * 24 * 3600 * 1000,
      latenessMs: Long = 3600L * 1000): Unit = {
    val flags = nearDupFlags(
      lshBandRows(docs, textCol, idCol, n, k, rowsPerBand, tsCol),
      horizonMs, latenessMs)
    val q = flags.writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[BandFlag], batchId: Long) =>
        keptIds(batch).write.mode("overwrite")
          .parquet(s"$destDir/batch_id=$batchId"): Unit
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  // -- streaming VARIABLE-LENGTH exact-substring span dedup ---------------

  /** One minLen-token span occurrence: `pos` is the 0-based start token
    * position inside doc `doc_id`, `h` the span's 60-bit content hash
    * (same hash chain as the batch form — token h60s, then the rolling
    * shingle hash), `ts` the doc's event time (constant for backfills,
    * see [[spanHashRows]]).
    */
  case class SpanRow(doc_id: Long, pos: Int, h: Long, ts: java.sql.Timestamp)
    extends EventTimed

  /** Verdict per span occurrence: `dup` = this occurrence repeats
    * content already seen (earlier batch within the horizon, or an
    * earlier (doc_id, pos) in this batch).
    */
  case class SpanFlag(doc_id: Long, pos: Int, dup: Boolean)

  /** Exploded span-hash rows of a document stream — the streaming twin
    * of the batch form's shingle step ([[graft.operators.TextOps]]
    * spanCoveredPositions): tokenize, hash tokens, roll minLen-grams.
    * Stateless, so it runs unchanged on a streaming DataFrame. `tsCol`
    * as in [[lshBandRows]] ([[eventTime]]).
    */
  def spanHashRows(docs: DataFrame, textCol: String, idCol: String,
      minLen: Int, tsCol: Option[String] = None): Dataset[SpanRow] = {
    import docs.sparkSession.implicits._
    require(minLen > 0, "minLen must be positive")
    docs
      .withColumn("__hts", transform(
        graft.operators.TextOps.tokens(col(textCol)),
        t => graft.functions.Hashing.h60(t)))
      .select(col(idCol).as("doc_id"),
        posexplode(graft.operators.TextOps
          .shingleHashesFromTokenHashes(col("__hts"), minLen))
          .as(Seq("pos", "h")),
        eventTime(tsCol).as("ts"))
      .as[SpanRow]
  }

  /** The stateful core of streaming ExactSubstr span dedup (stretch,
    * VERDICT r18 #7): GREEDY FIRST-WINS per span hash — an occurrence
    * is `dup` iff its content hash was already claimed, by an earlier
    * batch within the event-time horizon or by an earlier (doc_id, pos)
    * occurrence inside this batch. This is the one-pass streaming
    * counterpart of the batch rule `row_number() over (partition by h
    * order by doc_id, pos) > 1` (minOcc = 2), and the two AGREE EXACTLY
    * whenever batches deliver documents in doc-id order (single-batch
    * AvailableNow trivially qualifies): within a batch the fold order
    * is (doc_id, pos) — the batch tie-break — and across batches
    * arrival order coincides with id order. Under out-of-id-order
    * arrival the kept-first occurrence is the ARRIVAL-first one — the
    * dedup-at-ingest contract, same divergence mode as
    * [[nearDupFlags]].
    *
    * State: one [[BucketState]] per distinct span hash touched within
    * the horizon, evicted exactly like [[nearDupFlags]]' buckets. Span
    * hashes are a heavier key population than LSH buckets (one per
    * token position, not per doc-band), so at ingest scale the horizon
    * is the knob that keeps the store sized to the dedup window —
    * forever-exact span dedup belongs in the batch layer, same split
    * as [[dedupStream]] vs `Dedup.exact`.
    */
  def duplicateSpanFlags(spans: Dataset[SpanRow],
      horizonMs: Long = 30L * 24 * 3600 * 1000,
      latenessMs: Long = 3600L * 1000): Dataset[SpanFlag] = {
    import spans.sparkSession.implicits._
    firstClaimFlags(spans, horizonMs, latenessMs)(
      _.h, Ordering.by[SpanRow, (Long, Int)](r => (r.doc_id, r.pos)))(
      (r, first) => SpanFlag(r.doc_id, r.pos, dup = !first))
  }

  /** Batch-local island merge shared by the harness and sink variants:
    * dup span flags → covered token positions → MAXIMAL runs as
    * (doc_id, span_start, span_len). Batch-local is sound because a
    * document arrives whole in one micro-batch (file sources never
    * split a row), so all of its covered positions ride the same batch.
    * Same duplicate-tolerant dense_rank islands as the batch form
    * ([[graft.operators.TextOps.duplicateSpanRanges]]) — overlapping
    * dup windows emit repeated positions; no distinct-shuffle needed.
    */
  private[graft] def spanIslands(batch: Dataset[SpanFlag], minLen: Int): DataFrame = {
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("__ti"))
    batch.filter(col("dup"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(minLen - 1))).as("__ti"))
      .withColumn("__run", col("__ti") - dense_rank().over(wDoc))
      .groupBy(col("doc_id"), col("__run"))
      .agg(min(col("__ti")).cast("long").as("span_start"),
        count_distinct(col("__ti")).as("span_len"))
      .select(col("doc_id"), col("span_start"), col("span_len"))
  }

  /** q_stream_dedup_spans_variable: variable-length duplicated-span
    * REPORT over the documents table as a stream — one row per maximal
    * duplicated token run ≥ `minLen`, (doc_id, span_start, span_len),
    * the streaming twin of
    * [[graft.operators.TextOps.duplicateSpanRanges]].
    *
    * ORACLE-EQUIVALENCE ASSUMPTION (same as q_stream_neardup): the
    * batch oracle ranks occurrences by (doc_id, pos) GLOBALLY, which
    * the greedy pass matches when the AvailableNow file source
    * delivers all docs in ONE micro-batch (single fixture file, no
    * maxFilesPerTrigger — it does) — and more generally whenever
    * batch arrival order follows doc-id order (the multi-batch parity
    * path StreamingSpec covers).
    */
  def duplicateSpansAvailableNow(spark: SparkSession, dir: String,
      minLen: Int = 8): DataFrame = {
    val spans = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    val flags = duplicateSpanFlags(
      spanHashRows(documentsStream(spark, dir), "text", "doc_id", minLen))
    runAvailableNow(flags, "q_stream_dedup_spans_variable_run",
      OutputMode.Append(), Some { (batch: Dataset[SpanFlag]) =>
        val rows = spanIslands(batch, minLen).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        spans.synchronized { val _ = spans ++= rows }
      })
    import spark.implicits._
    spans.toSeq.toDF("doc_id", "span_start", "span_len")
  }

  /** T3 late-data ADMISSION certification (q_stream_late — VERDICT r12,
    * Next round #7): watermark late-drop semantics as a hash-checked
    * oracle row, not just a spec. A three-micro-batch file stream is
    * built from the events table:
    *
    *  - batch 0 — the RECENT slice (ts within `recentDays` of max; this
    *    batch carries the global max event time);
    *  - batch 1 — re-delivered copies of the `nRedelivered` newest
    *    recent rows (all dropped as duplicates: their batch-0 state is
    *    alive, their event time is above every watermark in play);
    *  - batch 2 — every older row (the stragglers).
    *
    * [[pinnedBatchStream]] (one file per micro-batch, ascending mtimes)
    * pins the batch boundaries. The three-batch shape matters because Spark
    * filters late events with the watermark LAGGED ONE BATCH behind the
    * eviction watermark (SPARK-40925 watermark propagation: batch N's
    * late filter uses the value persisted for batch N−1, i.e. computed
    * from data through batch N−2 — measured here: a 2-batch fixture
    * drops NOTHING because the stragglers' batch still late-filters at
    * wm=0). With the max in batch 0, batch 2's late filter stands
    * deterministically at floor-to-ms(max ts) − `lateness` (Spark
    * tracks event time in milliseconds), and the stragglers divide
    * exactly: ADMITTED iff ts ≥ watermark. The certified operator is
    * the watermarked streaming DEDUP (`dropDuplicates` with the event
    * time column in the key set — the form whose late-data contract is
    * defined), deliberately not a windowed aggregate: Append-mode dedup
    * emits admitted rows in their arrival batch, so the oracle only has
    * to restate the admission rule — no window-finalization timing to
    * replay. Defaults (2-day recent slice, 72 h lateness) make every
    * outcome non-vacuous on the 30-day events fixture: one day's worth
    * of stragglers is admitted late, everything older is dropped, and
    * the re-deliveries exercise the dedup path.
    *
    * Returns (event_id, event_type, ts_us, value) for the admitted set.
    */
  def lateAdmissionAvailableNow(spark: SparkSession, dir: String,
      recentDays: Int = 2, lateness: String = "72 hours",
      nRedelivered: Int = 10,
      queryName: String = "stream_late"): DataFrame = {
    val ev = graft.sources.Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("ts"), col("value"))
      .filter(col("ts").isNotNull)
    val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
    // ms precision on purpose: the stream's watermark arithmetic is ms
    val cutoff =
      new java.sql.Timestamp(maxTs.getTime - recentDays * 86400000L)
    val recent = ev.filter(col("ts") >= lit(cutoff))
    val redelivered = recent.orderBy(col("event_id").desc).limit(nRedelivered)
    val stragglers = ev.filter(col("ts") < lit(cutoff))
    val root = java.nio.file.Files.createTempDirectory("graft_stream_late")
    try {
      // dropDuplicates WITH the event-time column in the key set: that is
      // the form whose late-data contract is defined (rows below the
      // watermark are dropped before touching state). The horizon-bounded
      // [[dedupStream]] (dropDuplicatesWithinWatermark) deliberately does
      // NOT drop late rows — its state may already have expired, so it
      // admits them as new — which is exactly the wrong operator to
      // certify admission semantics on. Re-deliveries carry the original
      // (event_id, ts), so dedup still drops them.
      val admitted = pinnedBatchStream(spark, root.resolve("src"),
          Seq(recent, redelivered, stragglers))
        .withWatermark("ts", lateness)
        .dropDuplicates("event_id", "ts")
      runToMemory(admitted, queryName, OutputMode.Append())
        .select(col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
        // the memory table dies with the session but the files don't —
        // materialize before the finally-block deletes the source dir
        .graftCheckpoint()
    } finally deleteRecursively(root)
  }

  /** Stream-stream event-time interval join with BOTH sides watermarked
    * (q_stream_stream_join — VERDICT r13, Next round #6: the one
    * Structured Streaming surface the inventory lacked; everything else
    * stops at stream-static enrichment).
    *
    * Fixture: the left stream is the events table; the right stream is
    * a derived ack stream — one ack per event, `ack_ts = ts +
    * (event_id % ackModSeconds) seconds` — so ground truth is
    * restatable in batch SQL with no randomness. The join is the
    * canonical interval form: equal ids, ack within [ts, ts +
    * matchWindow), with `ackModSeconds ≤ matchWindow` so every
    * co-admitted pair matches.
    *
    * Three pinned micro-batches per side (two [[pinnedBatchStream]]
    * sources advance in lockstep):
    *
    *  - batch 0 — left: the recent slice (carries the global max event
    *    time); right: recent acks EXCEPT the held-back subset
    *    (`event_id % holdbackMod == 0`);
    *  - batch 1 — left: an empty file (pure batch-boundary spacer);
    *    right: the held-back acks — these must pair against LEFT STATE
    *    from batch 0, certifying the cross-batch buffered-state path
    *    (the thing a within-batch join never exercises);
    *  - batch 2 — left: the stragglers; right: their acks. The late
    *    filter here stands at the batch-0 watermark (SPARK-40925
    *    one-batch lag, as in [[lateAdmissionAvailableNow]]):
    *    `min(floor_ms(max left ts in b0), floor_ms(max right ack in
    *    b0)) − lateness` — the min because the default multi-watermark
    *    policy takes the lagging side. A straggler pair survives iff
    *    its LEFT time is admitted (`ts ≥ wm` ⇒ `ack_ts ≥ wm` since the
    *    delta is non-negative; an ack whose event was dropped finds no
    *    partner — inner-join semantics).
    *
    * Recent left state is never evicted mid-run: eviction needs
    * `ts + matchWindow < wm`, and the recent slice sits `recentDays`
    * (< lateness) above the watermark by construction — so the batch-1
    * holdback pairs are deterministic, not a race against cleanup.
    *
    * Returns (event_id, event_type, ts_us, ack_us, value) for the
    * admitted pairs. State scale: per-side state is bounded by
    * lateness × arrival rate and evicted by watermark — the standard
    * production contract; nothing here is fixture-only except the
    * batch pinning.
    */
  def streamStreamJoinAvailableNow(spark: SparkSession, dir: String,
      recentDays: Int = 2, lateness: String = "72 hours",
      ackModSeconds: Int = 600, matchWindowSeconds: Int = 600,
      holdbackMod: Int = 20,
      queryName: String = "stream_stream_join"): DataFrame = {
    require(ackModSeconds <= matchWindowSeconds,
      "every ack must fall inside the join window")
    val ev = graft.sources.Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("ts"), col("value"))
      .filter(col("ts").isNotNull)
    val withAck = ev.withColumn("ack_ts",
      timestamp_add("SECOND", col("event_id") % ackModSeconds, col("ts")))
    val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
    val cutoff =
      new java.sql.Timestamp(maxTs.getTime - recentDays * 86400000L)
    val leftCols = Seq(col("event_id"), col("event_type"), col("ts"),
      col("value"))
    val rightCols = Seq(col("event_id").as("ack_id"), col("ack_ts"))
    val recent = withAck.filter(col("ts") >= lit(cutoff))
    val stragglers = withAck.filter(col("ts") < lit(cutoff))
    val root = java.nio.file.Files.createTempDirectory("graft_stream_ssj")
    try {
      val holdback = col("ack_id") % holdbackMod === 0
      val recentL = recent.select(leftCols: _*)
      val recentR = recent.select(rightCols: _*)
      val left = pinnedBatchStream(spark, root.resolve("left"),
          Seq(recentL, recentL.limit(0), stragglers.select(leftCols: _*)))
        .withWatermark("ts", lateness)
      val right = pinnedBatchStream(spark, root.resolve("right"),
          Seq(recentR.filter(!holdback), recentR.filter(holdback),
            stragglers.select(rightCols: _*)))
        .withWatermark("ack_ts", lateness)
      val joined = left.join(right,
        col("event_id") === col("ack_id") &&
          col("ack_ts") >= col("ts") &&
          col("ack_ts") < col("ts") +
            expr(s"INTERVAL $matchWindowSeconds SECONDS"))
      runToMemory(joined, queryName, OutputMode.Append())
        .select(col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"),
          unix_micros(col("ack_ts")).as("ack_us"), col("value"))
        // materialize before the finally-block deletes the source dirs
        .graftCheckpoint()
    } finally deleteRecursively(root)
  }

  /** A file stream that delivers `batches` in order, one per
    * micro-batch: batch i is written as the ONE parquet file
    * `dest/b<i>.parquet` with ascending modification time, and a file
    * source under `maxFilesPerTrigger=1` takes one file per micro-batch
    * in mtime order — pinning the fixture's batch boundaries.
    */
  private def pinnedBatchStream(spark: SparkSession, dest: java.nio.file.Path,
      batches: Seq[DataFrame]): DataFrame = {
    java.nio.file.Files.createDirectories(dest)
    val t0 = System.currentTimeMillis() - 300000L
    batches.zipWithIndex.foreach { case (df, i) =>
      val tmp = dest.resolveSibling(s"tmp_${dest.getFileName}_b$i")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles()
        .find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no parquet part written for batch $i"))
      val out = dest.resolve(s"b$i.parquet")
      java.nio.file.Files.move(part.toPath, out)
      out.toFile.setLastModified(t0 + 60000L * i): Unit
    }
    spark.readStream.schema(batches.head.schema)
      .option("maxFilesPerTrigger", 1).parquet(dest.toString)
  }

  /** Best-effort recursive delete for harness-scoped temp dirs. */
  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    try {
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => java.nio.file.Files.deleteIfExists(f): Unit)
    } catch { case scala.util.control.NonFatal(_) => () }
  }
}
