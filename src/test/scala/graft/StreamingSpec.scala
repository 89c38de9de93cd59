package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Streams
import graft.streaming.Streams.{Ev, EvOut}
import graft.windows.TrailingFeatures
import graft.TestSpark.withTempDir

/** §2.7 streaming semantics: batch-equivalence of the windowed aggregate,
  * exactly-once checkpointed ingestion, and online-vs-batch parity of the
  * stateful trailing features.
  */
class StreamingSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("T3 windowed: streaming hourly aggregate equals the batch plan") {
    val streamed = Streams.hourlyAggAvailableNow(spark, dir, "t3_hourly")
      .orderBy("hour", "event_type").collect()
    val batch = graft.sources.Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .orderBy("hour", "event_type").collect()
    assert(streamed.length == batch.length && streamed.length > 0)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getTimestamp(0) == b.getTimestamp(0))
      assert(s.getString(1) == b.getString(1))
      assert(s.getLong(2) == b.getLong(2))
      assert(math.abs(s.getDouble(3) - b.getDouble(3)) < 1e-6)
    }
  }

  test("streaming drift monitor equals the batch PSI computation") {
    val ev = graft.sources.Tables.events(spark, dir)
      .filter(col("value").isNotNull)
    val probs = (1 until 10).map(_.toDouble / 10)
    val edges = ev.agg(percentile(col("value"), typedlit(probs)).as("q"))
      .head().getSeq[Double](0)
    def binOf(c: org.apache.spark.sql.Column) =
      edges.map(e => when(c > lit(e), 1L).otherwise(0L)).reduce(_ + _)
    val counts = ev.groupBy(binOf(col("value")).as("b"))
      .agg(count(lit(1)).as("c")).collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    val total = counts.values.sum.toDouble
    val refProps = (0 until 10).map(i => counts.getOrElse(i, 0L) / total)
    val streamed = Streams.driftMonitorAvailableNow(spark, dir, edges, refProps,
        windowDur = "1 day", queryName = "drift_mon_test")
      .orderBy("window_start").collect()
    // batch replay: same bins, same day bucketing, same eps-floored terms
    val batch = ev
      .withColumn("day", date_trunc("day", col("ts")))
      .groupBy("day").agg(
        (0 until 10).map(i =>
          sum(when(binOf(col("value")) === i, 1L).otherwise(0L)).as(s"c$i")).head,
        (0 until 10).map(i =>
          sum(when(binOf(col("value")) === i, 1L).otherwise(0L)).as(s"c$i")).tail: _*)
      .orderBy("day").collect()
    assert(streamed.length == batch.length && streamed.length > 0)
    streamed.zip(batch).foreach { case (s0, b0) =>
      assert(s0.getTimestamp(0) == b0.getTimestamp(0))
      val cs = (0 until 10).map(i => b0.getLong(i + 1))
      val n = cs.sum
      assert(s0.getLong(1) == n)
      val psi = (0 until 10).map { i =>
        val p = cs(i).toDouble / n
        (p - refProps(i)) *
          math.log(math.max(p, 1e-6) / math.max(refProps(i), 1e-6))
      }.sum
      assert(math.abs(s0.getDouble(2) - psi) < 1e-9)
    }
    // the reference IS the full corpus, so day-level PSI is small but
    // nonzero — a constant-zero monitor would be broken
    assert(streamed.exists(_.getDouble(2) > 0.0))
  }

  test("streaming drift MATRIX: the value-feature rows equal the single-column monitor") {
    val ev = graft.sources.Tables.events(spark, dir)
    val probs = (1 until 10).map(_.toDouble / 10)
    def spec(name: String, c: org.apache.spark.sql.Column) = {
      val nn = ev.filter(c.isNotNull).select(c.cast("double").as("x"))
      val edges = nn.agg(percentile(col("x"), typedlit(probs)).as("q"))
        .head().getSeq[Double](0)
      val binOf = edges.map(e => when(col("x") > lit(e), 1L).otherwise(0L))
        .reduce(_ + _)
      val counts = nn.groupBy(binOf.as("b")).agg(count(lit(1)).as("c"))
        .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
      val total = counts.values.sum.toDouble
      (name, c, edges, (0 until 10).map(i => counts.getOrElse(i, 0L) / total))
    }
    val vSpec = spec("value", col("value"))
    val feats = Seq(vSpec, spec("user_id", col("user_id").cast("double")))
    val matrix = Streams.driftMatrixMonitorAvailableNow(spark, dir, feats,
        windowDur = "1 day", queryName = "drift_matrix_test")
      .collect()
    assert(matrix.map(_.getAs[String]("feature")).toSet ==
      Set("value", "user_id"))
    // value rows must equal the dedicated single-column monitor
    val single = Streams.driftMonitorAvailableNow(spark, dir,
        vSpec._3, vSpec._4, windowDur = "1 day",
        queryName = "drift_matrix_single_test")
      .collect().map(r => r.getTimestamp(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    val valueRows = matrix.filter(_.getAs[String]("feature") == "value")
    assert(valueRows.nonEmpty && valueRows.length == single.size)
    valueRows.foreach { r =>
      val (n, psi) = single(r.getTimestamp(0))
      assert(r.getAs[Long]("n") == n)
      assert(math.abs(r.getAs[Double]("psi") - psi) < 1e-12,
        s"matrix psi ${r.getAs[Double]("psi")} vs single $psi")
    }
  }

  test("streaming quality gate equals the batch per-day violation counts") {
    import graft.operators.Profiling
    val checks = Seq(
      ("value_not_null", Profiling.notNullViolations(col("value"))),
      ("value_in_range", Profiling.rangeViolations(col("value"), 0, 100)))
    val streamed = Streams.qualityMonitorAvailableNow(spark, dir, checks,
        windowDur = "1 day", queryName = "quality_mon_test")
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    val batch = graft.sources.Tables.events(spark, dir)
      .filter(col("ts").isNotNull)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
        coalesce(checks(0)._2.cast("long"), lit(0L)).as("v0"),
        coalesce(checks(1)._2.cast("long"), lit(0L)).as("v1"))
      .collect()
    assert(batch.nonEmpty && streamed.size == 2 * batch.length)
    batch.foreach { b =>
      val day = b.getTimestamp(0)
      assert(streamed((day, "value_not_null")) ==
        ((b.getLong(1), b.getLong(2), b.getLong(2) == 0L)))
      assert(streamed((day, "value_in_range")) ==
        ((b.getLong(1), b.getLong(3), b.getLong(3) == 0L)))
    }
    // the range check must actually catch something somewhere
    assert(streamed.exists { case ((_, c), (_, v, _)) =>
      c == "value_in_range" && v > 0 })
  }

  test("T2 foreachBatch ingestion is exactly-once across restarts") {
    withTempDir("graft-t2") { tmp =>
      val src = Files.createTempDirectory(tmp, "graft-src").toString
      val dest = Files.createTempDirectory(tmp, "graft-dest").toString + "/out"
      val ckpt = Files.createTempDirectory(tmp, "graft-ckpt").toString
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType)))

      (1L to 5L).toDF("id").coalesce(1).write.mode("append").parquet(src)
      Streams.ingestAvailableNow(spark, src, schema, dest, ckpt)
      assert(spark.read.parquet(dest).count() == 5)

      // restart with no new files: nothing re-ingested
      Streams.ingestAvailableNow(spark, src, schema, dest, ckpt)
      assert(spark.read.parquet(dest).count() == 5)

      // a new file arrives: only it is appended
      (6L to 8L).toDF("id").coalesce(1).write.mode("append").parquet(src)
      Streams.ingestAvailableNow(spark, src, schema, dest, ckpt)
      assert(spark.read.parquet(dest).count() == 8)
      assert(spark.read.parquet(dest).agg(sum("id")).head().getLong(0) == 36)

      // destDir-contract guards: a FRESH checkpoint over the already-
      // populated destDir would restart batch ids at 0 and silently replace
      // ingested data — refused up front.
      val freshCkpt = Files.createTempDirectory(tmp, "graft-ckpt2").toString
      intercept[IllegalArgumentException] {
        Streams.ingestAvailableNow(spark, src, schema, dest, freshCkpt)
      }
      // a destDir with flat (non-batch_id) files breaks partition discovery
      val flatDest = Files.createTempDirectory(tmp, "graft-dest2").toString
      (1L to 2L).toDF("id").coalesce(1).write.mode("append").parquet(flatDest)
      intercept[IllegalArgumentException] {
        Streams.ingestAvailableNow(spark, src, schema, flatDest, freshCkpt)
      }
    }
  }

  test("T3 stateful: online trailing features match the batch window across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val out = Streams.trailingOnline(input.toDS())
    val q = out.writeStream.format("memory").queryName("t3_trailing")
      .outputMode(OutputMode.Append()).start()

    // two micro-batches per key — state must carry across batches
    input.addData(Ev("a", 1, 10.0), Ev("a", 2, 20.0), Ev("b", 1, 5.0))
    q.processAllAvailable()
    input.addData(Ev("a", 3, 30.0), Ev("a", 4, 40.0), Ev("b", 2, 7.0))
    q.processAllAvailable()
    q.stop()

    val online = spark.table("t3_trailing").as[EvOut].collect()
      .map(e => (e.k, e.t) -> (e.lag1, e.roll3)).toMap

    val batch = Seq(("a", 1L, 10.0), ("a", 2L, 20.0), ("a", 3L, 30.0), ("a", 4L, 40.0),
        ("b", 1L, 5.0), ("b", 2L, 7.0)).toDF("k", "t", "v")
      .select(col("k"), col("t"),
        TrailingFeatures.groupedLag(col("v"), 1, Seq("k"), Seq("t")).as("lag1"),
        TrailingFeatures.trailingMean(col("v"), 3, Seq("k"), Seq("t")).as("roll3"))
      .collect()

    assert(online.size == 6)
    batch.foreach { r =>
      val key = (r.getString(0), r.getLong(1))
      val lag1 = if (r.isNullAt(2)) None else Some(r.getDouble(2))
      val roll3 = if (r.isNullAt(3)) None else Some(r.getDouble(3))
      assert(online(key)._1 == lag1, s"$key lag1")
      assert(online(key)._2.map(x => math.round(x * 1e9)) == roll3.map(x => math.round(x * 1e9)), s"$key roll3")
    }
  }

  test("streaming dedup drops re-deliveries within the watermark, state stays bounded") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val out = Streams.dedupStream(
      input.toDF().toDF("doc_id", "ts", "text"), "doc_id", "ts", "10 minutes")
    val q = out.writeStream.format("memory").queryName("t_dedup_stream")
      .outputMode(OutputMode.Append()).start()
    input.addData((1L, ts(0), "a"), (2L, ts(1), "b"), (1L, ts(2), "a-redelivered"))
    q.processAllAvailable()
    // batch 2: doc 2 re-delivered within the watermark → dropped; doc 3 new
    input.addData((2L, ts(3), "b-redelivered"), (3L, ts(4), "c"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("t_dedup_stream").collect()
      .map(r => r.getLong(0) -> r.getString(2))
    val got = rows.toMap
    assert(rows.length == 3 && got.keySet == Set(1L, 2L, 3L), rows.mkString(","))
    // cross-batch re-delivery is DETERMINISTICALLY dropped (state exists)
    assert(got(2L) == "b" && got(3L) == "c", got.toString)
    // within one batch the survivor among same-id rows is arbitrary
    assert(Set("a", "a-redelivered").contains(got(1L)), got.toString)
  }

  test("watermark drops late rows beyond the threshold in append mode") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Double)]
    val agg = input.toDF().toDF("ts", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("wm_test")
      .outputMode(OutputMode.Append()).start()

    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    input.addData((ts("2024-01-01 10:05:00"), 1.0), (ts("2024-01-01 10:55:00"), 2.0))
    q.processAllAvailable()
    // advance event time far past the 10:00 window + watermark -> closes it
    input.addData((ts("2024-01-01 12:30:00"), 3.0))
    q.processAllAvailable()
    // this row is >10 min late relative to the max event time: dropped
    input.addData((ts("2024-01-01 10:10:00"), 4.0))
    q.processAllAvailable()
    input.addData((ts("2024-01-01 14:00:00"), 5.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("wm_test")
      .select(col("w.start").cast("string"), col("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows("2024-01-01 10:00:00") == 2L) // late row 4.0 NOT counted
  }

  test("stream-stream interval join: cross-batch holdback pairs via buffered state, stragglers split at the watermark") {
    val out = Streams.streamStreamJoinAvailableNow(spark, dir,
      queryName = "ssj_spec_mem")
    val got = out.collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSeq
    val gotIds = got.map(_._1).toSet
    // restate the fixture's ground truth from the batch table
    val ev = graft.sources.Tables.events(spark, dir)
      .filter(col("ts").isNotNull)
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val maxUs = ev.map(_._2).max
    val cutoffUs = (maxUs / 1000 - 2L * 86400000L) * 1000
    def ackUs(id: Long, tsUs: Long) = tsUs + (id % 600) * 1000000L
    val recent = ev.filter(_._2 >= cutoffUs)
    // wm = min over sides of floor_ms(batch-0 max) − 72 h; right batch 0
    // excludes the holdback subset
    val wmL = maxUs / 1000
    val wmR = recent.filter(_._1 % 20 != 0)
      .map { case (id, t) => ackUs(id, t) / 1000 }.max
    val wmUs = (math.min(wmL, wmR) - 259200000L) * 1000
    // 1. every held-back ack paired — against LEFT STATE from batch 0
    val heldback = recent.filter(_._1 % 20 == 0).map(_._1).toSet
    assert(heldback.nonEmpty, "fixture must exercise the holdback path")
    assert(heldback.subsetOf(gotIds))
    // 2. stragglers divide exactly at the watermark
    val (lateAdmitted, dropped) = ev.filter(_._2 < cutoffUs)
      .partition(_._2 >= wmUs)
    assert(lateAdmitted.nonEmpty && dropped.nonEmpty,
      "fixture must be non-vacuous on both sides of the watermark")
    assert(lateAdmitted.map(_._1).toSet.subsetOf(gotIds))
    assert(dropped.map(_._1).toSet.intersect(gotIds).isEmpty)
    // 3. each pair's ack is the derived one (join matched, not fanned)
    assert(got.forall { case (id, tsUs, aUs) => aUs == ackUs(id, tsUs) })
    assert(got.size == recent.size + lateAdmitted.size)
  }

  test("streaming decontamination at ingest equals the batch decision, row for row") {
    import graft.operators.{Dedup, TextOps}
    import graft.functions.Hashing
    val docs = graft.sources.Tables.documents(spark, dir)
    val corpus = docs.filter(col("doc_id") % 20 =!= 0)
    val eval_ = docs.filter(col("doc_id") % 20 === 0)
    // batch truth: ids flagged by the exact operator
    val batchContaminated = Dedup.contaminatedDocs(corpus, eval_, "text", "doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(batchContaminated.nonEmpty, "fixture must contain contamination")

    val pred = Dedup.contaminationPredicate(eval_, "text")
    // gram array materialized behind a Generate pin, same as batch
    def withGrams(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("__hts", explode(array(
        transform(TextOps.tokens(col("text")), tk => Hashing.h60(tk)))))
      .withColumn("__ghs", explode(array(
        TextOps.shingleHashesFromTokenHashes(col("__hts"), 8))))
    val cleaned = withGrams(
        Streams.documentsStream(spark, dir).filter(col("doc_id") % 20 =!= 0))
      .filter(!pred(col("__ghs")))
      .select("doc_id")
    val q = cleaned.writeStream.format("memory").queryName("t_decon_stream")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamKept = spark.table("t_decon_stream").collect().map(_.getLong(0)).toSet
    val corpusIds = corpus.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamKept == corpusIds -- batchContaminated,
      "stream ingest must keep exactly the batch-clean documents")
    // and the predicate flags exactly the batch set on the batch side too
    val predFlagged = withGrams(corpus).filter(pred(col("__ghs")))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(predFlagged == batchContaminated)
  }

  test("streaming near-dup dedup: first wins across micro-batches, kept set is candidate-pair-free") {
    withTempDir("graft-neardup-spec") { ckpt =>
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(Long, String)]
      val docs = input.toDF().toDF("doc_id", "text")
      val flags = Streams.nearDupFlags(Streams.lshBandRows(docs, "text", "doc_id"))
      val kept = scala.collection.mutable.ArrayBuffer[Long]()
      val q = flags.writeStream.outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[Streams.BandFlag], _: Long) =>
            val ids = Streams.keptIds(b).as[Long].collect()
            kept.synchronized { val _ = kept ++= ids }
            ()
        }.start()
      val base = "alpha beta gamma delta epsilon zeta eta theta"
      input.addData((1L, base),
        (2L, "one two three four five six seven eight nine"))
      q.processAllAvailable()
      // batch 2: a near-copy of batch-1's doc 1 (one appended token — the
      // shared shingles put it in at least one of doc 1's band buckets), a
      // genuinely fresh doc, and a shingle-less doc
      input.addData((3L, base + " iota"),
        (4L, "totally different words with no overlap whatsoever here yes"),
        (5L, "hi"))
      q.processAllAvailable()
      q.stop()
      val ks = kept.toSet
      assert(ks.contains(1L) && ks.contains(2L), "batch-1 docs are first, must be kept")
      assert(ks.contains(4L), "fresh batch-2 doc must be kept")
      assert(ks.contains(5L), "shingle-less doc pairs with nothing, must be kept")
      assert(!ks.contains(3L), "near-copy of a batch-1 doc must be dropped by batch-1 state")
      // the at-ingest guarantee: the SURVIVING corpus has no LSH candidate
      // pair at all (batch operator as the checker)
      val allDocs = Seq((1L, base), (2L, "one two three four five six seven eight nine"),
        (3L, base + " iota"), (4L, "totally different words with no overlap whatsoever here yes"),
        (5L, "hi")).toDF("doc_id", "text")
      val survivors = allDocs.filter(col("doc_id").isin(ks.toSeq: _*))
      assert(graft.operators.Dedup.minhashLshPairs(survivors, "text", "doc_id").count() == 0,
        "no two kept docs may be LSH candidates of each other")
    }
  }

  test("streaming near-dup state is watermark-bounded: buckets past the horizon evict, a late near-dup is kept") {
    withTempDir("graft-neardup-evict-spec") { ckpt =>
      implicit val sqlCtx = spark.sqlContext
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      val input = MemoryStream[(Long, String, java.sql.Timestamp)]
      val docs = input.toDF().toDF("doc_id", "text", "ts")
      // 1-hour horizon: buckets untouched for >1h of event time are forgotten
      val flags = Streams.nearDupFlags(
        Streams.lshBandRows(docs, "text", "doc_id", tsCol = Some("ts")),
        horizonMs = 3600L * 1000)
      val kept = scala.collection.mutable.ArrayBuffer[Long]()
      val stateRows = scala.collection.mutable.ArrayBuffer[Long]()
      val q = flags.writeStream.outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[Streams.BandFlag], _: Long) =>
            val ids = Streams.keptIds(b).as[Long].collect()
            kept.synchronized { val _ = kept ++= ids }
            ()
        }.start()
      def record(): Unit = {
        q.processAllAvailable()
        Option(q.lastProgress).foreach { p =>
          if (p.stateOperators.nonEmpty)
            stateRows += p.stateOperators(0).numRowsTotal
        }
      }
      val base = "alpha beta gamma delta epsilon zeta eta theta"
      // batch 1: doc 1 claims its buckets at 10:00
      input.addData((1L, base, ts("2024-01-01 10:00:00")))
      record()
      // batch 2: doc 2 is a near-copy 5 min later — inside the horizon,
      // dropped; doc 3 (fresh text, 20:00) advances the watermark to 19:00
      input.addData((2L, base + " iota", ts("2024-01-01 10:05:00")),
        (3L, "one two three four five six seven eight nine", ts("2024-01-01 20:00:00")))
      record()
      // batch 3: doc 4 repeats doc 2's text at 19:30 — its buckets were
      // last touched 10:05, horizon 1h, watermark 19:00 → expired, so the
      // LATE NEAR-DUP IS KEPT (the documented horizon trade-off)
      input.addData((4L, base + " iota", ts("2024-01-01 19:30:00")))
      record()
      // batches 4+5: march the watermark a day forward; every bucket from
      // docs 1-4 times out PHYSICALLY (state rows shrink to the two live docs)
      input.addData((5L, "ten eleven twelve thirteen fourteen fifteen sixteen seventeen", ts("2024-01-02 10:00:00")))
      record()
      input.addData((6L, "red orange yellow green blue indigo violet ultraviolet", ts("2024-01-02 09:30:00")))
      record()
      q.stop()

      val ks = kept.toSet
      assert(ks.contains(1L), "first claimant kept")
      assert(!ks.contains(2L), "near-dup inside the horizon dropped")
      assert(ks.contains(3L), "fresh doc kept")
      assert(ks.contains(4L), "near-dup PAST the horizon kept — bucket evicted")
      assert(ks.contains(5L) && ks.contains(6L))
      // physical eviction: after the day-2 batches only doc 5 + doc 6
      // buckets remain (6 bands each); everything from day 1 timed out.
      // Five docs with shingles × 6 bands ≈ 30 distinct buckets ever
      // created, so a NoTimeout run would end ≳24 — bounded-state ends at 12.
      assert(stateRows.nonEmpty)
      assert(stateRows.last == 12,
        s"state must shrink to the two live docs' buckets, got ${stateRows.toList}")
      // and some reading DECREASED vs its predecessor — timeouts physically
      // removed rows mid-stream (observed progression e.g. 6, 6, 12, 6, 12)
      assert(stateRows.toList.sliding(2).exists { case List(a, b) => b < a; case _ => false },
        s"no physical state shrink observed: ${stateRows.toList}")
    }
  }

  test("near-dup retention contract: an arrival between 1x and 2x the horizon is KEPT (lateness decoupled from horizon)") {
    withTempDir("graft-neardup-lateness-spec") { ckpt =>
      // With watermark delay = horizonMs (one knob for both), the watermark
      // lags max event time by a full horizon and a bucket survives up to
      // 2x horizonMs — an arrival 1.5h after the claimant (1h horizon)
      // would be silently dropped. Decoupled lateness makes the documented
      // contract hold: retention is in [horizon, horizon + lateness].
      implicit val sqlCtx = spark.sqlContext
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      val input = MemoryStream[(Long, String, java.sql.Timestamp)]
      val docs = input.toDF().toDF("doc_id", "text", "ts")
      val flags = Streams.nearDupFlags(
        Streams.lshBandRows(docs, "text", "doc_id", tsCol = Some("ts")),
        horizonMs = 3600L * 1000, latenessMs = 30L * 60 * 1000)
      val kept = scala.collection.mutable.ArrayBuffer[Long]()
      val q = flags.writeStream.outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[Streams.BandFlag], _: Long) =>
            val ids = Streams.keptIds(b).as[Long].collect()
            kept.synchronized { val _ = kept ++= ids }
            ()
        }.start()
      val base = "alpha beta gamma delta epsilon zeta eta theta"
      // batch 1: doc 1 claims its buckets at 10:00 -> wm advances to 09:30
      input.addData((1L, base, ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      // batch 2: fresh doc at 11:40 -> wm advances to 11:10, past
      // 10:00 + 1h horizon, expiring doc 1's buckets
      input.addData((2L, "one two three four five six seven eight nine", ts("2024-01-01 11:40:00")))
      q.processAllAvailable()
      // batch 3: near-copy of doc 1 at 11:30 — 1.5h after the claimant,
      // BETWEEN 1x and 2x the horizon, and above the 11:10 watermark
      input.addData((3L, base + " iota", ts("2024-01-01 11:30:00")))
      q.processAllAvailable()
      q.stop()
      val ks = kept.toSet
      assert(ks.contains(1L) && ks.contains(2L))
      assert(ks.contains(3L),
        "a near-dup arriving between 1x and 2x the horizon must be kept — " +
          "its bucket expired at lastTouch + horizon, not lastTouch + 2x horizon")
    }
  }

  test("streaming variable-span dedup: multi-batch greedy == batch islands under id-ordered arrival") {
    withTempDir("graft-spans-parity-spec") { ckpt =>
      // Stream≡batch parity (VERDICT r18 #7): greedy first-wins per span
      // hash coincides with the batch rule rn>1 (minOcc=2) whenever batch
      // arrival order follows doc-id order — pinned here ACROSS batches,
      // not just single-batch.
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(Long, String)]
      val docs = input.toDF().toDF("doc_id", "text")
      val minLen = 4
      val flags = Streams.duplicateSpanFlags(
        Streams.spanHashRows(docs, "text", "doc_id", minLen))
      val got = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      val q = flags.writeStream.outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[Streams.SpanFlag], _: Long) =>
            val rows = Streams.spanIslands(b, minLen).collect()
              .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
            got.synchronized { val _ = got ++= rows }
            ()
        }.start()
      val passage = "p1 p2 p3 p4 p5 p6" // 6 tokens: one maximal run of 6
      val d1 = s"a b c $passage d"      // first occurrence — no span
      val d2 = s"x y $passage z w"      // dup at tokens 2-7 (one 6-run)
      // doc 3 (later batch): passage twice with a separator — two islands
      // of 6 (the bridging windows across 'q' are fresh first occurrences)
      val d3 = s"$passage q $passage"
      val d4 = "totally different words with no shared grams at all"
      input.addData((1L, d1), (2L, d2))
      q.processAllAvailable()
      input.addData((3L, d3), (4L, d4))
      q.processAllAvailable()
      q.stop()
      val batchSpans = graft.operators.TextOps.duplicateSpanRanges(
          Seq((1L, d1), (2L, d2), (3L, d3), (4L, d4)).toDF("doc_id", "text"),
          "doc_id", col("text"), minLen)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got.toSet == batchSpans,
        s"stream spans ${got.toSet} != batch spans $batchSpans")
      assert(got.toSet == Set((2L, 2L, 6L), (3L, 0L, 6L), (3L, 7L, 6L)),
        s"expected the three maximal 6-runs, got ${got.toSet}")
    }
  }

  test("streaming variable-span state is watermark-bounded: a span hash past the horizon evicts, the late duplicate is kept") {
    withTempDir("graft-spans-evict-spec") { ckpt =>
      implicit val sqlCtx = spark.sqlContext
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      val input = MemoryStream[(Long, String, java.sql.Timestamp)]
      val docs = input.toDF().toDF("doc_id", "text", "ts")
      val minLen = 4
      val flags = Streams.duplicateSpanFlags(
        Streams.spanHashRows(docs, "text", "doc_id", minLen, tsCol = Some("ts")),
        horizonMs = 3600L * 1000)
      val got = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      val stateRows = scala.collection.mutable.ArrayBuffer[Long]()
      val q = flags.writeStream.outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[Streams.SpanFlag], _: Long) =>
            val rows = Streams.spanIslands(b, minLen).collect()
              .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
            got.synchronized { val _ = got ++= rows }
            ()
        }.start()
      def record(): Unit = {
        q.processAllAvailable()
        Option(q.lastProgress).foreach { p =>
          if (p.stateOperators.nonEmpty)
            stateRows += p.stateOperators(0).numRowsTotal
        }
      }
      val passage = "p1 p2 p3 p4 p5 p6"
      // batch 1: doc 1 claims the passage's 3 span hashes at 10:00
      input.addData((1L, passage, ts("2024-01-01 10:00:00")))
      record()
      // batch 2: doc 2 repeats it 5 min later — inside the horizon, one
      // 6-run reported; doc 3 (fresh text, 20:00) advances the watermark
      input.addData((2L, passage, ts("2024-01-01 10:05:00")),
        (3L, "q1 q2 q3 q4 q5 q6", ts("2024-01-01 20:00:00")))
      record()
      // batch 3: doc 4 repeats the passage at 19:30 — hashes last touched
      // 10:05, horizon 1h, watermark 19:00 → expired: the LATE DUPLICATE
      // IS KEPT (no span reported), the documented horizon trade-off
      input.addData((4L, passage, ts("2024-01-01 19:30:00")))
      record()
      // batches 4+5: march the watermark a day on (timeouts fire against
      // the PREVIOUS batch's watermark, so two batches like the near-dup
      // eviction spec); every day-1 hash times out physically
      input.addData((5L, "r1 r2 r3 r4 r5 r6", ts("2024-01-02 10:00:00")))
      record()
      input.addData((6L, "s1 s2 s3 s4 s5 s6", ts("2024-01-02 09:30:00")))
      record()
      q.stop()
      assert(got.toSet == Set((2L, 0L, 6L)),
        s"only the inside-horizon repeat may report a span, got ${got.toSet}")
      // physical eviction: 9 day-1 hashes ever created (passage 3 + q 3 +
      // r/s live 6) shrink to the two live docs' 6
      assert(stateRows.nonEmpty && stateRows.last == 6,
        s"state must shrink to the live docs' span hashes, got ${stateRows.toList}")
      assert(stateRows.toList.sliding(2).exists { case List(a, b) => b < a; case _ => false },
        s"no physical state shrink observed: ${stateRows.toList}")
    }
  }

  test("nearDupDedupToSink: kept ids land per-batch in parquet, bucket state survives restart via the checkpoint") {
    withTempDir("graft-neardup-sink") { tmp =>
      val src = Files.createTempDirectory(tmp, "graft-neardup-src").toString
      val dest = Files.createTempDirectory(tmp, "graft-neardup-dest").toString + "/kept"
      val ckpt = Files.createTempDirectory(tmp, "graft-neardup-sink-ckpt").toString
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      def docsStream = spark.readStream.schema(schema).parquet(src)

      val base = "alpha beta gamma delta epsilon zeta eta theta"
      // run 1: two distinct docs -> both kept, in batch_id=0
      Seq((1L, base), (2L, "one two three four five six seven eight nine"))
        .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(src)
      Streams.nearDupDedupToSink(docsStream, dest, ckpt)
      assert(spark.read.parquet(dest).select("doc_id").as[Long].collect().toSet
        == Set(1L, 2L))

      // run 2 (a RESTART: new query, same checkpoint): a near-copy of run-1's
      // doc 1 and a fresh doc arrive. Doc 3 must be dropped by bucket state
      // RESTORED FROM THE CHECKPOINT — cross-run memory, not batch-local.
      Seq((3L, base + " iota"),
          (4L, "totally different words with no overlap whatsoever here yes"))
        .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(src)
      Streams.nearDupDedupToSink(docsStream, dest, ckpt)
      // batch ids are checkpoint-assigned and not contiguous (AvailableNow
      // may append an empty watermark-finalize batch), so assert on id sets
      // and relative batch order, not literal batch numbers
      val byDoc = spark.read.parquet(dest)
        .select(col("doc_id").cast("long"), col("batch_id").cast("int"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(byDoc.keySet == Set(1L, 2L, 4L),
        s"restored state must drop the near-copy across runs, got ${byDoc.keySet}")
      assert(byDoc(1L) == byDoc(2L) && byDoc(4L) > byDoc(1L),
        s"run-2 survivor must land in a later batch than run 1: $byDoc")

      // run 3: no new files -> no new kept rows (exactly-once)
      Streams.nearDupDedupToSink(docsStream, dest, ckpt)
      assert(spark.read.parquet(dest).count() == 3)
    }
  }

  test("streaming near-dup dedup runs on the RocksDB state store (the documented production backend)") {
    withTempDir("graft-neardup-rocksdb") { ckpt =>
      // The 100 TB deployment story for nearDupFlags names RocksDB-backed
      // state; prove the op actually runs on that provider, not just HDFS-
      // backed memory. Session conf is read at query START, so set/restore
      // around this query only.
      val confKey = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(confKey)
      spark.conf.set(confKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        implicit val sqlCtx = spark.sqlContext
        val input = MemoryStream[(Long, String)]
        val flags = Streams.nearDupFlags(
          Streams.lshBandRows(input.toDF().toDF("doc_id", "text"), "text", "doc_id"))
        val kept = scala.collection.mutable.ArrayBuffer[Long]()
        var rocksdbMetricSeen = false
        val q = flags.writeStream.outputMode(OutputMode.Append())
          .option("checkpointLocation", ckpt.toString)
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[Streams.BandFlag], _: Long) =>
              val ids = Streams.keptIds(b).as[Long].collect()
              kept.synchronized { val _ = kept ++= ids }
              ()
          }.start()
        val base = "alpha beta gamma delta epsilon zeta eta theta"
        input.addData((1L, base))
        q.processAllAvailable()
        input.addData((2L, base + " iota"),
          (3L, "one two three four five six seven eight nine"))
        q.processAllAvailable()
        Option(q.lastProgress).foreach { p =>
          if (p.stateOperators.nonEmpty) {
            import scala.jdk.CollectionConverters._
            rocksdbMetricSeen =
              p.stateOperators(0).customMetrics.keySet.asScala
                .exists(_.toLowerCase.contains("rocksdb"))
          }
        }
        q.stop()
        assert(rocksdbMetricSeen,
          "query progress must report RocksDB state-store metrics — otherwise the provider conf did not take")
        assert(kept.toSet == Set(1L, 3L),
          s"first-wins semantics must be provider-independent, got ${kept.toSet}")
      } finally prev match {
        case Some(v) => spark.conf.set(confKey, v)
        case None => spark.conf.unset(confKey)
      }
    }
  }

  test("one-shot harness streams run on the fixed state-partition count and restore the session's shuffle partitions") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    assert(before != Streams.HarnessStatePartitions.toString,
      "the session default must differ from the constant, or a leak would not show")
    // progress and termination events arrive on the listener bus after
    // awaitTermination returns; a run's events are complete once its
    // QueryTerminatedEvent is in
    val names = Set("sp_complete", "sp_append", "q_stream_neardup_run", "sp_failing")
    val runNames = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, String]()
    val stateShuffle = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    val terminated = new java.util.concurrent.ConcurrentHashMap[String, Boolean]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        if (names(e.name)) { val _ = runNames.put(e.runId, e.name) }
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        if (names(p.name) && p.stateOperators.nonEmpty) {
          val _ = stateShuffle.put(p.name, p.stateOperators(0).numShufflePartitions.toInt)
        }
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        Option(runNames.get(e.runId)).foreach { n => val _ = terminated.put(n, true) }
    }
    def awaitEvents(name: String): Unit = {
      val deadline = System.currentTimeMillis() + 60000L
      while (!terminated.containsKey(name) && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(terminated.containsKey(name), s"no termination event for $name")
    }
    spark.streams.addListener(listener)
    try {
      Streams.hourlyAggAvailableNow(spark, dir, "sp_complete").collect()
      assert(spark.conf.get(key) == before)
      Streams.statefulTrailingAvailableNow(spark, dir, "sp_append").collect()
      assert(spark.conf.get(key) == before)
      Streams.nearDupDedupAvailableNow(spark, dir).collect()
      assert(spark.conf.get(key) == before)
      for (n <- Seq("sp_complete", "sp_append", "q_stream_neardup_run")) {
        awaitEvents(n)
        assert(stateShuffle.get(n) == Streams.HarnessStatePartitions,
          s"$n ran on ${stateShuffle.get(n)} state partitions")
      }
      // a query that fails mid-run still restores the conf
      val failing = Seq(("boom", sum(raise_error(concat(lit("quality check failed: "),
        col("event_type"))).cast("long"))))
      intercept[Exception] {
        Streams.qualityMonitorAvailableNow(spark, dir, failing, queryName = "sp_failing")
      }
      awaitEvents("sp_failing")
      assert(spark.conf.get(key) == before)
    } finally spark.streams.removeListener(listener)
  }
}
