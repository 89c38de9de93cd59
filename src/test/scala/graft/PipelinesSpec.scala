package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ml.{Pipeline, PipelineModel, Transformer}
import org.apache.spark.ml.feature.{StandardScaler, VectorAssembler}
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.regression.LinearRegression
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.Models
import graft.pipelines.{DomainFixtures, GeoPipeline, ServingPipeline, TrainingPipeline}

/** E1/E2/E3 end-to-end pipeline compositions over the synthetic domain
  * fixtures (FIXTURES.md §B) — the reference's three entry points.
  */
class PipelinesSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  private val nHours = 24 * 30 // one synthetic month

  test("E1 feature table: fan-out join multiplies rows; features populated") {
    val traffic = DomainFixtures.traffic(spark, nHours)
    val weather = DomainFixtures.weather(spark, nHours)
    val feat = TrainingPipeline.featureTable(traffic, weather)
    val n = feat.count()
    assert(n > 0)
    // fan-out: each traffic row matches 10 weather points (2/borough × 5)
    val tRows = traffic.dropDuplicates()
      .filter(col("Vol").try_cast("double").isNotNull).count()
    assert(n > tRows * 5, s"fanout missing: feat=$n traffic=$tRows")
    // event stripe present (heavy-snow window in the fixture)
    assert(feat.filter(col("is_event") === 1).count() > 0)
    // no nulls in any feature column after dropna
    TrainingPipeline.featureCols.foreach { c =>
      assert(feat.filter(col(c).isNull).count() == 0, s"nulls in $c")
    }
  }

  test("E1 window keying parity: borough-only == borough+SegmentID on a single-segment fixture") {
    // With exactly one segment per borough, per-segment windows see the
    // same partitions as per-borough windows — features must be
    // bit-identical. (At scale the segmented keying is the point: window
    // parallelism = borough × segment cardinality instead of 5.)
    val traffic = DomainFixtures.traffic(spark, 24 * 7)
      .withColumn("SegmentID", lit(0L))
    val weather = DomainFixtures.weather(spark, 24 * 7)
    val cols = Seq("RequestID", "borough", "date", "Vol",
      "vol_lag_1", "vol_roll_3", "vol_roll_24")
    val a = TrainingPipeline.featureTable(traffic, weather)
      .select(cols.map(col): _*)
    val b = TrainingPipeline.featureTable(traffic, weather,
        windowKeyCols = Seq("borough", "SegmentID"))
      .select(cols.map(col): _*)
    assert(a.count() == b.count())
    assert(a.except(b).count() == 0 && b.except(a).count() == 0)
  }

  test("E1 chunked-window parity: daily chunks == plain borough window, bit-identical") {
    // The chunked evaluation (bounded-history replication) must produce
    // byte-identical features to the single-sort-per-borough window —
    // including across chunk boundaries, where the first 24 rows of each
    // chunk read replicated context.
    val traffic = DomainFixtures.traffic(spark, 24 * 7)
    val weather = DomainFixtures.weather(spark, 24 * 7)
    val cols = Seq("RequestID", "borough", "date", "Vol",
      "vol_lag_1", "vol_roll_3", "vol_roll_24")
    val a = TrainingPipeline.featureTable(traffic, weather)
      .select(cols.map(col): _*)
    val b = TrainingPipeline.featureTable(traffic, weather,
        chunkSpanHours = Some(24L))
      .select(cols.map(col): _*)
    assert(a.count() == b.count())
    assert(a.except(b).count() == 0 && b.except(a).count() == 0)
  }

  test("chunked trailing: empty calendar gaps don't strand context; thin interior chunk rejected") {
    import graft.windows.TrailingFeatures
    // 3 bursts with a silent day between burst 2 and 3: context from the
    // last populated chunk must reach the NEXT POPULATED chunk, not the
    // empty calendar successor.
    val rows = ((0 until 60).map(i => (1L, i.toLong)) ++           // day 0 (minutes 0-59)
      (0 until 60).map(i => (1L, 1440L + i)) ++                    // day 1
      (0 until 60).map(i => (1L, 4320L + i)))                      // day 3 (day 2 empty)
      .zipWithIndex.map { case ((g, m), i) => (g, m, (i % 7).toDouble) }
    val df = rows.toDF("g", "minute", "v")
      .withColumn("ts", expr("timestampadd(MINUTE, minute, timestamp'2024-01-01 00:00:00')"))
    val chunk = floor(unix_micros(col("ts")) / (24L * 3600L * 1000000L))
    val plain = TrailingFeatures.withTrailing(df, "v", Seq("g"), Seq("ts"),
      lags = Seq(1), rolls = Seq(3, 24))
    // a ride-along column the narrow tail/census projection drops is
    // null-padded on context rows only, never on the rows returned
    val chunked = TrailingFeatures.withTrailingChunked(
      df.withColumn("extra", col("minute") * 2), "v", Seq("g"), Seq("ts"),
      chunk, lags = Seq(1), rolls = Seq(3, 24))
    assert(chunked.filter(col("extra").isNull).count() == 0)
    val chunkedCore = chunked.drop("extra")
    assert(plain.except(chunkedCore).count() == 0 &&
      chunkedCore.except(plain).count() == 0)
    // a 10-row interior chunk can't carry 24 rows of history: validator throws
    val thin = ((0 until 60).map(i => (1L, i.toLong)) ++
      (0 until 10).map(i => (1L, 1440L + i)) ++
      (0 until 60).map(i => (1L, 2880L + i)))
      .zipWithIndex.map { case ((g, m), i) => (g, m, i.toDouble) }
      .toDF("g", "minute", "v")
      .withColumn("ts", expr("timestampadd(MINUTE, minute, timestamp'2024-01-01 00:00:00')"))
    val err = intercept[IllegalArgumentException] {
      TrailingFeatures.withTrailingChunked(thin, "v", Seq("g"), Seq("ts"),
        chunk, lags = Seq(1), rolls = Seq(3, 24))
    }
    assert(err.getMessage.contains("interior chunk"))
  }

  test("E1 run: segmented GBT trains and beats the trivial predictor") {
    val traffic = DomainFixtures.traffic(spark, nHours)
    val weather = DomainFixtures.weather(spark, nHours)
    val res = TrainingPipeline.run(spark, traffic, weather, gbtIter = 10)
    // synthetic Vol is arithmetic (id*37 % 400): not truly learnable to
    // high R2, but the pipeline must produce finite metrics and a model
    // that predicts positive volumes after expm1
    assert(!res.r2.isNaN && !res.mae.isNaN && !res.mape.isNaN)
    assert(res.mae > 0)
  }

  /** 500 request rows with a log1p label — the E2 training fixture. */
  private lazy val serveTrain = (0 until 500).map { i =>
    val r = ServingPipeline.PredictRequest(
      math.sin(i), math.cos(i), math.sin(i / 7.0), math.cos(i / 7.0),
      math.sin(i / 12.0), math.cos(i / 12.0),
      (i % 50).toDouble, (i % 30).toDouble, (i % 20).toDouble)
    (r, math.log1p(2.0 * (i % 50) + (i % 30) + 1.0))
  }.toDF("req", "label").select(col("req.*"), col("label"))
  private val serveCols = Seq("hour_sin", "hour_cos", "wd_sin", "wd_cos", "month_sin",
    "month_cos", "vol_lag_1", "vol_roll_3", "vol_roll_24")
  private lazy val serveOls = Models.ols(serveCols, "label").fit(serveTrain)

  /** The batch reference: `transform` on a 1-row DataFrame of the request. */
  private def viaTransform(model: Transformer, req: ServingPipeline.PredictRequest,
      expm1Inverse: Boolean): Double = {
    val raw = model.transform(Seq(req).toDF()).select("prediction").head().getDouble(0)
    if (expm1Inverse) math.expm1(raw) else raw
  }

  /** Bit pattern: equality that tells -0.0 from 0.0 and matches NaN. */
  private def bits(x: Double): Long = java.lang.Double.doubleToRawLongBits(x)

  /** Copy of `model` with its assembler's `handleInvalid` set to `mode`. */
  private def withHandleInvalid(model: PipelineModel, mode: String): PipelineModel = {
    val m = model.copy(ParamMap.empty)
    m.stages.head.asInstanceOf[VectorAssembler].setHandleInvalid(mode)
    m
  }

  /** A pipeline the in-process scorer cannot replay: a StandardScaler
    * between the assembler and the predictor.
    */
  private lazy val serveScaled = new Pipeline().setStages(Array(
    new VectorAssembler().setInputCols(serveCols.toArray).setOutputCol("raw")
      .setHandleInvalid("skip"),
    new StandardScaler().setInputCol("raw").setOutputCol("features"),
    new LinearRegression().setLabelCol("label").setSolver("normal"))).fit(serveTrain)

  test("E2 serving: registry dispatch + single-row predict") {
    val reg = ServingPipeline.registry("linear" -> serveOls)
    val pred = ServingPipeline.predict(spark, reg, "linear",
      ServingPipeline.PredictRequest(0.5, 0.5, 0.1, 0.9, 0.2, 0.8, 25.0, 15.0, 10.0),
      expm1Inverse = true)
    assert(pred > 0 && !pred.isNaN)
    assert(reg.names == Set("linear") && (reg("linear") eq serveOls))
    val req = ServingPipeline.PredictRequest(0, 0, 0, 0, 0, 0, 0, 0, 0)
    assertThrows[NoSuchElementException](ServingPipeline.predict(spark, reg, "nope", req))
    assertThrows[NoSuchElementException](ServingPipeline.predictLocal(reg, "nope", req))
  }

  test("E2 serving: local-vector fast path matches the DataFrame path exactly") {
    // the three reference regressors; both entry points must agree
    // bit-for-bit with a batch transform of the same row
    val gbt = Models.gbt(serveCols, "label", maxIter = 5, maxDepth = 3).fit(serveTrain)
    val rf = Models.randomForest(serveCols, "label", numTrees = 10, maxDepth = 5)
      .fit(serveTrain)
    val models = Seq("linear" -> serveOls, "gbt" -> gbt, "rf" -> rf)
    val reg = ServingPipeline.registry(models: _*)
    val reqs = Seq(
      ServingPipeline.PredictRequest(0.5, 0.5, 0.1, 0.9, 0.2, 0.8, 25.0, 15.0, 10.0),
      ServingPipeline.PredictRequest(-0.7, 0.3, 0.99, -0.1, 0.0, 1.0, 49.0, 29.0, 19.0),
      // mostly zeros: the assembler emits a sparse vector
      ServingPipeline.PredictRequest(0.3, 0, 0.7, -0.0, 0, 0, 49.0, 29.0, 0),
      ServingPipeline.PredictRequest(0, 1.0, 0, 0, -0.0, 0, 25.0, 0, 0),
      ServingPipeline.PredictRequest(0, 0, 0, 0, 0, 0, 0, 0, 0))
    for ((name, model) <- models; req <- reqs; inv <- Seq(false, true)) {
      val ref = viaTransform(model, req, inv)
      val served = ServingPipeline.predict(spark, reg, name, req, inv)
      val local = ServingPipeline.predictLocal(reg, name, req, inv)
      assert(bits(served) == bits(ref) && bits(local) == bits(ref),
        s"$name predict=$served predictLocal=$local transform=$ref for $req expm1=$inv")
    }
  }

  test("E2 serving: a NaN feature gets the same answer from both entry points") {
    val req = ServingPipeline.PredictRequest(0.5, 0.5, Double.NaN, 0.9, 0.2, 0.8, 25.0, 15.0, 10.0)
    // skip (the Models default) drops the row in transform, error throws
    // there: both entry points reject the request, naming the field
    for (mode <- Seq("skip", "error")) {
      val reg = ServingPipeline.registry("m" -> withHandleInvalid(serveOls, mode))
      for (call <- Seq(() => ServingPipeline.predict(spark, reg, "m", req),
          () => ServingPipeline.predictLocal(reg, "m", req))) {
        val e = intercept[IllegalArgumentException](call())
        assert(e.getMessage.contains("'wd_sin'") && e.getMessage.contains(mode), e.getMessage)
      }
    }
    // keep scores it, as transform does
    val keep = withHandleInvalid(serveOls, "keep")
    val reg = ServingPipeline.registry("m" -> keep)
    val ref = viaTransform(keep, req, expm1Inverse = false)
    for (v <- Seq(ServingPipeline.predict(spark, reg, "m", req),
        ServingPipeline.predictLocal(reg, "m", req)))
      assert(bits(v) == bits(ref), s"keep: served $v, transform $ref")
    // a model served through transform rejects the dropped row the same way
    val scaled = ServingPipeline.registry("scaled" -> serveScaled)
    intercept[IllegalArgumentException](ServingPipeline.predict(spark, scaled, "scaled", req))
  }

  test("E2 serving: a pipeline the scorer cannot replay is served through transform") {
    val reg = ServingPipeline.registry("scaled" -> serveScaled)
    val req = ServingPipeline.PredictRequest(-0.7, 0.3, 0.99, -0.1, 0.0, 1.0, 49.0, 29.0, 19.0)
    for (inv <- Seq(false, true))
      assert(bits(ServingPipeline.predict(spark, reg, "scaled", req, inv)) ==
        bits(viaTransform(serveScaled, req, inv)))
    val e = intercept[IllegalArgumentException](ServingPipeline.predictLocal(reg, "scaled", req))
    assert(e.getMessage.contains("use predict()"))
  }

  test("E2 serving: a compiled predict plans no query and launches no job") {
    // Counts, not timings: a later edit that puts Catalyst back on the
    // request path shows up here as query executions. Queries are those
    // of a private session; jobs those submitted under this thread's tag.
    val session = spark.newSession()
    val sc = spark.sparkContext
    val Key = "graft.test.serving"
    val queries = new AtomicInteger
    val jobs = new AtomicInteger
    val markers = new LinkedBlockingQueue[String]
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(Key))).foreach { tag =>
          if (tag.startsWith("marker_")) markers.put(s"job $tag") else jobs.incrementAndGet()
        }
    }
    val queryListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.analyzed.output.map(_.name).find(_.startsWith("marker_")) match {
          case Some(m) => markers.put(s"query $m")
          case None => queries.incrementAndGet()
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        queries.incrementAndGet()
    }
    /** (query executions, jobs) of 100 calls of `f`. A marker query and
      * job follow them; listener events arrive in order, so once both
      * markers are in, every event of the calls is counted.
      */
    def counted(tag: String)(f: => Double): (Int, Int) = {
      queries.set(0)
      jobs.set(0)
      try {
        sc.setLocalProperty(Key, tag)
        (1 to 100).foreach(_ => f)
        val marker = s"marker_$tag"
        sc.setLocalProperty(Key, marker)
        session.range(1).selectExpr(s"id AS $marker").collect()
        val want = Set(s"job $marker", s"query $marker")
        val got = Iterator.continually(markers.poll(60, TimeUnit.SECONDS))
          .take(2).toSet
        assert(got == want, s"listener markers $got, expected $want")
      } finally sc.setLocalProperty(Key, null)
      (queries.get, jobs.get)
    }
    sc.addSparkListener(jobListener)
    session.listenerManager.register(queryListener)
    try {
      val reg = ServingPipeline.registry("linear" -> serveOls, "scaled" -> serveScaled)
      val req = ServingPipeline.PredictRequest(0.5, 0.5, 0.1, 0.9, 0.2, 0.8, 25.0, 15.0, 10.0)
      assert(counted("compiled")(ServingPipeline.predict(session, reg, "linear", req)) == ((0, 0)))
      val (fallbackQueries, _) =
        counted("fallback")(ServingPipeline.predict(session, reg, "scaled", req))
      // The 1-row fallback plans a query per request but launches no
      // job either: the optimizer folds a transform over a local relation
      // into a local relation, so planning is its whole cost. The job
      // listener's positive control is the marker job each count awaits.
      assert(fallbackQueries >= 100, s"fallback: $fallbackQueries query executions")
    } finally {
      session.listenerManager.unregister(queryListener)
      sc.removeSparkListener(jobListener)
    }
  }

  test("E3 build + filter: WKT→lon/lat→Feature JSON; filter is case-insensitive, year-scoped") {
    val traffic = DomainFixtures.traffic(spark, nHours)
    val feats = GeoPipeline.buildFeatures(traffic).cache()
    try {
      // coordinates land in the NYC bbox
      val bad = feats.filter(col("lat") < 40.4 || col("lat") > 41.1 ||
        col("lon") < -74.5 || col("lon") > -73.4).count()
      assert(bad == 0)
      // feature JSON is well-formed GeoJSON
      val f = feats.select("feature").head().getString(0)
      assert(f.startsWith("""{"type":"Feature","geometry":{"type":"Point","coordinates":["""))
      assert(f.contains(""""properties":{"RequestID":"""))
      // filter: case-insensitive borough + year
      val manhattan = GeoPipeline.filterFeatures(feats, "mAnHaTtAn", 2024).count()
      assert(manhattan > 0)
      assert(GeoPipeline.filterFeatures(feats, "manhattan", 1999).count() == 0)
      assert(GeoPipeline.filterFeatures(feats, "atlantis", 2024).count() == 0)
    } finally { feats.unpersist(); () }
  }

  test("E3 filter: the year is [y-01-01 00:00, (y+1)-01-01 00:00) in the session time zone") {
    val key = "spark.sql.session.timeZone"
    val prev = spark.conf.get(key)
    try Seq("UTC", "America/New_York").foreach { zone =>
      spark.conf.set(key, zone)
      // wall times, read as timestamps in the session zone when the plan runs
      val feats = Seq(("Queens", "2024-01-01 00:00:00"), ("Queens", "2024-12-31 23:59:59.999999"),
          ("queens", "2025-01-01 00:00:00"), ("QUEENS", "2023-12-31 23:59:59.999999"),
          ("Queens", null), ("Bronx", "2024-06-01 00:00:00"))
        .toDF("Boro", "t").select(col("Boro"), to_timestamp(col("t")).as("ts"))
      def kept(y: Int) = GeoPipeline.filterFeatures(feats, "qUeEnS", y)
        .select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")).as[String]
        .collect().sorted.toSeq
      assert(kept(2024) == Seq("2024-01-01 00:00:00.000000", "2024-12-31 23:59:59.999999"), zone)
      assert(kept(2025) == Seq("2025-01-01 00:00:00.000000"), zone)
      assert(kept(2023) == Seq("2023-12-31 23:59:59.999999"), zone)
      // the same rows year(ts) selects in this zone
      assert(kept(2024).size ==
        feats.filter(lower(col("Boro")) === "queens" && year(col("ts")) === 2024).count(), zone)
    } finally spark.conf.set(key, prev)
  }

  test("E3 volume colors match the reference thresholds") {
    val got = Seq(25.0, 15.0, 7.0, 2.0).toDF("v")
      .select(GeoPipeline.volumeColor(col("v")).as("c"))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("red", "orange", "yellow", "green"))
  }

  test("corpus curation end-to-end: every stage drops exactly its own defect class") {
    val boiler = "subscribe to our newsletter for updates and offers" // 8 tokens = one span
    val evalText = "keep this secret eval passage away from training data at all costs"
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs to the old mill by the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog and runs to the old mill by the river bank today"), // exact dup of 1
      (3L, "the quick brown fox jumps over the lazy dog and runs to the old mill by the river bank today tonight"), // near-dup of 1
      (4L, "a completely different story of ships and seas is told in the harbor town every single morning"),
      (5L, s"$boiler the wizard tale begins here now"),
      (6L, s"$boiler another pirate saga starts tomorrow night friends"),
      (7L, s"it is said the $evalText story"), // contaminated vs eval set
      (8L, "lorem ipsum dolor sit amet consectetur"), // no markers → lang und
      (9L, "the end is near")) // < 5 tokens
      .toDF("doc_id", "text")
    val eval = Seq(Tuple1(evalText)).toDF("text")
    val out = graft.pipelines.CorpusPipeline.curate(docs, eval,
        packBudget = 16, shards = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // survivors: 1 (rep of {1,2,3}), 4, 5 (first owner of the boiler
    // span), 6 (boiler stripped, tail kept)
    assert(out.keySet == Set(1L, 4L, 5L, 6L), s"got ${out.keySet}")
    assert(out(1L)._2 == 20L)
    assert(out(5L)._2 == 14L) // 8 boiler + 6 tail, untouched
    assert(out(6L)._2 == 7L,  // boiler span removed, 7-token tail kept
      s"doc 6 tokens = ${out(6L)._2}")
    assert(out.values.forall(_._1 == "en"))
    // packing invariants: offset inside the budget, sequence ids start at 0
    assert(out.values.forall(v => v._5 >= 0 && v._5 < 16 && v._4 >= 0))
  }
}
