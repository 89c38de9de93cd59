package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity
import graft.sources.Tables

/** Embedding near-dup pair operators: the exact blocked path must equal a
  * naive all-pairs reference, and the approximate LSH path (the 100 TB
  * library default) is pinned by subset-of-exact precision plus a recall
  * bound on a synthetic near-identical corpus (the real fixture's max
  * pair cosine is 0.48 — no high-similarity pairs to measure recall on).
  */
class SimilaritySpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("centroidArgmax: ties and all-NaN rows to lowest id, null vec to null") {
    import graft.functions.GraftFunctions
    GraftFunctions.register(spark)
    // centroid 9 duplicates centroid 3 → exact cosine tie → lowest id 3
    val cents = Seq(3 -> Array(1.0, 0.0), 7 -> Array(0.0, 1.0), 9 -> Array(1.0, 0.0))
    val df = Seq(
      (1L, Some(Seq(2.0, 0.1))), // x-dominant: tie between 3 and 9 → 3
      (2L, Some(Seq(0.0, 5.0))), // → 7
      (3L, Some(Seq(0.0, 0.0))), // zero vector: every negcos NaN → 3
      (4L, Option.empty[Seq[Double]])).toDF("id", "v")
    val out = df.select(col("id"),
        GraftFunctions.centroidArgmax(col("v").cast("array<double>"), cents).as("cl"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1 else r.getInt(1))).toMap
    assert(out == Map(1L -> 3, 2L -> 7, 3L -> 3, 4L -> -1))
  }

  test("centroidArgmax: bit-identical to the composable array_min-over-structs form") {
    import graft.functions.GraftFunctions
    GraftFunctions.register(spark)
    val dotF = GraftFunctions.dotFast _
    val rnd = new scala.util.Random(7)
    val cents = (0 until 6).map(i => i -> Array.fill(16)(rnd.nextGaussian()))
    val df = (1L to 300L).map(i => (i, Seq.fill(16)(rnd.nextGaussian())))
      .toDF("id", "v")
      .withColumn("__v", col("v").cast("array<double>"))
      .withColumn("__n", sqrt(call_function("graft_dot", col("__v"), col("__v"))))
    val composable = array_min(array(cents.map { case (cl, c) =>
      val cn = math.sqrt(c.map(x => x * x).sum)
      struct((-(dotF(col("__v"), typedlit(c.toSeq)) / (col("__n") * lit(cn))))
        .as("negcos"), lit(cl).as("cl"))
    }.toIndexedSeq: _*)).getField("cl")
    val mismatches = df.select(
        GraftFunctions.centroidArgmax(col("__v"), cents).as("a"),
        composable.as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(mismatches == 0)
  }

  test("exact blocked near-dup pairs == naive all-pairs cross join (sf0.001)") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val exact = pairSet(
      Similarity.cosineNearDupPairsExact(emb, "vec_id", "embedding", 0.4))
    val v = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val naive = pairSet(v.select(col("vec_id").as("id_a"), col("v").as("va"))
      .crossJoin(v.select(col("vec_id").as("id_b"), col("v").as("vb")))
      .filter(col("id_a") < col("id_b"))
      .withColumn("c", Similarity.cosine(col("va"), col("vb")))
      .filter(col("c") >= 0.4)
      .select(col("id_a"), col("id_b")))
    assert(exact == naive, s"exact=${exact.size} naive=${naive.size}")
    assert(exact.nonEmpty)
  }

  test("LSH near-dup: subset of exact (precision 1.0) + recall bound on near-identical twins") {
    val dim = 64
    def base(i: Long): Array[Double] =
      Array.tabulate(dim)(d => math.sin(i * 37.0 + d * 1.7))
    // 100 base vectors, each with a near-identical twin (~0.01 relative
    // perturbation → cosine ≈ 0.99995, angle ≈ 0.6°)
    val rows = (0L until 100L).flatMap { i =>
      val v = base(i)
      val twin = v.zipWithIndex.map { case (x, d) => x + 0.01 * math.sin(i + d.toDouble) }
      Seq((i * 2, v), (i * 2 + 1, twin))
    }
    val df = rows.toDF("vec_id", "embedding")
    val thr = 0.98
    val exact = pairSet(
      Similarity.cosineNearDupPairsExact(df, "vec_id", "embedding", thr))
    val lsh = pairSet(
      Similarity.cosineNearDupPairsLsh(df, "vec_id", "embedding", thr,
        nPlanes = 8, dim = dim))
    // every LSH pair passes the same exact cosine filter → subset of exact
    assert(lsh.subsetOf(exact), s"LSH emitted non-exact pairs: ${lsh -- exact}")
    assert(exact.size >= 90, s"fixture broken: only ${exact.size} exact pairs")
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.8,
      s"recall=$recall (${lsh.size}/${exact.size}) — 8-plane sign-LSH should " +
        "catch near-identical twins")
  }

  test("graft_lsh_buckets: bit-identical to the composable per-table lshBucket form") {
    import graft.functions.GraftFunctions
    GraftFunctions.register(spark)
    val dim = 16
    val nPlanes = 4
    val nTables = 5
    val planeBank = (0 until nTables).flatMap(t =>
      Similarity.hyperplanes(nPlanes, dim, seedOffset = t * nPlanes))
    val rows = (0L until 200L).map(i =>
      (i, Array.tabulate(dim)(d => math.sin(i * 13.0 + d * 2.3))))
    val df = rows.toDF("id", "v")
    val kernel = df.select(col("id"),
        GraftFunctions.lshBuckets(col("v"), planeBank, nPlanes).as("bs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val composable = df.select(col("id") +: (0 until nTables).map(t =>
        Similarity.lshBucket(col("v"),
          planeBank.slice(t * nPlanes, (t + 1) * nPlanes)).as(s"b$t")): _*)
      .collect().map(r => r.getLong(0) -> (1 to nTables).map(r.getLong(_)))
      .toMap
    rows.foreach { case (id, _) =>
      assert(kernel(id) == composable(id), s"id=$id kernel=${kernel(id)} comp=${composable(id)}")
    }
    // null vector → null buckets (nullability contract)
    val n = Seq((1L, Option.empty[Seq[Double]])).toDF("id", "v")
      .select(GraftFunctions.lshBuckets(col("v"), planeBank, nPlanes).as("bs"))
      .collect().head
    assert(n.isNullAt(0))
  }

  test("kmeansFit: separable blobs converge to blob centers; empty cluster drops (oracle-parity rule)") {
    val dim = 8
    // three tight angular blobs: base direction per blob + small jitter
    def blob(b: Int, i: Int): Array[Double] =
      Array.tabulate(dim)(d => math.sin(b * 2.1 + d) + 0.05 * math.sin(i * 7.0 + d))
    val rows = for (b <- 0 until 3; i <- 0 until 40)
      yield ((b * 40 + i).toLong, b, blob(b, i))
    val df = rows.map { case (id, b, v) => (id, b, v) }.toDF("vec_id", "blob", "v")
    // init: jittered blob directions + one orphan centroid no vector is
    // nearest to (the negated blob-0 direction — cosine ≈ −1 to blob 0)
    val orphan = blob(0, 0).map(-_)
    val init = (0 until 3).map(b => b -> blob(b, 17)) :+ (9 -> orphan)
    val cents = Similarity.kmeansFit(df, "v", init, iters = 2)
    // orphan cluster never assigned → DROPPED, matching the oracle's
    // mean CTE (an empty cluster produces no rows and vanishes); a kept
    // stale center could attract vectors the SQL replay cannot see
    assert(!cents.exists(_._1 == 9), s"orphan cluster survived: ${cents.map(_._1)}")
    assert(cents.map(_._1) == Seq(0, 1, 2))
    // final assignment reproduces the blob structure exactly
    val assigned = Similarity.kmeansAssign(df, "vec_id", "v", cents)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach { case (id, b, _) =>
      assert(assigned(id) == b, s"vec $id of blob $b landed in ${assigned(id)}")
    }
    // fixpoint: one more iteration does not move the assignment
    val cents3 = Similarity.kmeansFit(df, "v", init, iters = 3)
    val assigned3 = Similarity.kmeansAssign(df, "vec_id", "v", cents3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(assigned3 == assigned)
  }

  test("tie rule: equal corpus vectors rank the lower neighbor_id first in every top-k operator") {
    // query 0 = e0; ids 12 and 9 hold the same vector t = (0.6, 0.8, 0…),
    // the query's two nearest neighbours (every other row has cosine
    // < 0.3 to e0). 12 comes first in the input and sorts first as a
    // string, so only the numeric id rule puts 9 at rank 1. t sits in
    // the other cluster of the two centroids below, so hardNegatives
    // ranks it too.
    val rnd = new scala.util.Random(3)
    val t = Seq(0.6, 0.8) ++ Seq.fill(6)(0.0)
    val others = (1L to 40L).filterNot(Set(9L, 12L)).map(i =>
      (i, Seq(rnd.nextDouble() * 0.3) ++ Seq.fill(7)(rnd.nextDouble() * 2 - 1)))
    val corpus = ((0L, 1.0 +: Seq.fill(7)(0.0)) +: (12L, t) +: (9L, t) +: others)
      .toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") === 0L)
    val cents = Seq(0 -> (1.0 +: Seq.fill(7)(0.0)).toArray, 1 -> t.toArray)
    TestSpark.withTempDir("ann_tie") { tmp =>
      Similarity.buildAnnIndex(corpus, "vec_id", "embedding", tmp.toString,
        nCells = 4, m = 4, ksub = 4)
      val operators = Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "bruteTopK" -> (() => Similarity.bruteTopK(corpus, queries, "vec_id", "embedding", 2)),
        "lshTopK" -> (() => Similarity.lshTopK(corpus, queries, "vec_id", "embedding", 2,
          nPlanes = 1, dim = 8, nTables = 32)),
        "quantizedTopK" -> (() => Similarity.quantizedTopK(corpus, queries, "vec_id", "embedding", 2)),
        "ivfTopK" -> (() => Similarity.ivfTopK(corpus, queries, "vec_id", "embedding", 2,
          nCells = 4, nProbe = 4)),
        "pqTopK" -> (() => Similarity.pqTopK(corpus, queries, "vec_id", "embedding", 2,
          m = 4, ksub = 4, refine = 20)),
        "ivfPqTopK" -> (() => Similarity.ivfPqTopK(corpus, queries, "vec_id", "embedding", 2,
          nCells = 4, nProbe = 4, m = 4, ksub = 4, refine = 20)),
        "searchAnnIndex" -> (() => Similarity.searchAnnIndex(spark, tmp.toString, corpus,
          queries, "vec_id", "embedding", 2, nProbe = 4, refine = 20)),
        "hardNegatives" -> (() => Similarity.hardNegatives(corpus, queries, "vec_id",
          "embedding", 2, cents)))
      for ((name, run) <- operators) {
        val got = run().select("query_id", "neighbor_id", "rank").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(_._3).toSeq
        assert(got == Seq((0L, 9L, 1), (0L, 12L, 2)), name)
      }
    }
  }

  test("recallAtK: exact fraction, bound edge, and corpus-derived counts") {
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 12L))
      .toDF("query_id", "neighbor_id")
    // approx recovers 3 of the 4 exact pairs (+1 spurious pair that must
    // not count toward recall)
    val approx = Seq((1L, 10L), (1L, 11L), (2L, 12L), (2L, 99L))
      .toDF("query_id", "neighbor_id")
    val r = Similarity.recallAtK(approx, exact, 0.75).collect().head
    assert(r.getAs[Long]("n_queries") == 2 && r.getAs[Long]("n_exact") == 4)
    assert(r.getAs[Double]("recall_bound") == 0.75)
    assert(r.getAs[Boolean]("recall_ok")) // recall 0.75 >= bound 0.75
    val strict = Similarity.recallAtK(approx, exact, 0.8).collect().head
    assert(!strict.getAs[Boolean]("recall_ok")) // 0.75 < 0.8 flips the row
  }

  test("randomProject: matches plain-Scala dots over the shared plane bank; map-only plan") {
    val vecs = Seq(
      (1L, Array.tabulate(8)(i => i * 0.25 - 1.0)),
      (2L, Array.tabulate(8)(i => math.sin(i.toDouble))),
      (3L, Array.fill(8)(0.0)))
    val df = vecs.toDF("vec_id", "embedding")
    val out = Similarity.randomProject(df, "vec_id", "embedding",
      inDim = 8, outDim = 4)
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), "projection must be map-only:\n" + p.take(600))
    val got = out.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val planes = Similarity.hyperplanes(4, 8, 7000)
    vecs.foreach { case (id, v) =>
      planes.zipWithIndex.foreach { case (plane, d) =>
        val want = BigDecimal(v.zip(plane).map { case (a, b) => a * b }.sum)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(got((id, d.toLong)) == want, s"vec $id dim $d")
      }
    }
  }

  test("mmrSelect: matches a greedy plain-Scala reference; diverse pick beats redundant near-dups") {
    val q = Array(1.0, 0.0, 0.0, 0.0)
    val corpus = Seq(
      (1L, Array(1.0, 0.05, 0.0, 0.0)),  // most relevant
      (2L, Array(1.0, 0.06, 0.0, 0.0)),  // near-dup of 1
      (3L, Array(1.0, 0.07, 0.0, 0.0)),  // near-dup of 1
      (4L, Array(0.6, 0.8, 0.0, 0.0)),   // less relevant, diverse
      (5L, Array(0.3, 0.0, 0.95, 0.0)))  // least relevant, most diverse
    val got = Similarity.mmrSelect(corpus.toDF("vec_id", "embedding"),
        "vec_id", "embedding", q, k = 3, lambda = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // greedy reference with the same tie-breaks
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      def n(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
      d / (n(a) * n(b))
    }
    var sel = Vector.empty[(Long, Double)]
    for (_ <- 1 to 3) {
      val cands = corpus.filterNot(c => sel.exists(_._1 == c._1)).map { case (id, v) =>
        val red = if (sel.isEmpty) 0.0
          else sel.map(s => cos(v, corpus.find(_._1 == s._1).get._2)).max
        val score = if (sel.isEmpty) 0.5 * cos(q, v)
          else 0.5 * cos(q, v) - (1.0 - 0.5) * red
        (id, score)
      }
      sel = sel :+ cands.minBy { case (id, s) => (-s, id) }
    }
    val expected = sel.zipWithIndex.map { case ((id, s), i) =>
      ((i + 1).toLong, id,
        BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
    assert(got == expected)
    // the property the operator exists for: plain cosine top-3 is the
    // redundant {1, 2, 3}; MMR's second pick must be the orthogonal 5,
    // not near-dup 2 (with λ=0.5 the highly-relevant near-dup still
    // earns rank 3 — MMR reorders, it doesn't ban redundancy outright)
    assert(got.map(_._2).take(2) == Seq(1L, 5L), s"picks were ${got.map(_._2)}")
    assert(got.map(_._2).toSet != Set(1L, 2L, 3L))
  }

  /** Deterministic pseudo-random corpus for the batching tests: ids with
    * hash-derived unit-ish vectors, enough near-ties to exercise the
    * shortlist floor guard.
    */
  private def mmrCorpus(n: Int, dim: Int) = {
    val rnd = new scala.util.Random(7)
    (0 until n).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextDouble() - 0.3))
    }
  }

  test("mmrSelect: shortlist batching is selection-exact at every batch size") {
    val corpus = mmrCorpus(300, 8).toDF("vec_id", "embedding")
    val q = mmrCorpus(301, 8).last._2
    def run(c: Int) = Similarity.mmrSelect(corpus, "vec_id", "embedding",
        q, k = 25, lambda = 0.7, shortlist = c)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // shortlist=1 degenerates to the classic one-job-per-pick greedy —
    // the semantics reference; larger batches must select identically,
    // scores included (bit-mirrored driver arithmetic)
    val ref = run(1)
    assert(ref.length == 25)
    for (c <- Seq(3, 7, 25, 512)) assert(run(c) == ref, s"shortlist=$c diverged")
  }

  test("mmrSelect: batched greedy is jobs-bounded, not k-jobs") {
    val corpus = mmrCorpus(400, 8).toDF("vec_id", "embedding")
      .localCheckpoint(true) // fixture build jobs stay out of the count
    val q = Array.fill(8)(0.5)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val got = Similarity.mmrSelect(corpus, "vec_id", "embedding",
        q, k = 50, lambda = 0.7, shortlist = 512)
      assert(got.count() == 50)
      Thread.sleep(200) // drain listener bus
      // one localCheckpoint + ceil(k/shortlist) fetches + result build;
      // 8 is a generous ceiling — the r12 per-pick loop needed >= 50
      assert(jobs.get() <= 8,
        s"batched mmrSelect ran ${jobs.get()} jobs for k=50")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("semanticContaminatedIds: known near-copy flagged, orthogonal row clean; parity with naive max-cosine") {
    // hand fixture: eval bank = {(1,0)}; corpus has a near-copy (cos≈1),
    // a same-direction-ish vector (cos≈0.707), and an orthogonal one
    val eval = Seq(Tuple1(Seq(1.0, 0.0))).toDF("embedding")
    val corpus = Seq(
      (100L, Seq(0.9, 0.05)),  // near-copy → contaminated
      (101L, Seq(1.0, 1.0)),   // cos ≈ 0.707 ≥ 0.7 → contaminated
      (102L, Seq(0.0, 2.0))    // orthogonal → clean
    ).toDF("vec_id", "embedding")
    val got = Similarity.semanticContaminatedIds(corpus, eval,
        "vec_id", "embedding", tau = 0.7)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(100L, 101L))

    // real-fixture parity: semi-join path == naive crossJoin + max filter
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val corp = emb.filter(col("vec_id") % 20 =!= 0)
    val bank = emb.filter(col("vec_id") % 20 === 0)
    val fast = Similarity.semanticContaminatedIds(corp, bank,
        "vec_id", "embedding", tau = 0.4)
      .collect().map(_.getLong(0)).toSet
    val cv = corp.select(col("vec_id"), col("embedding").cast("array<double>").as("a"))
    val bv = bank.select(col("embedding").cast("array<double>").as("b"))
    val naive = cv.crossJoin(bv)
      .withColumn("c", Similarity.cosine(col("a"), col("b")))
      .groupBy("vec_id").agg(max(col("c")).as("mx"))
      .filter(col("mx") >= 0.4)
      .collect().map(_.getLong(0)).toSet
    assert(fast == naive)
    assert(fast.nonEmpty, "fixture should contain at least one semantic contaminant")
  }

  test("AnnIndexes.ensurePersisted/ensureAppend: second call serves the existing index, no rebuild (VERDICT r17 #2)") {
    // the skip path is what lets Bench pre-pay the build outside every
    // timed region — if ensure rebuilt on each call, the certification
    // lanes would still time a build on their first rep
    val d = "/root/testdata/sf0.001"
    val idx = Queries.AnnIndexes.ensurePersisted(spark, d)
    val meta = new java.io.File(s"$idx/meta")
    assert(meta.exists, "build must leave the meta marker")
    val t1 = meta.lastModified
    assert(Queries.AnnIndexes.ensurePersisted(spark, d) == idx)
    assert(meta.lastModified == t1, "second ensurePersisted must not rebuild")
    val idxA = Queries.AnnIndexes.ensureAppend(spark, d)
    val done = new java.io.File(s"$idxA/append_complete")
    assert(done.exists, "append path must leave the append-complete marker")
    val t2 = done.lastModified
    assert(Queries.AnnIndexes.ensureAppend(spark, d) == idxA)
    assert(done.lastModified == t2, "second ensureAppend must not rebuild")
    assert(idx != idxA, "persisted and append lanes must not share an index dir")
  }

  test("semanticContaminatedIds: zero vectors never match — no NaN >= tau flag-everything (ADVICE r17)") {
    // An all-zero EVAL vector makes cosine 0/0 = NaN for every corpus
    // row, and Spark orders NaN above all doubles, so without the norm
    // guard `NaN >= tau` is true and the whole corpus reads contaminated.
    val evalZ = Seq(Tuple1(Seq(0.0, 0.0))).toDF("embedding")
    val corpus = Seq(
      (200L, Seq(1.0, 0.0)),
      (201L, Seq(0.0, 0.0)), // zero corpus vector: no direction, never flagged
      (202L, Seq(0.3, 0.4))
    ).toDF("vec_id", "embedding")
    val gotZ = Similarity.semanticContaminatedIds(corpus, evalZ,
        "vec_id", "embedding", tau = 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(gotZ.isEmpty, s"zero eval vector flagged $gotZ")
    // and a zero CORPUS vector stays clean against a real eval bank
    val evalR = Seq(Tuple1(Seq(1.0, 0.0))).toDF("embedding")
    val gotR = Similarity.semanticContaminatedIds(corpus, evalR,
        "vec_id", "embedding", tau = 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(gotR == Set(200L, 202L))
  }

  test("rrfFuse: hand-computed fusion — both-list id outranks single-list, scores exact") {
    val lex = Seq((1L, 1), (2L, 2), (3L, 3)).toDF("id", "rank")
    val sem = Seq((2L, 1), (4L, 2)).toDF("id", "rank")
    val got = Similarity.rrfFuse(Seq(lex, sem), "id", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // id 2: 1/62 + 1/61; id 1: 1/61; id 4: 1/62; id 3: 1/63 (cut by k=3)
    def rd(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.toSeq == Seq(
      (2L, 2L, rd(1.0 / 62 + 1.0 / 61)),
      (1L, 1L, rd(1.0 / 61)),
      (4L, 1L, rd(1.0 / 62))))
  }

  test("rrfFuse: equal fused score ties break on id, c shifts the score") {
    val a = Seq((5L, 1)).toDF("id", "rank")
    val b = Seq((3L, 1)).toDF("id", "rank")
    val got = Similarity.rrfFuse(Seq(a, b), "id", k = 2, c = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    def rd(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.toSeq == Seq((3L, rd(1.0 / 11)), (5L, rd(1.0 / 11))))
  }
}
