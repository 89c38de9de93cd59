package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions
import graft.operators.Similarity
import graft.TestSpark.withTempDir

/** Product-quantization kernels and the pqTopK pipeline: encode argmin
  * vs a hand model, ADC table/lookup-sum consistency, exactness when
  * the refine shortlist covers the corpus, recall band at the
  * committed config.
  */
class PqSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  // 2 subspaces of 2 dims; subspace 0 centroids {(0,0),(10,10)},
  // subspace 1 centroids {(0,0),(-10,-10)} — codebook layout is
  // subspace-major, ksub=2
  private val cb: Seq[Array[Double]] = Seq(
    Array(0.0, 0.0), Array(10.0, 10.0),
    Array(0.0, 0.0), Array(-10.0, -10.0))

  test("pq encode picks the per-subspace argmin, ties to the lower code") {
    GraftFunctions.register(spark)
    val df = Seq(
      (1L, Seq(9.0, 9.0, -9.0, -9.0)), // near c1 in sub0, near c1 in sub1
      (2L, Seq(1.0, 1.0, 1.0, 1.0)),   // near c0 in both
      (3L, Seq(5.0, 5.0, -5.0, -5.0))  // exactly between: tie → lower code
    ).toDF("id", "v")
    val got = df.select(col("id"),
      GraftFunctions.pqEncode(col("v"), cb, 2).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(got(1L) == Seq(1, 1))
    assert(got(2L) == Seq(0, 0))
    assert(got(3L) == Seq(0, 0))
  }

  test("adc table holds per-subspace squared distances; adc sum looks them up") {
    GraftFunctions.register(spark)
    val df = Seq((1L, Seq(1.0, 2.0, 3.0, 4.0))).toDF("id", "v")
    val tab = df.select(GraftFunctions.pqAdcTable(col("v"), cb, 2).as("t"))
      .head().getSeq[Double](0)
    // sub0 vs (0,0): 1+4=5; vs (10,10): 81+64=145
    // sub1 vs (0,0): 9+16=25; vs (-10,-10): 169+196=365
    assert(tab == Seq(5.0, 145.0, 25.0, 365.0))
    val s = df.select(GraftFunctions.pqAdcSum(
        typedlit(tab), typedlit(Seq(1, 0)), 2).as("s"))
      .head().getDouble(0)
    assert(s == 145.0 + 25.0)
  }

  test("short vectors read missing elements as zero") {
    GraftFunctions.register(spark)
    val tab = Seq((1L, Seq(1.0, 2.0, 3.0))).toDF("id", "v")
      .select(GraftFunctions.pqAdcTable(col("v"), cb, 2).as("t"))
      .head().getSeq[Double](0)
    // sub1 = (3.0, 0.0): vs (0,0): 9; vs (-10,-10): 169+100=269
    assert(tab(2) == 9.0 && tab(3) == 269.0)
  }

  test("null vector yields null codes / table") {
    GraftFunctions.register(spark)
    val df = Seq((1L, Option.empty[Seq[Double]])).toDF("id", "v")
    val r = df.select(GraftFunctions.pqEncode(col("v"), cb, 2).as("c"),
      GraftFunctions.pqAdcTable(col("v"), cb, 2).as("t")).head()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("pqTopK with a corpus-covering refine equals bruteTopK exactly") {
    val rnd = new scala.util.Random(11)
    val n = 60
    val corpus = (0L until n).map(i =>
      (i, Seq.fill(8)(rnd.nextDouble() - 0.5))).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 3)
    // refine ≥ corpus size ⇒ the shortlist is the whole corpus and the
    // exact re-rank IS brute force, regardless of quantization error
    val pq = Similarity.pqTopK(corpus, queries, "vec_id", "embedding",
        5, m = 4, ksub = 4, refine = n.toInt)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = Similarity.bruteTopK(corpus, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pq == brute)
  }

  test("ivfPqTopK with full probing and corpus-covering refine equals brute force") {
    val rnd = new scala.util.Random(31)
    val n = 80
    val corpus = (0L until n).map(i =>
      (i, Seq.fill(8)(rnd.nextDouble() - 0.5))).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 3)
    // nProbe == nCells ⇒ candidate generation complete; refine ≥ corpus
    // ⇒ the re-rank IS brute force
    val got = Similarity.ivfPqTopK(corpus, queries, "vec_id", "embedding",
        5, nCells = 4, nProbe = 4, m = 4, ksub = 4, refine = n.toInt)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = Similarity.bruteTopK(corpus, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == brute)
  }

  test("ivfPqTopK recall band at a sparse-probe config") {
    val rnd = new scala.util.Random(41)
    val corpus = (0L until 400L).map(i =>
      (i, Seq.fill(64)(rnd.nextDouble() - 0.5))).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 5)
    val approx = Similarity.ivfPqTopK(corpus, queries, "vec_id", "embedding",
      5, nCells = 8, nProbe = 6, m = 16, ksub = 32, refine = 20)
    val exact = Similarity.bruteTopK(corpus, queries, "vec_id", "embedding", 5)
    assert(Similarity.recallAtK(approx, exact, 0.8).head().getBoolean(3))
  }

  /** k well-separated unit blobs — the CLUSTERED fixture (VERDICT r12,
    * Next round #3): structureless uniform embeddings are the quantizer
    * worst case (Voronoi cells have no locality to exploit, so only
    * near-exhaustive probing reaches high recall); real embedding
    * corpora cluster, and on a clustered corpus sparse probing must
    * show BOTH high recall AND sub-linear candidate scans.
    */
  private def blobCorpus(nBlobs: Int, perBlob: Int, dim: Int, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(nBlobs) {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    (0 until nBlobs * perBlob).map { i =>
      val c = centers(i % nBlobs)
      val v = c.map(x => x + rnd.nextGaussian() * 0.05)
      val n = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(_ / n).toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("clustered corpus: sparse-probe IVF certifies recall >= 0.9 AND sub-linear probing") {
    val corpus = blobCorpus(nBlobs = 16, perBlob = 250, dim = 32, seed = 99)
    val queries = corpus.filter(col("vec_id") < 40)
    val (nCells, nProbe) = (16, 2)
    val approx = Similarity.ivfTopK(corpus, queries, "vec_id", "embedding",
      5, nCells = nCells, nProbe = nProbe)
    val exact = Similarity.bruteTopK(corpus, queries, "vec_id", "embedding", 5)
    assert(Similarity.recallAtK(approx, exact, 0.9).head().getBoolean(3),
      "recall@5 < 0.9 on the clustered corpus at nProbe=2/16")
    // sub-linearity: the candidate pairs the probes scan, as a fraction
    // of the brute-force QxN pair space, must track nProbe/nCells (2x
    // slack for cell-size skew from the seeded quantizer fit)
    val census = Similarity.ivfProbeCensus(corpus, queries, "vec_id",
      "embedding", nCells = nCells, nProbe = nProbe).head()
    val frac = census.getDouble(3)
    val nominal = census.getDouble(4)
    assert(nominal == nProbe.toDouble / nCells)
    assert(frac <= nominal * 2.0,
      f"probe fraction $frac%.4f exceeds 2x the nominal $nominal%.4f")
    assert(frac < 0.5, f"probe fraction $frac%.4f is not sub-linear")
  }

  test("clustered corpus: sparse-probe IVF-PQ holds the same recall bound") {
    val corpus = blobCorpus(nBlobs = 16, perBlob = 250, dim = 32, seed = 77)
    val queries = corpus.filter(col("vec_id") < 40)
    // HALF the code budget of the structureless configs (m=8, ksub=16):
    // residual encoding (IVFADC) spends the codes on within-cell detail,
    // so a tight blob resolves with far fewer centroids than raw-vector
    // codes needed — this small budget is the point of the residual
    // change (raw-vector codes measured recall 0.42 here even at
    // m=16/ksub=64)
    val approx = Similarity.ivfPqTopK(corpus, queries, "vec_id", "embedding",
      5, nCells = 16, nProbe = 2, m = 8, ksub = 16, refine = 40)
    val exact = Similarity.bruteTopK(corpus, queries, "vec_id", "embedding", 5)
    assert(Similarity.recallAtK(approx, exact, 0.9).head().getBoolean(3),
      "IVF-PQ recall@5 < 0.9 on the clustered corpus at nProbe=2/16")
  }

  test("persisted index: build → search equals the inline ivfPqTopK row-for-row") {
    withTempDir("ann_idx") { tmp =>
      val corpus = blobCorpus(nBlobs = 8, perBlob = 100, dim = 32, seed = 7)
      val queries = corpus.filter(col("vec_id") < 10)
      val path = tmp.toString
      // same seed + same config → the stored quantizer is bit-identical to
      // the inline fit, so the two search paths must agree exactly
      Similarity.buildAnnIndex(corpus, "vec_id", "embedding", path,
        nCells = 8, m = 8, ksub = 16)
      val stored = Similarity.searchAnnIndex(spark, path, corpus, queries,
        "vec_id", "embedding", 5, nProbe = 3, refine = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val inline = Similarity.ivfPqTopK(corpus, queries, "vec_id", "embedding",
        5, nCells = 8, nProbe = 3, m = 8, ksub = 16, refine = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(stored == inline && stored.nonEmpty)
      // the stored artifacts are bounded: quantizer state is
      // cells + m·ksub rows, codes are one row per corpus vector
      assert(spark.read.parquet(s"$path/coarse").count() == 8L)
      assert(spark.read.parquet(s"$path/pq").count() == 8L * 16)
      assert(spark.read.parquet(s"$path/codes").count() == corpus.count())
      // codes land partitioned by coarse cell (the pruning structure)
      assert(new java.io.File(s"$path/codes").listFiles()
        .exists(_.getName.startsWith("cell=")))
    }
  }

  test("persisted index: an append or a query of the wrong length fails, naming both lengths") {
    withTempDir("ann_idx_dim") { tmp =>
      val rnd = new scala.util.Random(5)
      def vecs(ids: Range, dim: Int) = ids.map(i =>
        (i.toLong, Seq.fill(dim)(rnd.nextGaussian()))).toDF("vec_id", "embedding")
      val corpus = vecs(0 until 200, 64)
      val path = tmp.toString
      Similarity.buildAnnIndex(corpus, "vec_id", "embedding", path,
        nCells = 4, m = 8, ksub = 8)
      val short = vecs(200 until 220, 32)
      def failsNamingBothLengths(body: => Any): Unit = {
        val e = intercept[Exception](body)
        val msg = Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
        assert(msg.contains("vector length 32") && msg.contains("dim 64"), msg)
      }
      failsNamingBothLengths(
        Similarity.appendAnnIndex(spark, path, short, "vec_id", "embedding"))
      assert(spark.read.parquet(s"$path/codes").count() == 200L)
      failsNamingBothLengths(Similarity.searchAnnIndex(spark, path, corpus,
        short, "vec_id", "embedding", 3).collect())
      // rows of the index's length still append
      Similarity.appendAnnIndex(spark, path, vecs(300 until 310, 64),
        "vec_id", "embedding")
      assert(spark.read.parquet(s"$path/codes").count() == 210L)
    }
  }

  test("persisted index append: new vectors are searchable without re-fitting the quantizer") {
    withTempDir("ann_idx_app") { tmp =>
      val corpus = blobCorpus(nBlobs = 8, perBlob = 100, dim = 32, seed = 11)
      val half1 = corpus.filter(col("vec_id") % 2 === 0)
      val half2 = corpus.filter(col("vec_id") % 2 === 1)
      val path = tmp.toString
      Similarity.buildAnnIndex(half1, "vec_id", "embedding", path,
        nCells = 8, m = 8, ksub = 16)
      def codeMap() = spark.read.parquet(s"$path/codes")
        .collect().map(r => r.getLong(r.fieldIndex("neighbor_id")) ->
          ((r.getSeq[Any](r.fieldIndex("codes")).toList,
            r.getInt(r.fieldIndex("cell"))))).toMap
      val before = codeMap()
      Similarity.appendAnnIndex(spark, path, half2, "vec_id", "embedding")
      // codes table now covers the full corpus, still cell-partitioned
      assert(spark.read.parquet(s"$path/codes").count() == corpus.count())
      // append is PURELY additive: every pre-existing (code, cell) row
      // survives bit-identically — append never rewrites, re-cells, or
      // re-codes the built half (concurrent readers depend on this)
      val after = codeMap()
      assert(before.keySet.subsetOf(after.keySet))
      assert(before.forall { case (id, v) => after(id) == v },
        "append mutated codes of previously-indexed vectors")
      // appended vectors are fully integrated: with complete probing and a
      // corpus-covering shortlist the stored-index search IS brute force,
      // so it must equal bruteTopK over the WHOLE corpus — impossible if
      // any appended code were missing or mis-celled
      val queries = half2.filter(col("vec_id") < 20)
      val got = Similarity.searchAnnIndex(spark, path, corpus, queries,
          "vec_id", "embedding", 3, nProbe = 8, refine = 300)
        .select("query_id", "neighbor_id", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val brute = Similarity.bruteTopK(corpus, queries, "vec_id", "embedding", 3)
        .select("query_id", "neighbor_id", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == brute && got.nonEmpty)
    }
  }

  test("committed q_ann_pq config holds its recall bound on a fresh corpus") {
    val rnd = new scala.util.Random(23)
    val corpus = (0L until 400L).map(i =>
      (i, Seq.fill(64)(rnd.nextDouble() - 0.5))).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 5)
    val approx = Similarity.pqTopK(corpus, queries, "vec_id", "embedding",
      5, m = 16, ksub = 64, refine = 20)
    val exact = Similarity.bruteTopK(corpus, queries, "vec_id", "embedding", 5)
    val ok = Similarity.recallAtK(approx, exact, 0.9)
      .head().getBoolean(3)
    assert(ok)
  }
}
