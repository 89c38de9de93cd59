package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Lineage.LineageOps

import graft.functions.Hashing

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Top-k families, one output contract (query_id, neighbor_id, rank,
  * cosine): [[bruteTopK]] (exact, the baseline; [[quantizedTopK]] and
  * [[hardNegatives]] reuse its shape), [[lshTopK]] (random-hyperplane
  * buckets), [[ivfTopK]] (coarse Lloyd cells), [[pqTopK]] (PQ codes
  * scanned by ADC), [[ivfPqTopK]] (cells + residual PQ codes) and the
  * persisted IVF-PQ index ([[buildAnnIndex]], [[appendAnnIndex]],
  * [[searchAnnIndex]]). Three pieces are shared, each kept once: the
  * quantizer fit ([[fitIvfPq]] over [[localLloyd]]/[[pqCodebooks]]), the
  * unit-normaliser [[unitNorm]] with the shortlist re-rank [[rerank]],
  * and the ranking rule [[rankByCosine]].
  *
  * Hyperplane components are derived from the same md5-based h60 primitive
  * as everything else, so buckets are deterministic and the DuckDB oracle
  * can reproduce them from literal constants.
  */
object Similarity {

  /** Seed and sample-row cap of every quantizer fit. */
  private val Seed = 42L
  private val MaxFitSample = 65536

  /** Sequential-fold dot product of two double arrays (deterministic
    * accumulation order — matches a left-to-right SQL fold).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** The cosine top-k rule: per `query_id`, cosine descending, ties to
    * the lower `neighbor_id`; `extra` columns follow the four outputs. */
  private def rankByCosine(scored: DataFrame, k: Int,
      extra: Column*): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(Seq(col("query_id"), col("neighbor_id"), col("rank"),
        col("cosine")) ++ extra: _*)
  }

  /** Exact cosine top-k: for each query vector (rows of `queries`), the k
    * nearest corpus rows by cosine, ties broken by corpus id. The query
    * side is broadcast (small by construction); ranking is a window over
    * the query id — the only shuffle, keyed on query id.
    */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val dotF = graft.functions.GraftFunctions.dotFast _
    // norms precomputed ONCE per row (not per pair — at Q queries that
    // would triple the flops), dot via the codegen'd expression
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("__qv"))
      .withColumn("__qn", sqrt(dotF(col("__qv"), col("__qv"))))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("__cv"))
      .withColumn("__cn", sqrt(dotF(col("__cv"), col("__cv"))))
    rankByCosine(c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", dotF(col("__qv"), col("__cv")) / (col("__qn") * col("__cn"))), k)
  }

  /** Deterministic pseudo-random hyperplanes: component d of plane p is
    * h60("p_d") scaled into [−0.5, 0.5]. Returned as literal arrays so the
    * same constants can be embedded in oracle SQL.
    */
  def hyperplanes(nPlanes: Int, dim: Int, seedOffset: Int = 0): Seq[Array[Double]] =
    (0 until nPlanes).map { p0 =>
      val p = p0 + seedOffset
      Array.tabulate(dim) { d =>
        // Same arithmetic as Hashing.h60 on the literal string "p_d".
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s"${p}_$d".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.substring(0, 15)
        val h = java.lang.Long.parseLong(hex, 16)
        (h % 1000L).toDouble / 1000.0 - 0.5
      }
    }

  /** Sign-pattern LSH bucket id for a vector column: bit p = 1 iff
    * v·plane_p > 0, packed into a long.
    *
    * Planes are embedded as `typedlit` constant arrays (ONE Literal node
    * each) and dotted with the codegen'd expression: the earlier
    * `aggregate(zip_with(vec, array(lit…)))` form re-evaluated the
    * 64-literal CreateArray per ELEMENT inside the interpreted lambda —
    * O(dim²) literal evals per plane per row, measured as most of the
    * LSH bucketing cost. Callers must have GraftFunctions registered
    * (lshTopK / cosineNearDupPairsLsh do).
    */
  def lshBucket(vec: Column, planes: Seq[Array[Double]]): Column =
    planes.zipWithIndex.map { case (plane, p) =>
      val planeLit = typedlit(plane.toSeq)
      when(graft.functions.GraftFunctions.dotFast(vec, planeLit) > 0,
        shiftleft(lit(1L), p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Multi-table LSH approximate top-k: `nTables` independent sets of
    * `nPlanes` hyperplanes; each vector lands in one bucket per table;
    * candidates are the union over tables (an equi-join on
    * (table, bucket)), deduped, then exact-rescored. Standard recall
    * lever: P(candidate) = 1 − (1 − p^nPlanes)^nTables for match
    * probability p per plane — add tables for recall, planes for
    * selectivity. The join stays a plain shuffle/broadcast hash join
    * whose fan-in is bucket occupancy; no all-pairs scan.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nPlanes: Int = 8, dim: Int = 64,
      nTables: Int = 4): DataFrame = {
    // ONE constant-size expression for all tables' buckets
    // ([[graft.functions.LshBuckets]]): the per-table composable form
    // (nTables × nPlanes inlined literal dot products, twice — once per
    // join side) compiled for ~7 s cold at the 32-table recall config
    // and was re-cloned into the inferred join-key filters. posexplode's
    // position IS the table index, so the join key is unchanged.
    val planeBank = (0 until nTables).flatMap(t =>
      hyperplanes(nPlanes, dim, seedOffset = t * nPlanes))
    def bucketed(df: DataFrame, id: String, vec: String): DataFrame =
      df.select(col(idCol).as(id), col(vecCol).cast("array<double>").as(vec))
        .select(col(id), col(vec),
          posexplode(graft.functions.GraftFunctions
            .lshBuckets(col(vec), planeBank, nPlanes)))
        .withColumnRenamed("pos", "__t")
        .withColumnRenamed("col", "__b")
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val dotF = graft.functions.GraftFunctions.dotFast _
    val q = bucketed(queries, "query_id", "__qv")
    val c = bucketed(corpus, "neighbor_id", "__cv")
    val candidates = c.join(q, Seq("__t", "__b"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id", "__qv", "__cv")
      .dropDuplicates("query_id", "neighbor_id") // union over tables
    rankByCosine(candidates.withColumn("cosine",
      dotF(col("__qv"), col("__cv")) /
        (sqrt(dotF(col("__qv"), col("__qv"))) * sqrt(dotF(col("__cv"), col("__cv"))))), k)
  }

  /** IVF (inverted-file) approximate top-k: a KMeans coarse quantizer
    * partitions the corpus into `nCells` Voronoi cells; each query probes
    * its `nProbe` nearest cells and exact-rescores only those members.
    *
    * Scale shape: the centroid table is tiny (nCells × dim doubles) and
    * rides the closed form of the plan as literals — assignment is a
    * map-only argmin per row; the probe is an equi-join on cell id. At
    * 100 TB: fit the quantizer on a sample (KMeans over a 0.1% sample is
    * standard IVF practice), then the corpus pass is one map + one
    * bucket-keyed join. Recall rises with nProbe (nProbe = nCells ⇒
    * exact). Sizing: probe cost per query is O(nProbe · N/nCells), so
    * at scale choose nCells ≈ √N (the standard IVF heuristic) for
    * O(√N) probes — the default 16 suits the test corpus; unlike a
    * spatial grid resolution there is no quadratic failure mode in
    * getting it wrong, only a linear constant.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nCells: Int = 16, nProbe: Int = 4,
      fitSampleFraction: Double = 1.0): DataFrame = {
    val dotF = graft.functions.GraftFunctions.dotFast _
    val (assigned, probed) = ivfAssign(corpus, queries, idCol, vecCol,
      nCells, nProbe, fitSampleFraction)
    rankByCosine(assigned.join(probed, Seq("__cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", dotF(col("__qv"), col("__cv")) /
        (sqrt(dotF(col("__qv"), col("__qv"))) * sqrt(dotF(col("__cv"), col("__cv"))))), k)
  }

  /** Shared IVF candidate generation — the coarse-quantizer half of
    * [[ivfTopK]], extracted so the probe census below certifies the
    * EXACT candidate set the operator scans (not a reimplementation
    * that could drift). Returns (assigned corpus, probed queries), both
    * keyed by "__cell"; their equi-join IS the IVF candidate set.
    *
    * Coarse-quantizer training is DRIVER-LOCAL over a bounded sample —
    * the standard IVF recipe (FAISS trains its quantizer the same way):
    * the collect is O(min(sample, MaxFitSample) × dim), never O(corpus),
    * and a local Lloyd's loop over ≤65k × dim doubles is microseconds-
    * to-milliseconds where a distributed fit pays multiple scheduler
    * round-trips per iteration. Few iterations on purpose: the quantizer
    * only shapes buckets — ANN recall is governed by nProbe, not
    * centroid convergence.
    *
    * Cell ranking by distance SCORE |c|² − 2·v·c (the self-dot v·v is
    * constant per row, hence dropped — argmin and cell RANKING are
    * unchanged) as ONE codegen'd kernel: graft_centroid_cells returns
    * all cells sorted by (score, cell), so the corpus argmin is its
    * first element and a query's probe set its nProbe-prefix — same
    * constant-generated-code-size rationale as [[CentroidArgmax]]
    * (the unrolled array_min/array_sort-over-structs form was cloned
    * into inferred join-key filters at k×d expansion each).
    */
  private[graft] def ivfAssign(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, nCells: Int, nProbe: Int,
      fitSampleFraction: Double): (DataFrame, DataFrame) = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val corpusVec = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("__cv"))
    val centroids = localLloyd(fitSample((if (fitSampleFraction < 1.0)
      corpusVec.sample(fitSampleFraction, Seed) else corpusVec).select(col("__cv"))),
      nCells, Seed)
    def cells(vec: Column): Column =
      graft.functions.GraftFunctions.centroidCells(vec, centroids.toSeq)
    val assigned =
      corpusVec.withColumn("__cell", element_at(cells(col("__cv")), 1))
    val probed = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("__qv"))
      .withColumn("__cell", explode(slice(cells(col("__qv")), 1, nProbe)))
    (assigned, probed)
  }

  /** IVF probe census — sub-linearity certification for [[ivfTopK]]'s
    * candidate generation (VERDICT r12, Next round #3). One row:
    * n_corpus, n_queries, n_candidates (the pairs the probes actually
    * scan — the SAME assigned⋈probed join ivfTopK scores, via the
    * shared [[ivfAssign]]), probe_fraction = n_candidates / (Q × N),
    * and the nominal nProbe/nCells bound. On a balanced clustering
    * probe_fraction ≈ nProbe/nCells; certifying it ≤ the bound (plus
    * skew slack) is what proves the probing is SUB-LINEAR — recall
    * alone can't distinguish a sparse probe from a near-exhaustive one.
    */
  def ivfProbeCensus(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, nCells: Int = 16, nProbe: Int = 4,
      fitSampleFraction: Double = 1.0): DataFrame = {
    val (assigned, probed) = ivfAssign(corpus, queries, idCol, vecCol,
      nCells, nProbe, fitSampleFraction)
    val nCorpus = assigned.count()
    val nQueries = probed.select(col("query_id")).distinct().count()
    val cellSizes = assigned.groupBy("__cell")
      .agg(count(lit(1)).as("__sz"))
    probed.join(cellSizes, Seq("__cell"), "left")
      .agg(coalesce(sum(col("__sz")), lit(0L)).as("n_candidates"))
      .select(lit(nCorpus).as("n_corpus"), lit(nQueries).as("n_queries"),
        col("n_candidates"),
        (col("n_candidates").cast("double") / (nCorpus.toDouble * nQueries))
          .as("probe_fraction"),
        lit(nProbe.toDouble / nCells).as("nominal_bound"))
  }

  /** The bounded driver-local fit sample of a one-column vector frame. */
  private def fitSample(vectors: DataFrame): Array[Array[Double]] = {
    val fit = vectors.limit(MaxFitSample).collect()
      .map(_.getSeq[Double](0).toArray)
    require(fit.nonEmpty, "quantizer fit sample is empty")
    fit
  }

  /** Index of the center nearest `v` (squared L2, ties to the lower). */
  private def nearest(centers: Array[Array[Double]], v: Array[Double]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < centers.length) {
      val ctr = centers(c)
      var d = 0.0
      var i = 0
      while (i < v.length) { val t = v(i) - ctr(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Seeded Lloyd's k-means over an in-memory sample: random DISTINCT
    * points as initial centers (content-deduplicated first — a near-dup
    * corpus sample is full of identical vectors, and coincident initial
    * centers would leave permanently dead cells), five assign-average
    * rounds. Empty cells keep their previous center. Deterministic for a
    * fixed sample and seed.
    */
  private def localLloyd(samples: Array[Array[Double]], k: Int,
      seed: Long): Array[Array[Double]] = {
    val dim = samples.head.length
    val rnd = new scala.util.Random(seed)
    val distinct = samples.map(_.toVector).toVector.distinct
    val centers = rnd.shuffle(distinct).take(k).map(_.toArray).toArray
    val kEff = centers.length
    for (_ <- 0 until 5) {
      val sums = Array.fill(kEff)(new Array[Double](dim))
      val counts = new Array[Long](kEff)
      samples.foreach { v =>
        val best = nearest(centers, v)
        counts(best) += 1
        val s = sums(best)
        var i = 0
        while (i < dim) { s(i) += v(i); i += 1 }
      }
      var c = 0
      while (c < kEff) {
        if (counts(c) > 0) {
          var i = 0
          while (i < dim) { centers(c)(i) = sums(c)(i) / counts(c); i += 1 }
        }
        c += 1
      }
    }
    centers
  }

  /** PQ codebooks: subspace j's `ksub` centers fit (seed `seed0 + j`) on
    * the j-th `dim/m` slice, in the subspace-major ksub-run layout. */
  private def pqCodebooks(vectors: Array[Array[Double]], m: Int, ksub: Int,
      seed0: Long): Seq[Array[Double]] = {
    val dim = vectors.head.length
    require(dim % m == 0, s"dim=$dim must be a multiple of m=$m")
    val dsub = dim / m
    (0 until m).flatMap { j =>
      val subs = vectors.map(v =>
        java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
      val cents = localLloyd(subs, ksub, seed0 + j)
      // localLloyd returns ≤ ksub centers when the sample has fewer
      // distinct subvectors; pad by repeating the first center — the
      // layout needs exactly ksub rows per subspace, and a duplicate
      // center is never selected over its lower-index twin (strict-less
      // argmin), so results are unchanged.
      cents ++ Array.fill(ksub - cents.length)(cents.head)
    }
  }

  /** The IVF-PQ quantizer fit of [[ivfPqTopK]] and [[buildAnnIndex]]
    * over a unit-normalized corpus (`__v`): coarse cells, then codebooks
    * on the residuals v − c(v). Returns (coarse, codebooks).
    *
    * RESIDUAL encoding (the actual IVFADC of Jégou/Douze/Schmid §III,
    * round 13): the coarse quantizer strips the between-cell structure,
    * so the residual is exactly the within-cell detail — on a clustered
    * corpus raw-vector codes waste their entire resolution re-describing
    * the cell center and leave the within-blob ranking to quantization
    * noise (measured: recall@5 0.42 on 32 tight blobs at 100k rows;
    * residual codes with HALF the code budget certify ≥ 0.9 in PqSpec).
    * Residuals also have much lower variance than raw vectors, so a
    * smaller m/ksub reaches the same recall — which shrinks the
    * per-(query, cell) ADC table the candidate scan drags through cache.
    */
  private def fitIvfPq(c: DataFrame, nCells: Int, m: Int, ksub: Int)
      : (Seq[Array[Double]], Seq[Array[Double]]) = {
    val fit = fitSample(c.select(col("__v")))
    val coarse = localLloyd(fit, nCells, Seed)
    val residuals = fit.map { v =>
      val ctr = coarse(nearest(coarse, v))
      Array.tabulate(v.length)(i => v(i) - ctr(i))
    }
    (coarse.toSeq, pqCodebooks(residuals, m, ksub, Seed + 1000))
  }

  /** (outId, `__v` = v/‖v‖; zero vectors unchanged). */
  private def unitNorm(df: DataFrame, idCol: String, vecCol: String,
      outId: String): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val dotF = graft.functions.GraftFunctions.dotFast _
    df.select(col(idCol).as(outId), col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__n", sqrt(dotF(col("__v"), col("__v"))))
      .withColumn("__v", when(col("__n") > 0,
        transform(col("__v"), x => x / col("__n"))).otherwise(col("__v")))
      .drop("__n")
  }

  /** Per query, the `kAdc` nearest candidates by ADC as `__top`; the
    * zero-padded payload makes TopKScored's tie rule the lower id. */
  private def adcTop(candidates: DataFrame, ksub: Int, kAdc: Int): DataFrame =
    candidates.filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("__adc", graft.functions.GraftFunctions.pqAdcSum(
        col("__dtab"), col("__codes"), ksub))
      .groupBy("query_id")
      .agg(graft.functions.GraftFunctions.topK(-col("__adc"),
        lpad(col("neighbor_id").cast("string"), 20, "0"), kAdc).as("__top"))

  /** Exact re-rank of a (query_id, neighbor_id) shortlist: fetch full
    * (unit) vectors for the queries·k·refine surviving ids only — the
    * shortlist is tiny by construction, so it broadcasts and the
    * corpus-side fetch is a map-side semi-probe, never a corpus shuffle.
    */
  private def rerank(shortlist: DataFrame, corpusUnit: DataFrame,
      queriesUnit: DataFrame, k: Int): DataFrame = {
    val dotF = graft.functions.GraftFunctions.dotFast _
    val cv = corpusUnit.select(col("neighbor_id"), col("__v").as("__cv"))
      .join(broadcast(shortlist), Seq("neighbor_id"))
    rankByCosine(cv.join(broadcast(queriesUnit
        .select(col("query_id"), col("__v").as("__qv"))), Seq("query_id"))
      .withColumn("cosine", dotF(col("__qv"), col("__cv"))), k)
  }

  /** Product-quantization approximate top-k (Jégou/Douze/Schmid, TPAMI
    * 2011): vectors are unit-normalized (so squared-L2 rank order ==
    * cosine rank order: ‖a−b‖² = 2 − 2·cos on the unit sphere), split
    * into `m` subspaces, each quantized against its own `ksub`-entry
    * codebook (fit driver-local on a bounded sample, like the IVF
    * quantizer); the corpus compresses to m small codes per vector and
    * each query scores candidates by ADC — a per-query distance table
    * built ONCE ([[graft.functions.PqAdcTable]]) then m lookups per
    * candidate ([[graft.functions.PqAdcSum]]).
    *
    * Scale shape: this is the COMPRESSED-DOMAIN LINEAR SCAN (FAISS
    * IndexPQ): still one pass over the corpus per query batch, but the
    * scan reads m ints instead of d floats (8× less with m=8, d=64 —
    * at 100 TB that is the difference between scanning the corpus and
    * scanning a 12 TB code table) and scoring is m adds instead of a
    * d-wide dot. The top-k reduction is the O(k)-buffer
    * [[graft.functions.TopKScored]] aggregate, so the exchange carries
    * ≤ queries·k rows, never the N·Q scored stream (the window form
    * would shuffle all of it). For sub-linear candidate generation
    * compose with the IVF cells ([[ivfTopK]]) — IVF-PQ — or LSH
    * buckets.
    *
    * `refine` > 1 enables the standard re-ranking stage (FAISS's
    * IndexRefineFlat): the ADC scan keeps a k·refine shortlist, full
    * vectors are fetched for ONLY those rows, and exact cosine re-ranks
    * the shortlist to the final k ([[rerank]]). This is the
    * production PQ shape: quantization error then
    * only costs recall when a true neighbor falls outside the ADC
    * shortlist, not whenever it mis-orders the top k. Measured recall@5
    * here (64-dim near-uniform synthetic embeddings — the hard,
    * structureless case for any quantizer): ADC-only 0.10-0.66 across
    * m/ksub configs and sf0.001-0.1; m=16/ksub=64 + refine=20 reaches
    * 1.00/1.00/0.98 (see q_ann_pq, which certifies that config at
    * bound 0.9).
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, m: Int = 8, ksub: Int = 16,
      refine: Int = 1): DataFrame = {
    require(refine >= 1, "refine must be >= 1")
    val c = unitNorm(corpus, idCol, vecCol, "neighbor_id")
    val qUnit = unitNorm(queries, idCol, vecCol, "query_id")
    val codebooks = pqCodebooks(fitSample(c.select(col("__v"))), m, ksub, Seed)
    val coded = c.withColumn("__codes",
      graft.functions.GraftFunctions.pqEncode(col("__v"), codebooks, m))
      .select(col("neighbor_id"), col("__codes"))
    val q = qUnit.withColumn("__dtab",
      graft.functions.GraftFunctions.pqAdcTable(col("__v"), codebooks, m))
      .select(col("query_id"), col("__dtab"))
    val adcRanked = adcTop(coded.crossJoin(broadcast(q)), ksub, k * refine)
      .select(col("query_id"), posexplode(col("__top")))
      .select(col("query_id"),
        col("col.payload").cast("long").as("neighbor_id"),
        (col("pos") + 1).as("rank"),
        (-col("col.score")).as("adc_dist"))
    if (refine == 1) adcRanked
    else rerank(adcRanked.select("query_id", "neighbor_id"), c, qUnit, k)
  }

  /** IVF-PQ: the composed 100 TB ANN shape — IVF coarse cells make the
    * candidate set SUB-LINEAR (each query probes nProbe of nCells
    * Voronoi cells, ~nProbe·N/nCells candidates instead of N) and PQ
    * codes make each candidate CHEAP (m table lookups on m-int codes
    * instead of a d-float dot), with the exact re-rank of the k·refine
    * shortlist bounding the recall cost of quantization. Codes are
    * residual codes (IVFADC, see [[fitIvfPq]]); the refine stage
    * recovers the rest of the quantization error (certified in
    * q_ann_ivfpq).
    *
    * Plan shape: everything the two parents already proved — map-only
    * cell assignment + PQ encoding (constant-size codegen kernels with
    * driver-fit literal matrices), an equi-join on cell id, the
    * O(k·refine)-buffer top-k aggregate, and a broadcast semi-probe
    * for the shortlist vectors. No all-pairs scan anywhere.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nCells: Int = 16, nProbe: Int = 4,
      m: Int = 8, ksub: Int = 16, refine: Int = 10): DataFrame = {
    require(refine >= 1, "refine must be >= 1")
    val c = unitNorm(corpus, idCol, vecCol, "neighbor_id")
    val (coarse, codebooks) = fitIvfPq(c, nCells, m, ksub)
    ivfPqSearchWith(coarse, codebooks, m, ksub, ivfPqEncode(c, coarse, codebooks, m),
      c, unitNorm(queries, idCol, vecCol, "query_id"), k, nProbe, refine)
  }

  /** `__res` = `__v` − the center of its `__cell`. The center is a column
    * FIRST: a zip_with lambda re-evaluates non-attribute subtrees per
    * element. */
  private def withResidual(df: DataFrame, coarse: Seq[Array[Double]]): DataFrame =
    df.withColumn("__ctr",
        element_at(typedlit(coarse.map(_.toSeq)), col("__cell").cast("int") + 1))
      .withColumn("__res", zip_with(col("__v"), col("__ctr"), (a, b) => a - b))

  /** Residual-encode a unit-normalized corpus (`neighbor_id`, `__v`)
    * against a fitted IVF-PQ quantizer: assign the nearest coarse cell,
    * PQ-encode the residual. Output (neighbor_id, __cell, __codes) —
    * the compressed index-codes table, map-only.
    */
  private def ivfPqEncode(corpusUnit: DataFrame, coarse: Seq[Array[Double]],
      codebooks: Seq[Array[Double]], m: Int): DataFrame = {
    withResidual(corpusUnit.withColumn("__cell", element_at(
        graft.functions.GraftFunctions.centroidCells(col("__v"), coarse), 1)), coarse)
      .withColumn("__codes",
        graft.functions.GraftFunctions.pqEncode(col("__res"), codebooks, m))
      .select(col("neighbor_id"), col("__cell"), col("__codes"))
  }

  /** The search half of IVF-PQ, shared by the fit-inline [[ivfPqTopK]]
    * and the stored-index [[searchAnnIndex]] paths: probe-cell explode,
    * per-(query, cell) residual ADC tables, the cell equi-join against
    * the codes table, the O(k·refine) top-k aggregate, exact re-rank of
    * the broadcast shortlist. `coded` is (neighbor_id, __cell, __codes);
    * `corpusUnit`/`queriesUnit` are unit-normalized (id, __v).
    */
  private def ivfPqSearchWith(coarse: Seq[Array[Double]],
      codebooks: Seq[Array[Double]], m: Int, ksub: Int, coded: DataFrame,
      corpusUnit: DataFrame, queriesUnit: DataFrame,
      k: Int, nProbe: Int, refine: Int): DataFrame = {
    // the query's ADC table is PER PROBED CELL (its residual is relative
    // to that cell's center) — built after the explode, nProbe tables
    // per query, each m·ksub doubles.
    val q = withResidual(queriesUnit.withColumn("__cell", explode(slice(
        graft.functions.GraftFunctions.centroidCells(col("__v"), coarse),
        1, nProbe))), coarse)
      .withColumn("__dtab",
        graft.functions.GraftFunctions.pqAdcTable(col("__res"), codebooks, m))
      .select(col("query_id"), col("__cell"), col("__dtab"))
    val shortlist = adcTop(coded.join(broadcast(q), Seq("__cell")), ksub, k * refine)
      .select(col("query_id"), explode(col("__top")).as("e"))
      .select(col("query_id"), col("e.payload").cast("long").as("neighbor_id"))
    rerank(shortlist, corpusUnit, queriesUnit, k)
  }

  /** Fails the task on a `__v` whose length is not the index's `dim`
    * (the kernels would read missing elements as 0), inside the caller's
    * own projection, so no Spark job is added. */
  private def requireDim(df: DataFrame, dim: Int): DataFrame = {
    val len = array_size(col("__v"))
    df.withColumn("__v", when(len =!= dim, raise_error(concat(
        lit("vector length "), len.cast("string"),
        lit(s" does not match the index dim $dim"))))
      .otherwise(col("__v")))
  }

  /** Build and PERSIST an IVF-PQ (residual/IVFADC) index: fit the
    * quantizer ([[fitIvfPq]], as [[ivfPqTopK]] does), residual-encode
    * the corpus, and write four parquet artifacts under `path`:
    *
    *  - `meta` — one row (dim, m, ksub, n_cells); written LAST as the
    *    build-complete marker (rebuild checks key on it);
    *  - `coarse` — (cell_id, center), nCells rows;
    *  - `pq` — (subspace, code, center), m·ksub rows;
    *  - `codes` — (neighbor_id, codes) PARTITIONED BY cell.
    *
    * The cell partitioning IS the probe structure at rest: a search
    * reads only its probed cells' directories (partition pruning), so
    * index I/O is ~nProbe/nCells of the code table — the sub-linear
    * candidate scan survives the round-trip to storage. This is the
    * real 100 TB serving shape the inline [[ivfPqTopK]] certification
    * rows can't show: they re-fit the quantizer driver-side on every
    * run, paying the one-time build cost per query
    * (VERDICT r13, Next round #3 — the q_ann_* 100× single-query
    * ratios). Build once, then [[searchAnnIndex]] pays query cost only.
    *
    * Everything stored is bounded: nCells·dim + m·ksub·(dim/m) doubles
    * of quantizer state, m bytes-ish per corpus row of codes.
    */
  def buildAnnIndex(corpus: DataFrame, idCol: String, vecCol: String,
      path: String, nCells: Int = 16, m: Int = 8, ksub: Int = 16): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = unitNorm(corpus, idCol, vecCol, "neighbor_id")
    val (coarse, codebooks) = fitIvfPq(c, nCells, m, ksub)
    coarse.zipWithIndex.map { case (ctr, i) => (i, ctr.toSeq) }
      .toDF("cell_id", "center")
      .write.mode("overwrite").parquet(s"$path/coarse")
    codebooks.zipWithIndex.map { case (ctr, i) => (i / ksub, i % ksub, ctr.toSeq) }
      .toDF("subspace", "code", "center")
      .write.mode("overwrite").parquet(s"$path/pq")
    ivfPqEncode(c, coarse, codebooks, m)
      .select(col("neighbor_id"), col("__codes").as("codes"),
        col("__cell").cast("int").as("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/codes")
    // meta is the build-complete marker: written LAST, so an interrupted
    // build leaves no meta and callers keying existence on it rebuild
    // instead of serving a partially-committed codes table.
    Seq((coarse.head.length, m, ksub, coarse.length)).toDF("dim", "m", "ksub", "n_cells")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Incrementally add vectors to a PERSISTED [[buildAnnIndex]] index:
    * load the bounded quantizer state, residual-encode the new rows with
    * the EXISTING codebooks (a production index never re-fits on
    * append — re-fitting would silently re-code nothing while new data
    * drifts; monitor that with the drift family instead), and append
    * the new codes into the cell-partitioned codes table. Map-only over
    * the new rows; the stored quantizer is untouched, so concurrent
    * [[searchAnnIndex]] readers see either the old or the extended
    * corpus, never a half-written quantizer. New rows must have the
    * index's dim ([[requireDim]]).
    */
  def appendAnnIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      newRows: DataFrame, idCol: String, vecCol: String): Unit = {
    val (dim, m, _, coarse, codebooks) = loadAnnIndex(spark, path)
    ivfPqEncode(requireDim(unitNorm(newRows, idCol, vecCol, "neighbor_id"), dim),
        coarse, codebooks, m)
      .select(col("neighbor_id"), col("__codes").as("codes"),
        col("__cell").cast("int").as("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$path/codes")
  }

  /** Load a [[buildAnnIndex]] quantizer driver-side:
    * (dim, m, ksub, coarse centers by cell_id, PQ codebooks in
    * subspace-major ksub-run layout). Bounded state — never corpus-sized.
    */
  def loadAnnIndex(spark: org.apache.spark.sql.SparkSession, path: String)
      : (Int, Int, Int, Seq[Array[Double]], Seq[Array[Double]]) = {
    val meta = spark.read.parquet(s"$path/meta").head()
    val coarse = spark.read.parquet(s"$path/coarse")
      .orderBy("cell_id").collect()
      .map(_.getSeq[Double](1).toArray).toSeq
    val codebooks = spark.read.parquet(s"$path/pq")
      .orderBy("subspace", "code").collect()
      .map(_.getSeq[Double](2).toArray).toSeq
    (meta.getAs[Int]("dim"), meta.getAs[Int]("m"), meta.getAs[Int]("ksub"),
      coarse, codebooks)
  }

  /** ANN search against a PERSISTED [[buildAnnIndex]] index: load the
    * bounded quantizer state, scan only the probed cells of the stored
    * code table (cell partition pruning — the nProbe/nCells I/O shape),
    * exact-re-rank the shortlist against `corpus` (the raw vector table
    * the serving layer keeps anyway; codes alone can't re-rank).
    * Same output contract as [[ivfPqTopK]]; queries must have the
    * index's dim ([[requireDim]]).
    */
  def searchAnnIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbe: Int = 4, refine: Int = 10): DataFrame = {
    val (dim, m, ksub, coarse, codebooks) = loadAnnIndex(spark, path)
    // STATIC partition pruning, not DPP-by-heuristic: the probed cell
    // union is computable up front from the serving-sized query set and
    // the driver-resident coarse quantizer (one tiny job — queries × k
    // cell scores), so filter the partition column directly. The codes
    // scan then carries `PartitionFilters: cell IN (…)` unconditionally
    // — ~|∪probes|/nCells of the index I/O — instead of depending on
    // the optimizer electing dynamic pruning for the __cell join
    // (PlanSpec pins this shape). Semantics unchanged: the search join
    // keys on __cell, so rows outside the probed set never matched.
    // The normalized query set is materialized ONCE (eager
    // localCheckpoint — it is serving-sized by construction) and reused
    // for both the probe collect and the search join: evaluating
    // `queries` twice is only safe for deterministic inputs, and a
    // non-deterministic source (sampled/streamed queries) could
    // otherwise probe one cell set and search another, silently
    // dropping candidates (ADVICE r15).
    val normQ = requireDim(unitNorm(queries, idCol, vecCol, "query_id"), dim)
      .graftCheckpoint()
    val probed = normQ
      .select(explode(slice(
        graft.functions.GraftFunctions.centroidCells(col("__v"), coarse),
        1, nProbe)).as("__c"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val coded = spark.read.parquet(s"$path/codes")
      .filter(col("cell").isInCollection(probed))
      .select(col("neighbor_id"), col("cell").cast("int").as("__cell"),
        col("codes").as("__codes"))
    ivfPqSearchWith(coarse, codebooks, m, ksub, coded,
      unitNorm(corpus, idCol, vecCol, "neighbor_id"),
      normQ, k, nProbe, refine)
  }

  /** Recall@k certification row: how much of the EXACT top-k an
    * approximate top-k recovered, reduced to one row an external
    * value-level oracle can reconstruct. Both inputs carry
    * (query_id, neighbor_id) — the [[bruteTopK]]/[[lshTopK]]/[[ivfTopK]]
    * output shape. `n_queries` and `n_exact` derive from the exact side
    * alone (any engine recomputes them from the data); the boolean
    * `recall_ok = recall >= bound` is the bridge that lets a hash-checked
    * oracle certify an approximate algorithm: the oracle asserts TRUE,
    * so if recall ever drops below the committed bound the row flips and
    * the compare goes red. Deterministic because the ANN paths are
    * hash-derived (LSH planes) or seeded (IVF quantizer).
    *
    * Scale shape: one equi-join on (query_id, neighbor_id) — both sides
    * are O(queries × k), never O(corpus) — and a single global aggregate.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame, bound: Double): DataFrame = {
    // both sides are O(queries × k); broadcasting the probe side keeps
    // the certification join exchange-free (it was a sort-merge join of
    // two 50-row tables — harmless but noise in every ANN plan)
    val marked = exact.select("query_id", "neighbor_id")
      .join(broadcast(approx.select(col("query_id"), col("neighbor_id"),
          lit(1L).as("__hit"))),
        Seq("query_id", "neighbor_id"), "left")
    marked
      .agg(countDistinct(col("query_id")).cast("long").as("n_queries"),
        count(lit(1)).as("n_exact"),
        (sum(coalesce(col("__hit"), lit(0L))) / count(lit(1))).as("__recall"))
      .select(col("n_queries"), col("n_exact"),
        lit(bound).as("recall_bound"),
        (col("__recall") >= lit(bound)).as("recall_ok"))
  }

  private def normed(vectors: DataFrame, idCol: String, vecCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(vectors.sparkSession)
    val dotF = graft.functions.GraftFunctions.dotFast _
    vectors.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__n", sqrt(dotF(col("__v"), col("__v"))))
  }

  private def pairsAboveThreshold(a: DataFrame, b: DataFrame,
      threshold: Double): DataFrame = {
    val dotF = graft.functions.GraftFunctions.dotFast _
    a.join(b, Seq("__blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", dotF(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** EXACT embedding near-duplicate pairs: every (idA < idB) pair with
    * cosine ≥ `threshold`. A BLOCKED all-pairs compare ("1-bucket-theta"
    * replication) — the left side is replicated into all `blocks` blocks
    * and the right side keyed by its own block, so the inherent O(N²)
    * compare spreads evenly over `blocks` reducers instead of funneling
    * through one constant join key. Each pair (x, y) meets at exactly one
    * key — block(y) — so the join emits no duplicates and needs no
    * post-dedup shuffle. Use when completeness is required and N is
    * bounded (the compare is still quadratic in N).
    */
  def cosineNearDupPairsExact(vectors: DataFrame, idCol: String, vecCol: String,
      threshold: Double, blocks: Int = 32): DataFrame = {
    val v = normed(vectors, idCol, vecCol)
    val left = v.select(col(idCol).as("id_a"), col("__v").as("__va"),
        col("__n").as("__na"))
      .withColumn("__blk", explode(array((0 until blocks).map(lit): _*)))
    val right = v.select(col(idCol).as("id_b"), col("__v").as("__vb"),
        col("__n").as("__nb"))
      .withColumn("__blk", pmod(xxhash64(col("id_b")), lit(blocks)).cast("int"))
    pairsAboveThreshold(left, right, threshold)
  }

  /** APPROXIMATE embedding near-duplicate pairs: the 100 TB path.
    * Sign-pattern LSH buckets — a pair is compared only if all `nPlanes`
    * hyperplane signs agree, so a cross-bucket pair is missed with
    * probability rising in `nPlanes` (lower nPlanes for recall, raise for
    * selectivity; recall at a given cosine threshold θ is roughly
    * (1 − arccos(θ)/π)^nPlanes). The join fan-in is bucket occupancy,
    * never the corpus — linear shuffle, no quadratic compare.
    *
    * Deliberately a separate method from [[cosineNearDupPairsExact]]: the
    * exact/approximate choice must be visible at the call site, never
    * flipped by a default or a positional boolean.
    */
  def cosineNearDupPairsLsh(vectors: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nPlanes: Int = 8, dim: Int = 64): DataFrame = {
    val v = normed(vectors, idCol, vecCol)
    val withB = v.withColumn("__blk",
      lshBucket(col("__v"), hyperplanes(nPlanes, dim)))
    val a = withB.select(col(idCol).as("id_a"), col("__v").as("__va"),
      col("__n").as("__na"), col("__blk"))
    val b = withB.select(col(idCol).as("id_b"), col("__v").as("__vb"),
      col("__n").as("__nb"), col("__blk"))
    pairsAboveThreshold(a, b, threshold)
  }

  /** Distributed spherical k-means (max-cosine assignment + per-cluster
    * mean update — Dhillon & Modha 2001, the text/embedding-clustering
    * standard): the corpus-clustering operator a mixture/curriculum
    * pipeline needs (cluster-balanced sampling, SemDeDup's own
    * prerequisite when no labels exist to seed [[labelCentroids]]).
    *
    * Scale shape per iteration: assignment is a MAP-ONLY projection —
    * the centroid matrix rides inside one codegen'd
    * [[graft.functions.CentroidArgmax]] kernel (constant generated-code
    * size in k) — and the update is ONE groupBy((cluster, dim)).avg
    * whose result is k×dim rows collected to the driver (bounded by the
    * cluster count, never the corpus; the same boundedness class as the
    * IVF quantizer fit). No per-row state, no self-joins.
    *
    * Centroids are quantized to 6 dp between rounds: the means are then
    * exact decimals any engine reproduces, so the WHOLE ITERATION CHAIN
    * is value-level checkable by an external oracle (q_kmeans) — the
    * same contract as [[labelCentroids]]/q_embedding_centroids. The
    * quantization is 6 orders of magnitude below the data scale and
    * does not move the clustering. An empty cluster is DROPPED (k
    * shrinks) — deliberately NOT localLloyd's keep-the-seed rule: the
    * oracle's mean CTE only produces rows for clusters with members, so
    * a kept stale center would let Spark assign vectors to a cluster
    * the SQL replay cannot see, breaking value parity on exactly the
    * data where it matters. Deterministic for a fixed `init` — pass
    * [[labelCentroids]] output, or any k corpus rows.
    *
    * For production-size k where cross-engine reproducibility is not
    * required, MLlib's KMeans (seeded random init, Euclidean) is the
    * library alternative; this operator exists for the deterministic
    * pipeline contract.
    */
  def kmeansFit(vectors: DataFrame, vecCol: String,
      init: Seq[(Int, Array[Double])], iters: Int): Seq[(Int, Array[Double])] = {
    graft.functions.GraftFunctions.register(vectors.sparkSession)
    var cents = init.sortBy(_._1)
    for (_ <- 0 until iters) {
      val assigned = vectors
        .select(col(vecCol).cast("array<double>").as("__v"))
        .withColumn("__cl",
          graft.functions.GraftFunctions.centroidArgmax(col("__v"), cents))
      // empty clusters produce no mean rows and drop out here — the
      // oracle-parity rule (scaladoc above)
      cents = collectKeyedMeans(assigned, col("__cl"), col("__v"))
    }
    cents
  }

  /** 6-dp-rounded per-(key, dim) mean vectors, collected and assembled
    * driver-side: the shared kernel of [[labelCentroids]] and
    * [[kmeansFit]]. The rounding and dim ordering are ORACLE-PARITY
    * CRITICAL (q_embedding_centroids / q_kmeans replay them in SQL) —
    * one copy so they cannot drift. The collect is O(#keys × dim),
    * never the corpus.
    */
  private def collectKeyedMeans(df: DataFrame, key: Column,
      vec: Column): Seq[(Int, Array[Double])] =
    df.select(key.cast("int").as("__k"),
        posexplode(vec.cast("array<double>")).as(Seq("__dim", "__e")))
      .groupBy("__k", "__dim").agg(round(avg(col("__e")), 6).as("__c"))
      .collect()
      .groupBy(_.getInt(0))
      .map { case (k, rows) =>
        k -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray
      }
      .toSeq.sortBy(_._1)

  /** Deterministic LABEL-FREE initializer for [[kmeansFit]]: the k
    * content-distinct vectors with the lowest ids, as clusters 0..k−1
    * in id order. Content-dedup first (localLloyd's rationale: a
    * near-dup corpus head is full of identical vectors, and coincident
    * seeds are permanently dead cells); no randomness, so the whole
    * unlabeled pipeline — [[graft.operators.TextOps.hashedVectors]] →
    * this → [[kmeansFit]] — is a pure function of the corpus that an
    * external oracle can replay (q_text_clusters). The collect is
    * O(k × dim); the dedup is one groupBy on the vector value whose
    * output the global min-id sort reduces to k rows.
    */
  def kmeansInitByMinId(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int): Seq[(Int, Array[Double])] = {
    require(k > 0, s"k must be positive, got $k")
    vectors
      .select(col(idCol).cast("long").as("__id"),
        col(vecCol).cast("array<double>").as("__v"))
      .groupBy("__v").agg(min(col("__id")).as("__id"))
      .orderBy("__id")
      .limit(k)
      .collect()
      .zipWithIndex
      .map { case (r, i) => i -> r.getSeq[Double](0).toArray }
      .toSeq
  }

  /** Map-only cluster assignment for [[kmeansFit]] centroids: one
    * codegen'd argmax-cosine kernel, ties to the lowest cluster id.
    */
  def kmeansAssign(vectors: DataFrame, idCol: String, vecCol: String,
      cents: Seq[(Int, Array[Double])]): DataFrame = {
    graft.functions.GraftFunctions.register(vectors.sparkSession)
    vectors.select(col(idCol),
      graft.functions.GraftFunctions.centroidArgmax(
        col(vecCol).cast("array<double>"), cents).as("cluster"))
  }

  /** Per-label mean embeddings as coarse-quantizer centroids, rounded to
    * 6 dp so the DuckDB oracle can reproduce them exactly (same contract
    * as `q_embedding_centroids`, which hash-matches the rounded means).
    * The collect is O(#labels × dim) — label cardinality IS the cluster
    * count (bounded, like the IVF quantizer sample), never the corpus.
    */
  def labelCentroids(vectors: DataFrame, vecCol: String,
      labelCol: String): Seq[(Int, Array[Double])] =
    collectKeyedMeans(vectors, col(labelCol), col(vecCol))

  /** SemDeDup-style semantic deduplication (cluster-then-prune, the
    * published recipe of Abbas et al. 2023, arXiv:2303.09540): assign
    * every vector to its max-cosine coarse centroid, then WITHIN each
    * cluster drop any vector that has a lower-id cluster-mate with
    * cosine ≥ `threshold`. Output: the kept (id, cluster) rows.
    *
    * Scale shape: assignment is a PURE PROJECTION — centroids ride as
    * `typedlit` constants through the codegen'd dot, argmax via
    * `array_min` over (−cos, cluster) structs (ties to the lowest
    * cluster id), so the corpus never shuffles to be assigned. The
    * near-dup probe is a cluster-keyed self-join: the quadratic compare
    * is bounded per cluster (≈(N/k)² per cell, the SemDeDup contract —
    * size k with the corpus), never all-pairs. One shuffle on the
    * cluster key + the id-keyed anti-join.
    */
  /** Max-cosine coarse-centroid assignment as a PURE PROJECTION over a
    * normed `(id, __v, __n)` relation: ONE codegen'd
    * [[graft.functions.CentroidArgmax]] expression (centroid matrix as
    * a primitive reference object, constant-size k×d loop) — ties to
    * the lowest cluster id, zero shuffle. Replaced the composable
    * `array_min` over (−cos, cluster) structs: that form unrolls k
    * d-element literals into the generated code and Catalyst clones
    * the whole expansion into the `isnotnull(cluster)` filters it
    * infers under joins (measured ~10× this loop at k=10, d=64).
    * Internal building block for [[semanticDedup]] /
    * [[assignToCentroids]].
    */
  private def withClusterAssignment(v: DataFrame,
      centroids: Seq[(Int, Array[Double])]): DataFrame = {
    graft.functions.GraftFunctions.register(v.sparkSession)
    v.withColumn("cluster",
      graft.functions.GraftFunctions.centroidArgmax(col("__v"), centroids))
  }

  /** (id, cluster) for every vector — the standalone coarse-quantizer
    * assignment (map-only; see [[withClusterAssignment]]).
    */
  def assignToCentroids(vectors: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Int, Array[Double])]): DataFrame =
    withClusterAssignment(normed(vectors, idCol, vecCol), centroids)
      .select(col(idCol), col("cluster"))

  /** `blocks = 0` (the default) derives the sub-block count from the
    * session: enough that cluster-count × blocks ≈ 4× the shuffle
    * partition count (so the hot cluster spreads and the scheduler can
    * balance), capped at 16 — the replication factor IS the shuffled
    * bytes multiplier on the `a` side, so a flat 16 overpays when the
    * centroid count alone already saturates the reducers (k=256 on 32
    * partitions needs 1 block, not 16). Pass an explicit positive
    * `blocks` to pin it.
    */
  def semanticDedup(vectors: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Int, Array[Double])], threshold: Double,
      blocks: Int = 0): DataFrame = {
    require(blocks >= 0, "blocks must be positive (or 0 = derive)")
    val nBlocks =
      if (blocks > 0) blocks
      else {
        val parts = vectors.sparkSession.sessionState.conf.numShufflePartitions
        math.min(16, math.max(1,
          math.ceil(4.0 * parts / math.max(1, centroids.size)).toInt))
      }
    val dotF = graft.functions.GraftFunctions.dotFast _
    val assigned = withClusterAssignment(
      normed(vectors, idCol, vecCol), centroids)
    // The intra-cluster compare joins on (cluster, __blk), NOT cluster
    // alone: a bare cluster key bounds reduce parallelism by the
    // CLUSTER COUNT — with k centroids the whole corpus-squared/k
    // compare funnels through ≤k reducers no matter how many executors
    // exist (and SemDeDup clusters grow ~N/k with the corpus, so that
    // per-reducer cost scales with N²). The 1-bucket-theta replication
    // of [[cosineNearDupPairsExact]] applied WITHIN each cluster — left
    // side into all `blocks` sub-blocks, right side keyed by its own
    // id hash — spreads each cluster over `blocks` reducers; each pair
    // still meets at exactly one key, (cluster, blk(id_b)), so no
    // duplicates and no post-dedup shuffle.
    val a = assigned.select(col("cluster"), col(idCol).as("id_a"),
        col("__v").as("__va"), col("__n").as("__na"))
      .withColumn("__blk", explode(array((0 until nBlocks).map(lit): _*)))
    val b = assigned.select(col("cluster"), col(idCol).as("id_b"),
        col("__v").as("__vb"), col("__n").as("__nb"))
      .withColumn("__blk", pmod(xxhash64(col("id_b")), lit(nBlocks)).cast("int"))
    // no distinct() on the dropped ids: left_anti semantics are already
    // multiplicity-insensitive, so deduplicating first would only add a
    // shuffle
    val dropped = a.join(b, Seq("cluster", "__blk"))
      .filter(col("id_a") < col("id_b"))
      .filter(dotF(col("__va"), col("__vb")) / (col("__na") * col("__nb"))
        >= threshold)
      .select(col("id_b").as("__dropped_id"))
    assigned
      .join(dropped, assigned(idCol) === dropped("__dropped_id"), "left_anti")
      .select(col(idCol), col("cluster"))
  }

  /** Hard-negative mining for contrastive training: each query's k
    * highest-cosine corpus neighbors EXCLUDING its own coarse cluster —
    * the standard "semantically close but not a positive" negative set
    * (same-cluster vectors are treated as likely positives/near-dups
    * and skipped). EXACT: every cross-cluster pair is scored (blocked
    * broadcast cross join, the [[bruteTopK]] shape), the cluster filter
    * runs BEFORE ranking, so the result is the true top-k — no
    * candidate-pool recall knob to mis-set. Assignment is the map-only
    * centroid projection; the only shuffle is the per-query rank
    * window.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int,
      centroids: Seq[(Int, Array[Double])]): DataFrame = {
    val dotF = graft.functions.GraftFunctions.dotFast _
    val c = withClusterAssignment(normed(corpus, idCol, vecCol), centroids)
      .select(col(idCol).as("neighbor_id"), col("__v").as("__cv"),
        col("__n").as("__cn"), col("cluster").as("__ncl"))
    val q = withClusterAssignment(normed(queries, idCol, vecCol), centroids)
      .select(col(idCol).as("query_id"), col("__v").as("__qv"),
        col("__n").as("__qn"), col("cluster").as("__qcl"))
    rankByCosine(c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id")
        && col("__ncl") =!= col("__qcl"))
      .withColumn("cosine",
        dotF(col("__qv"), col("__cv")) / (col("__qn") * col("__cn"))),
      k, col("__ncl").as("neighbor_cluster"))
  }

  /** Symmetric int8 scalar quantization of an embedding column — the
    * standard 4× storage/bandwidth compression for warehouse-scale
    * vector tables (a 100 TB float corpus ships as 25 TB of bytes).
    * Per vector: scale = 127 / max|v_i| and q_i = round(v_i · scale),
    * so every component lands in [−127, 127]; the inverse scale is
    * emitted for dequantization. An all-zero vector quantizes to zeros
    * with inv_scale 0. Map-only pure column math (no UDF, no shuffle);
    * deterministic and reproducible in ANSI SQL, so quantized results
    * are oracle-checkable bit-for-bit.
    */
  def quantizeInt8(vectors: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val maxAbs = array_max(transform(v, x => abs(x)))
    // inv_scale is maxAbs/127 computed DIRECTLY (not 1/scale): a single
    // IEEE division is reproduced bit-for-bit by the oracle, where the
    // double-division round trip differs in the last ulp.
    // explode(array(·)) pins ONE evaluation of the array_max per row:
    // a plain alias would be CollapseProject-inlined into the transform
    // lambda below and re-reduce the whole vector PER ELEMENT (O(dim²)).
    // (Same Generate-barrier trick as Queries.evalOnce — keep the two
    // in sync if a Spark upgrade changes optimizer behavior.)
    vectors
      .withColumn("__ma", explode(array(maxAbs)))
      .withColumn("__scale",
        when(col("__ma") > 0.0, lit(127.0) / col("__ma")).otherwise(lit(0.0)))
      .select(col(idCol),
        transform(v, x => round(x * col("__scale"), 0).cast("int"))
          .as("qvec"),
        when(col("__ma") > 0.0, col("__ma") / 127.0)
          .otherwise(lit(0.0)).as("inv_scale"))
  }

  /** Exact cosine top-k over int8-QUANTIZED vectors: cosine is scale-
    * invariant, so the per-vector quantization scale cancels and the
    * search runs directly on the integer codes — dot products of
    * [−127, 127] ints are EXACT in double arithmetic (≤ 127²·dim ≪ 2⁵³),
    * which is what makes the quantized search deterministically
    * reproducible across engines (unlike the float path, where only the
    * shared left-to-right accumulation order guarantees parity).
    * Same plan shape as [[bruteTopK]]: broadcast query side, one
    * window shuffle keyed by query id.
    */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val qz = quantizeInt8(corpus, idCol, vecCol)
      .select(col(idCol), col("qvec").cast("array<double>").as("__qz"))
    val qzQ = quantizeInt8(queries, idCol, vecCol)
      .select(col(idCol), col("qvec").cast("array<double>").as("__qz"))
    bruteTopK(qz, qzQ, idCol, "__qz", k)
  }

  /** Johnson–Lindenstrauss-style random projection: map `inDim`-wide
    * vectors onto `outDim` deterministic pseudo-random hyperplanes
    * ([[hyperplanes]] — the same h60-derived constants the LSH family
    * embeds, so an oracle can inline them) — the dimensionality-
    * reduction companion to int8 quantization ([[quantizeInt8]]
    * shrinks bytes per component; this shrinks components). Output
    * components are raw `⟨v, plane_i⟩` dots; callers wanting the JL
    * distance-preservation normalization multiply by √(inDim/outDim)
    * themselves — leaving the constant out keeps the projection
    * bit-portable (one fused multiply could differ across engines).
    *
    * Scale shape: pure map — `outDim` codegen'd dots per row with the
    * plane bank as typedlit constants; no shuffle, pipelines with the
    * scan like every featurizer here.
    *
    * Output: (idCol, dim, p) exploded — one row per projected
    * component, rounded to 6 dp.
    */
  def randomProject(vectors: DataFrame, idCol: String, vecCol: String,
      inDim: Int, outDim: Int, seedOffset: Int = 7000): DataFrame = {
    require(outDim > 0 && inDim > 0, "dims must be positive")
    graft.functions.GraftFunctions.register(vectors.sparkSession)
    val dotF = graft.functions.GraftFunctions.dotFast _
    val planes = hyperplanes(outDim, inDim, seedOffset)
    val proj = array(planes.map(p =>
      round(dotF(col("__v"), typedlit(p.toSeq)), 6)): _*)
    vectors.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
      .select(col(idCol), posexplode(proj).as(Seq("dim", "p")))
      .select(col(idCol), col("dim").cast("long").as("dim"), col("p"))
  }

  /** Maximal Marginal Relevance selection (Carbonell & Goldstein 1998):
    * greedily pick `k` corpus vectors maximizing
    * λ·cos(query, v) − (1−λ)·max over already-selected s of cos(v, s) —
    * the diversity-aware counterpart of plain top-k, and the standard
    * "relevant but not redundant" exemplar-selection shape for few-shot
    * pools and eval-set construction. Round 1's score is λ·cos(query,v)
    * (no redundancy term yet); ties break to the lowest id.
    *
    * Scale shape (shortlist-batched greedy, VERDICT r12 Next round #5):
    * per-row norms and query relevance are computed ONCE into a compact
    * checkpointed relation (id, vec, norm, rel). Each DISTRIBUTED round
    * then fetches the top-`shortlist` remaining candidates by current
    * exact MMR score (selected set riding as typedlit constants through
    * the codegen'd dot — one TakeOrdered job), and the greedy loop
    * continues DRIVER-LOCAL inside that shortlist. The local picks stay
    * globally exact because MMR scores are MONOTONE NON-INCREASING in
    * the selected set (adding an exemplar can only raise a candidate's
    * redundancy term): every candidate outside the shortlist scored ≤
    * the fetch-time floor (the c-th shortlist score) and can only fall
    * further, so while the best locally-updated score strictly beats
    * that floor, no outside candidate can win — on a tie at the floor
    * the id order is no longer certifiable, so the loop refetches. The
    * first pick after each fetch is unconditionally safe (the fetch IS
    * the global argmax, ties included, because the shortlist is ordered
    * (score desc, id asc)), which guarantees ≥ 1 pick per job and so at
    * most k jobs even adversarially; in practice jobs ≈ k/shortlist.
    * All driver-side arithmetic (sequential-fold dot, norm product,
    * λ·rel − (1−λ)·max form) mirrors the distributed expressions
    * operation-for-operation, so batched and per-round selection are
    * bit-identical (q_mmr_select's oracle replays the greedy sequence).
    *
    * Output: (rank, idCol, mmr_score) — score rounded to 6 dp.
    */
  def mmrSelect(corpus: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], k: Int, lambda: Double,
      shortlist: Int = 512): DataFrame = {
    require(k > 0, "k must be positive")
    require(lambda >= 0.0 && lambda <= 1.0, s"bad lambda $lambda")
    require(shortlist >= 1, "shortlist must be positive")
    val spark = corpus.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val dotF = graft.functions.GraftFunctions.dotFast _
    // sequential-fold norm, matching the SQL/dotFast accumulation order
    val qn = math.sqrt(query.map(x => x * x).sum)
    val base = corpus.select(col(idCol).cast("long").as("__id"),
        col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__n", sqrt(dotF(col("__v"), col("__v"))))
      .withColumn("__rel",
        dotF(typedlit(query.toSeq), col("__v")) / (lit(qn) * col("__n")))
      .graftCheckpoint()

    // driver-local twin of the codegen'd dot: same sequential fold
    def localDot(a: Array[Double], b: Array[Double]): Double = {
      val n = math.min(a.length, b.length)
      var s = 0.0
      var i = 0
      while (i < n) { s += a(i) * b(i); i += 1 }
      s
    }

    // selected: (id, score-at-selection, vec, norm)
    var selected = Vector.empty[(Long, Double, Array[Double], Double)]
    var done = false
    while (selected.length < k && !done) {
      val sims = selected.map { case (_, _, sv, sn) =>
        dotF(col("__v"), typedlit(sv.toSeq)) / (col("__n") * lit(sn))
      }
      val redundancy: Column =
        if (sims.isEmpty) lit(0.0)
        else if (sims.length == 1) sims.head // greatest() needs >= 2 args
        else greatest(sims: _*)
      val score =
        if (selected.isEmpty) lit(lambda) * col("__rel")
        else lit(lambda) * col("__rel") - lit(1.0 - lambda) * redundancy
      val selIds = selected.map(_._1)
      val remaining =
        if (selIds.isEmpty) base else base.filter(!col("__id").isin(selIds: _*))
      val fetched = remaining
        .select(col("__id"), score.as("__score"), col("__v"), col("__n"),
          col("__rel"))
        .orderBy(col("__score").desc, col("__id"))
        .limit(shortlist)
        .collect()
      if (fetched.isEmpty) done = true
      else {
        // fetch-time upper bound on every candidate OUTSIDE the
        // shortlist; -inf when the fetch drained the remaining corpus
        val floor =
          if (fetched.length < shortlist) Double.NegativeInfinity
          else fetched.last.getDouble(1)
        // local candidate state: maxSim maintained incrementally, seeded
        // from the full selected set with the same arithmetic the
        // distributed greatest(sims) evaluates
        val ids = fetched.map(_.getLong(0))
        val vecs = fetched.map(_.getSeq[Double](2).toArray)
        val norms = fetched.map(_.getDouble(3))
        val rels = fetched.map(_.getDouble(4))
        val alive = Array.fill(fetched.length)(true)
        val maxSim = Array.tabulate(fetched.length) { i =>
          if (selected.isEmpty) 0.0
          else selected.map { case (_, _, sv, sn) =>
            localDot(vecs(i), sv) / (norms(i) * sn)
          }.max
        }
        var firstPick = true
        var continue = true
        while (continue && selected.length < k) {
          var best = -1
          var bestScore = Double.NegativeInfinity
          var i = 0
          while (i < ids.length) {
            if (alive(i)) {
              val sc =
                if (selected.isEmpty) lambda * rels(i)
                else lambda * rels(i) - (1.0 - lambda) * maxSim(i)
              if (best < 0 || sc > bestScore ||
                  (sc == bestScore && ids(i) < ids(best))) {
                best = i; bestScore = sc
              }
            }
            i += 1
          }
          if (best < 0) continue = false // shortlist drained → refetch
          else if (!firstPick && !(bestScore > floor)) continue = false
          else {
            selected =
              selected :+ ((ids(best), bestScore, vecs(best), norms(best)))
            alive(best) = false
            firstPick = false
            i = 0
            while (i < ids.length) {
              if (alive(i)) {
                val s = localDot(vecs(i), vecs(best)) /
                  (norms(i) * norms(best))
                if (s > maxSim(i)) maxSim(i) = s
              }
              i += 1
            }
          }
        }
      }
    }
    import spark.implicits._
    selected.zipWithIndex
      .map { case ((id, score, _, _), i) => ((i + 1).toLong, id, score) }
      .toDF("rank", idCol, "mmr_score")
      .withColumn("mmr_score", round(col("mmr_score"), 6))
  }

  /** Semantic decontamination: ids of corpus rows whose embedding has
    * cosine ≥ `tau` to ANY eval-set vector — the paraphrase-robust
    * complement of the n-gram overlap check ([[Dedup.contaminatedDocs]]):
    * a reworded benchmark item shares no 8-gram with its source but
    * still sits next to it in embedding space.
    *
    * Scale shape mirrors the n-gram op: eval sets are small by
    * definition, so the eval vectors (plus precomputed norms) BROADCAST
    * and the check is a map-side broadcast nested-loop LEFT SEMI probe
    * — each corpus row scans the bank only until its first hit, and no
    * corpus data ever shuffles. Cost is O(|corpus| · |eval| · dim)
    * worst-case map work, the same brute bank-scan every
    * embedding-decontamination pipeline pays at this eval-set size; if
    * the eval bank outgrows broadcast, pre-bucket both sides with
    * [[lshBucket]] and semi-join on (bucket, exact-verify) instead.
    */
  def semanticContaminatedIds(corpus: DataFrame, evalSet: DataFrame,
      idCol: String, vecCol: String, tau: Double): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0,1], got $tau")
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val dotF = graft.functions.GraftFunctions.dotFast _
    val c = corpus.select(col(idCol), col(vecCol).cast("array<double>").as("__cv"))
      .withColumn("__cn", sqrt(dotF(col("__cv"), col("__cv"))))
    val e = evalSet.select(col(vecCol).cast("array<double>").as("__ev"))
      .withColumn("__en", sqrt(dotF(col("__ev"), col("__ev"))))
    // Zero-norm guard (ADVICE r17): without it a zero corpus OR eval
    // vector makes the cosine 0/0 = NaN, and Spark's total order ranks
    // NaN above every double, so `NaN >= tau` is TRUE — a single
    // all-zero eval vector would flag the entire corpus contaminated.
    // A zero vector carries no direction, hence no cosine neighbor:
    // it can never match, by definition rather than by engine-specific
    // division semantics (DuckDB's IEEE path yields NULL/NaN its own
    // way, so parity also depends on this guard).
    c.join(broadcast(e),
        col("__cn") > 0d && col("__en") > 0d &&
          dotF(col("__cv"), col("__ev")) / (col("__cn") * col("__en")) >= tau,
        "left_semi")
      .select(idCol)
  }

  /** Reciprocal Rank Fusion (Cormack, Clarke & Büttcher, SIGIR 2009):
    * fuse N candidate rank lists into one ranking by
    * `score(d) = Σ_i 1/(c + rank_i(d))`, a list the document is absent
    * from contributing 0. The standard hybrid-retrieval combiner — a
    * lexical BM25 list and a semantic ANN list fuse on rank alone, so
    * no score calibration between retrievers is needed.
    *
    * Inputs each carry (`idCol`, `rank`) with 1-based ranks. Scale
    * shape: every list is already top-d-bounded by its retriever, so
    * the fuse is one union of the tagged lists + ONE id-keyed pivot
    * aggregate (min rank per source — a full-outer equi-join cannot
    * broadcast in Spark and would sort-merge with an exchange per
    * side) followed by per-row arithmetic and one O(k) TakeOrdered —
    * a single O(N·d)-row shuffle regardless of list count, no corpus
    * scan, no corpus-wide window. The contribution sum is a FIXED
    * left-to-right fold over list index (never a groupBy sum), so the
    * double accumulation order is engine-replayable bit-for-bit; the
    * only per-group aggregates are MIN over longs (order-free). An id
    * appearing twice in one list contributes its BEST rank once.
    *
    * Output: (idCol, n_lists, rrf) — the k highest-fused ids, ordered
    * on the UNROUNDED score (ties on id), score rounded to 6 dp.
    */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, k: Int,
      c: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "need >= 1 ranking")
    require(k > 0, "k must be positive")
    require(c >= 1, s"rrf constant must be >= 1, got $c")
    val tagged = rankings.zipWithIndex
      .map { case (r, i) =>
        r.select(col(idCol), lit(i).as("__src"),
          col("rank").cast("long").as("__rank"))
      }
      .reduce(_ union _)
    val pivots = rankings.indices.map(i =>
      min(when(col("__src") === i, col("__rank"))).as(s"__r$i"))
    val pivoted = tagged.groupBy(col(idCol)).agg(pivots.head, pivots.tail: _*)
    val score = rankings.indices
      .map(i => coalesce(lit(1.0) / (lit(c.toDouble) + col(s"__r$i")), lit(0.0)))
      .reduce(_ + _)
    val nLists = rankings.indices
      .map(i => col(s"__r$i").isNotNull.cast("long"))
      .reduce(_ + _)
    pivoted
      .select(col(idCol), nLists.as("n_lists"), score.as("__s"))
      .orderBy(col("__s").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("n_lists"), round(col("__s"), 6).as("rrf"))
  }
}
