package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Lineage.LineageOps

import graft.functions.Hashing

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Scale design (the 100 TB story):
  *  - Exact dedup is a hash-aggregate on a 60-bit content hash, not on the
  *    full text: the shuffle moves 8-byte keys, not documents.
  *  - MinHash signatures are computed per-row with higher-order functions
  *    (map-only, codegen'd); only the k·8-byte signature is shuffled.
  *  - LSH banding turns near-dup detection into an equi-join on
  *    (band, band_hash) — a plain shuffle join Catalyst can plan, instead
  *    of the quadratic all-pairs compare.
  *  - n-gram Jaccard joins on shingle hash and counts co-occurrences;
  *    a frequency cap on hot shingles bounds the worst-case join fan-out
  *    (stop-shingle removal — the standard skew guard).
  *
  * EAGER-EXECUTION CAVEAT (API contract, not an implementation detail):
  * [[exactIncremental]], [[minhashLshPairs]], [[simhashNearDupPairs]],
  * [[connectedComponents]], and [[contaminatedDocsBloom]] call
  * `localCheckpoint(eager = true)` internally for lineage discipline, so
  * unlike ordinary DataFrame transformations they RUN SPARK JOBS AT CALL
  * TIME and their checkpointed blocks live on executors only. Two
  * consequences: (1) they cannot be called on a streaming DataFrame
  * (use the [[graft.streaming.Streams]] twins); (2) losing an executor
  * after the call fails the downstream job instead of recomputing — on a
  * multi-executor cluster where loss matters, set
  * `spark.sparkContext.setCheckpointDir` and swap reliable
  * `checkpoint()` for the same truncation with HDFS durability.
  */
object Dedup {

  /** Exact dedup: keep the lowest-id row per distinct `textCol`.
    * groupBy-min on h60(text) (partial aggregation, 8-byte shuffle keys),
    * then a semi-join back to recover surviving rows. The h60 collision
    * probability at 2^60 is negligible for corpus dedup; use
    * `sha2(text, 256)` where cryptographic certainty matters.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    // Contract note: exactly ONE row survives per distinct text. If the
    // input carries physically duplicated (id, text) rows, they collapse
    // too — a full-duplicate row IS a duplicate. (The earlier groupBy +
    // semi-join form preserved such copies; rows sharing an id but
    // differing in text land in different hash groups and are unaffected.)
    // min_by carries the whole survivor row through ONE hash aggregate:
    // same shuffle bytes as the groupBy+join-back form (whose semi join
    // re-shuffled the full rows anyway) but a single pass over `df` —
    // which matters when df is an expensive upstream plan (Spark re-
    // executes a subtree once per consumer; see q_corpus_clean).
    val cols = df.columns
    df.groupBy(Hashing.h60(col(textCol)).as("__h"))
      .agg(min_by(struct(cols.map(col).toIndexedSeq: _*), col(idCol)).as("__r"))
      .select(col("__r.*"))
  }

  /** Incremental exact dedup — the continual-ingest companion to
    * [[exact]]: dedupe a NEW batch both against itself (lowest id wins)
    * and against the accumulated content-hash index of everything
    * already ingested. Returns (kept, updatedIndex): callers persist
    * `updatedIndex` (8 bytes/distinct doc — the only state the pattern
    * ever accumulates) and feed it to the next batch. Between the
    * watermark-bounded [[graft.streaming.Streams.dedupStream]] (forgets
    * beyond the horizon) and a full-corpus re-dedup (rescans
    * everything), this is the exact-forever middle: per batch, work is
    * O(batch) + one hash-keyed anti-join against the index.
    */
  def exactIncremental(newDocs: DataFrame, seenIndex: DataFrame,
      textCol: String, idCol: String): (DataFrame, DataFrame) = {
    // The kept set feeds BOTH returns (the rows themselves, and their
    // hashes into the index), and the index chains into the NEXT
    // batch's anti-join — without materialization each batch re-executes
    // every prior batch's dedup inside its plan (no cross-consumer CSE,
    // compounding lineage). One eager localCheckpoint per batch caps
    // both; the checkpointed form is one batch's kept rows. At
    // multi-executor scale prefer reliable checkpoint(dir) if executor
    // loss matters — same lineage truncation.
    val kept = exact(newDocs, textCol, idCol)
      .withColumn("__h", Hashing.h60(col(textCol)))
      .join(seenIndex, Seq("__h"), "left_anti")
      .graftCheckpoint()
    val updatedIndex = seenIndex
      .union(kept.select(col("__h")))
    (kept.drop("__h"), updatedIndex)
  }

  /** Empty content-hash index for [[exactIncremental]]'s first batch. */
  def emptyIndex(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("__h", LongType, nullable = false))))
  }

  /** MinHash signature columns `mh_0 … mh_{k-1}` from a shingle-array
    * column. Pure per-row expressions: min over the shingle array of each
    * permuted 60-bit hash — no explode, no shuffle.
    */
  def minhashCols(shingles: Column, k: Int): Seq[(String, Column)] =
    Hashing.minhashParams(k).zipWithIndex.map { case ((a, b), i) =>
      s"mh_$i" -> array_min(transform(shingles, s => Hashing.permute(Hashing.h60(s), a, b)))
    }

  /** Minhash columns over a PRE-HASHED (mod-p-reduced) shingle array —
    * md5 runs once per shingle, each permutation is then two integer ops.
    * `(a·(h mod p) + b) mod p` with h already reduced ≡
    * [[Hashing.permute]] on the raw hash, so results are identical to
    * [[minhashCols]].
    */
  private def minhashColsHashed(hashes: Column, k: Int): Seq[(String, Column)] =
    Hashing.minhashParams(k).zipWithIndex.map { case ((a, b), i) =>
      s"mh_$i" -> array_min(transform(hashes,
        h => (lit(a) * h + lit(b)) % Hashing.MinhashPrime))
    }

  /** Attach minhash signature columns to `df` over word `n`-gram shingles
    * of `textCol`. The tokenize→shingle→md5 pipeline (the expensive,
    * interpreted higher-order part) is materialized into one intermediate
    * column so it runs ONCE, not once per permutation.
    */
  def withMinhash(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, k: Int = 12): DataFrame = {
    val hashed = df
      .withColumn("__toks", TextOps.tokens(col(textCol)))
      .withColumn("__shh",
        transform(TextOps.wordShinglesFromTokens(col("__toks"), n),
          s => Hashing.h60(s) % Hashing.MinhashPrime))
    minhashColsHashed(col("__shh"), k)
      .foldLeft(hashed) { case (d, (name, c)) => d.withColumn(name, c) }
      .drop("__toks", "__shh")
  }

  /** LSH banding: hash each band of `rowsPerBand` consecutive signature
    * values to a bucket id. Documents sharing any (band, bucket) are
    * candidate near-duplicates. Returns (doc, band, band_hash) rows.
    *
    * Docs too short to produce any shingle have all-null signatures and
    * are dropped: concat_ws skips nulls, so without the guard every short
    * doc would share one identical bucket and be declared a mutual
    * near-duplicate of every other short doc (and SQL NULL-propagating
    * concat yields no pairs — the guard also keeps oracle parity).
    */
  def lshBuckets(sig: DataFrame, idCol: String, k: Int, rowsPerBand: Int): DataFrame = {
    require(k % rowsPerBand == 0, "k must be divisible by rowsPerBand")
    val bands = (0 until k / rowsPerBand).map { b =>
      val parts = (0 until rowsPerBand).map(r => col(s"mh_${b * rowsPerBand + r}"))
      struct(lit(b).as("band"),
        Hashing.h60(concat_ws("_", parts: _*)).as("band_hash"))
    }
    sig.filter(col("mh_0").isNotNull) // null iff the shingle set is empty
      .select(col(idCol), explode(array(bands: _*)).as("bb"))
      .select(col(idCol), col("bb.band"), col("bb.band_hash"))
  }

  /** Candidate near-duplicate pairs from MinHash LSH: distinct (idA < idB)
    * pairs sharing at least one band bucket. The join is a plain equi-join
    * on (band, band_hash) — shuffle keys only.
    */
  def minhashLshPairs(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, k: Int = 12, rowsPerBand: Int = 2): DataFrame = {
    // The signature table is EAGERLY materialized (k+1 longs per doc)
    // before banding: lshBuckets guards on isnotnull(mh_0), and Catalyst
    // pushes that guard below any upstream widening exchange — with the
    // signature pipeline alias-inlined into it, the full
    // tokenize→shingle→md5 fold re-runs on the RAW SCAN's partitioning
    // (one task for a one-row-group file) and then again above for the
    // real columns. The checkpoint is an RDD barrier: the pipeline runs
    // once, widened, and the guard filters materialized longs. Same
    // discipline as withSimhash's band join (measured 2.0 → 0.7 s warm
    // at sf0.1). At multi-executor scale prefer reliable checkpoint(dir)
    // if executor loss matters.
    val sig = withMinhash(df.select(col(idCol), col(textCol)), textCol, idCol, n, k)
      .select((col(idCol) +: (0 until k).map(i => col(s"mh_$i"))).toIndexedSeq: _*)
      .graftCheckpoint()
    val buckets = lshBuckets(sig, idCol, k, rowsPerBand)
    // Pair generation WITHOUT a self-join: a self-join would re-run the
    // whole signature pipeline on both sides (no exchange reuse across
    // differently-aliased branches). One groupBy materializes each bucket
    // once; pairs come from a per-bucket double-explode — O(Σ bucket²)
    // generated rows, the same as the join's output, at half the compute.
    buckets.groupBy("band", "band_hash")
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(col("ids"), posexplode(col("ids")).as(Seq("p", "id_a")))
      .select(col("id_a"),
        explode(slice(col("ids"), col("p") + lit(2), size(col("ids")))).as("id_b"))
      .distinct()
  }

  /** SimHash: 60-bit locality-sensitive signature. For each bit j, sum
    * ±1 votes of every token's hash bit j; signature bit j is 1 when the
    * vote is positive. Per-row fold over the token array — map-only, no
    * shuffle, but the `bits` higher-order aggregates are INTERPRETED:
    * ~5 ms/100-token doc. Fine for a handful of rows; bulk callers use
    * [[withSimhash]].
    */
  def simhash(text: Column, bits: Int = 60): Column = {
    val hashes = transform(TextOps.tokens(text), t => Hashing.h60(t))
    (0 until bits).map { j =>
      val vote = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, j).bitwiseAND(1) === 1, 1L).otherwise(-1L))
      when(vote > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Bulk SimHash: identical signatures to [[simhash]], computed as
    * explode(tokens) → codegen'd md5 → ONE hash-aggregate with `bits`
    * conditional-sum vote columns → signature assembly. Every stage is
    * whole-stage-codegen (the per-row HOF version is interpreted —
    * measured 60× slower at sf0.1), and the vote aggregation is
    * partial-agg friendly. Returns (idCol, simhash).
    */
  def withSimhash(df: DataFrame, textCol: String, idCol: String,
      bits: Int = 60): DataFrame = {
    val toks = df
      .select(col(idCol), explode(TextOps.tokens(col(textCol))).as("__tok"))
      .select(col(idCol), Hashing.h60(col("__tok")).as("__h"))
    val votes = (0 until bits).map(j =>
      sum(when(shiftright(col("__h"), j).bitwiseAND(1) === 1, 1L)
        .otherwise(-1L)).as(s"__v$j"))
    val sig = (0 until bits).map(j =>
      when(col(s"__v$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
    toks.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
      .select(col(idCol), sig.as("simhash"))
  }

  /** SimHash near-duplicate pairs: all (idA < idB) with hamming distance
    * ≤ `maxHamming` between `bits`-bit simhashes.
    *
    * Candidate generation is the pigeonhole band trick: split the
    * signature into `maxHamming + 1` bit-bands — any pair within the
    * hamming budget MUST agree exactly on at least one band (≤ maxHamming
    * bits differ, but there are maxHamming+1 bands), so an equi-join on
    * (band, band_bits) finds every qualifying pair; exact `bit_count(a ^
    * b)` verification then drops false candidates. No all-pairs stage;
    * EXACT results.
    */
  def simhashNearDupPairs(df: DataFrame, textCol: String, idCol: String,
      bits: Int = 60, maxHamming: Int = 3, blocks: Int = 4): DataFrame = {
    // Bulk signature path: the aggregate inside withSimhash also acts as
    // the shuffle that spreads band work across cores (a single-file
    // corpus scan is one partition otherwise).
    // Materialized eagerly: the band self-join below reads `sig` on BOTH
    // sides, and an un-materialized signature plan (explode + 60-column
    // vote aggregate over every token) re-executes per side. The
    // signature table is two 8-byte columns per doc.
    val sig = withSimhash(df, textCol, idCol, bits)
      .graftCheckpoint()
    hammingNearDupPairs(sig, idCol, "simhash", bits, maxHamming, blocks)
  }

  /** Generic hamming near-duplicate pairs over ANY precomputed
    * `bits`-wide signature column (simhash, image dHash, audio
    * fingerprint, …): all (idA < idB) with `bit_count(a ^ b)` ≤
    * `maxHamming`. Same pigeonhole-band candidate generation + exact
    * hamming verification as [[simhashNearDupPairs]] — this IS that
    * machinery, extracted so every 64-bit-signature modality shares it.
    * Bands are `bits / (maxHamming+1)` wide (floor — see the inline
    * soundness note). The caller materializes `sig` if it is an
    * expensive plan (both join sides read it).
    */
  def hammingNearDupPairs(sig0: DataFrame, idCol: String, sigCol: String,
      bits: Int, maxHamming: Int = 3, blocks: Int = 4): DataFrame = {
    require(blocks > 0, "blocks must be positive")
    require(maxHamming >= 1,
      "maxHamming must be >= 1 (for exact signature equality use exact dedup)")
    val nBands = maxHamming + 1
    // Floor division is sound: pigeonhole needs only nBands DISJOINT
    // bands — ≤ maxHamming differing bits can touch at most maxHamming
    // of them, so some band is identical on every qualifying pair even
    // when trailing bits stay unbanded (those bits still count in the
    // exact hamming verification). Equal-width full coverage (bits %
    // nBands == 0) just minimizes false candidates.
    val bandBits = bits / nBands
    require(bandBits >= 1,
      s"maxHamming+1=$nBands bands need at least 1 bit each of $bits")
    val sig = sig0.select(col(idCol), col(sigCol).as("sh"))
    val bands = sig.select(col(idCol), col("sh"),
        posexplode(array((0 until nBands).map { b =>
          shiftright(col("sh"), b * bandBits)
            .bitwiseAND(lit((1L << bandBits) - 1))
        }: _*)).as(Seq("band", "band_bits")))
    // Plain band self-join, NOT the bucket-array positional pattern:
    // simhash band values cluster hard (measured max bucket 1795 at
    // sf0.1), and carrying a 1795-element struct array through a
    // per-element slice is O(bucket²) array copies. The join streams
    // narrow (id, sh) rows instead, and the signature branch it
    // duplicates is one cheap token fold. Hamming-filter BEFORE distinct
    // so the dedup shuffle sees only qualifying pairs.
    // The same hard clustering makes a bare (band, band_bits) key a
    // one-reducer funnel: that 1795-id bucket is ~1.6M ordered pairs
    // through a single task no matter the cluster size. 1-bucket-theta
    // replication WITHIN each band bucket (left side into all `blocks`
    // sub-blocks, right side keyed by its own id hash) spreads each
    // bucket's quadratic compare over `blocks` reducers; every pair
    // still meets at exactly one key, (band, band_bits, blk(id_b)).
    // Default is a moderate 4: replication inflates the left side's
    // size estimate ×blocks, and past the broadcast threshold AQE
    // trades the hash join for a sort-merge — raise it for corpora
    // whose band buckets outgrow a single reducer, where the shuffle
    // join is the only option anyway.
    val a = bands.select(col(idCol).as("id_a"), col("sh").as("sha"),
        col("band"), col("band_bits"))
      .withColumn("__blk", explode(array((0 until blocks).map(lit): _*)))
    val b = bands.select(col(idCol).as("id_b"), col("sh").as("shb"),
        col("band"), col("band_bits"))
      .withColumn("__blk", pmod(xxhash64(col("id_b")), lit(blocks)).cast("int"))
    // shuffle_hash pins the shuffled hash join: the replicated side's
    // ×blocks size estimate otherwise straddles the broadcast threshold,
    // and AQE's fallback is a sort-merge whose per-partition sorts cost
    // more than the whole compare (measured +50% suite-context; the
    // shuffled hash join IS the intended 100 TB plan for this key).
    a.join(b.hint("shuffle_hash"), Seq("band", "band_bits", "__blk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sha").bitwiseXOR(col("shb"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
  }

  /** Near-duplicate cluster resolution: connected components over a
    * candidate-pair graph (e.g. [[minhashLshPairs]] output) by iterative
    * min-label propagation — each round every vertex adopts the smallest
    * label among itself and its neighbors; converges in O(graph diameter)
    * rounds (≤ O(log n) for the short chains dedup graphs produce).
    *
    * Scale shape: per round, one join edges⋈labels + one min-aggregate —
    * both keyed shuffles Catalyst plans normally; the driver only sees a
    * single converged-count per round. This is the standard "resolve
    * near-dup pairs into clusters, keep one survivor per cluster" stage a
    * corpus-dedup pipeline needs after LSH.
    *
    * Pregel-style FRONTIER propagation: messages flow only from vertices
    * whose label changed last round, so the per-round edges⋈labels join
    * reads the ACTIVE subgraph, not the whole vertex set. Correctness
    * invariant: labels only decrease, and whenever a vertex adopts a new
    * label it joins the frontier and re-messages it next round — so a
    * non-frontier vertex's current label has always already been offered
    * to its neighbors, and dropping its (redundant) message cannot raise
    * any neighbor-min (`least(current, …)` is monotone). On converged
    * regions the frontier is empty and those partitions fall out of the
    * join entirely — at 100 TB, where most clusters close in 2-3 rounds,
    * later rounds touch only the rare deep components instead of
    * re-shuffling every vertex. (Measured note, sf0.1: a second pointer
    * jump per round does NOT cut the round count — convergence is bound
    * by one-hop neighbor-min propagation, not pointer chasing.)
    *
    * @return (id, cluster_id) where cluster_id = min id in the component;
    *         isolated ids (no pair) map to themselves.
    */
  def connectedComponents(vertices: DataFrame, pairs: DataFrame,
      idCol: String, maxIter: Int = 25): DataFrame =
    connectedComponentsWithStats(vertices, pairs, idCol, maxIter)._1

  /** [[connectedComponents]] plus the per-round frontier sizes (the
    * count of vertices whose label changed that round — the next round's
    * message-join input), exposed so the shrinking-active-subgraph
    * property is assertable in DedupSpec.
    */
  private[graft] def connectedComponentsWithStats(vertices: DataFrame,
      pairs: DataFrame, idCol: String, maxIter: Int = 25): (DataFrame, Seq[Long]) = {
    // Iterative-algorithm discipline: (a) the candidate-pair plan
    // upstream (LSH signatures etc.) is localCheckpoint'ed so it never
    // re-executes; (b) each iteration's labels are EAGERLY
    // localCheckpoint'ed — cache() alone does not truncate the LOGICAL
    // plan, and an iterative self-join otherwise grows the plan
    // exponentially (measured: a 2 GB plan string and driver OOM by
    // iteration ~12).
    //
    // (Examined, r19: pre-partitioning+sorting edges by dst before the
    // checkpoint — so SMJ rounds read the edge side exchange- and
    // sort-free — measured ADVERSE in the matched A/B: with the
    // persisted frontier giving the planner real stats, the message
    // join broadcasts the frontier in most rounds, the edge side is
    // then never shuffled by the join anyway, and the upfront
    // repartition+sort pass is pure cost. Kept as the plain union
    // checkpoint.)
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .graftCheckpoint()
    var labels = vertices.select(col(idCol).as("id"), col(idCol).as("label"))
      .graftCheckpoint()
    var frontier = labels // round 0: every vertex's label is news
    val frontierSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      // Messages only from the frontier — the join's streamed side is
      // the active subgraph, not all vertices.
      val neighborMin = edges.join(frontier, edges("dst") === frontier("id"))
        .groupBy(col("src").as("id2")).agg(min(col("label")).as("nlabel"))
      val stepped = labels.join(neighborMin, labels("id") === col("id2"), "left")
        .select(col("id"), least(col("label"),
          coalesce(col("nlabel"), col("label"))).as("label"))
        .graftCheckpoint() // both jump-join sides read it
      // pointer jumping (path compression): label := label(label) — turns
      // the O(diameter) chain walk into O(log diameter) rounds, so long
      // near-dup chains don't cost one distributed job per hop. A vertex
      // whose label changes via the jump enters the frontier like any
      // other change, so its new label is still re-messaged.
      val mapping = stepped.select(col("id").as("lid"), col("label").as("llabel"))
      val next = stepped.join(mapping, stepped("label") === col("lid"), "left")
        .select(stepped("id"), coalesce(col("llabel"), stepped("label")).as("label"))
        .graftCheckpoint()
      // The frontier is materialized by PERSIST + the convergence count
      // (ONE job) instead of an eager checkpoint followed by a count
      // over it (two jobs per round). Lineage stays flat — the frontier
      // plan is one join over two checkpointed parents — and the cache
      // gives the planner REAL stats, so the message join
      // auto-broadcasts the frontier once it shrinks under the
      // broadcast threshold (the big early rounds stay sort-merge;
      // a frontier is never big AND broadcast, so the 100 TB shape
      // is unchanged).
      val f = next.join(labels.withColumnRenamed("label", "old"), "id")
        .filter(col("label") =!= col("old"))
        .select(col("id"), col("label"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val changed = f.count() // one job: materialize + convergence + size
      // the previous round's frontier blocks were consumed by the
      // stepped checkpoint above (round 0's frontier is the labels
      // checkpoint, never persisted here — hence the guard)
      if (it > 0) frontier.unpersist(blocking = false)
      frontier = f
      frontierSizes += changed
      labels = next
      converged = changed == 0
      it += 1
    }
    (labels.select(col("id").as(idCol), col("label").as("cluster_id")),
      frontierSizes.toSeq)
  }

  /** PageRank over an undirected pair graph (e.g. [[minhashLshPairs]]
    * output) — centrality scoring for duplicate-graph analysis: a
    * high-rank document is the hub of a large near-dup neighborhood
    * (template pages, boilerplate families), which makes rank a useful
    * survivor-selection or down-weighting signal beyond plain cluster
    * membership. Fixed `iters` power iterations, damping `d`:
    * r' = (1−d)/N + d·Σ_incoming r/deg. Deliberately NO dangling-mass
    * redistribution: in an undirected pair graph every edge endpoint
    * has degree ≥ 1, so the only "dangling" vertices are isolated ones
    * whose rank is exactly (1−d)/N under either convention — the
    * simpler recurrence is replayable CTE-for-CTE by an oracle.
    *
    * Scale shape: same iterative discipline as
    * [[connectedComponents]] — edges checkpointed once, each
    * iteration is one edges⋈ranks join + one dst-keyed sum, ranks
    * eagerly checkpointed so the logical plan stays flat. Fixed
    * iteration count ⇒ no convergence collect at all (the driver runs
    * exactly `iters` jobs).
    *
    * Output: (idCol, rank) rounded to 9 dp (ranks are O(1/N); 9 dp
    * keeps ~5 significant digits at the fixture scales while staying
    * far above cross-engine float-sum noise).
    */
  def pageRank(vertices: DataFrame, pairs: DataFrame, idCol: String,
      iters: Int = 4, damping: Double = 0.85): DataFrame = {
    require(iters > 0, "iters must be positive")
    // Degree rides ON the checkpointed edge row (ONE window pass at
    // build time): each power iteration previously re-ran the degree
    // aggregate over the checkpointed edges and re-joined it on src
    // (`iters` extra aggregates + joins per call); with
    // (src, dst, __deg) materialized once, an iteration is ONE
    // edges⋈ranks join + the dst-keyed sum. The count window shares
    // the src-hash exchange the degree aggregate would have paid, and
    // its output partitioning/ordering survive the localCheckpoint, so
    // the per-iteration join reads the edge side exchange- and
    // sort-free (guide §2.4).
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .withColumn("__deg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("src")))
      .graftCheckpoint()
    val n = vertices.count()
    val base = vertices.select(col(idCol).as("__id")).graftCheckpoint()
    var ranks = base.withColumn("__r", lit(1.0 / n))
    for (_ <- 1 to iters) {
      val contribs = edges
        .join(ranks, edges("src") === ranks("__id"))
        .select(col("dst"), (col("__r") / col("__deg")).as("__c"))
        .groupBy("dst").agg(sum(col("__c")).as("__in"))
      ranks = base
        .join(contribs, col("__id") === col("dst"), "left")
        .select(col("__id"),
          (lit((1.0 - damping) / n) +
            lit(damping) * coalesce(col("__in"), lit(0.0))).as("__r"))
        .graftCheckpoint()
    }
    ranks.select(col("__id").as(idCol), round(col("__r"), 9).as("rank"))
  }

  /** Bounded k-core peeling over an undirected pair graph: `rounds`
    * iterations of "drop every vertex whose degree among SURVIVORS is
    * < k", returning the surviving vertices with their last-round
    * degree. The density filter that separates a genuine near-dup CORE
    * (every member ≥ k similar neighbors) from the chain/star periphery
    * LSH banding also admits.
    *
    * Deliberately BOUNDED rounds, not run-to-fixpoint: both make the
    * operator a pure deterministic function (replayable by an oracle
    * CTE chain, predictable job count at 100 TB — peeling converges in
    * a few rounds on banded-similarity graphs, and a bounded result is
    * a superset of the true k-core, erring on the keep side). Each
    * round is one semi-join restriction + one degree aggregate, both
    * keyed on vertices; survivors are eagerly localCheckpoint'ed under
    * the same iterative-lineage discipline as [[connectedComponents]].
    *
    * Output: (idCol, deg) — the final-round survivors and degrees.
    */
  def kCoreBounded(pairs: DataFrame, idCol: String, k: Int,
      rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, "k and rounds must be >= 1")
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .graftCheckpoint()
    var alive = edges.select(col("src").as("id")).distinct()
      .graftCheckpoint()
    var deg = alive.limit(0).withColumn("deg", lit(0L)) // replaced below
    for (_ <- 1 to rounds) {
      deg = edges
        .join(alive.select(col("id").as("src")), Seq("src"), "left_semi")
        .join(alive.select(col("id").as("dst")), Seq("dst"), "left_semi")
        .groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
        .graftCheckpoint()
      alive = deg.filter(col("deg") >= k).select("id").graftCheckpoint()
    }
    deg.filter(col("deg") >= k)
      .select(col("id").as(idCol), col("deg"))
  }

  /** Per-vertex triangle counts over an undirected pair graph (e.g.
    * [[minhashLshPairs]] output) — the local-clustering signal that
    * separates a genuine near-dup FAMILY (dense, triangle-rich) from a
    * chain of borderline pairwise hits (triangle-free): a vertex in
    * many triangles sits inside a mutually-similar clique, which makes
    * its cluster safe to collapse aggressively.
    *
    * Algorithm: degree-ordered compact-forward. Each undirected edge is
    * oriented low→high under the total order (degree, id); the
    * orientation is acyclic, every triangle has exactly one vertex with
    * two out-edges in it, so joining the out-wedge (u→v, u→w, v≠w)
    * against the closing oriented edge v→w yields each triangle EXACTLY
    * once — no /6 correction, no double counting.
    *
    * Why degree-first instead of plain id order: out-degrees under
    * degree orientation are bounded by O(√m) on any graph (arboricity
    * bound), so the wedge join fans out ∝ Σ outdeg² ≈ m^1.5 worst-case
    * instead of Σ deg² — a hub with a million neighbors contributes NO
    * wedges (all its edges point outward-in), which is precisely what
    * keeps the self-join alive at 100 TB edge counts. All three stages
    * are equi-joins keyed on vertices — fully partitionable.
    *
    * Output: (idCol, n_triangles) for vertices in ≥ 1 triangle.
    */
  def triangleCounts(pairs: DataFrame, idCol: String): DataFrame = {
    val und = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
      .union(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
    val deg = und.groupBy("u").agg(count(lit(1)).as("d"))
    val oriented = und
      .join(deg.select(col("u").as("__du_k"), col("d").as("__du")), col("u") === col("__du_k"))
      .join(deg.select(col("u").as("__dv_k"), col("d").as("__dv")), col("v") === col("__dv_k"))
      .filter(col("__du") < col("__dv") ||
        (col("__du") === col("__dv") && col("u") < col("v")))
      .select(col("u").as("src"), col("v").as("dst"))
      .graftCheckpoint() // read by both wedge sides + the closing join
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"), "src")
      .filter(col("e1.dst") =!= col("e2.dst"))
      .select(col("src").as("x"), col("e1.dst").as("y"), col("e2.dst").as("z"))
    val tris = wedges.join(oriented,
      col("y") === col("src") && col("z") === col("dst"))
    tris.select(explode(array(col("x"), col("y"), col("z"))).as(idCol))
      .groupBy(idCol).agg(count(lit(1)).as("n_triangles"))
  }

  /** Adamic-Adar link prediction over an undirected pair graph: score
    * every NON-edge two-hop pair by Σ_{shared neighbor v} 1/ln(deg v)
    * — rare shared neighbors count more — and keep the top `k`. In a
    * near-dup graph these are the "probably the same family but the
    * blocker missed the pair" candidates: the natural recall-repair
    * pass over LSH's false negatives.
    *
    * Scale shape: wedges come from one neighbor-keyed self-join (the
    * triangle-counting join without orientation — bounded by Σ deg²_v;
    * cap hub degrees upstream if a megahub exists), existing edges drop
    * via one anti-join, and the ranked cut is O(k). Scores are rounded
    * to 6 dp BEFORE ranking so the top-k frontier is reproducible
    * across engines (float-sum ulp can't reorder the boundary); ties
    * break on the id pair. A shared neighbor has degree ≥ 2 by
    * construction, so ln(deg) is never 0.
    *
    * Output: (id_a, id_b, common_neighbors, score), score descending.
    */
  def linkPredictionAdamicAdar(pairs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .graftCheckpoint()
    val deg = edges.groupBy(col("src").as("__v")).agg(count(lit(1)).as("__d"))
    val nbrs = edges.select(col("src").as("__v"), col("dst").as("__u"))
    val wedges = nbrs.as("l")
      .join(nbrs.as("r"), "__v")
      .filter(col("l.__u") < col("r.__u"))
      .join(deg, "__v")
      .select(col("l.__u").as("id_a"), col("r.__u").as("id_b"),
        (lit(1.0) / log(col("__d").cast("double"))).as("__w"))
    val scored = wedges.groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("common_neighbors"),
        round(sum(col("__w")), 6).as("score"))
    scored.join(pairs.select("id_a", "id_b"), Seq("id_a", "id_b"), "left_anti")
      .orderBy(col("score").desc, col("id_a"), col("id_b"))
      .limit(k)
  }

  /** Survivor selection: keep the lowest-id member of each near-dup
    * cluster (the exact-dedup policy extended to near-duplicates).
    */
  def dedupByClusters(df: DataFrame, clusters: DataFrame, idCol: String): DataFrame = {
    val keep = clusters.filter(col(idCol) === col("cluster_id")).select(idCol)
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Leakage-safe train/test split: the whole near-dup CLUSTER draws
    * ONE deterministic h60 coin (on its cluster id), so near-duplicate
    * documents can never straddle the split — the contamination a
    * row-wise random split silently creates (a test doc whose
    * near-duplicate sits in train is a leaked label). Same 6-dp
    * fraction discipline and nested-growth property as `hashSample`:
    * raising `testFrac` only MOVES whole clusters from train to test.
    *
    * Scale shape: one id-keyed join against the cluster map (itself the
    * output of the banded/frontier dedup pipeline — no new quadratic
    * work), one map-only coin projection. Output: input rows +
    * (cluster_id, split).
    */
  def leakageSafeSplit(df: DataFrame, clusters: DataFrame, idCol: String,
      testFrac: Double): DataFrame = {
    require(testFrac >= 0.0 && testFrac <= 1.0, s"bad testFrac $testFrac")
    val cut = math.round(testFrac * 1000000.0)
    // LEFT join + own-id fallback keeps the operator TOTAL: a cluster
    // map that only covers paired documents (e.g. built from raw LSH
    // pairs) must not silently drop every singleton from BOTH sides of
    // the split — an unmapped document is its own cluster, exactly as
    // connectedComponents would label it.
    df.join(clusters, Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
      .withColumn("split",
        when(pmod(Hashing.h60(col("cluster_id").cast("string")),
          lit(1000000L)) < cut, lit("test")).otherwise(lit("train")))
  }

  /** n-gram Jaccard similarity pairs ≥ `threshold`, via the
    * shingle-inverted-index join:
    * explode distinct shingle hashes → equi-join on shingle → count
    * co-occurrences → |A∩B| / (|A|+|B|−|A∩B|).
    *
    * `maxShingleFreq` drops shingles appearing in more than that many
    * documents (stop-shingles) BEFORE pair generation, and Jaccard is
    * computed over the FILTERED shingle sets (sizes recomputed post-cap,
    * like stop-word removal). This is the skew guard that keeps the join
    * fan-out linear at corpus scale: a shingle with df=d generates
    * O(d²) candidate pairs, so an uncapped hot shingle is a quadratic
    * blow-up on one key. Default ON (df ≤ 1000) — the 100 TB-safe
    * configuration; pass `None` for exact uncapped Jaccard when the
    * corpus is known skew-free.
    */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.5,
      maxShingleFreq: Option[Int] = Some(1000)): DataFrame = {
    // Shingle identity is the rotate-XOR combine of per-token h60 values
    // (TextOps.shingleHashesFromTokenHashes): md5 once per TOKEN, then
    // integer ops per shingle — this path was md5-of-concat-per-shingle
    // in round 2 and that dominated the whole operator (20 s of a 20 s
    // query at sf0.1).
    val shingledPlan = df
      .withColumn("__toks", TextOps.tokens(col(textCol)))
      .withColumn("__hts", transform(col("__toks"), t => Hashing.h60(t)))
      .select(col(idCol),
        array_distinct(TextOps.shingleHashesFromTokenHashes(col("__hts"), n)).as("sh"))
    // The shingle index is EAGERLY materialized (same lineage discipline
    // as connectedComponents) for two measured reasons:
    //  1. the index subtree feeds FOUR consumers below (hot-shingle df,
    //     the anti-join probe, per-doc sizes, intersection counting) and
    //     Spark re-executes an un-materialized subtree per consumer;
    //  2. InferFiltersFromGenerate infers `size(sh) > 0` under the
    //     explode, and after alias inlining that filter re-evaluates the
    //     whole tokenize→md5→shingle pipeline per row BELOW any widening
    //     exchange (measured 8× the cost of computing the index once).
    // The materialized form is compact: one 8-byte hash per distinct
    // shingle per doc. At multi-executor scale prefer a reliable
    // `checkpoint(dir)` over localCheckpoint if executor loss matters —
    // lineage is truncated either way.
    val shingled = shingledPlan.graftCheckpoint()
    var inv = shingled
      .select(col(idCol), explode(col("sh")).as("sh_h"))
    maxShingleFreq.foreach { cap =>
      val hot = inv.groupBy("sh_h").count().filter(col("count") > cap).select("sh_h")
      inv = inv.join(hot, Seq("sh_h"), "left_anti")
    }
    // Sizes AFTER the cap so jaccard is over the filtered sets; a doc
    // whose every shingle was dropped disappears (it cannot pair anyway).
    val sizes = inv.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    // Intersection counting without the inverted-index self-join (which
    // would tokenize+hash both sides): one groupBy builds each posting
    // list once (sorted, so positional pairing gives id_a < id_b);
    // ordered pairs come from posexplode + slice — pure codegen
    // generators, no per-element lambda. Pairs are hash-aggregated to
    // (id_a, id_b, n_inter) BEFORE the sizes join, so the join input is
    // one row per candidate pair, not one per shared shingle.
    val inter = inv.groupBy("sh_h")
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(col("ids"), posexplode(col("ids")).as(Seq("p", "id_a")))
      .select(col("id_a"),
        explode(slice(col("ids"), col("p") + lit(2), size(col("ids")))).as("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
    val sa = sizes.select(col(idCol).as("id_a"), col("n_sh").as("n_a"))
    val sb = sizes.select(col(idCol).as("id_b"), col("n_sh").as("n_b"))
    inter.join(sa, "id_a").join(sb, "id_b")
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** EXACT similarity join with prefix filtering (the SSJoin/PPJoin
    * candidate-pruning idea — Chaudhuri/Ganti/Kaushik ICDE 2006, Xiao
    * et al. WWW 2008 — re-expressed relationally): same result set as
    * [[ngramJaccardPairs]] with NO frequency cap, but candidates are
    * generated only from each document's PREFIX — its
    * `|sh| − ⌈t·|sh|⌉ + 1` globally-rarest shingles. Two sets with
    * Jaccard ≥ t must share at least one prefix element under any
    * global total order, so pruning the common shingles from candidate
    * generation loses nothing — and posting-list pairing is quadratic
    * per posting, so generating from rare-only postings is the
    * difference between Σ freq² over ALL shingles and over the rare
    * tail. The guarantee holds without the approximation the hot-
    * shingle cap introduces ([[ngramJaccardPairs]]'s `maxShingleFreq`
    * drops hot shingles from Jaccard itself; here hot shingles still
    * count toward the verified intersection — they just never generate
    * candidates).
    *
    * Plan shape: one corpus pass to the per-doc shingle-hash arrays
    * (materialized once, feeds rarity join + candidate generation +
    * verification); shingle-keyed frequency aggregate; per-doc
    * rarest-first sort of an ARRAY (array_sort on (freq, hash) structs
    * — per-row, no window); prefix-posting pairing; exact
    * array_intersect verification on the candidate pairs only. The
    * global rank order ties on (freq, hash) so every engine and every
    * run prunes identically.
    *
    * WHEN TO USE (measured r12, identical output verified at both
    * scales): on the synthetic corpus this path LOSES to
    * [[ngramJaccardPairs]](maxShingleFreq = None) — 6.9 s vs 1.4 s warm
    * at sf0.1 (5k docs), 113 s vs 23 s at sf1 (50k docs) — because that
    * corpus has no df-skew: posting lists are short, so Σf² is already
    * tiny and the prefix machinery (a freq join over the full inverted
    * index, a per-doc rarity sort, and a verification join carrying
    * both full shingle arrays) is pure overhead. Prefix filtering pays
    * precisely when posting lists are long — boilerplate-heavy or
    * near-dup-rich corpora where a few shingles have df in the
    * thousands and pair generation is quadratic per posting. Profile
    * df first ([[graft.operators.Profiling.keySkew]] on the exploded
    * shingle stream): top_share/df-p99 high → prefix join; flat → the
    * plain posting-pair path.
    */
  def prefixJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.5): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0,1]")
    val shingled = df
      .withColumn("__toks", TextOps.tokens(col(textCol)))
      .withColumn("__hts", transform(col("__toks"), t => Hashing.h60(t)))
      .select(col(idCol),
        array_distinct(TextOps.shingleHashesFromTokenHashes(col("__hts"), n)).as("sh"))
      .filter(size(col("sh")) > 0)
      .graftCheckpoint()
    val inv = shingled.select(col(idCol), size(col("sh")).as("__n"),
      explode(col("sh")).as("sh_h"))
    val freq = inv.groupBy("sh_h").agg(count(lit(1)).as("__f"))
    val prefixed = inv.join(freq, "sh_h")
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("__f"), col("sh_h")))).as("__ss"),
        first(col("__n")).as("__n"))
      .select(col(idCol), col("__n"),
        slice(transform(col("__ss"), s => s.getField("sh_h")), lit(1),
          (size(col("__ss")) - ceil(lit(threshold) * size(col("__ss"))) + 1)
            .cast("int")).as("__pref"))
    // Posting-list entries carry the doc's shingle-set size so the
    // SSJoin SIZE FILTER applies at pair-generation time: J(A,B) ≥ t ⟹
    // min(|A|,|B|) ≥ t·max(|A|,|B|), so cross-size pairs exit here and
    // never reach the array-verification join — measured at the t=0.8
    // sf0.1 demo: 122,225 posting pairs → 43,555 distinct candidates
    // before the only stage that ships full shingle arrays.
    val cands = prefixed
      .select(col(idCol), col("__n"), explode(col("__pref")).as("sh_h"))
      .groupBy("sh_h")
      .agg(sort_array(collect_list(struct(col(idCol), col("__n")))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(col("ids"), posexplode(col("ids")).as(Seq("p", "a")))
      .select(col("a"),
        explode(slice(col("ids"), col("p") + lit(2), size(col("ids")))).as("b"))
      .filter(least(col(s"a.__n"), col(s"b.__n")).cast("double") >=
        lit(threshold) * greatest(col(s"a.__n"), col(s"b.__n")))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
    val fa = shingled.select(col(idCol).as("id_a"), col("sh").as("__sa"))
    val fb = shingled.select(col(idCol).as("id_b"), col("sh").as("__sb"))
    cands.join(fa, "id_a").join(fb, "id_b")
      .withColumn("__ni", size(array_intersect(col("__sa"), col("__sb"))))
      .withColumn("jaccard", col("__ni").cast("double") /
        (size(col("__sa")) + size(col("__sb")) - col("__ni")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Benchmark decontamination (the GPT-3-style n-gram overlap check):
    * ids of corpus documents sharing ANY word `n`-gram with any document
    * in `evalSet`. Eval/benchmark sets are small by definition, so their
    * distinct shingle hashes BROADCAST and the check is a map-side
    * left-semi probe over the corpus — no shuffle of corpus data at all;
    * at 100 TB the corpus streams past a few-MB hash set.
    *
    * Shingle identity is the rotate-XOR combine of per-token h60 values
    * (TextOps.shingleHashesFromTokenHashes): md5 runs ONCE per token,
    * each 8-gram is then a handful of integer ops — the same rewrite
    * that bought 3×+ on the Jaccard pair path. (The earlier form
    * md5-hashed each ~8×-token-long concatenated shingle STRING, and
    * that projection dominated the whole operator.)
    */
  def contaminatedDocs(corpus: DataFrame, evalSet: DataFrame,
      textCol: String, idCol: String, n: Int = 8): DataFrame = {
    def grams(df: DataFrame, cols: Seq[Column]): DataFrame = df
      .withColumn("__hts", transform(TextOps.tokens(col(textCol)), tk => Hashing.h60(tk)))
      .select((cols :+
        explode(TextOps.shingleHashesFromTokenHashes(col("__hts"), n)).as("__gh")): _*)
    val evalGrams = grams(evalSet, Seq.empty).distinct()
    grams(corpus, Seq(col(idCol)))
      .join(broadcast(evalGrams), Seq("__gh"), "left_semi")
      .select(idCol).distinct()
  }

  /** Bloom-prefiltered decontamination — EXACTLY the same output as
    * [[contaminatedDocs]] (a Bloom filter has no false negatives, and
    * bloom survivors are re-verified against the exact gram set). What
    * the bloom buys over the exact operator is MEMORY SHAPE: the exact
    * path must hold the full eval gram set as a broadcast hash relation
    * on every executor (64-bit keys + hash-table overhead — tens of GB
    * for a 100M-gram eval suite); here the only thing broadcast is a
    * `bitsPerGram`-bits-per-gram bitset literal (~30× smaller), the
    * probe is pure codegen'd integer column math on the exploded gram
    * stream (permute hashes + shiftright bit tests — a SCALAR filter,
    * deliberately NOT an in-row `filter()` lambda, which would run
    * interpreted), and the exact verify is a plain keyed join whose
    * probe side is only the bloom SURVIVORS — shuffle weight tracks
    * contamination + false-positive rate, never corpus size, and no
    * executor ever materializes the exact gram set as a hash table.
    */
  /** A driver-built Bloom bitset over eval gram hashes plus its pure-
    * Column probe. Kirsch-Mitzenmacher double hashing derives all
    * `probes` indices from the one (md5-random) 60-bit gram hash —
    * idx_j = h1 + j·h2 masked into a power-of-two table, h2 forced odd
    * for full period — so both the build (Scala) and the probe (Column
    * shift/mask/add, all codegen) compute the identical function.
    */
  private final case class GramBloom(words: Seq[Long],
      mask: Long, probes: Int) {
    def mightContain(g: Column): Column = {
      val bitsLit = typedlit(words)
      val h1 = g.bitwiseAND(lit(mask))
      val h2 = shiftright(g, 30).bitwiseOR(lit(1L))
      (0 until probes).map { j =>
        val idx = (h1 + lit(j.toLong) * h2).bitwiseAND(lit(mask))
        call_function("shiftright",
          element_at(bitsLit, shiftright(idx, 6).cast("int") + 1),
          idx.bitwiseAND(lit(63L)).cast("int"))
          .bitwiseAND(lit(1L)) === lit(1L)
      }.reduce(_ && _)
    }
  }

  /** Distinct eval-set gram hashes — the shared subtree of every bloom
    * path (sizing count, bitset build, exact verify).
    */
  private def evalGrams(evalSet: DataFrame, textCol: String, n: Int): DataFrame =
    evalSet
      .withColumn("__hts", transform(TextOps.tokens(col(textCol)), tk => Hashing.h60(tk)))
      .select(explode(TextOps.shingleHashesFromTokenHashes(col("__hts"), n)).as("__gh"))
      .distinct()

  /** Power-of-two bitset sizing ≥ bitsPerGram · nGrams (so mod is a mask). */
  private def bloomSizing(nGrams: Long, bitsPerGram: Int): (Long, Long) = {
    val want = math.max(64L, nGrams * bitsPerGram)
    val nb = java.lang.Long.highestOneBit(want - 1) * 2
    (nb, nb - 1)
  }

  /** Set gram `g`'s `probes` Kirsch-Mitzenmacher bits — the exact Scala
    * mirror of [[GramBloom.mightContain]]'s Column probe.
    */
  private def setBits(words: Array[Long], g: Long, mask: Long, probes: Int): Unit = {
    val h1 = g & mask
    val h2 = (g >> 30) | 1L
    var j = 0
    while (j < probes) {
      val idx = ((h1 + j * h2) & mask).toInt
      words(idx >> 6) |= 1L << (idx & 63)
      j += 1
    }
  }

  def contaminatedDocsBloom(corpus: DataFrame, evalSet: DataFrame,
      textCol: String, idCol: String, n: Int = 8,
      bitsPerGram: Int = 16, probes: Int = 4): DataFrame = {
    require(bitsPerGram > 0 && probes > 0)
    val spark = corpus.sparkSession
    import spark.implicits._
    // The gram set is materialized ONCE (eager localCheckpoint — same
    // lineage discipline as ngramJaccardPairs) and feeds three
    // consumers: the sizing count, the bitset build, and the exact
    // verify join below. Only the BITSET ever reaches the driver —
    // bitsPerGram bits per gram (16 ⇒ 2 B/gram, vs 8 B/gram + boxing
    // for raw hashes), folded executor-side with treeAggregate (the
    // shape of Spark's own DataFrameStatFunctions.bloomFilter) so the
    // driver merges log-many partial bitsets, never the gram stream.
    val grams = evalGrams(evalSet, textCol, n).graftCheckpoint()
    val (nb, mask) = bloomSizing(grams.count(), bitsPerGram)
    val words = grams.as[Long].rdd.treeAggregate(new Array[Long]((nb / 64).toInt))(
      (w, g) => { setBits(w, g, mask, probes); w },
      (a, b) => { var i = 0; while (i < a.length) { a(i) |= b(i); i += 1 }; a })
    val bloom = GramBloom(words.toSeq, mask, probes)
    val survivors = corpus
      .withColumn("__hts", transform(TextOps.tokens(col(textCol)), tk => Hashing.h60(tk)))
      .select(col(idCol),
        explode(TextOps.shingleHashesFromTokenHashes(col("__hts"), n)).as("__gh"))
      .filter(bloom.mightContain(col("__gh")))
    // exact verify: keyed join, probe side = bloom survivors only. NOT
    // broadcast — avoiding an executor-resident exact-set hash table is
    // the operator's reason to exist (AQE may still choose broadcast
    // when the set is genuinely small; the point is correctness never
    // requires it to fit). The verify side is the already-checkpointed
    // gram DataFrame — no re-execution of the eval tokenize+distinct
    // subtree, and no round-trip of raw hashes through the driver.
    survivors
      .join(grams.hint("shuffle_hash"), Seq("__gh"), "left_semi")
      .select(idCol).distinct()
  }

  /** Per-document contamination decision as ONE stateless Column
    * predicate over a MATERIALIZED gram-hash-array column (build it
    * with `TextOps.shingleHashesFromTokenHashes` behind an
    * `explode(array(·))` pin — see Queries.evalOnce): TRUE when the
    * document shares ≥1 n-gram with the eval set. Bloom prefilter
    * gates an exact `array_contains` verify (And short-circuits, so
    * the O(|eval|) exact scan runs only on the ~0.2% bloom hits) —
    * the decision is EXACTLY [[contaminatedDocs]]'s, row by row.
    *
    * Being a pure expression (bloom bits + exact hashes ride as
    * literals), it drops into a Structured Streaming ingest unchanged —
    * no stream-stream join, no state store — which is the
    * "filter eval contamination AT INGEST" deployment
    * (StreamingSpec pins stream == batch). Tradeoff vs the explode
    * shape in [[contaminatedDocsBloom]]: the in-row `exists` lambda is
    * interpreted per element, the price of a per-row stateless
    * decision; bounded eval sets only (the exact hash set is a plan
    * literal).
    */
  def contaminationPredicate(evalSet: DataFrame, textCol: String,
      n: Int = 8, bitsPerGram: Int = 16,
      probes: Int = 4): Column => Column = {
    require(bitsPerGram > 0 && probes > 0)
    val spark = evalSet.sparkSession
    import spark.implicits._
    // Unlike contaminatedDocsBloom, the exact hash set DOES come to the
    // driver here — it must ride in the plan as a literal for the
    // predicate to stay stateless (bounded eval sets only, per the
    // scaladoc). Collected as primitive longs, not boxed Rows.
    val hashes = evalGrams(evalSet, textCol, n).as[Long].collect()
    val (nb, mask) = bloomSizing(hashes.length.toLong, bitsPerGram)
    val words = new Array[Long]((nb / 64).toInt)
    hashes.foreach(setBits(words, _, mask, probes))
    val bloom = GramBloom(words.toSeq, mask, probes)
    val exactLit = typedlit(hashes.sorted.toSeq)
    // coalesce: exists() is NULL for a null gram array (null text), and
    // a null verdict would make filter(!pred) silently DROP null-text
    // docs at ingest while the batch operator (explode drops the row)
    // calls them clean — pin "no grams ⇒ not contaminated" on both paths.
    (ghs: Column) =>
      coalesce(
        exists(ghs, g => bloom.mightContain(g) && array_contains(exactLit, g)),
        lit(false))
  }

  /** Sorted-neighborhood blocking (the classic entity-resolution
    * windowing method): order records by a blocking key, and emit every
    * ordered pair within `window` POSITIONS of each other as a
    * candidate. Complements the hash-bucket blockers (LSH bands,
    * SimHash pigeonholes): a sort key groups records whose similarity
    * lives in a shared PREFIX (names, normalized addresses, titles)
    * that token-set hashing is blind to, and the candidate count is
    * strictly bounded by rows × window — no hot-bucket blowup ever.
    *
    * Scale shape: [[Relational.globalRowNumber]] supplies the rank
    * without a single-task window (range-partition + local index +
    * broadcast offsets); the neighbor join is the banded self-join from
    * [[graft.operators.Temporal.pairsWithin]] — each row lands in its
    * own rank bucket and the next, so a qualifying pair meets in
    * exactly one bucket and the position filter is a cheap post-check.
    * Everything shuffles on integer bucket ids.
    *
    * Output: (<idCol>_a, <idCol>_b, pos_gap) with a-side earlier in
    * sort order; verification (Jaccard, edit distance) composes
    * downstream exactly as with the other blockers.
    */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String, sortKey: Column,
      window: Int): DataFrame = {
    require(window > 0, "window must be positive")
    val ranked = Relational.globalRowNumber(
      df.select(col(idCol), sortKey.as("__sk")), Seq(col("__sk"), col(idCol)),
      "__rn")
    val bkt = expr(s"__rn div $window")
    val a = ranked.withColumn("__bkt", explode(array(bkt, bkt + lit(1L))))
      .select(col("__bkt"), col(idCol).as(s"${idCol}_a"), col("__rn").as("__rn_a"))
    val b = ranked.withColumn("__bkt", bkt)
      .select(col("__bkt"), col(idCol).as(s"${idCol}_b"), col("__rn").as("__rn_b"))
    a.join(b, "__bkt")
      .filter(col("__rn_b") > col("__rn_a") &&
        col("__rn_b") - col("__rn_a") <= window)
      .select(col(s"${idCol}_a"), col(s"${idCol}_b"),
        (col("__rn_b") - col("__rn_a")).as("pos_gap"))
  }

  /** Exact edit-distance-1 self-join via deletion-neighborhood blocking
    * (the SymSpell method): each string generates its |s|+1 single-
    * character-deletion variants (itself included); two strings within
    * Levenshtein distance 1 ALWAYS share a variant (equal → share the
    * original; one substitution at i → both delete position i; one
    * insertion/deletion → the longer's deletion IS the shorter), so
    * joining on the variant's hash finds every qualifying pair, and a
    * final `levenshtein() <= 1` check discards the false candidates the
    * pigeonhole admits. Exact by construction — blocking bounds WORK,
    * the verify bounds RESULTS.
    *
    * Scale shape: fan-out is |s|+1 rows per record (bounded by key
    * length — names/titles, not documents), the join keys on an 8-byte
    * variant hash, and `levenshtein` runs only on candidates. The
    * all-pairs alternative is quadratic in records; this is linear in
    * records × key length. For distance k > 1 the same scheme uses
    * k-deletion neighborhoods (fan-out |s| choose k) — k=1 is the
    * dedupe sweet spot.
    *
    * Output: distinct (<idCol>_a < <idCol>_b, dist) pairs.
    */
  def editDistancePairs(df: DataFrame, idCol: String,
      strCol: Column): DataFrame = {
    val base = df.select(col(idCol).as("__id"), strCol.as("__s"))
      .filter(col("__s").isNotNull)
    val s = col("__s")
    val variants = base.select(col("__id"), col("__s"),
      explode(array_distinct(concat(array(s),
        transform(sequence(lit(1), length(s)),
          i => concat(s.substr(lit(1), (i - 1).cast("int")),
            s.substr((i + 1).cast("int"), length(s))))))).as("__v"))
    // both sides of the self-join read this — materialize the compact
    // (hash, id) probe once (same discipline as minhashLshPairs).
    // Strings deliberately do NOT ride the probe: on sequential-id-like
    // key spaces the pigeonhole admits ~5× more candidates than true
    // pairs (shifted sequences share deletions at distance 2), and the
    // pair-dedup shuffle dominated the operator when every row carried
    // both strings (measured 28 s of a 77 s sf1 run). Dedup on bare
    // (id, id) longs, then re-attach strings with two id-keyed joins
    // (planner broadcasts `base` when small) and run `levenshtein`
    // ONCE per surviving candidate.
    val probe = variants.select(Hashing.h60(col("__v")).as("__vh"),
      col("__id"))
      .graftCheckpoint()
    val candIds = probe.as("l").join(probe.as("r"), "__vh")
      .filter(col("l.__id") < col("r.__id"))
      .select(col("l.__id").as("id_a"), col("r.__id").as("id_b"))
      .distinct()
    candIds
      .join(base.select(col("__id").as("id_a"), col("__s").as("__sa")), "id_a")
      .join(base.select(col("__id").as("id_b"), col("__s").as("__sb")), "id_b")
      // threshold form = banded DP (O(len·k) not O(len²)) with early
      // exit; returns -1 above the threshold, so the filter keeps the
      // same {0, 1} dist domain the 2-arg form produced.
      .withColumn("dist",
        levenshtein(col("__sa"), col("__sb"), 1).cast("long"))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist"))
  }
}
