package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.withTempDir

/** Plan-shape regression guards (PLANS.md): the physical plans that make
  * the 100 TB story true must not silently degrade — pushdown reaching
  * the scan, dimensions broadcast, no accidental cartesian products.
  */
class PlanSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q_scan_project: column pruning reaches the parquet scan") {
    val p = plan("q_scan_project")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>"), p.take(800))
  }

  test("q_filter_predicates: comparison AND membership predicates pushed") {
    val p = plan("q_filter_predicates")
    assert(p.contains("PushedFilters:") && p.contains("GreaterThan(l_quantity,45.0)"))
    assert(p.contains("In(l_returnflag, [A,R])"))
  }

  test("q_join_multikey: dimension joins broadcast, fact side never shuffles for the join") {
    val p = plan("q_join_multikey")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q_lookup_join: broadcast lookup, no shuffle join") {
    val p = plan("q_lookup_join")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q_semantic_decontaminate: broadcast bank semi-probe, zero corpus shuffle") {
    val p = plan("q_semantic_decontaminate")
    // the eval bank broadcasts into a nested-loop LEFT SEMI — the
    // map-only shape; a hash Exchange here would mean the corpus
    // started shuffling for the bank probe
    assert(p.contains("BroadcastNestedLoopJoin") && p.contains("LeftSemi"),
      "bank probe must be a broadcast semi join:\n" + p.take(800))
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges == 0,
      s"corpus must not shuffle for the bank probe ($hashExchanges hash exchanges):\n" + p.take(800))
  }

  test("q_hybrid_rrf: union+pivot fuse — no sort-merge join, fused top-k through TakeOrdered") {
    val p = plan("q_hybrid_rrf")
    assert(p.contains("TakeOrderedAndProject"),
      "fused top-k must be TakeOrdered:\n" + p.take(800))
    // the fuse is union + ONE id-keyed aggregate; a SortMergeJoin here
    // would mean the full-outer form crept back (it cannot broadcast
    // and shuffles every list per join)
    assert(!p.contains("SortMergeJoin"),
      "fuse must not be a sort-merge full outer:\n" + p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("q_seasonal_forecast: aggregates only — no Window operator anywhere in the plan") {
    // The forecaster's 100 TB claim is that the trend is a grouped
    // aggregate over hour buckets, NOT a regression over a sorted
    // window frame (PLANS.md round 12) — a Window sneaking in would
    // mean a per-key sort of the bucket table.
    val p = plan("q_seasonal_forecast")
    assert(!p.contains("Window"), "expected window-free plan:\n" + p.take(800))
    assert(p.contains("HashAggregate"), p.take(400))
  }

  test("saltedJoin plans as a shuffled hash join, not sort-merge") {
    // Sorting both exchanges on (keys, salt) is pure overhead for the
    // skew pattern (Relational.saltedJoin scaladoc; measured 5.4 → 1.4 s
    // at sf1). A planner change that reverts this to SortMergeJoin
    // should fail here, not in the bench.
    val p = plan("q_salted_join")
    assert(p.contains("ShuffledHashJoin"), p.take(800))
  }

  test("bench-measured plans retain Sort/Window/projection work (noop-sink validity)") {
    // The bench materializes each query's OWN plan through the noop sink
    // — what executedPlan shows here IS what gets timed. Under the old
    // `.count()` harness, ColumnPruning deleted final-projection
    // expressions, EliminateSorts the top-level ORDER BY, and
    // unreferenced Window nodes collapsed entirely; these assertions pin
    // that the measured plans still carry that work.
    val lag = plan("q_window_lag")
    assert(lag.contains("Window"), "window node pruned from q_window_lag:\n" + lag.take(500))
    assert(lag.contains("Sort"), "sort pruned from q_window_lag")
    val cyc = plan("q_cyclical")
    assert(cyc.toLowerCase.contains("sin("), "trig projection pruned from q_cyclical:\n" + cyc.take(500))
    val gj = plan("q_geojson_features")
    assert(gj.contains("StructsToJson") || gj.contains("to_json"),
      "JSON assembly pruned from q_geojson_features:\n" + gj.take(500))
    assert(gj.contains("Sort"), "sort pruned from q_geojson_features")
  }

  test("spatial nearest: one map-side pass over the points, no join in the plan") {
    Seq("q_nearest_neighbor", "q_nearest_edge").foreach { q =>
      val p = plan(q)
      Seq("BroadcastHashJoin", "BroadcastNestedLoopJoin", "SortMergeJoin", "CartesianProduct")
        .foreach(j => assert(!p.contains(j), s"$q plans a $j:\n" + p.take(800)))
    }
  }

  test("no cartesian product in the pair-generating dedup queries") {
    Seq("q_lsh_candidate_pairs", "q_ngram_jaccard_pairs").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
    }
  }

  test("q_histogram: literal-bounds plan — no nested-loop join, exactly one aggregation") {
    val p = plan("q_histogram")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "histogram regressed to the lazy-stats cross-join shape:\n" + p.take(800))
    // one partial+final HashAggregate pair for the bin counts, nothing else
    val aggs = "HashAggregate".r.findAllIn(p).length
    assert(aggs == 2, s"expected 2 HashAggregate nodes (partial+final), got $aggs")
  }

  test("rank/sorted-neighborhood: globalRowNumber keeps every window partitioned (no single-task rank)") {
    Seq("q_rank_normalize", "q_sorted_neighborhood").foreach { q =>
      val p = plan(q)
      // a bare row_number() OVER (ORDER BY ...) plans Window over
      // SinglePartition — exactly what globalRowNumber exists to avoid
      assert(!p.contains("Window ["),
        s"$q: an unpartitioned Window appeared:\n" + p.take(800))
      assert(!p.contains("Exchange SinglePartition"),
        s"$q: a SinglePartition exchange appeared:\n" + p.take(800))
    }
  }

  test("q_assoc_rules: margins broadcast back; the only shuffling join keys on the basket") {
    val p = plan("q_assoc_rules")
    val bhj = "BroadcastHashJoin".r.findAllIn(p).length
    assert(bhj >= 2, s"expected the two margin joins broadcast, got $bhj:\n" + p.take(900))
    assert(!p.contains("CartesianProduct"), "cartesian in assoc rules")
    assert(!p.contains("BroadcastNestedLoopJoin") || bhj >= 2)
  }

  test("q_point_in_polygon: one codegen'd projection — no join, no extra exchange beyond the output sort") {
    val p = plan("q_point_in_polygon")
    assert(!p.contains("Join"), "point-in-polygon must be join-free:\n" + p.take(600))
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 1, s"expected only the ORDER BY range exchange, got $exchanges")
    // SortThroughProject pushes the sort to the scan; its re-prune must
    // keep the scan at the 3 consumed columns (round-11 session-3 bug:
    // the pushed Sort blinded FileSourceStrategy and all 6 came back)
    assert(p.contains("ReadSchema: struct<event_id:bigint,user_id:bigint,value:double>"),
      "scan not pruned under the pushed sort:\n" + p.take(800))
  }

  test("q_mutual_info / q_entropy: support-sized tails — margins and totals come back as broadcasts") {
    Seq("q_mutual_info", "q_entropy").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: cartesian product")
      assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
        s"$q: expected broadcast-shaped tail:\n" + p.take(600))
    }
  }

  test("brute-force cosine top-k broadcasts the query side (the only sanctioned cross join)") {
    val p = plan("q_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the sanctioned cross join must be a broadcast nested-loop, got:\n" + p.take(800))
    assert(!p.contains("CartesianProduct"), "unbroadcast cartesian found")
  }

  test("q_embedding_neardup: exact blocked path — no single-constant-key join, no cartesian") {
    val p = plan("q_embedding_neardup")
    assert(!p.contains("CartesianProduct"), "cartesian product found")
    // The blocked exact path joins on __blk spread over 32 keys; a
    // single-constant-key join would show a literal equi-key — guard by
    // requiring the explode (block replication) to be present.
    assert(p.contains("explode") || p.contains("Generate"),
      "block replication (explode over 32 block ids) missing:\n" + p.take(800))
    // The join must be KEYED on the block column: either a hash/merge join
    // whose first key is __blk ("...Join [__blk#...], [__blk#...]") or a
    // shuffle on it. A plan that merely mentions __blk in a project list
    // does not pass.
    assert(p.contains("Join [__blk") || p.contains("hashpartitioning(__blk"),
      "join must be keyed on the block column:\n" + p.take(800))
  }

  test("bucketed tables: co-located equi-join plans with ZERO exchange") {
    withTempDir("graft-bucketed") { tmp =>
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val wh = tmp.toString
      val fact = (1L to 1000L).map(i => (i % 50, i, i * 2.0)).toDF("k", "id", "v")
      val dim = (0L until 50L).map(i => (i, s"name_$i")).toDF("k", "name")
      graft.sources.Tables.writeBucketed(fact, "t_fact_b", s"$wh/fact", Seq("k"), 8, Seq("k"))
      graft.sources.Tables.writeBucketed(dim, "t_dim_b", s"$wh/dim", Seq("k"), 8, Seq("k"))
      val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the shuffle-or-bucket path
        val joined = spark.table("t_fact_b").join(spark.table("t_dim_b"), Seq("k"))
        val p = joined.queryExecution.executedPlan.toString
        assert(p.contains("SortMergeJoin"), "expected a sort-merge join over bucketed scans:\n" + p.take(800))
        assert(!p.contains("Exchange"), "bucketed join must not shuffle:\n" + p.take(800))
        assert(joined.count() == 1000)
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
        spark.sql("DROP TABLE IF EXISTS t_fact_b")
        spark.sql("DROP TABLE IF EXISTS t_dim_b")
      }
    }
  }

  test("partitioned sink: partition filter prunes directories at planning time") {
    withTempDir("graft-part") { tmp =>
      import spark.implicits._
      val out = tmp.toString + "/t"
      val df = (1 to 300).map(i => (s"2024-01-${i % 3 + 1}", i.toLong)).toDF("dt", "v")
      graft.sources.Tables.writePartitioned(df, out, Seq("dt"))
      val filtered = spark.read.parquet(out).filter(org.apache.spark.sql.functions.col("dt") === "2024-01-2")
      val p = filtered.queryExecution.executedPlan.toString
      assert(p.contains("PartitionFilters:") && p.contains("2024-01-2"),
        "partition predicate must land in PartitionFilters:\n" + p.take(800))
      // the pruned scan reads exactly the one matching directory
      val scanned = filtered.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f.selectedPartitions.partitionCount
      }
      assert(scanned.contains(1), s"expected 1 selected partition, got $scanned")
      assert(filtered.count() == 100)
    }
  }

  test("geo filterFeatures: both ts bounds of the year reach the Parquet scan's PushedFilters") {
    import spark.implicits._
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.get(key)
    withTempDir("graft-features") { tmp =>
      val dir = tmp.toString
      try {
        spark.conf.set(key, "TIMESTAMP_MICROS")
        Seq(("Queens", "2024-05-01 10:00:00"), ("Bronx", "2025-02-01 00:00:00")).toDF("Boro", "t")
          .select($"Boro", org.apache.spark.sql.functions.to_timestamp($"t").as("ts"))
          .write.parquet(s"$dir/features.parquet")
      } finally spark.conf.set(key, prev)
      val filtered = graft.pipelines.GeoPipeline.filterFeatures(
        graft.sources.Tables.table(spark, dir, "features"), "QUEENS", 2024)
      val pushed = filtered.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f.metadata("PushedFilters")
      }.getOrElse("no file scan")
      // the session zone is UTC; a pushed timestamp renders as java.sql.Timestamp
      def at(utc: String) = java.sql.Timestamp.from(java.time.Instant.parse(utc))
      assert(pushed.contains(s"GreaterThanOrEqual(ts,${at("2024-01-01T00:00:00Z")})") &&
        pushed.contains(s"LessThan(ts,${at("2025-01-01T00:00:00Z")})"),
        s"both year bounds must be pushed to the scan: $pushed")
      assert(filtered.count() == 1)
    }
  }

  test("saltedJoin: same rows as the plain join, keyed on (keys, salt)") {
    import spark.implicits._
    // one hot key (90% of rows) + a tail
    val skewed = (1 to 2000).map(i => (if (i % 10 == 0) i.toLong % 7 else 0L, i)).toDF("k", "id")
    val dim = (0L until 7L).map(i => (i, s"d_$i")).toDF("k", "name")
    val plainRows = skewed.join(dim, Seq("k")).select("k", "id", "name")
      .collect().map(_.toString).sorted
    val salted = graft.operators.Relational.saltedJoin(skewed, dim, Seq("k"), saltFactor = 8)
    val saltedRows = salted.select("k", "id", "name").collect().map(_.toString).sorted
    assert(saltedRows.sameElements(plainRows))
    val p = salted.queryExecution.executedPlan.toString
    assert(p.contains("__salt"), "join must carry the salt key:\n" + p.take(500))
  }

  test("asofJoin: one key shuffle, no join operator at all (union + window)") {
    val p = plan("q_asof_join")
    // the as-of semantics compile to union + window — there must be NO
    // join node (a range/theta formulation would plan a BNLJ or an
    // exploding sort-merge) and only key-hash exchanges
    assert(!p.contains("Join"), "as-of join must not plan a join node:\n" + p.take(800))
    assert(p.contains("Window"), "expected the running-last window")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected exactly 1 key shuffle, got $exchanges")
  }

  test("pairsWithin: banded equi-join — hash join on (key, bucket), no BNLJ/cartesian") {
    val p = plan("q_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "interval join must not plan a nested-loop/cartesian:\n" + p.take(800))
    assert(p.contains("__bkt"), "join must carry the time-bucket key")
  }

  test("sessionize: native session-window aggregate, single key shuffle") {
    val p = plan("q_sessionize")
    assert(p.contains("session_window") || p.contains("SessionWindow"),
      "expected the native session window:\n" + p.take(800))
    assert(!p.contains("Join"), "sessionization must not self-join")
  }

  test("winnowFingerprints (explode shape): codegen'd end-to-end — no interpreted HOF in the hot path") {
    val docs = graft.sources.Tables.documents(spark, dir)
    val df = graft.operators.TextOps.winnowFingerprints(
      docs, "doc_id", org.apache.spark.sql.functions.col("text"), 8, 4)
    val p = df.queryExecution.executedPlan.toString
    // the per-element work (substr + hash) must live under codegen, not
    // inside an interpreted lambda: no higher-order TransformValues /
    // ArrayTransform nodes in this plan
    assert(!p.contains("transform("), "interpreted array transform found:\n" + p.take(800))
    assert(p.contains("Generate") || p.contains("explode"), "expected the position explode")
  }

  test("winnowFingerprintsMapOnly: NO per-character Exchange — fully map-side") {
    val docs = graft.sources.Tables.documents(spark, dir) // un-widened: no repartition
    val df = graft.operators.TextOps.winnowFingerprintsMapOnly(
      docs, "doc_id", org.apache.spark.sql.functions.col("text"), 8, 4)
    val p = df.queryExecution.executedPlan.toString
    // the explode+window shape shuffles one row per corpus character; the
    // map-only shape must plan zero exchanges (scan → project → generate)
    assert(!p.contains("Exchange"), "unexpected shuffle in map-only winnow:\n" + p.take(800))
    // and no window operator either — the sliding min folds in-row
    assert(!p.contains("Window"), "unexpected Window in map-only winnow:\n" + p.take(800))
  }

  test("E1 feature table: exactly the expected shuffle count (join + window), no global sort") {
    val traffic = graft.pipelines.DomainFixtures.traffic(spark, 24 * 7)
    val weather = graft.pipelines.DomainFixtures.weather(spark, 24 * 7)
    val feat = graft.pipelines.TrainingPipeline.featureTable(traffic, weather)
    val p = feat.queryExecution.executedPlan.toString
    // window partitions by borough — no unpartitioned (global) window
    assert(!p.contains("Window [") || !p.contains("Window [], "), "global window found")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 4, s"unexpected shuffle count $exchanges:\n${p.take(500)}")
  }

  test("E1 aggregate: one window over a pinned per-core repartition, no holiday join or local scan") {
    import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    val agg = Bench.e1Aggregate(spark, 24 * 7, Seq("borough"))
    agg.collect()
    val aqe = new AdaptiveSparkPlanHelper {}
    val plan: SparkPlan = agg.queryExecution.executedPlan
    val windows = aqe.collect(plan) { case w: WindowExec => w }
    assert(windows.size == 1, plan.toString)
    val partitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // the nearest exchange below the window is the repartition, read
    // whole: AQE coalesced none of its partitions
    val below = aqe.collectFirst(windows.head.child) { case e: ShuffleExchangeExec => e }
    assert(below.exists(_.shuffleOrigin == REPARTITION_BY_NUM), plan.toString)
    assert(below.get.outputPartitioning.numPartitions == partitions)
    assert(windows.head.child.outputPartitioning.numPartitions == partitions, plan.toString)
    assert(aqe.collect(plan) { case j: BaseJoinExec => j }.size == 1,
      "only the fan-out join may remain:\n" + plan)
    assert(aqe.collect(plan) { case l: LocalTableScanExec => l }.isEmpty,
      "the holiday set must not be a local relation:\n" + plan)
  }

  test("E1 aggregate: building and collecting it runs 4 jobs") {
    // The holiday dimension's distinct stage and broadcast made it 6.
    val (_, sites) = TestSpark.jobSites(Bench.e1Aggregate(spark, 24 * 7, Seq("borough")).collect())
    assert(sites.size == 4, sites.mkString("\n"))
  }

  test("chunkTokens: map-only — zero exchanges, one generate") {
    val docs = graft.sources.Tables.documents(spark, dir)
    val p = graft.operators.TextOps.chunkTokens(docs, "doc_id",
        org.apache.spark.sql.functions.col("text"), 32, 8)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), "unexpected shuffle in chunkTokens:\n" + p.take(800))
    assert(p.contains("Generate"), "explode missing from chunkTokens plan")
  }

  test("bm25TopK: no posting list — zero hash exchanges, no explode, O(k) TakeOrdered") {
    val docs = graft.sources.Tables.documents(spark, dir) // un-widened: no repartition
    val p = graft.operators.TextOps.bm25TopK(docs, "doc_id",
        org.apache.spark.sql.functions.col("text"),
        Seq("spark", "query"), 10)
      .queryExecution.executedPlan.toString
    // per-term tf is computed on the token array in-row: the only data
    // movement is the 1-row stats aggregate (SinglePartition exchange)
    // broadcast back, and the top-k itself
    assert(!p.contains("Exchange hashpartitioning"),
      "unexpected key shuffle in bm25TopK:\n" + p.take(800))
    assert(!p.contains("Generate"), "unexpected explode in bm25TopK")
    assert(!p.contains("SortMergeJoin"), "stats join must broadcast")
    assert(p.contains("TakeOrderedAndProject"), "top-k must be TakeOrdered:\n" + p.take(800))
  }

  test("geo buildFeatures: no alias-substituted CRS inverse in any Filter (round-11 blow-up guard)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    // Filtering on lon/lat nullity AFTER Crs.withLonLat lets
    // PushPredicateThroughProject substitute the staged latitude
    // iteration layer-by-layer into one predicate — ~2^Iters copies of
    // the WKT regex + trig, measured 49.5 s for 41k rows (round 11).
    // The fixed shape (filter the parsed inputs) keeps every Filter at
    // ~110 expression nodes; the broken shape explodes to thousands.
    val traffic = graft.pipelines.DomainFixtures.traffic(spark, 10, 4)
    val feats = graft.pipelines.GeoPipeline.buildFeatures(traffic)
    val sizes = feats.queryExecution.optimizedPlan.collect {
      case f: LFilter => f.condition.collect { case _ => 1 }.sum
    }
    assert(sizes.nonEmpty, "expected at least the WKT-parse null filter")
    sizes.foreach(sz => assert(sz < 400,
      s"a Filter grew to $sz expression nodes — the withLonLat " +
        "alias-substitution blow-up is back"))
  }

  test("lshTopK: exactly one bucket kernel per join side, never re-expanded") {
    // The plane bank must ride as ONE graft_lsh_buckets reference-object
    // expression per side (corpus + query). The pre-round-11 composable
    // form put nTables × nPlanes inlined literal dot products on each
    // side and re-cloned them into inferred join-key filters (~7 s of
    // cold Janino compile at the 32-table config).
    val p = SparkEntry.queries("q_ann_lsh")(spark, dir)
      .queryExecution.optimizedPlan.toString
    val n = "graft_lsh_buckets".r.findAllIn(p).length
    assert(n >= 2 && n <= 4, s"expected 2 bucket kernels (+tolerated inferred-filter copies), found $n")
  }

  test("dsirScores: corpus never shuffles — bucket counts and totals come back as broadcasts") {
    val docs = graft.sources.Tables.documents(spark, dir)
    val p = graft.operators.TextOps.dsirScores(docs, "doc_id",
        org.apache.spark.sql.functions.col("text"),
        org.apache.spark.sql.functions.col("lang") === "en")
      .queryExecution.executedPlan.toString
    // the ≤buckets-row count table and the 1-row totals join back as
    // broadcasts; the only hash exchanges are the two count aggregates
    // (bucket-keyed, bounded) and the final per-doc mean (id-keyed) —
    // never a shuffle of the token stream for the joins themselves
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 1, "count table not broadcast:\n" + p.take(800))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "totals not broadcast")
    assert(!p.contains("SortMergeJoin"), "token stream shuffled for a join:\n" + p.take(800))
  }

  test("contaminatedDocsBloom: in-row bitset probe, broadcast verify, no shuffle join") {
    val docs = graft.sources.Tables.documents(spark, dir)
    val c = org.apache.spark.sql.functions.col _
    val df = graft.operators.Dedup.contaminatedDocsBloom(
      docs.filter(c("doc_id") % 20 =!= 0), docs.filter(c("doc_id") % 20 === 0),
      "text", "doc_id")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("shiftright"), "bloom bit probe missing:\n" + p.take(800))
    // the probe must be a SCALAR filter on the exploded gram stream
    // (codegen), never an interpreted in-row lambda
    assert(!p.contains("ArrayFilter"), "bloom probe fell back to an interpreted HOF:\n" + p.take(800))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "unkeyed join in the bloom path:\n" + p.take(800))
  }

  test("semanticDedup: centroid assignment is a pure projection (no shuffle before the cluster join)") {
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val cents = Seq(0 -> Array.fill(64)(0.1), 1 -> Array.fill(64)(-0.1))
    val df = graft.operators.Similarity.semanticDedup(emb, "vec_id",
      "embedding", cents, 0.9)
    val p = df.queryExecution.executedPlan.toString
    // the assignment is ONE constant-size codegen'd kernel (not an
    // unrolled per-centroid expansion); the exchanges present belong to
    // the intra-cluster self-join + anti-join, all keyed.
    assert(p.contains("graft_centroid_argmax"),
      "centroid-argmax kernel missing from assignment:\n" + p.take(800))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "unkeyed join in semanticDedup:\n" + p.take(800))
    // the intra-cluster compare must join on (cluster, __blk) — a bare
    // cluster key caps reduce parallelism at the cluster count
    assert(p.contains("__blk"), "sub-block key missing from the pair join:\n" + p.take(800))
  }

  test("simhashNearDupPairs: band join carries the sub-block key") {
    val docs = graft.sources.Tables.documents(spark, dir)
    val df = graft.operators.Dedup.simhashNearDupPairs(docs, "text", "doc_id")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("__blk"), "sub-block key missing from the band join:\n" + p.take(800))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "unkeyed join in simhash pairs:\n" + p.take(800))
  }

  test("GraftSession: the test session runs the production optimizer config") {
    assert(spark.experimental.extraOptimizations.contains(plans.SortThroughProject))
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("SortThroughProject: global sort samples the scan, not the computed projection") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.plans.logical.{Project, Sort}
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    // q_round_decimal shape: expensive computed columns + orderBy on
    // pass-through keys → the rule must leave Sort BELOW the Project, so
    // the range-sampling job reads three base columns instead of
    // evaluating the decimal quantize twice
    val swapped = li.select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice") * 0.0137, 2).as("r2"),
        col("l_extendedprice").cast("decimal(18,2)").cast("double").as("q2"))
      .orderBy("l_orderkey", "l_linenumber")
      .queryExecution.optimizedPlan
    assert(swapped.isInstanceOf[Project] &&
      swapped.children.head.isInstanceOf[Sort],
      "sort must be pushed below the computing projection:\n" + swapped)
    // sort key renamed through a bare alias still swaps (exprId mapped)
    val renamed = li.select(col("l_orderkey").as("ok"),
        (col("l_extendedprice") * 2).as("p2")).orderBy("ok")
      .queryExecution.optimizedPlan
    assert(renamed.isInstanceOf[Project] &&
      renamed.children.head.isInstanceOf[Sort],
      "rename-through sort key must still swap:\n" + renamed)
    // NEGATIVE: the projection drops a variable-width column it consumed
    // (md5 over a string) — swapping would push the wide text through the
    // range exchange; the rule must leave the plan alone
    val kept = li.select(col("l_orderkey"), md5(col("l_returnflag")).as("h"))
      .orderBy("l_orderkey")
      .queryExecution.optimizedPlan
    assert(kept.isInstanceOf[Sort],
      "dropped variable-width input must block the swap:\n" + kept)
    // NEGATIVE: computed sort key stays put (pushing it down would not
    // save the double evaluation anyway)
    val computedKey = li.select((col("l_extendedprice") * 3).as("k3"),
        col("l_orderkey")).orderBy("k3")
      .queryExecution.optimizedPlan
    assert(computedKey.isInstanceOf[Sort],
      "computed sort key must block the swap:\n" + computedKey)
    // NEGATIVE: a NARROWING projection (five numeric inputs folded into
    // one value) must not swap — the range exchange would carry the wide
    // pre-projection row (the sf0.1 n-gram Jaccard sort measured +0.8 s)
    val narrowing = li.select(col("l_orderkey"),
        (col("l_quantity") + col("l_extendedprice") + col("l_discount")
          + col("l_tax")).as("v")).orderBy("l_orderkey")
      .queryExecution.optimizedPlan
    assert(narrowing.isInstanceOf[Sort],
      "narrowing projection must block the swap:\n" + narrowing)
    // NEGATIVE: projection above a shuffle (aggregate) — sampling reads
    // materialized stage output either way, so the swap buys nothing
    val overAgg = li.groupBy("l_returnflag")
      .agg(sum("l_quantity").as("s"))
      .select(col("l_returnflag"), (col("s") * 2).as("s2"))
      .orderBy("l_returnflag")
      .queryExecution.optimizedPlan
    assert(overAgg.isInstanceOf[Sort],
      "shuffle below the projection must block the swap:\n" + overAgg)
    // row-level equivalence with the rule on vs off
    def q = li.select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice") * 0.0137, 2).as("r2"))
      .orderBy("l_orderkey", "l_linenumber")
    val on = q.collect().toSeq
    val prev = spark.experimental.extraOptimizations
    try {
      spark.experimental.extraOptimizations = Seq()
      assert(q.collect().toSeq == on, "rule must not change results")
    } finally spark.experimental.extraOptimizations = prev
  }

  test("SortThroughProject: property — random project/sort/filter/agg stacks are rule-on == rule-off") {
    // The six negative pins above freeze the KNOWN guard conditions;
    // this property protects the ones nobody thought of: any future
    // edit to `widens`/`droppedRefs`/the match pattern must preserve
    // row-for-row equality on arbitrary operator stacks, not just the
    // shapes the pins enumerate. All columns are LONG (a float
    // aggregate could legally differ between plan shapes via summation
    // order) and every generated sort ends in a unique tie-break key,
    // so equality is exact and deterministic by construction.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.{Column, DataFrame}
    import org.scalacheck.{Gen, Prop, Test => SCTest}

    sealed trait Op
    case class Compute(src: Int, kind: Int) extends Op
    case class Prune(mask: Int) extends Op
    case class Rename(i: Int) extends Op
    case class FilterOp(src: Int, m: Int) extends Op
    case class SortOp(k1: Int, k2: Int, desc: Boolean) extends Op
    case class AggOp(key: Int) extends Op

    // (frame, numeric column names, unique-per-row tie-break column)
    case class St(df: DataFrame, cols: Vector[String], uniq: String, n: Int)

    def base: St = {
      val df = spark.range(200).select(col("id"),
        (col("id") % 7).as("a"), (col("id") % 13).as("b"),
        ((col("id") * 37) % 101).as("c"))
      St(df, Vector("a", "b", "c"), "id", 0)
    }

    def step(s: St, op: Op): St = op match {
      case Compute(src, kind) =>
        val in = col(s.cols(math.abs(src) % s.cols.size))
        val e: Column = math.abs(kind) % 3 match {
          case 0 => in * 2 + 1
          case 1 => (in * 37) % 101
          case _ => (in + 3) * (in % 5 + 1)
        }
        val nm = s"c${s.n}"
        St(s.df.withColumn(nm, e), s.cols :+ nm, s.uniq, s.n + 1)
      case Prune(mask) =>
        val kept = s.cols.zipWithIndex.collect {
          case (c, i) if ((mask >>> (i % 30)) & 1) == 1 => c
        }
        val cols2 = if (kept.isEmpty) Vector(s.cols(math.abs(mask) % s.cols.size)) else kept
        val sel = (s.uniq +: cols2).distinct
        St(s.df.select(sel.map(col): _*), cols2, s.uniq, s.n)
      case Rename(i) =>
        val from = s.cols(math.abs(i) % s.cols.size)
        val to = from + "r"
        St(s.df.withColumnRenamed(from, to), s.cols.map(c => if (c == from) to else c),
          if (s.uniq == from) to else s.uniq, s.n)
      case FilterOp(src, m) =>
        val in = col(s.cols(math.abs(src) % s.cols.size))
        St(s.df.filter(in % 5 < (math.abs(m) % 4 + 1)), s.cols, s.uniq, s.n)
      case SortOp(k1, k2, desc) =>
        val a = s.cols(math.abs(k1) % s.cols.size)
        val b = s.cols(math.abs(k2) % s.cols.size)
        val head = if (desc) col(a).desc else col(a).asc
        val keys = head +: (Seq(b).filter(_ != a).map(col(_).asc) :+ col(s.uniq).asc)
        St(s.df.orderBy(keys: _*), s.cols, s.uniq, s.n)
      case AggOp(key) =>
        val k = s.cols(math.abs(key) % s.cols.size)
        val others = s.cols.filter(_ != k).take(2)
        val aggs = count(lit(1)).as(s"n${s.n}") +:
          others.map(c => sum(col(c)).as(s"s_$c"))
        St(s.df.groupBy(k).agg(aggs.head, aggs.tail: _*),
          k +: (s"n${s.n}" +: others.map("s_" + _)).toVector, k, s.n + 1)
    }

    val opGen: Gen[Op] = Gen.frequency(
      3 -> Gen.zip(Gen.choose(0, 9), Gen.choose(0, 9)).map { case (a, b) => Compute(a, b) },
      1 -> Gen.choose(1, (1 << 8) - 1).map(Prune(_)),
      1 -> Gen.choose(0, 9).map(Rename(_)),
      2 -> Gen.zip(Gen.choose(0, 9), Gen.choose(0, 9)).map { case (a, b) => FilterOp(a, b) },
      3 -> Gen.zip(Gen.choose(0, 9), Gen.choose(0, 9), Gen.oneOf(true, false))
        .map { case (a, b, d) => SortOp(a, b, d) },
      1 -> Gen.choose(0, 9).map(AggOp(_)))
    val stackGen: Gen[List[Op]] = Gen.choose(2, 6).flatMap(Gen.listOfN(_, opGen))

    def run(ops: List[Op]): (Seq[org.apache.spark.sql.Row], String) = {
      val st = ops.foldLeft(base)(step)
      // deterministic final order: every column then the unique key
      val fin = st.df.orderBy((st.cols.map(col(_).asc) :+ col(st.uniq).asc): _*)
      (fin.collect().toSeq, fin.queryExecution.optimizedPlan.toString)
    }

    val withRule = spark.experimental.extraOptimizations
    assert(withRule.contains(graft.plans.SortThroughProject),
      "precondition: the rule must be installed in the test session")
    var fired = 0
    val prop = Prop.forAll(stackGen) { ops =>
      val (onRows, onPlan) = run(ops)
      val (offRows, offPlan) =
        try { spark.experimental.extraOptimizations = Seq(); run(ops) }
        finally spark.experimental.extraOptimizations = withRule
      if (onPlan != offPlan) fired += 1
      onRows == offRows
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(res.passed, s"property failed: ${res.status}")
    assert(fired > 0, "vacuous property: the rule never rewrote any generated plan")
  }

  test("heavyHitters aggregate partial-aggregates map-side") {
    // The whole 100 TB claim of the sketch is map-side combine: each
    // task ships one O(k) buffer, never its rows. (Probed on a fresh
    // aggregate plan — inside q_heavy_hitters the sketch subtree is
    // eagerly localCheckpoint'ed, so the certification query's final
    // plan starts from the materialized RDD and can't carry the pin.)
    import org.apache.spark.sql.functions._
    graft.functions.GraftFunctions.register(spark)
    val docs = graft.sources.Tables.documents(spark, dir)
    val p = docs.agg(graft.functions.GraftFunctions.heavyHitters(
        graft.functions.Hashing.h60(col("lang")), 3))
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_graft_heavy_hitters"),
      "expected a partial-mode MG aggregate:\n" + p.take(1200))
  }

  test("q_ann_pq: ADC scan reduces through the O(k)-buffer aggregate, shortlist joins broadcast") {
    val p = plan("q_ann_pq")
    // top-k over the N·Q scored stream must be the bounded-buffer
    // aggregate (exchange carries queries·k·refine rows)…
    assert(p.contains("partial_graft_top_k"),
      "expected partial graft_top_k over the ADC scan:\n" + p.take(1200))
    // …and every join in the pipeline — shortlist vector fetch AND the
    // recall-certification join — must be a broadcast probe; a
    // sort-merge join on the fetch side would shuffle the corpus
    assert(!p.contains("SortMergeJoin"), p.take(1200))
  }

  test("q_psi_drift: literal-edge binning leaves a join-free aggregation pipeline") {
    // Edges ride as literals (one collected percentile row), so binning
    // must be pure column math: the only joins in the plan are the
    // nBins-row grid densification and the 1-row totals attach — both
    // broadcast. A shuffle join would mean the edge table went lazy.
    val p = plan("q_psi_drift")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      p.take(1200))
  }

  test("searchAnnIndex: codes scan carries a static cell PartitionFilter (sub-linear index I/O)") {
    withTempDir("ann_idx_plan") { tmp =>
      // The persisted index's 100 TB claim is that a search reads ONLY the
      // probed cells' directories of the cell-partitioned codes table
      // (~nProbe/nCells of the index at rest). The probed-cell union is
      // resolved driver-side and filtered on the partition column, so the
      // codes FileScan must show a non-trivial PartitionFilters entry —
      // not rely on the optimizer electing dynamic pruning (VERDICT r14
      // #2). With nProbe=2 of 8 cells and a single query, the filter must
      // also prune: selected partitions < total cells.
      import org.apache.spark.sql.functions.col
      import org.apache.spark.sql.execution.FileSourceScanExec
      import graft.operators.Similarity
      val corpus = spark.range(0, 400).selectExpr("id as vec_id",
        "transform(sequence(1, 16), j -> sin(id * j * 0.7) + cos(id + j)) as embedding")
      val path = tmp.toString
      Similarity.buildAnnIndex(corpus, "vec_id", "embedding", path,
        nCells = 8, m = 8, ksub = 16)
      val res = Similarity.searchAnnIndex(spark, path, corpus,
        corpus.filter(col("vec_id") === 0), "vec_id", "embedding",
        3, nProbe = 2, refine = 10)
      // static partition filters are resolved at planning time, so assert
      // on sparkPlan — the pre-AQE physical plan where FileSourceScanExec
      // is directly collectible (AQE wraps stages into leaf nodes)
      val exec = res.queryExecution.sparkPlan
      val codeScans = exec.collect {
        case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.toString.contains(path))
              && s.output.exists(_.name == "codes") => s
      }
      assert(codeScans.nonEmpty, "no FileSourceScan over the codes table:\n" +
        exec.toString.take(1500))
      val scan = codeScans.head
      // DPP may ALSO attach a dynamicpruning subquery from the __cell join;
      // the claim under test is the STATIC IN filter (present regardless of
      // optimizer heuristics), so strip unevaluable dynamic filters first
      val staticFilters = scan.partitionFilters.filterNot(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.DynamicPruning]))
      assert(staticFilters.exists(_.references.exists(_.name == "cell")),
        "codes scan has no static PartitionFilter on cell:\n" + scan.toString)
      // and it actually prunes: ≤ nProbe of the 8 cell directories survive
      assert(scan.relation.location.listFiles(
          staticFilters, scan.dataFilters).length <= 2,
        "cell PartitionFilter did not prune directories")
      assert(res.count() > 0)
    }
  }

  test("driftMatrix: two melt scans total, one PARTITIONED window, no unpartitioned window") {
    import graft.operators.Drift
    import org.apache.spark.sql.functions.col
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_returnflag"),
        col("l_quantity").cast("double").as("quantity"),
        col("l_discount").cast("double").as("discount"))
    val m = Drift.driftMatrix(li.filter(col("l_orderkey") % 2 === 0),
      li.filter(col("l_orderkey") % 2 === 1), Seq("quantity", "discount"),
      slice = Some(col("l_returnflag")))
    // the matrix's one-pass property: the ONLY raw-table scans are the
    // two side melts feeding the cell aggregate (edges/PSI/KS/W1/JS/chi2
    // all derive from the checkpointed cells — a third scan means a
    // branch regressed to re-reading the input). Count scans in the
    // WHOLE executed tree (the checkpoint boundary hides the upstream
    // subtree, so count on the cells build itself via a fresh plan).
    val meltedTwice = li.filter(col("l_orderkey") % 2 === 0)
      .unionAll(li.filter(col("l_orderkey") % 2 === 1))
    assert(meltedTwice.queryExecution.executedPlan.collectLeaves().count {
      case _: org.apache.spark.sql.execution.FileSourceScanExec => true
      case _ => false
    } == 2)
    val p = m.queryExecution.executedPlan.toString
    // post-checkpoint tree: NO FileSourceScan (everything derives from
    // the materialized cells) and every Window partitioned by (s, f)
    assert(!p.contains("FileScan parquet"),
      "a metric branch re-reads the raw table:\n" + p.take(1200))
    val windowSpecs = p.linesIterator.filter(_.contains("Window "))
    windowSpecs.foreach { w =>
      assert(w.contains("__s") && w.contains("__f"),
        s"unpartitioned window in driftMatrix plan: $w")
    }
    assert(m.count() > 0)
  }

  test("q_tpch_01/06: predicates pushed to the lineitem scan, pruned ReadSchema") {
    // plan toString truncates long fields ("…strin...") — assert on the
    // scan's COLUMN LIST bracket (never truncated at these widths) and
    // on PushedFilters prefixes that fit.
    def scanCols(p: String): Seq[String] = {
      val line = p.linesIterator.find(_.contains("FileScan parquet [")).get
      val inner = line.substring(line.indexOf("FileScan parquet [") + 18)
      inner.take(inner.indexOf(']')).split(',').map(_.takeWhile(_ != '#')).toSeq
    }
    val p1 = plan("q_tpch_01")
    assert(p1.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      p1.take(800))
    // exactly the 7 referenced columns, nothing else
    assert(scanCols(p1) == Seq("l_quantity", "l_extendedprice", "l_discount",
      "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"), p1.take(1200))
    val p6 = plan("q_tpch_06")
    assert(p6.contains(
      "PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), IsNotNull(l_quantity), GreaterThanOrEqual"),
      p6.take(1200))
    assert(scanCols(p6) == Seq("l_quantity", "l_extendedprice", "l_discount",
      "l_shipdate"), p6.take(1200))
  }

  test("q_tpch_05: 6-table join tree broadcasts every dimension — exactly ONE hash exchange") {
    // The canonical local-supplier-volume join: nation/region/supplier/
    // customer broadcast, lineitem ⋈ orders is the single big-big
    // shuffle. A SortMergeJoin or a second hashpartitioning exchange
    // means a dimension fell out of broadcast (PLANS.md r17 audit).
    val p = plan("q_tpch_05")
    assert(!p.contains("SortMergeJoin"), p.take(1500))
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) == 5, p.take(1500))
    assert(p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning")) <= 2, // join key + agg key
      "unexpected extra shuffles:\n" + p.take(1500))
  }

  test("q_tpch_21: EXISTS/NOT-EXISTS decorrelates to windows — zero self-joins of lineitem") {
    // The SQL form implies a triple self-join; the engine's plan is the
    // per-(order, supplier) aggregate + ONE window partitioning, then
    // broadcast joins to orders/supplier. A second lineitem scan means
    // the decorrelation regressed to a self-join.
    val p = plan("q_tpch_21")
    val lineitemScans = p.linesIterator.count(l =>
      l.contains("FileScan") && l.contains("lineitem"))
    assert(lineitemScans == 1, s"lineitem scanned $lineitemScans times:\n" + p.take(1200))
    assert(p.contains("Window"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
  }
}
