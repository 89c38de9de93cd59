package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{DateTimeKit, GraftFunctions, Hashing}
import graft.operators.{Relational, TextOps}
import graft.windows.TrailingFeatures

/** Property-style checks (SURVEY.md §5c): algebraic invariants of the
  * scalar kit verified over seeded random inputs against plain-Scala
  * reference computations.
  */
class PropertySpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  private val rng = new scala.util.Random(20260812L)

  test("cyclical encodings are bounded and satisfy sin²+cos²=1") {
    val ts = (1 to 300).map(_ => new java.sql.Timestamp(
      1577836800000L + (rng.nextDouble() * 4 * 365.25 * 86400000L).toLong))
    val feats = DateTimeKit.cyclicalFeatures(col("t"))
    val df = ts.toDF("t").select(feats.map { case (n, c) => c.as(n) }: _*)
    val rows = df.collect()
    rows.foreach { r =>
      (0 until r.length).foreach(i => assert(math.abs(r.getDouble(i)) <= 1.0 + 1e-12))
      Seq(0, 2, 4).foreach { i => // (sin,cos) pairs
        val s2c2 = r.getDouble(i) * r.getDouble(i) + r.getDouble(i + 1) * r.getDouble(i + 1)
        assert(math.abs(s2c2 - 1.0) < 1e-9)
      }
    }
  }

  test("expm1(log1p(x)) == x for non-negative volumes") {
    val xs = (1 to 500).map(_ => rng.nextDouble() * 1e6)
    val got = xs.toDF("x").select(expm1(log1p(col("x"))).as("y")).collect().map(_.getDouble(0))
    xs.zip(got).foreach { case (x, y) =>
      assert(math.abs(x - y) <= 1e-9 * math.max(1.0, x))
    }
  }

  test("temporal split flag: exactly ceil(n*frac) train rows for random n/frac") {
    for (_ <- 1 to 8) {
      val n = 1 + rng.nextInt(400)
      val frac = 0.1 + rng.nextDouble() * 0.8
      val df = (1 to n).map(i => (i, i * 2)).toDF("t", "v")
      val train = Relational.temporalSplitFlag(df, Seq("t"), frac)
        .filter(col("is_train") === 1).count()
      assert(train == math.ceil(n * frac).toLong, s"n=$n frac=$frac")
    }
  }

  test("trailing mean equals hand-computed [t-w, t-1] mean on random series") {
    val vals = (1 to 200).map(i => (i, rng.nextDouble() * 100))
    val got = vals.toDF("t", "v")
      .select(col("t"), TrailingFeatures.trailingMean(col("v"), 5, Seq(), Seq("t")).as("m"))
      .collect().map(r => r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    vals.foreach { case (t, _) =>
      val window = vals.filter { case (u, _) => u >= t - 5 && u <= t - 1 }.map(_._2)
      val want = if (window.isEmpty) None else Some(window.sum / window.size)
      (got(t), want) match {
        case (Some(a), Some(b)) => assert(math.abs(a - b) < 1e-9, s"t=$t")
        case (a, b) => assert(a == b, s"t=$t")
      }
    }
  }

  test("h60 is stable across partitionings and matches a local md5 computation") {
    val words = (1 to 100).map(_ => rng.alphanumeric.take(1 + rng.nextInt(20)).mkString)
    def local(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15), 16)
    for (parts <- Seq(1, 7)) {
      val got = words.toDF("w").repartition(parts)
        .select(col("w"), Hashing.h60(col("w")).as("h"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      words.foreach(w => assert(got(w) == local(w), s"w=$w"))
    }
  }

  test("word shingle count == max(0, tokens - n + 1)") {
    val texts = (1 to 100).map { _ =>
      val n = rng.nextInt(8)
      (1 to n).map(_ => rng.alphanumeric.take(3).mkString).mkString(" ")
    }
    for (n <- Seq(2, 3)) {
      val got = texts.toDF("t")
        .withColumn("__toks", TextOps.tokens(col("t")))
        .select(size(TextOps.wordShinglesFromTokens(col("__toks"), n)).as("c"))
        .collect().map(_.getInt(0))
      texts.zip(got).foreach { case (t, c) =>
        val toks = t.trim.split("\\s+").count(_.nonEmpty)
        // split("") yields one empty token, matching DuckDB's behavior
        val effToks = if (t.trim.isEmpty) 1 else toks
        assert(c == math.max(0, effToks - n + 1), s"'$t' n=$n got=$c")
      }
    }
  }

  test("codegen dot product equals local sequential fold") {
    GraftFunctions.register(spark)
    val vecs = (1 to 50).map(_ => (Array.fill(17)(rng.nextDouble() * 2 - 1),
      Array.fill(17)(rng.nextDouble() * 2 - 1)))
    val got = vecs.toDF("a", "b")
      .select(GraftFunctions.dotFast(col("a"), col("b")).as("d"))
      .collect().map(_.getDouble(0))
    vecs.zip(got).foreach { case ((a, b), d) =>
      var s = 0.0
      for (i <- a.indices) s += a(i) * b(i)
      assert(d == s) // bit-identical: same accumulation order
    }
  }

  test("oversample multiplies every row's multiplicity by exactly k") {
    for (k <- Seq(1, 3, 5)) {
      val df = (1 to 50).map(i => (i % 7, i)).toDF("g", "v")
      val got = Relational.oversample(df, k).count()
      assert(got == 50L * k)
    }
  }

  test("sequence packing: offsets are contiguous per shard, boundaries at the budget") {
    val df = Seq((1L, 100L, 0), (2L, 200L, 0), (3L, 50L, 0), (4L, 300L, 1))
      .toDF("id", "n", "shard")
    val got = TextOps.packSequences(df, col("id"), col("n"), 256L, col("shard"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(3), r.getLong(4))).toMap // (seq_in_shard, seq_offset)
    // shard 0 cumulative starts: 0, 100, 300 → seq 0/0, 0/100, 1/44
    assert(got(1L) == (0L, 0L) && got(2L) == (0L, 100L) && got(3L) == (1L, 44L))
    assert(got(4L) == (0L, 0L)) // shard 1 starts fresh
  }

  test("token-budget sample: truncation at the budget, nested under budget growth") {
    val df = (1L to 100L).map(i => (i, 10L, "en")).toDF("id", "n", "lang")
    def keep(b: Long): Set[Long] =
      TextOps.tokenBudgetSample(df, col("id"), col("n"), col("lang"), Map("en" -> b))
        .collect().map(_.getLong(0)).toSet
    val small = keep(200L)   // exactly 20 docs of 10 tokens
    val big = keep(500L)
    assert(small.size == 20 && big.size == 50)
    assert(small.subsetOf(big), "raising the budget must only add docs")
    assert(keep(5L).isEmpty, "budget below the first doc keeps nothing")
    // unlisted stratum → kept nothing
    assert(TextOps.tokenBudgetSample(df, col("id"), col("n"), col("lang"),
      Map("de" -> 1000L)).count() == 0)
  }

  test("winnowing: shared substrings of length >= k+w-1 share a fingerprint; short docs yield none") {
    val k = 5; val w = 4
    // d1 and d2 embed the same (k + w − 1 = 8)-char run "qrstuvwx" inside
    // otherwise-disjoint text; d3 is disjoint; d4 is below the minimum
    // fingerprintable length.
    val df = Seq(
      (1L, "aaaa bbbb qrstuvwx cccc dddd"),
      (2L, "eeee ffff qrstuvwx gggg hhhh"),
      (3L, "iiii jjjj kkkk llll mmmm nnnn"),
      (4L, "zzzzzzz") // 7 normalized chars < k+w-1
    ).toDF("id", "text")
    val fps = TextOps.winnowFingerprints(df, "id", col("text"), k, w)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((fps(1) intersect fps(2)).nonEmpty,
      "documents sharing an 8-char substring must share a fingerprint")
    assert((fps(1) intersect fps(3)).isEmpty,
      "documents with no shared 5-gram must share no fingerprint")
    assert(fps(3).nonEmpty, "disjoint doc still has its own fingerprints")
    assert(!fps.contains(4L), "doc below k+w-1 chars has no fingerprints")
    // determinism: same input → identical fingerprint sets
    val again = TextOps.winnowFingerprints(df, "id", col("text"), k, w)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == fps.toSeq.flatMap { case (i, s) => s.map(i -> _) }.toSet)
  }

  test("winnowing: map-only shape is row-identical to the explode+window shape") {
    // same fixture family as above plus edge cases: doc exactly at the
    // k+w-1 minimum, repeated substrings (duplicate window minima must
    // dedup identically), and multi-space runs the trim/lower touches
    val k = 5; val w = 4
    val df = Seq(
      (1L, "aaaa bbbb qrstuvwx cccc dddd"),
      (2L, "eeee ffff qrstuvwx gggg hhhh"),
      (3L, "iiii jjjj kkkk llll mmmm nnnn"),
      (4L, "zzzzzzz"),
      (5L, "exactly8"), // k+w-1 = 8 normalized chars: exactly one window
      (6L, "ababababababababab"),
      (7L, "  MiXeD   CaSe   WiTh   SpAcEs  ")
    ).toDF("id", "text")
    val a = TextOps.winnowFingerprints(df, "id", col("text"), k, w)
    val b = TextOps.winnowFingerprintsMapOnly(df, "id", col("text"), k, w)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "map-only winnowing diverged from the explode+window shape")
    assert(b.filter(col("id") === 5L).count() == 1L,
      "doc at exactly k+w-1 chars must yield exactly one fingerprint")
  }

  test("hash samples are NESTED: sample(f1) ⊆ sample(f2) whenever f1 ≤ f2") {
    // the property that lets an eval set GROW without resampling: raising
    // the fraction only ADDS rows, it never rotates membership
    val df = (1L to 2000L).toDF("id")
    def keep(f: Double): Set[Long] =
      Relational.hashSample(df, col("id"), f).collect().map(_.getLong(0)).toSet
    val fracs = Seq(0.05, 0.2, 0.5, 0.9, 1.0)
    val sets = fracs.map(keep)
    sets.sliding(2).foreach { case Seq(lo, hi) =>
      assert(lo.subsetOf(hi), s"smaller fraction must be a subset (|lo|=${lo.size}, |hi|=${hi.size})")
    }
    assert(sets.last.size == 2000, "fraction 1.0 keeps everything")
  }

  test("J5 auto-cell nearest == brute argmin over random densities and extents") {
    // The exactness contract the adaptive grid must keep at ANY density:
    // whatever cell autoCellSize picks, the index's ring search
    // equals the exhaustive argmin with the (dist², id) tie-break. Skews
    // extents and counts across trials so the chosen cell varies ~40×.
    import graft.geo.SpatialJoin
    for (trial <- 1 to 4) {
      val r = new scala.util.Random(7000 + trial)
      val extent = math.pow(10.0, 1 + trial) // 100 … 100k
      val nRight = 5 + r.nextInt(60)
      val nLeft = 50 + r.nextInt(100)
      val right = (1 to nRight).map(i =>
        (i.toLong, r.nextDouble() * extent, r.nextDouble() * extent))
      // left mixes in-extent points with outliers 3× beyond it
      val left = (1 to nLeft).map { i =>
        val m = if (i % 11 == 0) 3.0 else 1.0
        (i.toLong, r.nextDouble() * extent * m, r.nextDouble() * extent * m)
      }
      val got = SpatialJoin.nearest(left.toDF("id", "x", "y"), "id",
          right.toDF("id", "x", "y"), "id", "x", "y")
        .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
      assert(got.size == nLeft, s"trial $trial: ${got.size} of $nLeft rows")
      left.foreach { case (lid, lx, ly) =>
        val want = right.map { case (rid, rx, ry) =>
          (rid, (lx - rx) * (lx - rx) + (ly - ry) * (ly - ry))
        }.minBy { case (rid, d) => (d, rid) }._1
        assert(got(lid) == want, s"trial $trial left $lid: got ${got(lid)}, want $want")
      }
    }
  }

  test("dedupSpans matches a brute-force reference on random tiny-vocab corpora") {
    // tiny vocab + short docs force heavy accidental span sharing, so
    // overlap/coverage interactions (spans straddling spans, chains of
    // dups, self-repeats within one doc) all occur by volume
    val vocab = Array("a", "b", "c", "d")
    val n = 3
    for (trial <- 1 to 5) {
      val docs = (0L until 30L).map { id =>
        val len = 1 + rng.nextInt(12)
        (id, (1 to len).map(_ => vocab(rng.nextInt(vocab.length))).mkString(" "))
      }
      val toks = docs.map { case (id, t) => id -> t.trim.split("\\s+").toSeq }
      val first = scala.collection.mutable.Map[Seq[String], (Long, Int)]()
      toks.foreach { case (id, ts) =>
        (0 to ts.length - n).foreach { p =>
          val s = ts.slice(p, p + n)
          if (!first.contains(s)) first(s) = (id, p)
        }
      }
      val expected = toks.map { case (id, ts) =>
        val covered = Array.fill(ts.length)(false)
        (0 to ts.length - n).foreach { p =>
          if (first(ts.slice(p, p + n)) != ((id, p)))
            (p until p + n).foreach(covered(_) = true)
        }
        id -> ((ts.zipWithIndex.collect { case (t, i) if !covered(i) => t }.mkString(" "),
          ts.length.toLong, covered.count(identity).toLong))
      }.toMap
      val got = graft.operators.TextOps
        .dedupSpans(docs.toDF("id", "text"), "id", col("text"), n)
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
      assert(got == expected, s"trial $trial")
    }
  }
}
