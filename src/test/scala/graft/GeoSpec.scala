package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.geo.{Crs, GeoOps, Lcc2sp, SpatialJoin}

/** §2.6 F16 CRS math, F1/F2 WKT parse, F20 tuple keys, §2.3 J5 nearest-
  * neighbor join.
  */
class GeoSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  /** Brute-force point-to-segment dist², the J5 reference. */
  private def segDsq(px: Double, py: Double, ax: Double, ay: Double,
      bx: Double, by: Double): Double = {
    val dx = bx - ax; val dy = by - ay
    val len2 = dx * dx + dy * dy
    val t = if (len2 == 0) 0.0
      else math.max(0.0, math.min(1.0, ((px - ax) * dx + (py - ay) * dy) / len2))
    val qx = ax + t * dx; val qy = ay + t * dy
    (px - qx) * (px - qx) + (py - qy) * (py - qy)
  }

  test("F16: LCC 2SP forward matches the published EPSG Guidance Note 7-2 worked example") {
    // NAD27 / Texas South Central (Clarke 1866): the worked example in the
    // public EPSG guidance — φ=28°30'N, λ=96°W → E=2963503.91 ftUS,
    // N=254759.80 ftUS.
    val tx = Lcc2sp(
      a = 6378206.4, invf = 294.9786982139006,
      phi1Deg = 28.0 + 23.0 / 60.0, phi2Deg = 30.0 + 17.0 / 60.0,
      phiFDeg = 27.0 + 50.0 / 60.0, lamFDeg = -99.0,
      falseEastingM = 2000000.0 * Crs.FtUs, falseNorthingM = 0.0)
    val (e, n) = tx.forward(-96.0, 28.5)
    assert(math.abs(e / Crs.FtUs - 2963503.91) < 0.05, s"E=${e / Crs.FtUs}")
    assert(math.abs(n / Crs.FtUs - 254759.80) < 0.05, s"N=${n / Crs.FtUs}")
    // and the inverse recovers the geographic point
    val (lon, lat) = tx.inverse(e, n)
    assert(math.abs(lon - -96.0) < 1e-9 && math.abs(lat - 28.5) < 1e-9)
  }

  test("F16: EPSG:2263 inverse lands NYC points in the NYC bbox") {
    val (lon, lat) = Crs.Epsg2263.inverse(990000 * Crs.FtUs, 200000 * Crs.FtUs)
    assert(lat > 40.6 && lat < 40.85, s"lat=$lat")
    assert(lon > -74.1 && lon < -73.9, s"lon=$lon")
  }

  test("F16: forward∘inverse roundtrip identity across the NYC range") {
    for (lon <- Seq(-74.25, -74.0, -73.7); lat <- Seq(40.5, 40.75, 40.95)) {
      val (e, n) = Crs.Epsg2263.forward(lon, lat)
      val (lon2, lat2) = Crs.Epsg2263.inverse(e, n)
      assert(math.abs(lon - lon2) < 1e-10 && math.abs(lat - lat2) < 1e-10,
        s"roundtrip ($lon,$lat) -> ($lon2,$lat2)")
    }
  }

  test("F16 property: forward∘inverse < 1e-9° over the full EPSG:2263 domain") {
    // The worked-example and 9-point grid tests pin exact values; this
    // closes the loop over the WHOLE projection domain (EPSG registry
    // extent for 2263 — Long Island / NYC / lower Hudson, padded past
    // the official bbox to stress the latitude iteration): any
    // (lon, lat) in the box must survive forward→inverse to within
    // 1e-9° (~0.1 µm on the ground), i.e. the fixed 7-iteration depth
    // is converged everywhere the projection is used, not just at the
    // sampled corners.
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val lonGen = Gen.choose(-74.8, -71.5)
    val latGen = Gen.choose(40.3, 41.5)
    val prop = Prop.forAll(lonGen, latGen) { (lon, lat) =>
      val (e, n) = Crs.Epsg2263.forward(lon, lat)
      val (lon2, lat2) = Crs.Epsg2263.inverse(e, n)
      math.abs(lon - lon2) < 1e-9 && math.abs(lat - lat2) < 1e-9
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, s"roundtrip property failed: ${res.status}")
  }

  test("F16: Column-expression inverse agrees with the Scala reference impl") {
    val pts = Seq((913175.0, 120000.0), (990000.0, 200000.0), (1067000.0, 272000.0))
    val got = pts.toDF("x", "y")
      .select(Crs.lon2263($"x", $"y").as("lon"), Crs.lat2263($"x", $"y").as("lat"))
      .collect()
    pts.zip(got).foreach { case ((x, y), row) =>
      val (lon, lat) = Crs.Epsg2263.inverse(x * Crs.FtUs, y * Crs.FtUs)
      assert(math.abs(row.getDouble(0) - lon) < 1e-12)
      assert(math.abs(row.getDouble(1) - lat) < 1e-12)
    }
  }

  test("F1/F2: WKT point parse extracts coordinates; malformed -> null") {
    val df = Seq("POINT (997572.4 184240.1)", "POINT (-73.9 40.7)", "garbage", "POINT ()")
      .toDF("wkt")
      .select(GeoOps.wktPointX($"wkt").as("x"), GeoOps.wktPointY($"wkt").as("y"))
    val rows = df.collect()
    assert(rows(0).getDouble(0) == 997572.4 && rows(0).getDouble(1) == 184240.1)
    assert(rows(1).getDouble(0) == -73.9 && rows(1).getDouble(1) == 40.7)
    assert(rows(2).isNullAt(0) && rows(3).isNullAt(0))
  }

  test("F20: stringified tuple key parses into 3 parts without eval") {
    val df = Seq("('BROADWAY', 'W 43 ST', 'W 44 ST')").toDF("k").select(
      GeoOps.tupleKeyPart($"k", 1).as("a"),
      GeoOps.tupleKeyPart($"k", 2).as("b"),
      GeoOps.tupleKeyPart($"k", 3).as("c"))
    val r = df.head()
    assert(r.getString(0) == "BROADWAY" && r.getString(1) == "W 43 ST" && r.getString(2) == "W 44 ST")
  }

  test("J5: grid nearest-neighbor matches brute force, incl. fallback rows") {
    // Deterministic scattered points; one isolated left point exercises
    // the out-of-neighborhood brute-force fallback.
    val rng = new scala.util.Random(42)
    val rightPts = (1 to 30).map(i => (i.toLong, rng.nextDouble() * 1000, rng.nextDouble() * 1000))
    val leftPts = (1 to 200).map(i => (i.toLong, rng.nextDouble() * 1000, rng.nextDouble() * 1000)) :+
      (999L, 50000.0, 50000.0) // far outside every right cell neighborhood
    val left = leftPts.toDF("id", "x", "y")
    val right = rightPts.toDF("id", "x", "y")

    val got = SpatialJoin.nearest(left, "id", right, "id", "x", "y")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap

    assert(got.size == leftPts.size)
    leftPts.foreach { case (lid, lx, ly) =>
      val (bid, bd) = rightPts.map { case (rid, rx, ry) =>
        (rid, (lx - rx) * (lx - rx) + (ly - ry) * (ly - ry))
      }.minBy { case (rid, d) => (d, rid) }
      assert(got(lid)._1 == bid, s"left $lid: got ${got(lid)}, want ($bid,$bd)")
      assert(math.abs(got(lid)._2 - bd) < 1e-6)
    }
  }

  test("J5: equidistant tie breaks to the lower right id") {
    val left = Seq((1L, 0.0, 0.0)).toDF("id", "x", "y")
    val right = Seq((7L, 10.0, 0.0), (3L, -10.0, 0.0)).toDF("id", "x", "y")
    val r = SpatialJoin.nearest(left, "id", right, "id", "x", "y").head()
    assert(r.getLong(1) == 3L)
  }

  test("J5: autoCellSize = extent/sqrt(n) for points, span-floored for edges") {
    // points are zero-length segments
    def pts(ps: Seq[(Double, Double)]): Double = {
      val (xs, ys) = (ps.map(_._1).toArray, ps.map(_._2).toArray)
      SpatialJoin.autoCellSize(xs, ys, xs, ys)
    }
    // 10×10 exact grid in [0,900]²: extent 900, n=100 → cell 90.
    val c = pts(for (i <- 0 to 9; j <- 0 to 9) yield (i * 100.0, j * 100.0))
    assert(math.abs(c - 90.0) < 1e-9, s"points: got $c, want 90")
    // 4× the density in the same extent → half the cell.
    val cd = pts(for (i <- 0 to 19; j <- 0 to 19) yield (i * 900.0 / 19, j * 900.0 / 19))
    assert(math.abs(cd - 45.0) < 1e-9, s"dense points: got $cd, want 45")
    // Edges whose mean span dominates spacing: cell floors at span/4 so
    // each edge stays listed under O(10) cells.
    val ax = Array.tabulate(100)(i => i % 10 * 100.0)
    val ay = Array.tabulate(100)(i => i / 10 * 100.0)
    val ce = SpatialJoin.autoCellSize(ax, ay, ax.map(_ + 800.0), ay)
    assert(math.abs(ce - 200.0) < 1e-9, s"edges: got $ce, want span floor 800/4")
    // Degenerate inputs fall back to a positive constant, no crash.
    assert(pts(Seq((5.0, 5.0))) == 1.0)
    assert(pts(Nil) == 1.0)
  }

  test("J5: auto-cell overloads match brute force (points and edges)") {
    val rng = new scala.util.Random(11)
    val rightPts = (1 to 40).map(i =>
      (i.toLong, rng.nextDouble() * 1000, rng.nextDouble() * 1000))
    val leftPts = (1 to 120).map(i =>
      (i.toLong, rng.nextDouble() * 1000, rng.nextDouble() * 1000)) :+
      (999L, 40000.0, 40000.0) // brute-residual row
    val gotP = SpatialJoin.nearest(leftPts.toDF("id", "x", "y"), "id",
        rightPts.toDF("id", "x", "y"), "id", "x", "y")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotP.size == leftPts.size)
    leftPts.foreach { case (lid, lx, ly) =>
      val want = rightPts.map { case (rid, rx, ry) =>
        (rid, (lx - rx) * (lx - rx) + (ly - ry) * (ly - ry))
      }.minBy { case (rid, d) => (d, rid) }._1
      assert(gotP(lid) == want, s"auto nearest: left $lid got ${gotP(lid)}, want $want")
    }
    val edges = (1 to 20).map { i =>
      val ax = rng.nextDouble() * 1000; val ay = rng.nextDouble() * 1000
      (i.toLong, ax, ay, ax + rng.nextDouble() * 400 - 200, ay + rng.nextDouble() * 400 - 200)
    }
    val gotE = SpatialJoin.nearestEdge(leftPts.toDF("id", "x", "y"), "id",
        edges.toDF("eid", "ax", "ay", "bx", "by"), "eid",
        "x", "y", "ax", "ay", "bx", "by")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotE.size == leftPts.size)
    leftPts.foreach { case (pid, px, py) =>
      val want = edges.map { case (eid, ax, ay, bx, by) =>
        (eid, segDsq(px, py, ax, ay, bx, by))
      }.minBy { case (eid, d) => (d, eid) }._1
      assert(gotE(pid) == want, s"auto nearestEdge: point $pid got ${gotE(pid)}, want $want")
    }
  }

  test("J5 edges: nearest-EDGE join matches brute-force point-to-segment, incl. fallback") {
    val rng = new scala.util.Random(7)
    // random segments incl. one zero-length degenerate; random points
    // incl. one far outside every expanded bbox (brute-residual path)
    val edges = (1 to 25).map { i =>
      val ax = rng.nextDouble() * 1000; val ay = rng.nextDouble() * 1000
      (i.toLong, ax, ay, ax + rng.nextDouble() * 400 - 200, ay + rng.nextDouble() * 400 - 200)
    } :+ (99L, 500.0, 500.0, 500.0, 500.0)
    val pts = (1 to 150).map(i =>
      (i.toLong, rng.nextDouble() * 1000, rng.nextDouble() * 1000)) :+
      (999L, 90000.0, 90000.0)
    val left = pts.toDF("id", "x", "y")
    val e = edges.toDF("eid", "ax", "ay", "bx", "by")
    val got = SpatialJoin.nearestEdge(left, "id", e, "eid",
        "x", "y", "ax", "ay", "bx", "by")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.size == pts.size)
    pts.foreach { case (pid, px, py) =>
      val (beid, bd) = edges.map { case (eid, ax, ay, bx, by) =>
        (eid, segDsq(px, py, ax, ay, bx, by))
      }.minBy { case (eid, d) => (d, eid) }
      assert(got(pid)._1 == beid, s"point $pid: got ${got(pid)}, want ($beid,$bd)")
      assert(math.abs(got(pid)._2 - bd) < 1e-9)
    }
  }

  test("J5 edges: supercover replication is O(len/cell) on a long diagonal") {
    // A 45° diagonal spanning 100×100 cells: a bbox-rectangle listing
    // would hold 100² = 10k cells; the supercover's per-column slab
    // lists ~3 rows/column → linear in len/cell.
    val grid = graft.geo.EdgeGrid(0.0, 0.0, 10.0, 100, 100, slack = 1e-6)
    val listed = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    grid.cells(0.0, 0.0, 1000.0, 1000.0)((i, j) => listed += ((i, j)))
    val n = listed.size
    assert(n < 1000, s"supercover emitted $n cells — not linear in len/cell")
    assert(n > 100, s"supercover emitted only $n cells — must cover the segment")
    val cells = listed.toSet
    assert(cells.size == n, "a cell listed twice")
    // every cell the segment passes through is present: sample the
    // segment densely, its cell must be in the emitted set
    (0 to 1000).foreach { i =>
      val t = i / 1000.0
      val cell = (math.floor(t * 1000.0 / 10.0).toInt min 99,
        math.floor(t * 1000.0 / 10.0).toInt min 99)
      assert(cells.contains(cell), s"missing crossed cell $cell")
    }
  }

  test("J5 edges: interior snap beats both endpoints (point-to-SEGMENT, not point-to-point)") {
    // point above the middle of a long horizontal edge: segment distance
    // is 5² = 25; nearest ENDPOINT would be 100² + 5² = 10025
    val left = Seq((1L, 100.0, 5.0)).toDF("id", "x", "y")
    val e = Seq((1L, 0.0, 0.0, 200.0, 0.0)).toDF("eid", "ax", "ay", "bx", "by")
    val r = SpatialJoin.nearestEdge(left, "id", e, "eid",
      "x", "y", "ax", "ay", "bx", "by").head()
    assert(r.getLong(1) == 1L && math.abs(r.getDouble(2) - 25.0) < 1e-12)
  }

  test("J5 edges: a null-coordinate edge is never a candidate; a null point yields no row") {
    // least/greatest skip nulls, so a null-coordinate edge could still be
    // given cells; its null dist² must not win any point's snap
    val left = Seq[(Long, Option[Double], Option[Double])](
      (1L, Some(0.0), Some(0.0)), (2L, None, Some(5.0)), (3L, Some(1e6), Some(1e6)))
      .toDF("id", "x", "y")
    val e = Seq[(Long, Option[Double], Double, Double, Double)](
      (10L, Some(1.0), 0.0, 2.0, 0.0), (5L, None, 0.0, 3.0, 3.0),
      (7L, Some(100.0), 100.0, 200.0, 100.0)).toDF("eid", "ax", "ay", "bx", "by")
    def snap(edges: org.apache.spark.sql.DataFrame) = SpatialJoin.nearestEdge(left, "id",
        edges, "eid", "x", "y", "ax", "ay", "bx", "by")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val got = snap(e)
    assert(got.keySet == Set(1L, 3L), s"rows: $got")
    assert(got(1L) == ((10L, segDsq(0.0, 0.0, 1.0, 0.0, 2.0, 0.0))), s"point 1: ${got(1L)}")
    assert(got(3L) == ((7L, segDsq(1e6, 1e6, 100.0, 100.0, 200.0, 100.0))), s"point 3: ${got(3L)}")
    assert(snap(e.where(col("ax").isNull)).isEmpty, "all-null edge table")
    assert(snap(e.limit(0)).isEmpty, "empty edge table")
  }

  test("J5 edges: a far outlier gets the brute answer, each edge measured at most once") {
    val rng = new scala.util.Random(5)
    val edges = (0 until 5000).map { i =>
      val ax = rng.nextDouble() * 150000; val ay = rng.nextDouble() * 150000
      (i.toLong, ax, ay, ax + rng.nextDouble() * 16000 - 8000, ay + rng.nextDouble() * 16000 - 8000)
    }
    val (px, py) = (1e12, -1e12)
    val (wantD, wantId) = edges.map { case (eid, ax, ay, bx, by) =>
      (segDsq(px, py, ax, ay, bx, by), eid) }.min
    val r = SpatialJoin.nearestEdge(Seq((1L, px, py)).toDF("id", "x", "y"), "id",
        edges.toDF("eid", "ax", "ay", "bx", "by"), "eid", "x", "y", "ax", "ay", "bx", "by")
      .head()
    assert(r.getLong(1) == wantId && r.getDouble(2) == wantD, s"got $r, want ($wantId, $wantD)")
    // the kernel itself: rings up to the grid are skipped, rings across
    // it measure each edge once
    val index = new graft.geo.EdgeIndex(edges.map(e => e._1: Any).toArray,
      edges.map(_._2).toArray, edges.map(_._3).toArray,
      edges.map(_._4).toArray, edges.map(_._5).toArray)
    val search = new index.Search
    assert(index.ids(search.nearest(px, py)) == wantId)
    assert(search.evaluated <= edges.size, s"${search.evaluated} distances for ${edges.size} edges")
  }

  test("J5 edges: rows sharing a left id get their joint minimum") {
    val rng = new scala.util.Random(23)
    val edges = (1 to 30).map { i =>
      val ax = rng.nextDouble() * 1000; val ay = rng.nextDouble() * 1000
      (i.toLong, ax, ay, ax + rng.nextDouble() * 200 - 100, ay + rng.nextDouble() * 200 - 100)
    }
    val pts = Seq((1L, 100.0, 120.0), (1L, 830.0, 710.0), (1L, 5000.0, -300.0),
      (2L, 500.0, 480.0), (2L, 510.0, 470.0))
    val got = SpatialJoin.nearestEdge(pts.toDF("id", "x", "y"), "id",
        edges.toDF("eid", "ax", "ay", "bx", "by"), "eid", "x", "y", "ax", "ay", "bx", "by")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.size == 2)
    pts.groupBy(_._1).foreach { case (lid, rows) =>
      val (d, eid) = (for ((_, px, py) <- rows; (eid, ax, ay, bx, by) <- edges)
        yield (segDsq(px, py, ax, ay, bx, by), eid)).min
      assert(got(lid) == ((eid, d)), s"left $lid: got ${got(lid)}, want ($eid, $d)")
    }
  }

  test("J5 edges: dist_sq bits equal pointSegDistSq evaluated as a Column; ids keep their type") {
    // String ids order differently from numbers ("e10" < "e9"); two
    // edges share one geometry, so their tie follows string order. An
    // edge with an infinite coordinate has no grid cell (its dist² is
    // NaN, which sorts last); a point with one is measured against every
    // edge (all dist² are +Inf, so the lowest id wins).
    val rng = new scala.util.Random(31)
    val edges = (1 to 80).map { i =>
      val ax = rng.nextDouble() * 5000 - 2500; val ay = rng.nextDouble() * 5000 - 2500
      (s"e$i", ax, ay, ax + rng.nextGaussian() * 300, ay + rng.nextGaussian() * 300)
    } ++ Seq(("e9", 7.25, 7.5, 7.25, 7.5), ("e10", 7.25, 7.5, 7.25, 7.5), ("z0", 0.5, 0.5, 0.5, 0.5),
      ("a-inf", Double.PositiveInfinity, 0.0, 1.0, 0.0))
    val pts = (1 to 300).map(i =>
      (i.toLong, rng.nextDouble() * 6000 - 3000, rng.nextDouble() * 6000 - 3000)) ++
      Seq((1001L, 7.0, 7.0), (1002L, 0.5, 0.5), (1003L, -9e7, 4e8),
        (1004L, Double.PositiveInfinity, 5.0))
    val left = pts.toDF("id", "x", "y")
    val e = edges.toDF("eid", "ax", "ay", "bx", "by")
    val got = SpatialJoin.nearestEdge(left, "id", e, "eid", "x", "y", "ax", "ay", "bx", "by")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    val want = left.crossJoin(e)
      .select(col("id"), col("eid"), SpatialJoin.pointSegDistSq(col("x"), col("y"),
        col("ax"), col("ay"), col("bx"), col("by")).as("d"))
      .groupBy("id").agg(min(struct(col("d"), col("eid"))).as("m"))
      .collect().map(r => r.getLong(0) -> (r.getStruct(1).getString(1), r.getStruct(1).getDouble(0)))
      .toMap
    assert(got.size == pts.size && want.size == pts.size)
    assert(got(1001L)._1 == "e10", s"tie: ${got(1001L)}")
    assert(got(1002L) == (("z0", 0.0)))
    assert(got(1004L) == (("e1", Double.PositiveInfinity)), s"infinite point: ${got(1004L)}")
    pts.foreach { case (id, _, _) =>
      val ((ge, gd), (we, wd)) = (got(id), want(id))
      assert(ge == we && java.lang.Double.doubleToRawLongBits(gd) ==
        java.lang.Double.doubleToRawLongBits(wd), s"point $id: got ($ge, $gd), want ($we, $wd)")
    }
  }

  test("F19b: LineString feature serializes type/coordinates/properties") {
    val df = Seq((7L)).toDF("k").select(GeoOps.lineFeature(
      array(array(lit(-73.95), lit(40.7)), array(lit(-73.90), lit(40.75))),
      struct($"k".as("custkey"))).as("f"))
    val s = df.head().getString(0)
    assert(s.contains(""""type":"LineString""""), s)
    assert(s.contains(""""coordinates":[[-73.95,40.7],[-73.9,40.75]]"""), s)
    assert(s.contains(""""custkey":7"""), s)
  }

  test("pointInPolygon: concave dart — notch points outside, wings inside, convex-hull trap avoided") {
    import spark.implicits._
    import graft.geo.GeoOps
    // dart: apex (0,1.5), right tip (1.5,-1.5), notch (0,-0.5), left tip
    // (-1.5,-1.5). The notch region (below the apex, above the tips,
    // near x=0) is INSIDE the convex hull but OUTSIDE the polygon.
    val poly = Seq((0.0, 1.5), (1.5, -1.5), (0.0, -0.5), (-1.5, -1.5))
    val pts = Seq(
      (1L, 0.0, 1.0, true),    // spine above the notch: inside
      (2L, 0.0, -1.0, false),  // in the notch: hull says yes, dart says NO
      (3L, 0.7, -0.7, true),   // right wing
      (4L, -0.7, -0.7, true),  // left wing
      (5L, 2.0, 0.0, false),   // right of everything
      (6L, 0.0, 2.0, false),   // above the apex
      (7L, 0.0, -2.0, false))  // below everything
      .toDF("id", "x", "y", "want")
    val got = pts.withColumn("inside",
        GeoOps.pointInPolygon(col("x"), col("y"), poly))
      .collect().map(r => (r.getLong(0), r.getBoolean(3), r.getBoolean(4)))
    got.foreach { case (id, want, is) =>
      assert(is == want, s"point $id: want $want got $is")
    }
  }

  test("haversineMeters: equator degree ~111.19 km, pole-to-pole half circumference, zero distance") {
    import spark.implicits._
    import graft.geo.GeoOps
    val df = Seq((0.0, 0.0, 0.0, 1.0), (90.0, 0.0, -90.0, 0.0),
      (40.7, -74.0, 40.7, -74.0)).toDF("la1", "lo1", "la2", "lo2")
    val d = df.select(GeoOps.haversineMeters(col("la1"), col("lo1"),
      col("la2"), col("lo2"))).collect().map(_.getDouble(0))
    assert(math.abs(d(0) - 111194.9) < 100) // 1° of longitude at equator
    assert(math.abs(d(1) - math.Pi * 6371000.0) < 1.0)
    assert(d(2) == 0.0)
  }
}
