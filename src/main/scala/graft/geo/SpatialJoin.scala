package graft.geo

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** J5: nearest-neighbor spatial join (SURVEY.md §2.3 J5 — the reference
  * snaps each traffic point to the closest OSM road edge with
  * `ox.distance.nearest_edges`, point_to_linestring.py:53-65).
  *
  * Spark has no spatial strategy, so this is a *query shape*, not a
  * custom planner rule (SURVEY.md §7 decision table):
  *
  *  1. bucket both sides into square grid cells of side `cellSize`;
  *  2. replicate each RIGHT point into its 3×3 cell neighborhood (the
  *     right side is the small one — road edges / reference points — so
  *     the ×9 blowup rides the broadcast side);
  *  3. equi-join on the cell id (a plain shuffle/broadcast hash join
  *     Catalyst can plan), take the per-left-row minimum distance with a
  *     deterministic tie-break (`min(struct(dist², id))`);
  *  4. EXACTNESS GUARD: a 3×3 neighborhood proves the true nearest only
  *     when the found distance ≤ cellSize (anything outside the
  *     neighborhood is ≥ cellSize away in some axis). Rows that miss the
  *     guard (or found no candidate at all) fall back to a brute-force
  *     pass — an anti-join-selected residual that is empty-to-tiny when
  *     `cellSize` matches the right side's density.
  *
  * At 100 TB the left side streams through a map-side join against the
  * broadcast right side; no all-pairs cross join ever materializes for
  * the guarded rows.
  */
object SpatialJoin {

  /** Density-adaptive grid resolution from ONE bounded aggregate over
    * the small (right) side: `cell = extent / sqrt(n)`, floored at a
    * quarter of the mean per-object axis span when the objects are
    * extended (edges), so supercover replication stays O(10) cells per
    * edge however fine the point spacing gets.
    *
    * Why this and not a constant: the round-10 sf1 decade run caught a
    * fixed `cellSize = 20000` turning quadratic — the synthetic
    * coordinate EXTENT is scale-invariant (154k × 154k at every SF)
    * while density grows with SF, so at sf1 each of the ~81 cells held
    * ~1.9k left points × ~1.5k replicated edges ≈ 225M candidate pairs
    * (~100× the sf0.1 pair count for 10× the rows; the rep OOM-crashed
    * a 16 GB JVM after 340 s). `extent/sqrt(n)` keeps EXPECTED right
    * objects per cell at O(1) at any density, so candidate pairs stay
    * ~9·nLeft and the decade costs ~10× for 10× data. Guard safety is
    * unchanged — cell size affects only which rows take the brute
    * residual path, never the answer — and the expected nearest-object
    * distance (~0.5·extent/sqrt(n) for uniform points) stays under one
    * cell, so the residual remains empty-to-tiny.
    *
    * The aggregate is a driver-side action on the API's declared small
    * side (same boundedness class as the broadcast it already rides);
    * callers with a pre-known resolution pass `cellSize` explicitly and
    * skip the extra job.
    */
  private[graft] def autoCellSize(right: DataFrame,
      xs: Seq[Column], ys: Seq[Column]): Double = {
    val span =
      if (xs.length > 1) greatest(abs(xs(1) - xs(0)), abs(ys(1) - ys(0)))
      else lit(0.0)
    def lo(cs: Seq[Column]) = if (cs.length > 1) least(cs: _*) else cs.head
    def hi(cs: Seq[Column]) = if (cs.length > 1) greatest(cs: _*) else cs.head
    val row = right.agg(
      min(lo(xs)).cast("double").as("xmin"),
      max(hi(xs)).cast("double").as("xmax"),
      min(lo(ys)).cast("double").as("ymin"),
      max(hi(ys)).cast("double").as("ymax"),
      avg(span).as("span"),
      // count NON-NULL coordinate rows, matching what min/max/avg see:
      // a null-polluted right side would otherwise inflate n and shrink
      // the cell below the real point density (perf-only — the guard
      // keeps results exact either way)
      count(xs.head).as("n")).head()
    val n = row.getAs[Long]("n")
    if (n == 0 || row.isNullAt(0)) return 1.0
    val extent = math.max(row.getAs[Double]("xmax") - row.getAs[Double]("xmin"),
      row.getAs[Double]("ymax") - row.getAs[Double]("ymin"))
    val meanSpan = Option(row.getAs[Any]("span")).fold(0.0)(_.asInstanceOf[Double])
    val cell = math.max(extent / math.sqrt(n.toDouble), meanSpan / 4.0)
    if (cell > 0.0) cell else 1.0
  }

  /** [[nearest]] with the grid resolution derived from the right side's
    * own extent and count ([[autoCellSize]]) — the scale-safe default.
    */
  def nearest(left: DataFrame, leftId: String,
      right: DataFrame, rightId: String,
      x: String, y: String): DataFrame =
    nearest(left, leftId, right, rightId, x, y,
      autoCellSize(right, Seq(col(x)), Seq(col(y))))

  /** Exact nearest neighbor of each left point among the right points:
    * [[nearestEdge]] with every right point as a zero-length segment. Its
    * supercover is exactly the point's 3×3 cell neighborhood, and
    * [[pointSegDistSq]] of a zero-length segment is the point distance,
    * so grid join, guard and brute residual are the point recipe.
    * `dist_sq` is always double: the edge coordinates are cast to double.
    *
    * @param left     (leftId, x, y)
    * @param right    (rightId, x, y) — the small side
    * @param cellSize grid cell side, in coordinate units
    * @return (leftId, nearest_id, dist_sq)
    */
  def nearest(left: DataFrame, leftId: String,
      right: DataFrame, rightId: String,
      x: String, y: String, cellSize: Double): DataFrame =
    nearestEdge(left, leftId, right, rightId, x, y, x, y, x, y, cellSize)
      .withColumnRenamed("nearest_edge", "nearest_id")

  /** Squared distance from point (px, py) to SEGMENT (ax, ay)–(bx, by):
    * the projection parameter t = ((P−A)·(B−A)) / |B−A|² clamped to
    * [0, 1], then the squared distance to A + t·(B−A). Zero-length
    * segments degenerate to point distance (t = 0). Pure Column math —
    * codegen'd, reproducible in ANSI SQL by the oracle.
    */
  def pointSegDistSq(px: Column, py: Column,
      ax: Column, ay: Column, bx: Column, by: Column): Column = {
    val dx = bx - ax
    val dy = by - ay
    val len2 = dx * dx + dy * dy
    val t = when(len2 === 0.0, lit(0.0))
      .otherwise(least(greatest(((px - ax) * dx + (py - ay) * dy) / len2,
        lit(0.0)), lit(1.0)))
    val qx = ax + t * dx
    val qy = ay + t * dy
    (px - qx) * (px - qx) + (py - qy) * (py - qy)
  }

  /** Supercover cell replication for segments, dilated one ring: each
    * edge row is exploded into exactly the grid cells within Chebyshev
    * distance 1 of a cell the segment passes through — NOT its bounding
    * box. Per x-column `cx` the segment's y-extent over the 3-column
    * slab `[(cx−1)·cell, (cx+2)·cell]` is computed by clamping the
    * segment parameter to the slab (linear interpolation, pure Column
    * math), then rows `floor(ylo/cell)−1 .. floor(yhi/cell)+1` are
    * emitted. Because the per-slab y-intervals of adjacent columns share
    * endpoints (the segment is continuous), the union over the three
    * columns is one interval, so this emits EXACTLY the 1-ring dilation
    * of the supercover — O(len/cell) cells for any orientation, where
    * the bbox rectangle costs O((len/cell)²) for a long diagonal edge
    * (GeoSpec asserts the linear bound).
    *
    * Output: edge columns + (__cx, __cy), one row per covered cell.
    */
  private[graft] def supercoverCells(e: DataFrame, cellSize: Double): DataFrame = {
    val dx = col("__bx") - col("__ax")
    val t1 = (col("__xs") - col("__ax")) / dx
    val t2 = (col("__xe") - col("__ax")) / dx
    e
      .withColumn("__cx", explode(sequence(
        floor(least(col("__ax"), col("__bx")) / cellSize).cast("long") - 1,
        floor(greatest(col("__ax"), col("__bx")) / cellSize).cast("long") + 1)))
      .withColumn("__xs", (col("__cx") - 1).cast("double") * cellSize)
      .withColumn("__xe", (col("__cx") + 2).cast("double") * cellSize)
      // Segment-parameter window over the slab; vertical segments span
      // their whole parameter range. __thi is floored at __tlo against
      // floating-point edge cases at the dilation's end columns.
      .withColumn("__tlo", when(dx === 0.0, lit(0.0))
        .otherwise(greatest(lit(0.0), least(t1, t2))))
      .withColumn("__thi", greatest(col("__tlo"), when(dx === 0.0, lit(1.0))
        .otherwise(least(lit(1.0), greatest(t1, t2)))))
      .withColumn("__y1", col("__ay") + col("__tlo") * (col("__by") - col("__ay")))
      .withColumn("__y2", col("__ay") + col("__thi") * (col("__by") - col("__ay")))
      .withColumn("__cy", explode(sequence(
        floor(least(col("__y1"), col("__y2")) / cellSize).cast("long") - 1,
        floor(greatest(col("__y1"), col("__y2")) / cellSize).cast("long") + 1)))
      .drop("__xs", "__xe", "__tlo", "__thi", "__y1", "__y2")
  }

  /** J5, full semantics: nearest EDGE (line segment) for each left point —
    * what the reference's `ox.distance.nearest_edges` computes
    * (point_to_linestring.py:53-65): the snap target is the closest point
    * ON the edge geometry, not the closest endpoint. For a long road
    * segment the two answers differ.
    *
    * The grid recipe of [[SpatialJoin]], adapted to extended objects:
    *  1. each edge is replicated into the grid cells its geometry
    *     actually crosses, EXPANDED by one cell ring (the
    *     3×3-neighborhood equivalent for a non-point object) via
    *     [[supercoverCells]] — replication factor is
    *     O(edge length / cellSize) for any orientation, and rides the
    *     small broadcast side;
    *  2. equi-join points to edges on the cell id, per-point min of
    *     (segment dist², edge id) — deterministic tie-break;
    *  3. EXACTNESS GUARD: a found distance STRICTLY < cellSize is provably
    *     the true minimum — an edge whose dilated supercover misses the
    *     point's cell has no geometry in any of the cell's 8 neighbors,
    *     i.e. every point of it is ≥ cellSize away on some axis;
    *  4. rows failing the guard fall back to a brute pass against the full
    *     (broadcast) edge table — anti-join residual, empty-to-tiny when
    *     cellSize matches edge density.
    *
    * @param left   (leftId, x, y)
    * @param edges  (edgeId, ax, ay, bx, by) — the small side
    * @return (leftId, nearest_edge, dist_sq)
    */
  def nearestEdge(left: DataFrame, leftId: String,
      edges: DataFrame, edgeId: String,
      x: String, y: String,
      ax: String, ay: String, bx: String, by: String,
      cellSize: Double): DataFrame = {
    val l = left.select(col(leftId).as("__lid"),
      col(x).as("__lx"), col(y).as("__ly"),
      floor(col(x) / cellSize).cast("long").as("__cx"),
      floor(col(y) / cellSize).cast("long").as("__cy"))

    val e = edges.select(col(edgeId).as("__eid"),
      col(ax).cast("double").as("__ax"), col(ay).cast("double").as("__ay"),
      col(bx).cast("double").as("__bx"), col(by).cast("double").as("__by"))

    val replicated = supercoverCells(e, cellSize)

    def best(cands: DataFrame): DataFrame = {
      val dsq = pointSegDistSq(col("__lx"), col("__ly"),
        col("__ax"), col("__ay"), col("__bx"), col("__by"))
      cands.groupBy("__lid")
        .agg(min(struct(dsq.as("d"), col("__eid").as("id"))).as("m"))
        .select(col("__lid"), col("m.id").as("__eid"), col("m.d").as("__dsq"))
    }

    val gridBest = best(l.join(broadcast(replicated), Seq("__cx", "__cy")))
    val guarded = gridBest.filter(col("__dsq") < lit(cellSize * cellSize))
    val residual = l.join(guarded.select("__lid"), Seq("__lid"), "left_anti")
    val bruteBest = best(residual.crossJoin(broadcast(e)))

    guarded.unionByName(bruteBest)
      .select(col("__lid").as(leftId), col("__eid").as("nearest_edge"),
        col("__dsq").as("dist_sq"))
  }

  /** [[nearestEdge]] with the grid resolution derived from the edge
    * table's extent, count, and mean edge span ([[autoCellSize]]) — the
    * scale-safe default.
    */
  def nearestEdge(left: DataFrame, leftId: String,
      edges: DataFrame, edgeId: String,
      x: String, y: String,
      ax: String, ay: String, bx: String, by: String): DataFrame =
    nearestEdge(left, leftId, edges, edgeId, x, y, ax, ay, bx, by,
      autoCellSize(edges, Seq(col(ax), col(bx)), Seq(col(ay), col(by))))
}
