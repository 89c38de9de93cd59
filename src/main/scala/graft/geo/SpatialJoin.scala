package graft.geo

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** J5: nearest-neighbor spatial join (SURVEY.md §2.3 J5 — the reference
  * snaps each traffic point to the closest OSM road edge with
  * `ox.distance.nearest_edges`, point_to_linestring.py:53-65).
  *
  * Spark has no spatial strategy, and the right side (road edges,
  * reference points) is the small one, so the join moves the right side
  * to the points instead of shuffling the points to it:
  *
  *  1. the edge table is read ONCE, when [[nearestEdge]] is called: its
  *     rows are collected on the driver, ordered by id, and indexed in a
  *     uniform grid ([[EdgeIndex]]: each edge listed under every cell
  *     its segment crosses, cell side from [[autoCellSize]]);
  *  2. the index is broadcast, and one map-side pass over the points
  *     runs an exact ring search per point: its own cell first, then one
  *     ring of cells at a time, until the best distance provably beats
  *     every edge not yet measured ([[EdgeIndex#Search.nearest]]);
  *  3. one shuffle of at most one row per point takes the minimum over
  *     rows that share a left id.
  *
  * The plan has no join: the left side is scanned once, and the cell
  * size affects only the speed of the search, never the answer.
  */
object SpatialJoin {

  /** Density-adaptive grid resolution over the right side's segments
    * (A, B); a point is a zero-length segment. `cell = extent / sqrt(n)`,
    * floored at a quarter of the mean per-segment axis span when the
    * objects are extended (edges), so each edge crosses O(10) cells
    * however fine the point spacing gets.
    *
    * Why this and not a constant: the round-10 sf1 decade run caught a
    * fixed `cellSize = 20000` turning quadratic — the synthetic
    * coordinate EXTENT is scale-invariant (154k × 154k at every SF)
    * while density grows with SF, so at sf1 each of the ~81 cells held
    * ~1.5k edges. `extent/sqrt(n)` keeps the EXPECTED right objects per
    * cell at O(1) at any density, and the expected nearest-object
    * distance (~0.5·extent/sqrt(n) for uniform points) stays under one
    * cell, so most points stop after their first ring.
    *
    * Degenerate inputs (no segments, zero extent and span) give 1.0.
    */
  private[graft] def autoCellSize(ax: Array[Double], ay: Array[Double],
      bx: Array[Double], by: Array[Double]): Double = {
    val n = ax.length
    if (n == 0) return 1.0
    val xs = ax ++ bx
    val ys = ay ++ by
    val extent = math.max(xs.max - xs.min, ys.max - ys.min)
    val meanSpan = ax.indices.map(k =>
      math.max(math.abs(bx(k) - ax(k)), math.abs(by(k) - ay(k)))).sum / n
    val cell = math.max(extent / math.sqrt(n.toDouble), meanSpan / 4.0)
    if (cell > 0.0) cell else 1.0
  }

  /** Exact nearest neighbor of each left point among the right points:
    * [[nearestEdge]] with every right point as a zero-length segment,
    * whose [[pointSegDistSq]] is the point distance. `dist_sq` is always
    * double: the right coordinates are cast to double. Null handling is
    * [[nearestEdge]]'s.
    *
    * @param left   (leftId, x, y)
    * @param right  (rightId, x, y) — the small side, read when called
    * @return (leftId, nearest_id, dist_sq)
    */
  def nearest(left: DataFrame, leftId: String,
      right: DataFrame, rightId: String,
      x: String, y: String): DataFrame =
    nearestEdge(left, leftId, right, rightId, x, y, x, y, x, y)
      .withColumnRenamed("nearest_edge", "nearest_id")

  /** Squared distance from point (px, py) to SEGMENT (ax, ay)–(bx, by):
    * the projection parameter t = ((P−A)·(B−A)) / |B−A|² clamped to
    * [0, 1], then the squared distance to A + t·(B−A). Zero-length
    * segments degenerate to point distance (t = 0). Pure Column math —
    * codegen'd, reproducible in ANSI SQL by the oracle; [[EdgeIndex]]
    * evaluates the same operations on doubles.
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

  /** J5, full semantics: nearest EDGE (line segment) for each left point —
    * what the reference's `ox.distance.nearest_edges` computes
    * (point_to_linestring.py:53-65): the snap target is the closest point
    * ON the edge geometry, not the closest endpoint. For a long road
    * segment the two answers differ.
    *
    * The answer is the brute-force argmin of ([[pointSegDistSq]], edge
    * id) under Spark's ordering, bit for bit; ids keep their type and
    * tie to the lowest. The edge table is collected and indexed when this
    * is called (one job); the returned DataFrame is one map-side pass
    * over `left` against the broadcast [[EdgeIndex]], then a minimum per
    * left id.
    *
    * Nulls: an edge with a null coordinate is never a candidate; a point
    * with a null coordinate yields no row; an empty or all-null edge
    * table yields no rows.
    *
    * @param left   (leftId, x, y)
    * @param edges  (edgeId, ax, ay, bx, by) — the small side
    * @return (leftId, nearest_edge, dist_sq)
    */
  def nearestEdge(left: DataFrame, leftId: String,
      edges: DataFrame, edgeId: String,
      x: String, y: String,
      ax: String, ay: String, bx: String, by: String): DataFrame = {
    val coords = Seq("ax" -> ax, "ay" -> ay, "bx" -> bx, "by" -> by)
    val e = edges
      .select(col(edgeId).as("id") +: coords.map { case (k, c) => col(c).cast("double").as(k) }: _*)
      .where(coords.map { case (k, _) => col(k).isNotNull }.reduce(_ && _))
    // one task sorts the small side, so collect order is Spark's id order
    val rows = e.coalesce(1).sortWithinPartitions("id").collect()
    def coord(i: Int) = rows.map(_.getDouble(i))
    val index = new EdgeIndex(rows.map(_.get(0)), coord(1), coord(2), coord(3), coord(4))
    val bc = left.sparkSession.sparkContext.broadcast(index)

    val snapped = StructType(Seq(
      StructField("__lid", left.select(col(leftId)).schema.head.dataType),
      StructField("__eid", e.schema("id").dataType),
      StructField("__dsq", DoubleType)))
    left.select(col(leftId).as("__lid"),
        col(x).cast("double").as("__x"), col(y).cast("double").as("__y"))
      .where(col("__x").isNotNull && col("__y").isNotNull)
      .mapPartitions { (points: Iterator[Row]) =>
        val idx = bc.value
        val search = new idx.Search
        points.flatMap { p =>
          val k = search.nearest(p.getDouble(1), p.getDouble(2))
          if (k < 0) None else Some(Row(p.get(0), idx.ids(k), search.dsq))
        }
      }(Encoders.row(snapped))
      .groupBy("__lid")
      .agg(min(struct(col("__dsq").as("d"), col("__eid").as("id"))).as("m"))
      .select(col("__lid").as(leftId), col("m.id").as("nearest_edge"),
        col("m.d").as("dist_sq"))
  }
}
