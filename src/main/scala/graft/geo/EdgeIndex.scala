package graft.geo

import java.lang.Double.isFinite

/** Uniform grid of square cells of side `cell`, `nx` × `ny` cells from
  * the origin (x0, y0). A coordinate outside the grid maps to the border
  * cell on its side, so every finite coordinate has exactly one cell, and
  * the cell of a coordinate never decreases as the coordinate grows.
  * `slack` widens each segment's cell enumeration against rounding (see
  * [[cells]]).
  */
private[graft] final case class EdgeGrid(x0: Double, y0: Double, cell: Double,
    nx: Int, ny: Int, slack: Double) {

  def col(x: Double): Int = EdgeGrid.clamp((x - x0) / cell, nx)
  def row(y: Double): Int = EdgeGrid.clamp((y - y0) / cell, ny)

  /** Calls `f(i, j)` once for every cell (column i, row j) that the
    * segment (ax, ay)–(bx, by) passes through: its supercover, O(length /
    * cell) cells for any orientation. Per column, the segment's y-range
    * over that column's x-slab is interpolated and its rows emitted. The
    * slab and the y-range are widened by `slack`, so every point of the
    * segment lands in an emitted cell despite rounding in the
    * interpolation; the widening adds a cell only where the segment runs
    * within `slack` of a cell border.
    */
  def cells(ax: Double, ay: Double, bx: Double, by: Double)(f: (Int, Int) => Unit): Unit = {
    val dx = bx - ax
    val dy = by - ay
    val xlo = math.min(ax, bx)
    val xhi = math.max(ax, bx)
    val c0 = col(xlo - slack)
    val c1 = col(xhi + slack)
    var i = c0
    while (i <= c1) {
      var ylo = math.min(ay, by)
      var yhi = math.max(ay, by)
      if (dx != 0.0 && c0 < c1) {
        val xs = if (i == c0) xlo else math.max(xlo, x0 + i * cell - slack)
        val xe = if (i == c1) xhi else math.min(xhi, x0 + (i + 1) * cell + slack)
        val y1 = ay + (xs - ax) / dx * dy
        val y2 = ay + (xe - ax) / dx * dy
        ylo = math.min(y1, y2)
        yhi = math.max(y1, y2)
      }
      var j = row(ylo - slack)
      val j1 = row(yhi + slack)
      while (j <= j1) { f(i, j); j += 1 }
      i += 1
    }
  }
}

private[graft] object EdgeGrid {

  /** floor(v) clamped to [0, n − 1]; NaN maps to 0. */
  private def clamp(v: Double, n: Int): Int =
    if (!(v >= 1.0)) 0 else if (v >= n - 1) n - 1 else v.toInt

  /** The grid over finite segments: origin at their lower-left corner,
    * cell from [[SpatialJoin.autoCellSize]]. That cell is at least
    * extent / sqrt(n), so each axis needs at most ceil(sqrt(n)) + 1
    * cells; the count is capped there against rounding and overflow (a
    * capped grid folds the far coordinates into its last column or row).
    */
  def over(ax: Array[Double], ay: Array[Double], bx: Array[Double], by: Array[Double]): EdgeGrid = {
    val n = ax.length
    if (n == 0) return EdgeGrid(0.0, 0.0, 1.0, 1, 1, 0.0)
    val xs = ax ++ bx
    val ys = ay ++ by
    val (xmin, xmax, ymin, ymax) = (xs.min, xs.max, ys.min, ys.max)
    val cell = SpatialJoin.autoCellSize(ax, ay, bx, by)
    val cap = math.ceil(math.sqrt(n.toDouble)).toInt + 1
    def cells(extent: Double): Int = {
      val w = extent / cell
      if (w < cap - 1) w.toInt + 1 else cap
    }
    val mag = Seq(xmin, xmax, ymin, ymax).map(math.abs).max
    EdgeGrid(xmin, ymin, cell, cells(xmax - xmin), cells(ymax - ymin), 1e-9 * (mag + cell))
  }
}

/** The broadcast side of [[SpatialJoin.nearestEdge]]: the edges in
  * position order, and a grid listing each edge under every cell its
  * segment crosses ([[EdgeGrid.cells]]), stored as one array of edge
  * positions per row-major cell run (`cellStart` / `cellEdges`). An edge
  * with an infinite or NaN coordinate has no cell; it is checked for
  * every point.
  *
  * The caller orders the edges by id, so a lower position is a lower id
  * and the position breaks distance ties the way Spark orders the ids.
  */
private[graft] final class EdgeIndex(val ids: Array[Any],
    ax: Array[Double], ay: Array[Double], bx: Array[Double], by: Array[Double])
  extends Serializable {

  private val (placed, unplaced) = ids.indices.toArray.partition(k =>
    isFinite(ax(k)) && isFinite(ay(k)) && isFinite(bx(k)) && isFinite(by(k)))

  val grid: EdgeGrid = EdgeGrid.over(placed.map(ax), placed.map(ay), placed.map(bx), placed.map(by))

  private val (cellStart, cellEdges) = {
    val g = grid
    val start = new Array[Int](g.nx * g.ny + 1)
    placed.foreach(k => g.cells(ax(k), ay(k), bx(k), by(k))((i, j) => start(j * g.nx + i + 1) += 1))
    for (c <- 1 until start.length) start(c) += start(c - 1)
    val next = start.clone()
    val edges = new Array[Int](start.last)
    placed.foreach(k => g.cells(ax(k), ay(k), bx(k), by(k)) { (i, j) =>
      val c = j * g.nx + i
      edges(next(c)) = k
      next(c) += 1
    })
    (start, edges)
  }

  /** Per-task search state. One visit stamp per edge, so an edge listed
    * under several cells is measured once per point.
    */
  final class Search {
    private val seen = new Array[Int](ids.length)
    private var stamp = 0
    private var best = -1
    /** dist² of the last [[nearest]] answer. */
    var dsq: Double = Double.NaN
    /** Distances evaluated by this search so far. */
    var evaluated: Long = 0L

    /** Position of the edge nearest to (px, py) under Spark's ordering of
      * (dist², position), with its dist² in [[dsq]]; −1 when there are no
      * edges.
      *
      * Exact ring search: scan the point's cell, then grow the scanned
      * rectangle of cells by one ring at a time, clipped to the grid. An
      * edge not yet measured lies wholly in cells outside the rectangle,
      * so it is at least `bound` away: the distance from the point to the
      * nearest side of the rectangle that still has grid cells beyond it.
      * The search stops once the best dist² is below (bound − slack)²,
      * the slack covering rounding in the cell and distance arithmetic,
      * or once the rectangle is the whole grid. A point far outside the
      * grid therefore costs at most one pass over the grid's cells, each
      * edge measured once. A point with a non-finite coordinate is
      * measured against every edge.
      */
    def nearest(px: Double, py: Double): Int = {
      if (stamp == Int.MaxValue) { java.util.Arrays.fill(seen, 0); stamp = 0 }
      stamp += 1
      best = -1
      unplaced.foreach(visit(px, py, _))
      if (!isFinite(px) || !isFinite(py)) ids.indices.foreach(visit(px, py, _))
      else ringSearch(px, py)
      best
    }

    private def ringSearch(px: Double, py: Double): Unit = {
      val g = grid
      var ix0 = g.col(px)
      var ix1 = ix0
      var iy0 = g.row(py)
      var iy1 = iy0
      scan(px, py, ix0, ix1, iy0)
      val slack = g.slack + 1e-9 * (math.abs(px) + math.abs(py))
      var done = false
      while (!done) {
        var bound = Double.PositiveInfinity
        if (ix0 > 0) bound = math.min(bound, px - (g.x0 + ix0 * g.cell))
        if (ix1 < g.nx - 1) bound = math.min(bound, g.x0 + (ix1 + 1) * g.cell - px)
        if (iy0 > 0) bound = math.min(bound, py - (g.y0 + iy0 * g.cell))
        if (iy1 < g.ny - 1) bound = math.min(bound, g.y0 + (iy1 + 1) * g.cell - py)
        val b = bound - slack
        if (bound == Double.PositiveInfinity || (best >= 0 && b > 0 && dsq < b * b)) done = true
        else {
          val (nx0, nx1) = (math.max(ix0 - 1, 0), math.min(ix1 + 1, g.nx - 1))
          val (ny0, ny1) = (math.max(iy0 - 1, 0), math.min(iy1 + 1, g.ny - 1))
          var j = ny0
          while (j <= ny1) {
            if (j < iy0 || j > iy1) scan(px, py, nx0, nx1, j)
            else {
              if (nx0 < ix0) scan(px, py, nx0, ix0 - 1, j)
              if (nx1 > ix1) scan(px, py, ix1 + 1, nx1, j)
            }
            j += 1
          }
          ix0 = nx0; ix1 = nx1; iy0 = ny0; iy1 = ny1
        }
      }
    }

    /** Visits the edges of cells i0..i1 of row j: one contiguous run. */
    private def scan(px: Double, py: Double, i0: Int, i1: Int, j: Int): Unit = {
      var p = cellStart(j * grid.nx + i0)
      val end = cellStart(j * grid.nx + i1 + 1)
      while (p < end) { visit(px, py, cellEdges(p)); p += 1 }
    }

    private def visit(px: Double, py: Double, k: Int): Unit = if (seen(k) != stamp) {
      seen(k) = stamp
      evaluated += 1
      val d = EdgeIndex.distSq(px, py, ax(k), ay(k), bx(k), by(k))
      if (best < 0) { best = k; dsq = d }
      else {
        val c = EdgeIndex.compare(d, dsq)
        if (c < 0 || (c == 0 && k < best)) { best = k; dsq = d }
      }
    }
  }
}

private[graft] object EdgeIndex {

  /** Spark's double ordering (SQLOrderingUtil.compareDoubles): −0.0
    * equals 0.0, NaN equals NaN and sorts above every other value.
    */
  def compare(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  /** [[SpatialJoin.pointSegDistSq]] on doubles, in the same operation
    * order and with Spark's `greatest`/`least` (a later argument wins
    * only when strictly greater/less under [[compare]]), so its bits are
    * the Column's.
    */
  def distSq(px: Double, py: Double, ax: Double, ay: Double, bx: Double, by: Double): Double = {
    val dx = bx - ax
    val dy = by - ay
    val len2 = dx * dx + dy * dy
    val t = if (len2 == 0.0) 0.0 else {
      val u = ((px - ax) * dx + (py - ay) * dy) / len2
      val g = if (compare(0.0, u) > 0) 0.0 else u
      if (compare(1.0, g) < 0) 1.0 else g
    }
    val qx = ax + t * dx
    val qy = ay + t * dy
    (px - qx) * (px - qx) + (py - qy) * (py - qy)
  }
}
