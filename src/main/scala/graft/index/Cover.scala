package graft.index

import graft.geom.Geom

/**
 * Polygon → cell cover — BASELINE.json north_star: "Polygons are indexed
 * into an H3 cover (res 7-10)"; the flagship join broadcasts it as a
 * relation (`SpatialJoin.assignPages`).
 *
 * The geometric analog in the reference is the envelope-bounded texture
 * grid (`/root/reference/src/python/plot_courses.py:174-200`): enumerate
 * grid cells over the polygon envelope, keep the ones that touch the
 * polygon. Here cells that are FULLY inside the polygon are marked
 * `full=true` so the join can skip the exact point-in-polygon refine for
 * pages landing in them (most of the area of a large polygon).
 */
object Cover {

  /** Relation of axis-aligned rect (w,s,e,n) to a polygon shell:
    * 0 = disjoint, 1 = partial overlap, 2 = rect fully inside polygon. */
  def rectPolyRelation(w: Double, s: Double, e: Double, n: Double,
                       poly: Array[Array[Double]]): Int = {
    if (poly.isEmpty || Geom.nPts(poly(0)) < 3) return 0
    val env = Geom.envelopePoly(poly)
    if (e < env(0) || env(2) < w || n < env(1) || env(3) < s) return 0

    // does any polygon edge cross or touch the rect?
    var edgeHit = false
    var r = 0
    while (r < poly.length && !edgeHit) {
      val ring = Geom.closeRing(poly(r))
      val m = Geom.nPts(ring) - 1
      var i = 0
      while (i < m && !edgeHit) {
        val ax = ring(2 * i); val ay = ring(2 * i + 1)
        val bx = ring(2 * i + 2); val by = ring(2 * i + 3)
        edgeHit = segIntersectsRect(ax, ay, bx, by, w, s, e, n)
        i += 1
      }
      r += 1
    }
    if (edgeHit) return 1

    // no edge touches the rect: either rect wholly inside poly, poly
    // wholly inside rect, or disjoint. Test one rect corner and one poly
    // vertex.
    val cornerIn = Geom.covers(poly, w, s)
    if (cornerIn) 2
    else {
      val vx = poly(0)(0); val vy = poly(0)(1)
      val vertexInRect = vx >= w && vx <= e && vy >= s && vy <= n
      if (vertexInRect) 1 else 0
    }
  }

  /** Segment vs axis-aligned rectangle overlap (inclusive). */
  private def segIntersectsRect(ax: Double, ay: Double, bx: Double, by: Double,
                                w: Double, s: Double, e: Double, n: Double): Boolean = {
    // trivial accept: an endpoint inside
    if (ax >= w && ax <= e && ay >= s && ay <= n) return true
    if (bx >= w && bx <= e && by >= s && by <= n) return true
    // trivial reject: both endpoints strictly one side
    if (ax < w && bx < w) return false
    if (ax > e && bx > e) return false
    if (ay < s && by < s) return false
    if (ay > n && by > n) return false
    // segment vs each rect edge
    Geom.onSegment(ax, ay, bx, by, w, s) || Geom.onSegment(ax, ay, bx, by, e, n) ||
      Geom.segIntersects(ax, ay, bx, by, w, s, e, s) ||
      Geom.segIntersects(ax, ay, bx, by, e, s, e, n) ||
      Geom.segIntersects(ax, ay, bx, by, e, n, w, n) ||
      Geom.segIntersects(ax, ay, bx, by, w, n, w, s)
  }

  /**
   * Multi-resolution cover: cells of levels [minLevel, maxLevel], coarse
   * where fully inside (full=true), refined to maxLevel along the
   * boundary (full=false). Conservative: every point of the polygon lies
   * in some emitted cell's closure.
   */
  def cover(poly: Array[Array[Double]], minLevel: Int, maxLevel: Int): Array[(Long, Boolean)] = {
    require(minLevel <= maxLevel)
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Boolean)]
    val env = Geom.envelopePoly(poly)
    if (env(0).isNaN) return out.toArray
    val x0 = Cells.lonToX(env(0), minLevel)
    val x1 = Cells.lonToX(env(2), minLevel)
    val y1 = Cells.latToY(env(1), minLevel) // south => larger y
    val y0 = Cells.latToY(env(3), minLevel)
    // envelope never wraps the antimeridian for our inputs; guard anyway
    val nx = 1L << minLevel
    val xs = if (x1 >= x0) (x0 to x1) else (x0 until nx) ++ (0L to x1)

    def visit(id: Long): Unit = {
      val e = Cells.envelope(id)
      rectPolyRelation(e(0), e(1), e(2), e(3), poly) match {
        case 0 => ()
        case 2 => out += ((id, true))
        case _ =>
          if (Cells.level(id) >= maxLevel) out += ((id, false))
          else Cells.children(id).foreach(visit)
      }
    }
    for (cx <- xs; cy <- y0 to y1) visit(Cells.fromXY(cx, cy, minLevel))
    out.toArray
  }

  /** Single-level cover (all cells at `level`). */
  def coverAt(poly: Array[Array[Double]], level: Int): Array[(Long, Boolean)] =
    cover(poly, level, level)
}
