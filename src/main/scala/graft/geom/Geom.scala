package graft.geom

/**
 * Pure-Scala planar geometry kernel (no Spark deps) — the from-scratch
 * replacement for the reference's shapely usage
 * (`/root/reference/src/python/utils.py:27-66`,
 * `/root/reference/src/python/plot_courses.py:242-264`).
 *
 * Representation: a *ring* is a flat `Array[Double]` of interleaved
 * coordinates `[x0,y0, x1,y1, ...]` (x = longitude, y = latitude — the
 * (lon,lat) order the reference extracts at plot_courses.py:220-222).
 * A *polygon* is `Array[Array[Double]]`: ring 0 = exterior shell,
 * rings 1..n = interior holes. The reference only ever builds simple
 * single-ring polygons; holes are supported for engine completeness.
 *
 * All math uses `java.lang.Math` on float64 — deterministic across JVMs
 * for the fixture tests (SURVEY.md §7 "Determinism").
 */
object Geom {

  /** Number of vertices in a flat ring. */
  @inline def nPts(ring: Array[Double]): Int = ring.length / 2

  // ---------------------------------------------------------------------
  // Ring closure — reference: utils.py:40-41 (`if coords[0] != coords[-1]:
  // coords.append(coords[0])`). Exact tuple equality, not epsilon.
  // ---------------------------------------------------------------------
  def closeRing(ring: Array[Double]): Array[Double] = {
    val n = nPts(ring)
    if (n == 0) return ring
    val x0 = ring(0); val y0 = ring(1)
    val xl = ring(ring.length - 2); val yl = ring(ring.length - 1)
    if (x0 == xl && y0 == yl) ring
    else {
      val out = java.util.Arrays.copyOf(ring, ring.length + 2)
      out(ring.length) = x0
      out(ring.length + 1) = y0
      out
    }
  }

  def isClosed(ring: Array[Double]): Boolean = {
    val n = ring.length
    n >= 2 && ring(0) == ring(n - 2) && ring(1) == ring(n - 1)
  }

  // ---------------------------------------------------------------------
  // Gaussian ring smoothing — reference: utils.py:27-31
  // `gaussian_filter1d(xs, sigma)` with scipy defaults mode='reflect',
  // truncate=4.0. Kernel radius = floor(truncate*sigma + 0.5); weights
  // phi(i) = exp(-i^2 / (2 sigma^2)) normalized to sum 1 (scipy
  // _gaussian_kernel1d with order=0). The x and y coordinate sequences are
  // smoothed independently as flat arrays (the closed ring is NOT treated
  // as periodic — reflect padding at both ends, exactly like the
  // reference), so a closed input ring generally comes back un-closed and
  // the caller re-closes it (utils.py:30-31 then 40-41).
  // ---------------------------------------------------------------------
  def gaussianKernel(sigma: Double): Array[Double] = {
    val radius = (4.0 * sigma + 0.5).toInt
    val w = new Array[Double](2 * radius + 1)
    var s = 0.0
    var i = -radius
    while (i <= radius) {
      val v = Math.exp(-0.5 * i * i / (sigma * sigma))
      w(i + radius) = v; s += v; i += 1
    }
    i = 0
    while (i < w.length) { w(i) /= s; i += 1 }
    w
  }

  /** scipy.ndimage 'reflect' boundary: (d c b a | a b c d | d c b a). */
  @inline private def reflectIdx(idx: Int, n: Int): Int = {
    if (n == 1) return 0
    var i = idx
    val period = 2 * n
    i = i % period
    if (i < 0) i += period
    if (i >= n) period - 1 - i else i
  }

  /** 1-D correlate with reflect padding over one coordinate axis. */
  def gaussianFilter1d(xs: Array[Double], sigma: Double): Array[Double] = {
    val w = gaussianKernel(sigma)
    val radius = w.length / 2
    val n = xs.length
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      var acc = 0.0
      var k = -radius
      while (k <= radius) {
        acc += w(k + radius) * xs(reflectIdx(i + k, n))
        k += 1
      }
      out(i) = acc
      i += 1
    }
    out
  }

  /** Smooth a flat ring: x and y sequences filtered independently. */
  def gaussianSmooth(ring: Array[Double], sigma: Double): Array[Double] = {
    val n = nPts(ring)
    // sigma -> 0 converges to the identity filter; non-positive sigma
    // would otherwise produce an all-NaN kernel (0/0) or a negative radius
    if (n == 0 || sigma <= 0.0) return ring
    val xs = new Array[Double](n); val ys = new Array[Double](n)
    var i = 0
    while (i < n) { xs(i) = ring(2 * i); ys(i) = ring(2 * i + 1); i += 1 }
    val sx = gaussianFilter1d(xs, sigma)
    val sy = gaussianFilter1d(ys, sigma)
    val out = new Array[Double](2 * n)
    i = 0
    while (i < n) { out(2 * i) = sx(i); out(2 * i + 1) = sy(i); i += 1 }
    out
  }

  // ---------------------------------------------------------------------
  // Point-in-polygon — reference: utils.py:50-52 uses shapely's *strict*
  // `polygon.contains(point)`: points exactly on the boundary are NOT
  // contained. Ray casting (even-odd) with an explicit on-segment check
  // first so boundary exclusion is deterministic.
  // ---------------------------------------------------------------------
  @inline def onSegment(ax: Double, ay: Double, bx: Double, by: Double,
                        px: Double, py: Double): Boolean = {
    val cross = (bx - ax) * (py - ay) - (by - ay) * (px - ax)
    if (cross != 0.0) return false
    px >= Math.min(ax, bx) && px <= Math.max(ax, bx) &&
      py >= Math.min(ay, by) && py <= Math.max(ay, by)
  }

  /** Even-odd crossing test for one ring; boundary handled by caller. */
  private def rayCrossings(ring: Array[Double], px: Double, py: Double): Boolean = {
    val n = nPts(ring)
    var inside = false
    var i = 0
    var j = n - 1
    while (i < n) {
      val xi = ring(2 * i); val yi = ring(2 * i + 1)
      val xj = ring(2 * j); val yj = ring(2 * j + 1)
      if ((yi > py) != (yj > py)) {
        val xCross = (xj - xi) * (py - yi) / (yj - yi) + xi
        if (px < xCross) inside = !inside
      }
      j = i
      i += 1
    }
    inside
  }

  /** True iff point is on any edge of any ring. */
  def onBoundary(poly: Array[Array[Double]], px: Double, py: Double): Boolean = {
    var r = 0
    while (r < poly.length) {
      val ring = poly(r)
      val n = nPts(ring)
      var i = 0
      var j = n - 1
      while (i < n) {
        if (onSegment(ring(2 * j), ring(2 * j + 1), ring(2 * i), ring(2 * i + 1), px, py))
          return true
        j = i
        i += 1
      }
      r += 1
    }
    false
  }

  /** shapely-`contains`-compatible strict containment (boundary excluded).
    * Multi-ring polygons are DISJOINT PIECES (MultiPolygon) — nothing in
    * this engine produces interior holes (the reference renders
    * exterior-only, plot_courses.py:184-186): inside any piece = inside. */
  def containsStrict(poly: Array[Array[Double]], px: Double, py: Double): Boolean = {
    if (poly.length == 0) return false
    if (onBoundary(poly, px, py)) return false
    var r = 0
    while (r < poly.length) {
      if (nPts(poly(r)) >= 3 && rayCrossings(poly(r), px, py)) return true
      r += 1
    }
    false
  }

  /** Covers = contains-or-on-boundary (used by conservative cell covers).
    * Single fused pass: boundary contact is covered either way, so only
    * one boundary walk runs (containsStrict would repeat it). */
  def covers(poly: Array[Array[Double]], px: Double, py: Double): Boolean = {
    if (poly.length == 0) return false
    if (onBoundary(poly, px, py)) return true
    var r = 0
    while (r < poly.length) {
      if (nPts(poly(r)) >= 3 && rayCrossings(poly(r), px, py)) return true
      r += 1
    }
    false
  }

  // ---------------------------------------------------------------------
  // Envelope — reference: geo_series.total_bounds / polygon.bounds
  // (plot_courses.py:174-176, 275). Returns (minx, miny, maxx, maxy),
  // same order as geopandas total_bounds.
  // ---------------------------------------------------------------------
  def envelope(ring: Array[Double]): Array[Double] = {
    val n = nPts(ring)
    if (n == 0) return Array(Double.NaN, Double.NaN, Double.NaN, Double.NaN)
    var minx = ring(0); var maxx = ring(0)
    var miny = ring(1); var maxy = ring(1)
    var i = 1
    while (i < n) {
      val x = ring(2 * i); val y = ring(2 * i + 1)
      if (x < minx) minx = x
      if (x > maxx) maxx = x
      if (y < miny) miny = y
      if (y > maxy) maxy = y
      i += 1
    }
    Array(minx, miny, maxx, maxy)
  }

  /** Envelope over ALL rings — rings are disjoint pieces, so every piece
    * contributes (ring-0-only would silently exclude pieces from cover
    * construction and bbox quick-rejects). */
  def envelopePoly(poly: Array[Array[Double]]): Array[Double] = {
    if (poly.length == 0) return Array(Double.NaN, Double.NaN, Double.NaN, Double.NaN)
    val e = envelope(poly(0))
    var r = 1
    while (r < poly.length) {
      val er = envelope(poly(r))
      if (!er(0).isNaN) {
        e(0) = Math.min(e(0), er(0)); e(1) = Math.min(e(1), er(1))
        e(2) = Math.max(e(2), er(2)); e(3) = Math.max(e(3), er(3))
      }
      r += 1
    }
    e
  }

  /** Signed shoelace area (positive = CCW). Open or closed rings OK.
    *
    * Computed relative to the FIRST VERTEX (each term is a cross product
    * of edge vectors from v0), not the raw coordinates: at lon ~ 116 a
    * raw shoelace accumulates partial sums ~1e5 that cancel down to a
    * ~1e-6 deg^2 area, losing ~10 significant digits to cancellation —
    * the translated form keeps the area accurate to ~1 ulp of itself,
    * which is what lets an independent re-derivation (the DuckDB clip
    * oracle) agree to a fixed 1e-12 quantum. Mathematically identical
    * (translation invariance of area). */
  def signedArea(ring: Array[Double]): Double = {
    val n = nPts(ring)
    if (n < 3) return 0.0
    val x0 = ring(0); val y0 = ring(1)
    var s = 0.0
    var i = 0
    var j = n - 1
    while (i < n) {
      val xj = ring(2 * j) - x0; val yj = ring(2 * j + 1) - y0
      val xi = ring(2 * i) - x0; val yi = ring(2 * i + 1) - y0
      s += xj * yi - xi * yj
      j = i
      i += 1
    }
    s / 2.0
  }

  def area(ring: Array[Double]): Double = Math.abs(signedArea(ring))

  // ---------------------------------------------------------------------
  // Validity — reference: utils.py:35-38 (<3 points -> None) and
  // utils.py:57-62 (`polygon.is_valid` gate before intersection).
  // A ring is valid when: >=3 distinct vertices, nonzero area, and no
  // two non-adjacent edges intersect (O(n^2); rings are small).
  // ---------------------------------------------------------------------
  /** Closed segments ab and cd intersect (touching counts). Also
    * `index.Cover`'s segment-vs-rectangle edge test. */
  private[graft] def segIntersects(ax: Double, ay: Double, bx: Double, by: Double,
                                   cx: Double, cy: Double, dx: Double, dy: Double): Boolean = {
    def orient(ox: Double, oy: Double, px: Double, py: Double, qx: Double, qy: Double): Double =
      (px - ox) * (qy - oy) - (py - oy) * (qx - ox)
    val d1 = orient(cx, cy, dx, dy, ax, ay)
    val d2 = orient(cx, cy, dx, dy, bx, by)
    val d3 = orient(ax, ay, bx, by, cx, cy)
    val d4 = orient(ax, ay, bx, by, dx, dy)
    if (((d1 > 0 && d2 < 0) || (d1 < 0 && d2 > 0)) &&
        ((d3 > 0 && d4 < 0) || (d3 < 0 && d4 > 0))) return true
    if (d1 == 0 && onSegment(cx, cy, dx, dy, ax, ay)) return true
    if (d2 == 0 && onSegment(cx, cy, dx, dy, bx, by)) return true
    if (d3 == 0 && onSegment(ax, ay, bx, by, cx, cy)) return true
    if (d4 == 0 && onSegment(ax, ay, bx, by, dx, dy)) return true
    false
  }

  def isRingValid(ringIn: Array[Double]): Boolean = {
    val ring = closeRing(ringIn)
    val n = nPts(ring) - 1            // distinct edge count for closed ring
    if (n < 3) return false
    if (area(ring) == 0.0) return false
    // non-adjacent edge pairs must not intersect
    var i = 0
    while (i < n) {
      var j = i + 2
      while (j < n) {
        val adjacentWrap = i == 0 && j == n - 1
        if (!adjacentWrap) {
          if (segIntersects(
            ring(2 * i), ring(2 * i + 1), ring(2 * (i + 1)), ring(2 * (i + 1) + 1),
            ring(2 * j), ring(2 * j + 1), ring(2 * (j + 1)), ring(2 * (j + 1) + 1)))
            return false
        }
        j += 1
      }
      i += 1
    }
    true
  }

  // ---------------------------------------------------------------------
  // Polygon intersection — reference: utils.py:55-66
  // (`polygon1.intersection(polygon2)` guarded by is_valid, returning
  // None on empty/invalid; callers additionally swallow errors per hole,
  // plot_courses.py:318-319).
  //
  // Engine: Sutherland–Hodgman half-plane clipping, which is exact when
  // the CLIP ring is convex (the hole-boundary rings the reference clips
  // against). When neither argument is convex we return null — the same
  // observable behavior as the reference's exception path (logged + row
  // skipped). Intersection is commutative, so a convex subject with a
  // concave clip is handled by swapping.
  // Returns null for empty/degenerate results (reference's None).
  // ---------------------------------------------------------------------
  def isConvex(ringIn: Array[Double]): Boolean = {
    val ring = dropClosingDup(ringIn)
    val n = nPts(ring)
    if (n < 3) return false
    var sign = 0
    var i = 0
    while (i < n) {
      val ax = ring(2 * i); val ay = ring(2 * i + 1)
      val bx = ring(2 * ((i + 1) % n)); val by = ring(2 * ((i + 1) % n) + 1)
      val cx = ring(2 * ((i + 2) % n)); val cy = ring(2 * ((i + 2) % n) + 1)
      val cross = (bx - ax) * (cy - by) - (by - ay) * (cx - bx)
      if (cross != 0.0) {
        val s = if (cross > 0) 1 else -1
        if (sign == 0) sign = s
        else if (sign != s) return false
      }
      i += 1
    }
    sign != 0
  }

  /** Drop the duplicated closing vertex if present. */
  def dropClosingDup(ring: Array[Double]): Array[Double] =
    if (isClosed(ring) && ring.length >= 4) java.util.Arrays.copyOf(ring, ring.length - 2)
    else ring

  /** Clip `subject` ring by one half-plane defined by directed edge (a->b)
    * of a CCW convex clip ring (inside = left of edge). */
  private def clipHalfPlane(subject: Array[Double],
                            ax: Double, ay: Double, bx: Double, by: Double): Array[Double] = {
    val n = nPts(subject)
    val out = new scala.collection.mutable.ArrayBuilder.ofDouble
    out.sizeHint(subject.length + 4)
    @inline def side(px: Double, py: Double): Double =
      (bx - ax) * (py - ay) - (by - ay) * (px - ax)
    var i = 0
    while (i < n) {
      val cx = subject(2 * i); val cy = subject(2 * i + 1)
      val pi = (i + n - 1) % n
      val px = subject(2 * pi); val py = subject(2 * pi + 1)
      val sc = side(cx, cy)
      val sp = side(px, py)
      if (sc >= 0) {
        if (sp < 0) { // entering: emit intersection
          val t = sp / (sp - sc)
          out += px + t * (cx - px); out += py + t * (cy - py)
        }
        out += cx; out += cy
      } else if (sp >= 0) { // leaving: emit intersection
        val t = sp / (sp - sc)
        out += px + t * (cx - px); out += py + t * (cy - py)
      }
      i += 1
    }
    out.result()
  }

  /** Ensure CCW orientation (positive signed area). */
  def toCCW(ring: Array[Double]): Array[Double] =
    if (signedArea(ring) >= 0) ring
    else {
      val n = nPts(ring)
      val out = new Array[Double](ring.length)
      var i = 0
      while (i < n) {
        out(2 * i) = ring(2 * (n - 1 - i))
        out(2 * i + 1) = ring(2 * (n - 1 - i) + 1)
        i += 1
      }
      out
    }

  /**
   * Intersection of two simple rings. Exact when at least one ring is
   * convex (S-H with the convex one as clip); null otherwise, or when
   * either input is degenerate, or when the result is empty/zero-area —
   * mirroring utils.py:57-66's None returns.
   *
   * PRECONDITION: inputs are SIMPLE rings. A self-intersecting ring whose
   * turns all share a sign (a star polygon) passes `isConvex` and would be
   * clipped wrongly rather than rejected — the SQL surface guards this via
   * `isRingValid` in `GeoOps.stIntersection`; direct kernel callers own
   * the same check.
   */
  def intersection(subjectIn: Array[Double], clipIn: Array[Double]): Array[Double] = {
    var subject = dropClosingDup(subjectIn)
    var clip = dropClosingDup(clipIn)
    if (nPts(subject) < 3 || nPts(clip) < 3) return null
    if (!isConvex(clip)) {
      if (isConvex(subject)) { val t = subject; subject = clip; clip = t }
      else return null
    }
    // quick reject on envelopes
    val es = envelope(subject); val ec = envelope(clip)
    if (es(2) < ec(0) || ec(2) < es(0) || es(3) < ec(1) || ec(3) < es(1)) return null
    val ccwClip = toCCW(clip)
    var result = subject
    val m = nPts(ccwClip)
    var i = 0
    while (i < m && nPts(result) >= 3) {
      val ax = ccwClip(2 * i); val ay = ccwClip(2 * i + 1)
      val ni = (i + 1) % m
      result = clipHalfPlane(result, ax, ay, ccwClip(2 * ni), ccwClip(2 * ni + 1))
      i += 1
    }
    if (nPts(result) < 3 || area(result) == 0.0) null else result
  }

  /** Ear-clipping triangulation of a simple (possibly concave) ring.
    * Returns one 6-double array (ax,ay,bx,by,cx,cy) per triangle, or null
    * when the ring is degenerate/self-intersecting (no ear found). O(n^2)
    * — rings here are tens of vertices. */
  def triangulate(ringIn: Array[Double]): Array[Array[Double]] = {
    val ring = toCCW(dropClosingDup(ringIn))
    val n = nPts(ring)
    if (n < 3) return null
    def x(i: Int) = ring(2 * i)
    def y(i: Int) = ring(2 * i + 1)
    // inclusive point-in-triangle (any boundary contact blocks the ear —
    // conservative, avoids sliver triangles crossing the polygon)
    def inTri(px: Double, py: Double, ax: Double, ay: Double,
              bx: Double, by: Double, cx: Double, cy: Double): Boolean = {
      val d1 = (bx - ax) * (py - ay) - (by - ay) * (px - ax)
      val d2 = (cx - bx) * (py - by) - (cy - by) * (px - bx)
      val d3 = (ax - cx) * (py - cy) - (ay - cy) * (px - cx)
      d1 >= 0 && d2 >= 0 && d3 >= 0
    }
    val idx = scala.collection.mutable.ArrayBuffer.range(0, n)
    val tris = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    while (idx.length > 3) {
      var earAt = -1
      var i = 0
      while (i < idx.length && earAt < 0) {
        val m = idx.length
        val ia = idx((i + m - 1) % m); val ib = idx(i); val ic = idx((i + 1) % m)
        val cross = (x(ib) - x(ia)) * (y(ic) - y(ia)) - (y(ib) - y(ia)) * (x(ic) - x(ia))
        if (cross > 0) { // convex corner of a CCW ring
          var ok = true
          var j = 0
          while (j < m && ok) {
            val iv = idx(j)
            if (iv != ia && iv != ib && iv != ic) {
              // coordinate-duplicates of a corner don't block the ear
              // (a repeated interior vertex sits ON the triangle boundary
              // by construction and would otherwise veto every ear)
              val vx = x(iv); val vy = y(iv)
              val isCornerDup =
                (vx == x(ia) && vy == y(ia)) || (vx == x(ib) && vy == y(ib)) ||
                  (vx == x(ic) && vy == y(ic))
              if (!isCornerDup)
                ok = !inTri(vx, vy, x(ia), y(ia), x(ib), y(ib), x(ic), y(ic))
            }
            j += 1
          }
          if (ok) earAt = i
        }
        i += 1
      }
      if (earAt < 0) return null // no ear: not a simple polygon
      val m = idx.length
      val ia = idx((earAt + m - 1) % m); val ib = idx(earAt); val ic = idx((earAt + 1) % m)
      tris += Array(x(ia), y(ia), x(ib), y(ib), x(ic), y(ic))
      idx.remove(earAt)
    }
    tris += Array(x(idx(0)), y(idx(0)), x(idx(1)), y(idx(1)), x(idx(2)), y(idx(2)))
    tris.toArray
  }

  // ---------------------------------------------------------------------
  // Greiner–Hormann boundary tracing — the TRUE intersection boundary for
  // concave×concave pairs (what shapely's `intersection` returns, minus
  // the degenerate configurations it resolves with exact arithmetic).
  // ---------------------------------------------------------------------

  /** Doubly-linked traversal node: a ring vertex or an edge crossing. */
  private final class GHNode(val x: Double, val y: Double, val isInter: Boolean) {
    var next: GHNode = _
    var twin: GHNode = _    // same crossing on the other ring
    var entry = false       // crossing INTO the other ring (subject side)
    var visited = false
  }

  /**
   * True-boundary intersection of two simple rings via Greiner–Hormann
   * with forward-only switching (valid for CCW∩CCW with transversal
   * crossings). Returns the boundary pieces exactly as shapely would
   * (piece edges lie ON an input boundary — no triangulation seams);
   * an EMPTY array when the intersection is provably empty; and NULL
   * when the configuration is degenerate — vertex-on-boundary contact,
   * collinear overlapping edges, coincident or endpoint crossings, or an
   * inconsistent crossing parity — in which case the caller falls back
   * to the exact-area triangulated partition ([[intersectionPieces]]).
   */
  def intersectionBoundary(subjectIn: Array[Double], clipIn: Array[Double]): Array[Array[Double]] = {
    val subject = toCCW(dropClosingDup(subjectIn))
    val clip = toCCW(dropClosingDup(clipIn))
    val ns = nPts(subject); val nc = nPts(clip)
    if (ns < 3 || nc < 3) return null
    val es = envelope(subject); val ec = envelope(clip)
    if (es(2) < ec(0) || ec(2) < es(0) || es(3) < ec(1) || ec(3) < es(1))
      return Array.empty
    // degeneracy gate 1: any vertex of one ring ON the other's boundary
    var i = 0
    while (i < ns) {
      if (onBoundary(Array(clip), subject(2 * i), subject(2 * i + 1))) return null
      i += 1
    }
    i = 0
    while (i < nc) {
      if (onBoundary(Array(subject), clip(2 * i), clip(2 * i + 1))) return null
      i += 1
    }
    // collect strict transversal crossings per (subject edge, clip edge)
    // crossings(k) = (si, t, ci, u, x, y)
    val crossings = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Int, Double, Double, Double)]
    i = 0
    while (i < ns) {
      val ax = subject(2 * i); val ay = subject(2 * i + 1)
      val i2 = (i + 1) % ns
      val bx = subject(2 * i2); val by = subject(2 * i2 + 1)
      val rx = bx - ax; val ry = by - ay
      var j = 0
      while (j < nc) {
        val cx = clip(2 * j); val cy = clip(2 * j + 1)
        val j2 = (j + 1) % nc
        val dx = clip(2 * j2); val dy = clip(2 * j2 + 1)
        val sx = dx - cx; val sy = dy - cy
        val den = rx * sy - ry * sx
        val qpx = cx - ax; val qpy = cy - ay
        if (den == 0.0) {
          // parallel; collinear + 1-D overlap = degenerate shared edge
          if (qpx * ry - qpy * rx == 0.0) {
            val lo1 = Math.min(ax, bx); val hi1 = Math.max(ax, bx)
            val lo2 = Math.min(cx, dx); val hi2 = Math.max(cx, dx)
            val lo1y = Math.min(ay, by); val hi1y = Math.max(ay, by)
            val lo2y = Math.min(cy, dy); val hi2y = Math.max(cy, dy)
            if (Math.min(hi1, hi2) > Math.max(lo1, lo2) ||
                Math.min(hi1y, hi2y) > Math.max(lo1y, lo2y)) return null
          }
        } else {
          val t = (qpx * sy - qpy * sx) / den
          val u = (qpx * ry - qpy * rx) / den
          if (t > 0.0 && t < 1.0 && u > 0.0 && u < 1.0) {
            crossings += ((i, t, j, u, ax + t * rx, ay + t * ry))
          }
        }
        j += 1
      }
      i += 1
    }
    if (crossings.isEmpty) {
      // no crossings + no boundary contact: containment or disjoint
      if (rayCrossings(clip, subject(0), subject(1))) return Array(subject.clone())
      if (rayCrossings(subject, clip(0), clip(1))) return Array(clip.clone())
      return Array.empty
    }
    if (crossings.length % 2 != 0) return null // non-transversal residue
    // degeneracy gate 2: coincident crossing points
    val seen = new scala.collection.mutable.HashSet[(Double, Double)]
    crossings.foreach { c => if (!seen.add((c._5, c._6))) return null }

    // build the two circular node lists (vertices + ordered crossings)
    def buildRing(ring: Array[Double], n: Int,
                  key: ((Int, Double, Int, Double, Double, Double)) => (Int, Double),
                  attach: (Int, GHNode) => Unit): GHNode = {
      var head: GHNode = null; var tail: GHNode = null
      def append(nd: GHNode): Unit = {
        if (head == null) head = nd else tail.next = nd
        tail = nd
      }
      var v = 0
      while (v < n) {
        append(new GHNode(ring(2 * v), ring(2 * v + 1), isInter = false))
        val onEdge = crossings.zipWithIndex
          .filter { case (c, _) => key(c)._1 == v }
          .sortBy { case (c, _) => key(c)._2 }
        onEdge.foreach { case (c, ci) =>
          val nd = new GHNode(c._5, c._6, isInter = true)
          attach(ci, nd)
          append(nd)
        }
        v += 1
      }
      tail.next = head
      head
    }
    val subNodes = new Array[GHNode](crossings.length)
    val clipNodes = new Array[GHNode](crossings.length)
    val subHead = buildRing(subject, ns, c => (c._1, c._2), (ci, nd) => subNodes(ci) = nd)
    buildRing(clip, nc, c => (c._3, c._4), (ci, nd) => clipNodes(ci) = nd)
    i = 0
    while (i < crossings.length) {
      subNodes(i).twin = clipNodes(i)
      clipNodes(i).twin = subNodes(i)
      i += 1
    }
    // entry/exit by parity walk from subject vertex 0 (proven off-boundary)
    var inside = rayCrossings(clip, subject(0), subject(1))
    val inside0 = inside
    var node = subHead
    var walked = 0
    val totalSub = ns + crossings.length
    while (walked < totalSub) {
      if (node.isInter) { node.entry = !inside; inside = !inside }
      node = node.next
      walked += 1
    }
    if (inside != inside0) return null // parity must close

    // trace: forward from each unvisited subject-entry crossing, switching
    // rings at every crossing, until the loop closes at the start
    val pieces = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    val maxSteps = 4 * (ns + nc + 2 * crossings.length)
    i = 0
    while (i < crossings.length) {
      val start = subNodes(i)
      if (start.entry && !start.visited) {
        val pts = scala.collection.mutable.ArrayBuffer.empty[Double]
        var cur: GHNode = start
        var guard = 0
        var closed = false
        while (!closed) {
          cur.visited = true; cur.twin.visited = true
          pts += cur.x; pts += cur.y
          var nxt = cur.next
          while (!nxt.isInter) {
            pts += nxt.x; pts += nxt.y
            nxt = nxt.next
            guard += 1
            if (guard > maxSteps) return null
          }
          if ((nxt eq start) || (nxt.twin eq start)) closed = true
          else {
            if (nxt.visited && !(nxt eq start) && !(nxt.twin eq start)) return null // re-entered a foreign loop
            cur = nxt.twin
          }
          guard += 1
          if (guard > maxSteps) return null
        }
        val piece = pts.toArray
        if (nPts(piece) < 3 || area(piece) == 0.0) return null
        pieces += piece
      }
      i += 1
    }
    if (pieces.isEmpty) Array.empty else pieces.toArray
  }

  /**
   * General intersection of two simple rings as DISJOINT PIECES (the
   * MultiPolygon case the reference's shapely call handles and its
   * renderer then crashes on — we return the pieces). Convex×convex is
   * the exact single-piece [[intersection]] (a convex∩convex region is
   * one convex piece, so Sutherland–Hodgman is exact AND single-piece).
   * Every other combination goes to Greiner–Hormann boundary tracing
   * ([[intersectionBoundary]]) — the TRUE piece boundaries, as shapely
   * returns them. When GH reports a degenerate configuration (vertex
   * contact, collinear overlap, coincident crossings) the non-convex
   * ring(s) are triangulated and all triangle/ring pairs S-H-clipped —
   * each pair convex×convex, so every fallback piece is a genuine simple
   * convex polygon, the pieces partition the true intersection, and the
   * total area is exact (boundaries follow the triangulation seams in
   * this fallback only). Null when empty or degenerate (the reference's
   * None class).
   */
  def intersectionPieces(subjectIn: Array[Double], clipIn: Array[Double]): Array[Array[Double]] = {
    val subject = dropClosingDup(subjectIn)
    val clip = dropClosingDup(clipIn)
    if (nPts(subject) < 3 || nPts(clip) < 3) return null
    if (isConvex(clip) && isConvex(subject)) {
      val r = intersection(subject, clip)
      return if (r == null) null else Array(r)
    }
    val es = envelope(subject); val ec = envelope(clip)
    if (es(2) < ec(0) || ec(2) < es(0) || es(3) < ec(1) || ec(3) < es(1)) return null
    val gh = intersectionBoundary(subject, clip)
    if (gh != null) return if (gh.isEmpty) null else gh
    val trisS = if (isConvex(subject)) Array(subject) else triangulate(subject)
    val trisC = if (isConvex(clip)) Array(clip) else triangulate(clip)
    if (trisS == null || trisC == null) return null
    val pieces = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    var i = 0
    while (i < trisS.length) {
      var j = 0
      while (j < trisC.length) {
        val p = intersection(trisS(i), trisC(j))
        if (p != null) pieces += p
        j += 1
      }
      i += 1
    }
    if (pieces.isEmpty) null else pieces.toArray
  }

  // ---------------------------------------------------------------------
  // Haversine distance in meters (kNN metric; no reference analog — the
  // reference's only distance-ish math is the lat_to_meter_ratio=111000
  // flat approximation in utils.py:18-23).
  // ---------------------------------------------------------------------
  final val EarthRadiusM = 6371008.8

  def haversineM(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val p1 = Math.toRadians(lat1); val p2 = Math.toRadians(lat2)
    val dp = p2 - p1
    val dl = Math.toRadians(lon2 - lon1)
    val a = Math.sin(dp / 2) * Math.sin(dp / 2) +
      Math.cos(p1) * Math.cos(p2) * Math.sin(dl / 2) * Math.sin(dl / 2)
    2.0 * EarthRadiusM * Math.asin(Math.min(1.0, Math.sqrt(a)))
  }

  // ---------------------------------------------------------------------
  // Viewport math — reference: utils.py:18-24, 69-80. Constants are the
  // reference's module-level values.
  // ---------------------------------------------------------------------
  final val LatToMeterRatio = 111000.0
  final val MetersPerPixel = 0.2
  final val Dpi = 300.0
  final val MarkerSizeM = 3.0

  /** (figWidthInches, figHeightInches, aspect, markerPixels) from bounds
    * (west, south, east, north) — utils.py:69-80. */
  def viewport(west: Double, south: Double, east: Double, north: Double): Array[Double] = {
    val centerLat = (south + north) / 2.0
    val aspect = 1.0 / Math.cos(Math.toRadians(centerLat))
    val widthM = (east - west) * LatToMeterRatio * Math.cos(Math.toRadians(centerLat))
    val heightM = (north - south) * LatToMeterRatio
    val widthPx = widthM / MetersPerPixel
    val heightPx = heightM / MetersPerPixel
    Array(widthPx / Dpi, heightPx / Dpi, aspect, MarkerSizeM / MetersPerPixel)
  }
}
