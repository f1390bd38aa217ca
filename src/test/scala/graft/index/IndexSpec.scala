package graft.index

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import graft.geom.Geom

class IndexSpec extends AnyFunSuite with graft.PropHelper {

  val lonLatGen: Gen[(Double, Double)] = for {
    lon <- Gen.choose(-179.999, 179.999)
    lat <- Gen.choose(-84.9, 84.9)
  } yield (lon, lat)

  // ---- slippy tiles ----
  test("slippy tile known vectors (OSM spec)") {
    // lon 0, lat 0 at z1 -> (1, 1); z0 always (0,0)
    assert(Tiles.lonToTileX(0.0, 1) == 1 && Tiles.latToTileY(0.0, 1) == 1)
    assert(Tiles.lonToTileX(13.41, 0) == 0 && Tiles.latToTileY(52.52, 0) == 0)
    // Berlin 13.41/52.52 at z10 -> x=550, y=335 (known public vector)
    assert(Tiles.lonToTileX(13.41, 10) == 550)
    assert(Tiles.latToTileY(52.52, 10) == 335)
  }

  test("tile round-trip: point lies inside its tile's bounds") {
    forAllN(lonLatGen) { case (lon, lat) =>
      val z = 12
      val x = Tiles.lonToTileX(lon, z); val y = Tiles.latToTileY(lat, z)
      assert(Tiles.tileXToLon(x, z) <= lon && lon < Tiles.tileXToLon(x + 1, z))
      assert(Tiles.tileYToLat(y + 1, z) <= lat && lat <= Tiles.tileYToLat(y, z))
    }
  }

  test("quadkey encode/decode round-trip and prefix-nesting") {
    forAllN(lonLatGen) { case (lon, lat) =>
      val z = 15
      val x = Tiles.lonToTileX(lon, z); val y = Tiles.latToTileY(lat, z)
      val qk = Tiles.quadkey(z, x, y)
      assert(qk.length == z)
      assert(Tiles.fromQuadkey(qk) == ((z, x, y)))
      // parent tile quadkey is a prefix
      val pq = Tiles.quadkey(z - 1, x >> 1, y >> 1)
      assert(qk.startsWith(pq))
    }
  }

  // ---- graft cells ----
  test("morton spread/compact round-trip") {
    forAllN(Gen.choose(0L, (1L << 30) - 1)) { v =>
      assert(Cells.compactBits(Cells.spreadBits(v)) == v)
    }
  }

  test("cellId level/x/y round-trip; parent containment") {
    forAllN(lonLatGen) { case (lon, lat) =>
      val l = 16
      val id = Cells.cellId(lon, lat, l)
      assert(Cells.level(id) == l)
      assert(Cells.fromXY(Cells.x(id), Cells.y(id), l) == id)
      // parent algebra: parent at l-1 equals direct encode at l-1
      assert(Cells.parent(id) == Cells.cellId(lon, lat, l - 1))
      assert(Cells.parentAt(id, 10) == Cells.cellId(lon, lat, 10))
      // children partition the parent
      assert(Cells.children(Cells.parent(id)).contains(id))
      // point inside its own cell envelope
      val e = Cells.envelope(id)
      assert(e(0) <= lon && lon < e(2) && e(1) <= lat && lat <= e(3))
    }
  }

  test("ring cells: count, distinctness, distance") {
    val id = Cells.cellId(116.3, 39.98, 14)
    assert(Cells.ringCells(id, 0) sameElements Array(id))
    val r1 = Cells.ringCells(id, 1)
    assert(r1.length == 8 && r1.distinct.length == 8)
    val r3 = Cells.ringCells(id, 3)
    assert(r3.length == 24)
    val cx = Cells.x(id); val cy = Cells.y(id)
    r3.foreach { c =>
      val d = Math.max(Math.abs(Cells.x(c) - cx), Math.abs(Cells.y(c) - cy))
      assert(d == 3)
    }
    assert(Cells.diskCells(id, 2).length == 25)
  }

  test("ring cells wrap at the antimeridian") {
    val id = Cells.cellId(179.99, 10.0, 8)
    val ring = Cells.ringCells(id, 1)
    assert(ring.length == 8)
    // one of them must be on the -180 side (x == 0)
    assert(ring.exists(c => Cells.x(c) == 0))
  }

  test("minDistanceM lower bound property: <= true distance to any point in cell") {
    forAllN(Gen.zip(Gen.choose(-100.0, 100.0), Gen.choose(-60.0, 60.0)), 100) {
      case (lon, lat) =>
      val cell = Cells.cellId(lon + 0.5, lat + 0.1 * ((lat.abs % 3) - 1), 12)
      val c = Cells.center(cell)
      val lb = Cells.minDistanceM(cell, lon, lat)
      assert(lb <= Geom.haversineM(lon, lat, c(0), c(1)) + 1e-6)
    }
  }

  test("minDistanceM lower bound holds across the antimeridian") {
    // point just west of the antimeridian, cell just east of it: the true
    // nearest edge is the cell's EAST edge via wraparound — a linear lon
    // clamp would pick the far (west) edge and overestimate
    val cell = Cells.cellId(179.3, 10.0, 10)
    val env = Cells.envelope(cell)
    val lb = Cells.minDistanceM(cell, -179.95, 10.0)
    // sample the cell's boundary + interior; the bound must undercut all
    val samples = for {
      fx <- 0 to 4; fy <- 0 to 4
    } yield (env(0) + (env(2) - env(0)) * fx / 4.0, env(1) + (env(3) - env(1)) * fy / 4.0)
    val trueMin = samples.map { case (x, y) => Geom.haversineM(-179.95, 10.0, x, y) }.min
    assert(lb <= trueMin + 1e-6, s"lb=$lb trueMin=$trueMin")
    // and it is a USEFUL bound (within 2x), not degenerate-zero
    assert(lb > trueMin * 0.5)
  }

  // ---- cover ----
  val diamond: Array[Array[Double]] = Array(Array(116.30, 39.98, 116.34, 40.00, 116.30, 40.02, 116.26, 40.00))

  /** Whether a level-[12, 15] cover holds the point's level-15 cell or
    * one of its ancestors — the probe the multi-res join runs. */
  private def inCover(cov: Array[(Long, Boolean)], lon: Double, lat: Double): Boolean = {
    val cells = cov.map(_._1).toSet
    val fine = Cells.cellId(lon, lat, 15)
    (12 to 15).exists(l => cells.contains(Cells.parentAt(fine, l)))
  }

  test("cover is conservative: random interior points land in a cover cell") {
    val cov = Cover.cover(diamond, 12, 15)
    assert(cov.nonEmpty)
    forAllN(Gen.zip(Gen.choose(116.26, 116.34), Gen.choose(39.98, 40.02)), 300) {
      case (lon, lat) =>
        if (Geom.containsStrict(diamond, lon, lat)) {
          assert(inCover(cov, lon, lat), s"interior point ($lon,$lat) missed by cover")
        }
    }
  }

  test("cover full cells are truly fully inside") {
    val cov = Cover.cover(diamond, 12, 15)
    val fulls = cov.filter(_._2)
    assert(fulls.nonEmpty, "multi-res cover of a fat polygon should have full cells")
    fulls.foreach { case (cell, _) =>
      val e = Cells.envelope(cell)
      // all four corners strictly covered
      assert(Geom.covers(diamond, e(0), e(1)) && Geom.covers(diamond, e(2), e(1)) &&
        Geom.covers(diamond, e(0), e(3)) && Geom.covers(diamond, e(2), e(3)))
    }
  }

  test("cover excludes clearly-outside points' cells") {
    val cov = Cover.cover(diamond, 12, 15)
    // far away point
    assert(!inCover(cov, 100.0, 10.0))
  }

  test("multi-res cover is smaller than single fine-level cover (large polygon)") {
    // large diamond (1.6 x 0.8 degrees) has fully-inside coarse cells
    val big = Array(Array(116.3, 39.2, 117.1, 40.0, 116.3, 40.8, 115.5, 40.0))
    val multi = Cover.cover(big, 8, 12)
    val fine = Cover.coverAt(big, 12)
    assert(multi.length < fine.length, s"multi=${multi.length} fine=${fine.length}")
    // and it actually kept some coarse full cells
    assert(multi.exists { case (c, full) => full && Cells.level(c) < 12 })
  }
}
