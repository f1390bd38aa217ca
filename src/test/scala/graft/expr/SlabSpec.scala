package graft.expr

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry
import graft.data.Courses
import graft.pipeline.CourseEngine

/** The join refine's y-slab kernel gives [[GeoOps.stContainsFlat]]'s answer
  * for every point, on every fixture hole and on shapes with horizontal
  * edges, at the points where an edge walk can go wrong. */
class SlabSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def flats(bounds: DataFrame): Seq[Array[Double]] =
    bounds.select(graft.functions.flatten_shell(col("boundary"))).collect().toSeq
      .map(_.getSeq[Double](0).toArray)

  /** Probe points of one flat: seeded points in and around its envelope,
    * every vertex and edge midpoint, each slab boundary y (and the doubles
    * either side of it) at seeded x, and y's just outside the extent. */
  private def probes(flat: Array[Double], dir: Array[Double], rnd: Random): Seq[(Double, Double)] = {
    val pts = flat.grouped(2).map(p => (p(0), p(1))).filterNot(_._1.isNaN).toIndexedSeq
    val (xs, ys) = (pts.map(_._1), pts.map(_._2))
    val (x0, x1, y0, y1) = (xs.min, xs.max, ys.min, ys.max)
    def rx = x0 + (x1 - x0) * (rnd.nextDouble() * 1.4 - 0.2)
    val seeded = Seq.fill(400)((rx, y0 + (y1 - y0) * (rnd.nextDouble() * 1.4 - 0.2)))
    val midpoints = pts.zip(pts.tail).map { case ((ax, ay), (bx, by)) => ((ax + bx) / 2, (ay + by) / 2) }
    // a multi-piece flat passes through unchanged (its NaN marker leads)
    val slabYs =
      if (dir.isEmpty || dir(0).isNaN) Seq.empty
      else (1 until dir(0).toInt).map(s => dir(1) + s / dir(3))
    val edgeYs = (slabYs ++ ys).flatMap(y => Seq(Math.nextDown(y), y, Math.nextUp(y)))
    val alongY = edgeYs.flatMap(y => Seq((rx, y), (rx, y)) ++ xs.map(x => (x, y)))
    val outside = Seq(Math.nextDown(y0), y0 - 1e-9, Math.nextUp(y1), y1 + 1e-9, y0 - 1, y1 + 1)
      .flatMap(y => Seq((rx, y), ((x0 + x1) / 2, y)))
    seeded ++ pts ++ midpoints ++ alongY ++ outside
  }

  /** (points probed, points inside, mismatches) of the slab kernel against
    * the full walk, both over the unsafe arrays the join broadcasts. */
  private def compare(shapes: Seq[Array[Double]], seed: Long): (Int, Int, Seq[String]) = {
    val rnd = new Random(seed)
    var (n, in) = (0, 0)
    val bad = Seq.newBuilder[String]
    shapes.foreach { flat =>
      val f = UnsafeArrayData.fromPrimitiveArray(flat)
      val dir = GeoOps.slabShell(f).toDoubleArray()
      val d = UnsafeArrayData.fromPrimitiveArray(dir)
      probes(flat, dir, rnd).foreach { case (x, y) =>
        val want = GeoOps.stContainsFlat(f, x, y)
        if (GeoOps.stContainsSlab(d, x, y) != want) bad += s"($x, $y) in ${flat.toSeq}"
        n += 1
        if (want) in += 1
      }
    }
    (n, in, bad.result())
  }

  test("slab refine == full edge walk on every single-piece fixture hole") {
    val holes = flats(CourseEngine.boundaries(Courses.itemsDf(spark, SparkEntry.NCourses)))
    val (n, in, bad) = compare(holes, seed = 1)
    assert(bad.isEmpty, s"${bad.size} of $n differ: ${bad.take(3)}")
    assert(holes.size > 100 && in > 0 && in < n, s"vacuous: $in of $n inside")
  }

  test("slab refine == full edge walk on the multi-piece fixture holes") {
    val holes = flats(CourseEngine.boundariesMulti(
      Courses.itemsDfWithIslands(spark, SparkEntry.NCourses)))
    assert(holes.exists(_(0).isNaN), "no multi-piece hole in the fixture")
    val (n, in, bad) = compare(holes, seed = 2)
    assert(bad.isEmpty, s"${bad.size} of $n differ: ${bad.take(3)}")
    assert(in > 0 && in < n)
  }

  test("slab refine == full edge walk on horizontal edges and degenerate shells") {
    def closed(pts: (Double, Double)*) = (pts :+ pts.head).flatMap(p => Seq(p._1, p._2)).toArray
    val square = closed((0, 0), (4, 0), (4, 4), (0, 4))
    // a staircase: every other edge horizontal, at y's that land on and
    // between slab boundaries
    val stairs = closed((0, 0), (6, 0), (6, 1), (5, 1), (5, 2.5), (3, 2.5), (3, 3), (1, 3),
      (1, 5), (0, 5))
    val comb = closed((0, 0), (9, 0), (9, 3), (8, 3), (8, 1), (6, 1), (6, 3), (5, 3), (5, 1),
      (3, 1), (3, 3), (2, 3), (2, 1), (1, 1), (1, 3), (0, 3))
    val flatLine = closed((0, 1), (2, 1), (5, 1))  // zero y-extent: one slab
    val twoPoints = Array(0.0, 0.0, 1.0, 1.0)      // under 3 vertices: never inside
    val (n, in, bad) = compare(Seq(square, stairs, comb, flatLine, twoPoints), seed = 3)
    assert(bad.isEmpty, s"${bad.size} of $n differ: ${bad.take(3)}")
    assert(in > 0)
    // on a horizontal edge, strictly between its ends: excluded; just above: inside
    val dir = UnsafeArrayData.fromPrimitiveArray(
      GeoOps.slabShell(UnsafeArrayData.fromPrimitiveArray(stairs)).toDoubleArray())
    assert(!GeoOps.stContainsSlab(dir, 4.0, 2.5) && GeoOps.stContainsSlab(dir, 4.0, 2.4))
  }
}
