package graft.data

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.Random

/**
 * Deterministic synthetic golf-course layouts matching the reference's
 * reconstructed JSONL schema (FIXTURES.md §1; access patterns at
 * `/root/reference/src/python/plot_courses.py:330-339,216-222,236`):
 * clubId / courseId / holes[] / gpsItems[] / itemType / shape[{longitude,
 * latitude}]. Seeded (default 42) — identical layouts every run.
 *
 * Generator rules per FIXTURES.md: boundaries are convex-ish open rings
 * (first != last, exercising ring closure); degenerate items (<3 pts),
 * items fully outside the boundary, lines crossing the boundary, and
 * markers on/in/out of the boundary are all planted deliberately.
 * Courses cluster around the same 9 city centers as [[Pages]] so the
 * page-course spatial join has hits and shares the pages' skew.
 */
object Courses {

  case class GpsPoint(longitude: Double, latitude: Double)
  case class GpsItem(itemType: String, shape: Seq[GpsPoint])
  case class Hole(gpsItems: Seq[GpsItem])
  case class CourseLayout(clubId: String, courseId: String, holes: Seq[Hole])

  /** The 14 reference item types (hole_item.py:29-46). */
  val polygonTypes = Seq("TeeboxTrace", "FairwayTrace", "GreenTrace", "BunkerTrace",
    "VegetationTrace", "WaterTrace")
  val lineTypes = Seq("WaterPath", "CartpathTrace", "CartpathPath")
  val markerTypes = Seq("LeafyTree", "ShrubTree", "PalmTree", "PineTree")

  /** Convex-ish ring: ellipse with radial noise, OPEN (first != last). */
  private def boundaryRing(rnd: Random, cx: Double, cy: Double,
                           rx: Double, ry: Double): Seq[GpsPoint] = {
    val n = 8 + rnd.nextInt(33) // 8..40 vertices
    val rot = rnd.nextDouble() * Math.PI
    (0 until n).map { i =>
      val a = 2 * Math.PI * i / n
      val noise = 0.85 + 0.15 * rnd.nextDouble() // keeps it convex-ish
      val ex = rx * noise * Math.cos(a)
      val ey = ry * noise * Math.sin(a)
      GpsPoint(
        cx + ex * Math.cos(rot) - ey * Math.sin(rot),
        cy + ex * Math.sin(rot) + ey * Math.cos(rot))
    }
  }

  private def hole(rnd: Random, cx: Double, cy: Double): Hole = {
    val rx = 0.002 + rnd.nextDouble() * 0.003 // ~200-550m across
    val ry = 0.001 + rnd.nextDouble() * 0.002
    val boundary = boundaryRing(rnd, cx, cy, rx, ry)
    val items = scala.collection.mutable.ArrayBuffer.empty[GpsItem]
    // interior polygons (fairway/green/bunkers...)
    val nPoly = 2 + rnd.nextInt(4)
    (0 until nPoly).foreach { _ =>
      val t = polygonTypes(rnd.nextInt(polygonTypes.length))
      val icx = cx + (rnd.nextDouble() - 0.5) * rx
      val icy = cy + (rnd.nextDouble() - 0.5) * ry
      items += GpsItem(t, boundaryRing(rnd, icx, icy, rx * 0.3, ry * 0.3))
    }
    // one item fully OUTSIDE the boundary (empty intersection path)
    items += GpsItem("BunkerTrace",
      boundaryRing(rnd, cx + 4 * rx, cy + 4 * ry, rx * 0.2, ry * 0.2))
    // one degenerate item (<3 points -> make_polygon null path)
    items += GpsItem("GreenTrace",
      Seq(GpsPoint(cx, cy), GpsPoint(cx + 0.0001, cy)))
    // a line crossing the boundary (vertex-drop clip semantics)
    val nSeg = 4 + rnd.nextInt(8)
    items += GpsItem(lineTypes(rnd.nextInt(lineTypes.length)),
      (0 until nSeg).map { i =>
        val t = i.toDouble / (nSeg - 1)
        GpsPoint(cx - 2 * rx + t * 4 * rx, cy + (rnd.nextDouble() - 0.5) * ry)
      })
    // markers inside, outside
    items += GpsItem(markerTypes(rnd.nextInt(markerTypes.length)),
      Seq(GpsPoint(cx + rx * 0.1, cy + ry * 0.1)))
    items += GpsItem(markerTypes(rnd.nextInt(markerTypes.length)),
      Seq(GpsPoint(cx + 3 * rx, cy)))
    // boundary placed mid-list (reference scans for it, :216-229)
    val mid = items.length / 2
    Hole(((items.take(mid) :+ GpsItem("HoleBoundary", boundary)) ++ items.drop(mid)).toSeq)
  }

  /**
   * One ARCHIPELAGO course (r4 verdict stretch item): holes whose
   * boundary is MULTIPLE disjoint pieces — each piece its own
   * HoleBoundary item, consumed by `CourseEngine.boundariesMulti` (the
   * reference crashes on multi-piece boundaries, plot_courses.py:318;
   * exceeding it is the point). Built on its OWN Random so the shared
   * fixture RNG stream — and every pinned margin derived from it — is
   * untouched. Hole 1 has two pieces ~8 radii apart (pages land in both),
   * hole 2 is a single-piece control.
   */
  def islandCourse(seed: Long = 4242L): CourseLayout = {
    val rnd = new Random(seed)
    val cx = Pages.cityLon(0) + 0.11
    val cy = Pages.cityLat(0) + 0.04
    val rx = 0.004; val ry = 0.0025
    def pieces(hx: Double, hy: Double, n: Int): Seq[GpsItem] =
      (0 until n).map(p =>
        GpsItem("HoleBoundary", boundaryRing(rnd, hx + p * 8 * rx, hy, rx, ry)))
    val h1 = Hole(pieces(cx, cy, 2) :+
      GpsItem(markerTypes.head, Seq(GpsPoint(cx, cy))))
    val h2 = Hole(pieces(cx + 0.05, cy, 1) :+
      GpsItem(markerTypes.head, Seq(GpsPoint(cx + 0.05, cy))))
    CourseLayout("club-9000", "course-9000", Seq(h1, h2))
  }

  /** The standard course set plus the archipelago course — the dim the
    * multi-piece flagship row (q94) joins against. */
  def coursesWithIslands(nCourses: Int, seed: Long = 42L): Seq[CourseLayout] =
    courses(nCourses, seed) :+ islandCourse()

  def itemsDfWithIslands(spark: SparkSession, nCourses: Int, seed: Long = 42L): DataFrame = {
    import spark.implicits._
    itemsFromLayouts(spark.createDataset(coursesWithIslands(nCourses, seed)).toDF())
  }

  /** Deterministic course set clustered around the Pages city centers. */
  def courses(nCourses: Int, seed: Long = 42L): Seq[CourseLayout] = {
    val rnd = new Random(seed)
    (0 until nCourses).map { ci =>
      // same skew as pages: half the courses in the hot city
      val cityIdx = if (ci % 2 == 0) 0 else 1 + rnd.nextInt(8)
      val cLon = Pages.cityLon(cityIdx) + (rnd.nextDouble() - 0.5) * 0.5
      val cLat = Pages.cityLat(cityIdx) + (rnd.nextDouble() - 0.5) * 0.25
      val nHoles = 9 + rnd.nextInt(10)
      val holes = (0 until nHoles).map { hi =>
        val a = 2 * Math.PI * hi / nHoles
        hole(rnd, cLon + 0.012 * Math.cos(a), cLat + 0.006 * Math.sin(a))
      }
      CourseLayout(f"club-$ci%04d", f"course-$ci%04d", holes)
    }
  }

  /** Flat per-gpsItem DataFrame: clubId, courseId, holeNumber (1-based,
    * posexplode — reference plot_courses.py:336-338), itemSeq (0-based
    * position within the hole's gpsItems — the deterministic "file order"
    * the reference's first-boundary scan relies on), itemType, shape as
    * ARRAY<STRUCT<x,y>> in (lon,lat) order (reference :220-222). */
  def itemsDf(spark: SparkSession, nCourses: Int, seed: Long = 42L): DataFrame = {
    import spark.implicits._
    itemsFromLayouts(spark.createDataset(courses(nCourses, seed)).toDF())
  }

  /** Writes the reference-shaped JSONL fixture (the file missing from the
    * reference repo, .MISSING_LARGE_BLOBS:1) — S1 scan input. */
  def writeJsonl(spark: SparkSession, path: String, nCourses: Int, seed: Long = 42L): Unit = {
    import spark.implicits._
    spark.createDataset(courses(nCourses, seed)).coalesce(1).write.mode("overwrite").json(path)
  }

  /** S1 — the JSONL course-layout scan (plot_courses.py:327-339) with an
    * EXPLICIT schema: no sampling inference pass over the (at scale,
    * enormous) input, and nested-schema pruning stays effective. */
  def readLayouts(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("clubId", StringType),
      StructField("courseId", StringType),
      StructField("holes", ArrayType(StructType(Seq(
        StructField("gpsItems", ArrayType(StructType(Seq(
          StructField("itemType", StringType),
          StructField("shape", ArrayType(StructType(Seq(
            StructField("longitude", DoubleType),
            StructField("latitude", DoubleType)))))))))))))))
    spark.read.schema(schema).json(path)
  }

  /** Nested layouts -> the flat per-gpsItem frame (same shape as
    * [[itemsDf]]): 1-based holeNumber via posexplode (plot_courses.py:
    * 336-338), (lon,lat) -> (x,y) struct projection (:220-222). */
  def itemsFromLayouts(layouts: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    layouts
      .select(col("clubId"), col("courseId"), posexplode(col("holes")).as(Seq("pos", "hole")))
      .select(col("clubId"), col("courseId"), (col("pos") + 1).as("holeNumber"),
        posexplode(col("hole.gpsItems")).as(Seq("itemSeq", "item")))
      .select(col("clubId"), col("courseId"), col("holeNumber"), col("itemSeq"),
        col("item.itemType").as("itemType"),
        expr("transform(item.shape, p -> struct(p.longitude AS x, p.latitude AS y))").as("shape"))
  }
}
