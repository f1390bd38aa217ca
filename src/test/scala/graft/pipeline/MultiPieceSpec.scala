package graft.pipeline

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.data.Courses
import graft.geom.Geom

/**
 * Multi-piece boundaries through the flagship join path (r4 verdict
 * stretch item): the marker+(NaN,NaN)-separated flat encoding, the piece-aware
 * contains kernels, boundariesMulti vs its pure-JVM replica, and the
 * archipelago fixture actually exercising BOTH pieces.
 */
class MultiPieceSpec extends AnyFunSuite {
  lazy val spark = graft.expr.SparkTestSession.spark
  import spark.implicits._

  // two far-apart unit squares as one multi-piece flat (closed rings)
  private val sqA = Array(0.0, 0.0, 1.0, 0.0, 1.0, 1.0, 0.0, 1.0, 0.0, 0.0)
  private val sqB = Array(5.0, 0.0, 6.0, 0.0, 6.0, 1.0, 5.0, 1.0, 5.0, 0.0)
  // leading (NaN,NaN) marker pair + (NaN,NaN)-separated pieces — the
  // GeoOps.flattenShell multi encoding
  private val multi =
    Array(Double.NaN, Double.NaN) ++ sqA ++ Array(Double.NaN, Double.NaN) ++ sqB

  /** st_contains_flat of one flat shell at each probe point, in one query. */
  private def flatContains(flat: Array[Double], pts: Seq[(Double, Double)]): Seq[Boolean] =
    pts.toDF("x", "y")
      .select(graft.functions.st_contains_flat(typedLit(flat.toSeq), $"x", $"y"))
      .as[Boolean].collect().toSeq

  test("piece-aware flat contains: inside either piece, on any piece's edge -> out") {
    // inside A, inside B, between the pieces, on A's edge, on B's edge
    assert(flatContains(multi, Seq((0.5, 0.5), (5.5, 0.5), (3.0, 0.5), (1.0, 0.5), (5.0, 0.5))) ===
      Seq(true, true, false, false, false))
    // single-ring flat behaves exactly like the pre-r5 kernel: compare to
    // containsStrict on a probe grid over the square's neighborhood
    val near = for (xi <- -2 to 12; yi <- -2 to 12) yield (xi * 0.1, yi * 0.1)
    flatContains(sqA, near).zip(near).foreach { case (got, (x, y)) =>
      assert(got === Geom.containsStrict(Array(sqA), x, y), s"($x,$y)")
    }
    // multi flat == containsStrict over both pieces, everywhere
    val both = for (xi <- -2 to 26; yi <- -2 to 6) yield (xi * 0.25, yi * 0.25)
    flatContains(multi, both).zip(both).foreach { case (got, (x, y)) =>
      assert(got === Geom.containsStrict(Array(sqA, sqB), x, y), s"($x,$y)")
    }
  }

  test("flatten_shell emits (NaN,NaN)-separated pieces; st_contains_flat agrees with st_contains") {
    val polyDf = Seq(1).toDF("id").select(
      expr("""array(
        |array(struct(0.0D AS x, 0.0D AS y), struct(1.0D AS x, 0.0D AS y),
        |      struct(1.0D AS x, 1.0D AS y), struct(0.0D AS x, 1.0D AS y),
        |      struct(0.0D AS x, 0.0D AS y)),
        |array(struct(5.0D AS x, 0.0D AS y), struct(6.0D AS x, 0.0D AS y),
        |      struct(6.0D AS x, 1.0D AS y), struct(5.0D AS x, 1.0D AS y),
        |      struct(5.0D AS x, 0.0D AS y)))""".stripMargin).as("poly"))
    val flat = polyDf.select(graft.functions.flatten_shell($"poly")).as[Seq[Double]].collect()(0)
    assert(flat.length === 24)
    assert(flat(0).isNaN && flat(1).isNaN)   // multi marker
    assert(flat(12).isNaN && flat(13).isNaN) // piece separator
    val probes = Seq((0.5, 0.5), (5.5, 0.5), (3.0, 0.5), (1.0, 0.5), (5.9, 0.9))
    probes.foreach { case (x, y) =>
      val r = polyDf.select(
        graft.functions.st_contains_flat(graft.functions.flatten_shell($"poly"), lit(x), lit(y)),
        graft.functions.st_contains($"poly", lit(x), lit(y))).collect()(0)
      assert(r.getBoolean(0) === r.getBoolean(1), s"($x,$y)")
    }
  }

  test("boundariesMulti == pure-JVM replica bit-exactly; single-piece holes == boundaries()") {
    val items = Courses.itemsDfWithIslands(spark, graft.SparkEntry.NCourses)
    val engine = CourseEngine.boundariesMulti(items)
      .select($"clubId", $"courseId", $"holeNumber", $"boundary").collect()
      .map { r =>
        val rings = r.getAs[scala.collection.Seq[scala.collection.Seq[Row]]](3)
        ((r.getString(0), r.getString(1), r.getInt(2)),
          rings.map(_.flatMap(p => Seq(p.getDouble(0), p.getDouble(1))).toVector).toVector)
      }.toMap
    val replica = graft.queries.GeoQueries.oracleBoundsMulti
      .groupBy { case (cl, co, h, _, _) => (cl, co, h) }
      .view.mapValues(_.sortBy(_._4).map { case (_, _, _, _, flat) =>
        flat.toVector }.toVector).toMap
    assert(engine.keySet === replica.keySet)
    engine.foreach { case (k, rings) =>
      assert(rings === replica(k), s"boundary mismatch at $k")
    }
    // the archipelago hole really is multi-piece; all standard holes match
    // the single-piece dim bit-exactly
    assert(engine(("club-9000", "course-9000", 1)).length === 2)
    val single = CourseEngine.boundaries(Courses.itemsDf(spark, graft.SparkEntry.NCourses))
      .select($"clubId", $"courseId", $"holeNumber", $"boundary").collect()
      .map { r =>
        val rings = r.getAs[scala.collection.Seq[scala.collection.Seq[Row]]](3)
        ((r.getString(0), r.getString(1), r.getInt(2)),
          rings.map(_.flatMap(p => Seq(p.getDouble(0), p.getDouble(1))).toVector).toVector)
      }.toMap
    single.foreach { case (k, rings) =>
      assert(engine(k) === rings, s"single-piece hole drifted at $k")
    }
  }

  test("the graded q94 output has hits strictly inside BOTH archipelago pieces") {
    val pieces = graft.queries.GeoQueries.oracleBoundsMulti
      .filter(b => b._1 == "club-9000" && b._3 == 1).sortBy(_._4).map(_._5)
    assert(pieces.length === 2)
    val hits = graft.SparkEntry.queries("q94_course_assign_multi")(
        spark, "/root/testdata/sf0.01")
      .filter($"clubId" === "club-9000" && $"holeNumber" === 1)
      .select($"url").as[String].collect()
    assert(hits.nonEmpty)
    // recover hit coordinates from the pages view and classify per piece
    val pages = graft.data.Pages.pages(spark, "/root/testdata/sf0.01", graft.SparkEntry.Amp)
      .filter($"url".isin(hits.toSeq: _*))
      .select($"url", $"lon", $"lat").as[(String, Double, Double)].collect()
    val inPiece = pieces.map(p =>
      pages.count { case (_, lon, lat) => Geom.containsStrict(Array(p), lon, lat) })
    assert(inPiece.forall(_ >= 1),
      s"per-piece hit counts $inPiece — a piece went unexercised (fixture drift)")
  }
}
