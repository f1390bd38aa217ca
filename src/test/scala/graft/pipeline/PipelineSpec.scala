package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkEntry
import graft.data.{Courses, Pages}
import graft.expr.GeoOps
import graft.geom.Geom
import graft.queries.GeoQueries

/** End-to-end geo pipeline correctness against in-JVM brute force —
  * the oracle for the operators DuckDB can't express (SURVEY.md §5.3-5.5). */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = graft.expr.SparkTestSession.spark
  import spark.implicits._

  val sfDir = "/root/testdata/sf0.001"

  /** Decode an ARRAY<ARRAY<STRUCT<x,y>>> column into the kernel's flat form. */
  private def polyAt(r: org.apache.spark.sql.Row, idx: Int): Array[Array[Double]] =
    r.getAs[scala.collection.Seq[scala.collection.Seq[org.apache.spark.sql.Row]]](idx)
      .map(ring => ring.flatMap(p => Seq(p.getDouble(0), p.getDouble(1))).toArray).toArray

  private lazy val bounds = CourseEngine.boundaries(Courses.itemsDf(spark, SparkEntry.NCourses))
  private lazy val boundPolys: Map[(String, String, Int), Array[Array[Double]]] =
    bounds.collect().map { r =>
      val key = (r.getString(0), r.getString(1), r.getInt(2))
      val poly = polyAt(r, 3)
      key -> poly
    }.toMap

  test("flagship course assignment matches brute-force PIP over all polygons") {
    val pagePts = Pages.pages(spark, sfDir, SparkEntry.Amp)
      .select($"url", $"lon", $"lat").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val expected = (for {
      (url, lon, lat) <- pagePts
      (key, poly) <- boundPolys
      if Geom.containsStrict(poly, lon, lat)
    } yield (url, key._1, key._2, key._3)).toSet

    val got = SparkEntry.queries("q40_course_assign")(spark, sfDir)
      .select($"url", $"clubId", $"courseId", $"holeNumber").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getInt(3))).toSet

    assert(got == expected, s"got ${got.size} vs expected ${expected.size}; " +
      s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
    assert(expected.nonEmpty, "fixture produced no containment pairs — useless test")
  }

  /** (multi-res cells, flat cells) of a polygon set's cover: a level-l
    * cell stands for 4^(MaxLevel-l) flat cells. */
  private def coverSizes(b: org.apache.spark.sql.DataFrame): (Long, Long) = {
    val cells = SpatialJoin.coverDf(b).select($"cell").as[Long].collect()
    (cells.length.toLong,
      cells.map(c => 1L << 2 * (SpatialJoin.MaxLevel - graft.index.Cells.level(c))).sum)
  }

  /** The shape assignPages planned: smj sort-merges, multires probes the
    * page cell's ancestors, flat does neither. */
  private def shape(joined: org.apache.spark.sql.DataFrame): String = {
    val plan = joined.queryExecution.sparkPlan.toString
    if (plan.contains("SortMergeJoin")) "smj"
    else if (plan.contains("cell_parent")) "multires"
    else "flat"
  }

  private def bigSquare = spark.sql(
    """SELECT 'bigclub' AS clubId, 'c1' AS courseId, 1 AS holeNumber, array(array(
      |  struct(10.0d AS x, 50.0d AS y), struct(10.1d AS x, 50.0d AS y),
      |  struct(10.1d AS x, 50.1d AS y), struct(10.0d AS x, 50.1d AS y),
      |  struct(10.0d AS x, 50.0d AS y))) AS boundary""".stripMargin)

  test("flat single-level cover join equals multi-res probe join") {
    val p = Pages.pages(spark, sfDir, SparkEntry.Amp)
    val flatJoin = SpatialJoin.assignPages(p, bounds)
    // the hole-sized fixture's covers mostly bottom out at MaxLevel; the
    // big square's coarse full cells make the two shapes genuinely differ
    val b = bounds.unionByName(bigSquare)
    val (_, flatCells) = coverSizes(b)
    val multiJoin = SpatialJoin.assignPages(p, b,
      budget = flatCells * SpatialJoin.BytesPerCoverEntry - 1)
    assert(shape(flatJoin) == "flat" && shape(multiJoin) == "multires")
    val flat = flatJoin.select($"url", $"clubId", $"courseId", $"holeNumber").collect().toSet
    val multi = multiJoin.filter($"clubId" =!= "bigclub")
      .select($"url", $"clubId", $"courseId", $"holeNumber").collect().toSet
    assert(multi == flat)
    assert(multi.nonEmpty)
    val viaCover = SpatialJoin.assignPagesFlat(p, SpatialJoin.coverDfFlat(bounds), bounds)
      .select($"url", $"clubId", $"courseId", $"holeNumber").collect().toSet
    assert(viaCover == flat)
  }

  test("salted sort-merge variant equals the broadcast join (skew/scale path)") {
    val p = Pages.pages(spark, sfDir, SparkEntry.Amp)
    val bcast = SpatialJoin.assignPagesFlat(p, SpatialJoin.coverDfFlat(bounds), bounds)
      .select($"url", $"clubId", $"courseId", $"holeNumber").collect().toSet
    val smjJoin = SpatialJoin.assignPages(p, bounds, budget = 0L)
    assert(shape(smjJoin) == "smj")
    val smj = smjJoin.select($"url", $"clubId", $"courseId", $"holeNumber").collect().toSet
    assert(smj == bcast && smj.nonEmpty)
  }

  test("cover-strategy auto-select: boundary flips exactly at the byte budget; all shapes agree") {
    // an 11 km square REALLY contains full coarse cells, so the flat 4^Δ
    // expansion genuinely dwarfs the multi-res cover (the hole-sized
    // fixture's covers bottom out at maxLevel — flat == multires there,
    // which is exactly why this test needs its own polygon)
    val big = bigSquare
    val (nCells, flatCells) = coverSizes(big)
    assert(nCells > 0 && flatCells > nCells,
      s"degenerate cover sizes ($nCells, $flatCells) — boundary test would be vacuous")
    val per = SpatialJoin.BytesPerCoverEntry
    val pts = (0 until 400).map(i =>
      (s"u$i", 9.99 + (i % 20) * 0.0065, 49.99 + (i / 20) * 0.0065))
      .toDF("url", "lon", "lat")
    def join(budget: Long) = SpatialJoin.assignPages(pts, big, budget = budget)
    // the documented selection rule, pinned at both flips (budgets exactly
    // on and one byte below each threshold)
    assert(shape(join(flatCells * per)) == "flat")
    assert(shape(join(flatCells * per - 1)) == "multires")
    assert(shape(join(nCells * per)) == "multires")
    assert(shape(join(nCells * per - 1)) == "smj")
    // the default budget picks flat for the real hole-sized polygon set
    assert(shape(SpatialJoin.assignPages(Pages.pages(spark, sfDir, SparkEntry.Amp), bounds)) ==
      "flat")
    // every shape computes the same containment relation over a probe
    // grid straddling the big square's boundary
    def pairs(budget: Long) = join(budget).select($"url").collect().map(_.getString(0)).toSet
    val flat = pairs(flatCells * per)
    assert(flat.nonEmpty && flat.size < 400)
    assert(pairs(flatCells * per - 1) == flat, "multires path diverges from flat")
    assert(pairs(nCells * per - 1) == flat, "smj path diverges from flat")
  }

  /** The conditions of an optimized plan's Filter nodes, as text. */
  private def filters(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition.toString
    }

  /** The three join shapes over `p`: flat (the entry's default budget),
    * multires (the fixture plus the big square, one byte below its flat
    * cover) and smj (budget 0). */
  private def allShapes(p: org.apache.spark.sql.DataFrame) = {
    val b = bounds.unionByName(bigSquare)
    val (_, flatCells) = coverSizes(b)
    val joins = Seq(
      "flat" -> SpatialJoin.assignPages(p, bounds),
      "multires" -> SpatialJoin.assignPages(p, b,
        budget = flatCells * SpatialJoin.BytesPerCoverEntry - 1),
      "smj" -> SpatialJoin.assignPages(p, bounds, budget = 0L))
    joins.foreach { case (want, j) => assert(shape(j) == want) }
    joins
  }

  test("every join shape derives a page's probe columns once: no Filter computes cell_id or a hash") {
    // a nullable join key makes Catalyst infer isnotnull(key) and push it
    // below the projection deriving the key, so the geocode, the cell and
    // the url salt were computed once in a Filter and again above it
    allShapes(Pages.pages(spark, sfDir, SparkEntry.Amp)).foreach { case (name, j) =>
      filters(j).foreach { c =>
        assert(!c.contains("cell_id(") && !c.contains("xxhash64("), s"$name re-derives in $c")
      }
    }
  }

  test("pages without a geocode join no hole in any shape, and lie outside every course") {
    val p = Pages.pages(spark, sfDir, SparkEntry.Amp)
    val hits = SpatialJoin.assignPages(p, bounds).select($"page_id").as[Long].collect().toSet
    // null the lon of one third of the pages and the lat of another third
    val nulled = p
      .withColumn("lon", when($"page_id" % 3 === 0, lit(null).cast("double")).otherwise($"lon"))
      .withColumn("lat", when($"page_id" % 3 === 1, lit(null).cast("double")).otherwise($"lat"))
    assert(hits.exists(_ % 3 == 0) && hits.exists(_ % 3 == 1) && hits.exists(_ % 3 == 2),
      "no nulled page would have joined a hole — vacuous")
    val kept = hits.filter(_ % 3 == 2)
    allShapes(nulled).foreach { case (name, j) =>
      assert(j.filter($"clubId" =!= "bigclub").select($"page_id").as[Long].collect().toSet == kept,
        name)
    }
    val inside = SpatialJoin.pagesInAnyCourse(nulled, bounds).select($"page_id").as[Long]
      .collect().toSet
    assert(inside == kept)
    val outside = SpatialJoin.pagesOutsideAllCourses(nulled, bounds)
      .filter($"lon".isNull || $"lat".isNull).count()
    assert(outside == nulled.filter($"lon".isNull || $"lat".isNull).count() && outside > 0)
  }

  test("an empty polygon set: no assignments, no neighbours, every page outside") {
    val p = Pages.pages(spark, sfDir, SparkEntry.Amp)
    val none = bounds.limit(0)
    val nPages = p.count()
    assert(nPages > 0)
    assert(SpatialJoin.assignPages(p, none).count() == 0)
    assert(SpatialJoin.pagesOutsideAllCourses(p, none).count() == nPages)
    assert(SpatialJoin.knnCourses(p, none, k = 2).count() == 0)
    assert(SpatialJoin.knnCoursesBoundary(p, none, k = 2).count() == 0)
  }

  test("boundary-metric kNN equals brute force; margins rule out rank flips") {
    // JVM replica of st_distance_to_shell_m's per-segment lambda (clamped
    // planar projection -> haversine), over the exterior shell
    def shellDist(flat: Array[Double], px: Double, py: Double): Double = {
      val n = flat.length / 2
      var best = Double.MaxValue
      var i = 0
      while (i < n - 1) {
        val ax = flat(2 * i); val ay = flat(2 * i + 1)
        val bx = flat(2 * i + 2); val by = flat(2 * i + 3)
        val dx = bx - ax; val dy = by - ay
        val d2 = dx * dx + dy * dy
        val t = if (d2 == 0.0) 0.0
          else math.min(1.0, math.max(0.0, ((px - ax) * dx + (py - ay) * dy) / d2))
        val d = Geom.haversineM(px, py, ax + t * dx, ay + t * dy)
        if (d < best) best = d
        i += 1
      }
      best
    }
    val probe = Pages.pages(spark, sfDir, SparkEntry.Amp).filter($"page_id" < 500)
    val pts = probe.select($"url", $"lon", $"lat").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val expected = pts.flatMap { case (url, lon, lat) =>
      boundPolys.toSeq
        .map { case (key, poly) => (key, shellDist(poly(0), lon, lat)) }
        .sortBy { case ((cl, co, h), d) => (d, cl, co, h) }
        .take(3).zipWithIndex
        .map { case ((key, _), idx) => (url, key._1, key._2, key._3, idx + 1) }
    }.toSet
    val got = SpatialJoin.knnCoursesBoundary(probe, bounds, k = 3)
      .select($"url", $"clubId", $"courseId", $"holeNumber", $"rank").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getInt(3), r.getInt(4)))
      .toSet
    assert(got == expected,
      s"boundary kNN drift: missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
    assert(got.nonEmpty)
    // rank-compare soundness (the q75 oracle grades ORDER only): every
    // adjacent pair in each page's distance ordering must be separated by
    // >> the cross-engine libm drift (~1e-16 relative) — pin 1e-9 relative.
    // Checked over BOTH this spec's slice and the exact sf0.01 probe
    // population the driver grades (the q43/q45 rule: pin the margin on
    // the fixture of record, or a re-roll fails as an opaque red hash)
    for (dir <- Seq(sfDir, "/root/testdata/sf0.01")) {
      val graded = Pages.pages(spark, dir, SparkEntry.Amp).filter($"page_id" < 2000)
        .select($"url", $"lon", $"lat").collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      graded.foreach { case (url, lon, lat) =>
        val ds = boundPolys.valuesIterator.map(p => shellDist(p(0), lon, lat))
          .toArray.sorted.take(4)
        ds.sliding(2).foreach { case Array(a, b) =>
          assert(b - a > 1e-9 * math.max(1.0, a),
            s"near-tie for $url in $dir: $a vs $b — q75's rank compare is fragile here")
        }
      }
    }
  }

  /** Brute union-find by min: every merge roots at the smaller id, so the
    * final root of each set IS the component minimum. */
  private def bruteComponents(edges: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (x, y) =>
      val rx = find(x); val ry = find(y)
      if (rx != ry) parent(math.max(rx, ry)) = math.min(rx, ry)
    }
    edges.flatMap(e => Seq(e._1, e._2)).distinct.map(n => n -> find(n)).sorted
  }

  private def engineComponents(edges: Seq[(Long, Long)], maxIter: Int,
                               maxLocalRows: Int): Seq[(Long, Long)] =
    Dedup.connectedComponents(edges.toDF("doc_a", "doc_b"), maxIter = maxIter,
        maxLocalRows = maxLocalRows).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted

  /** The default gate takes the driver-side union-find finish; gate 0
    * forces the star-contraction rounds (the at-scale path). Both must
    * equal the brute reference, row for row. */
  private def componentsAgree(edges: Seq[(Long, Long)], maxIter: Int = 25): Unit =
    for (gate <- Seq(1 << 20, 0))
      assert(engineComponents(edges, maxIter, gate) == bruteComponents(edges),
        s"gate $gate on $edges")

  private def randomEdges(seed: Int): Seq[Seq[(Long, Long)]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(4)(Seq.fill(60)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct)
  }

  test("connected components == brute union-find (random graphs + chain worst case)") {
    randomEdges(7).foreach(componentsAgree(_))
    componentsAgree((0L until 15L).map(i => (i, i + 1)))
    // the guard throws rather than return a half-contracted labelling
    intercept[IllegalStateException](
      engineComponents((0L until 119L).map(i => (i, i + 1)), maxIter = 1, maxLocalRows = 0))
    // a self-pair carries no edge and adds no vertex, on both gates
    for (gate <- Seq(1 << 20, 0))
      assert(engineComponents(Seq((1L, 1L), (2L, 3L)), 25, gate) == Seq(2L -> 2L, 3L -> 2L))
  }

  test("star-contraction components == union-find; converges where propagation's guard trips") {
    randomEdges(11).foreach(componentsAgree(_))
    // a 120-node chain, diameter 119 (q96's regime): a per-hop scheme such
    // as min-label propagation needs 119 rounds, past a 20-round guard; star
    // contraction closes it in O(log^2 n) rounds — maxIter = 12 pins
    // "single digits in practice"
    componentsAgree((0L until 119L).map(i => (i, i + 1)), maxIter = 12)
    // two disjoint stars stay disjoint
    componentsAgree(Seq((5L, 9L), (5L, 7L), (100L, 200L)))
  }

  test("leakage-safe split: connected docs share a split; singletons covered; slices sane") {
    val docs = (0L until 500L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 20L), (20L, 30L), (400L, 401L))
      .toDF("doc_a", "doc_b")
    val rows = Dedup.leakageSafeSplit(docs, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(rows.length == 500)
    val byDoc = rows.map(r => r._1 -> r).toMap
    // every connected pair lands in ONE split (the operator's whole point)
    Seq((1L, 2L), (2L, 3L), (10L, 30L), (400L, 401L)).foreach { case (a, b) =>
      assert(byDoc(a)._3 == byDoc(b)._3, s"$a and $b straddle splits")
      assert(byDoc(a)._2 == byDoc(b)._2, s"$a and $b in different components")
    }
    // singleton components are the doc itself
    assert(byDoc(250L)._2 == 250L)
    // all three slices exist and train dominates (hash-proportional)
    val bySplit = rows.groupBy(_._3).view.mapValues(_.size).toMap
    assert(bySplit.keySet == Set("train", "val", "test"))
    assert(bySplit("train") > bySplit("val") && bySplit("train") > bySplit("test"))
  }

  test("semi + anti variants partition the pages exactly") {
    val p = Pages.pages(spark, sfDir, SparkEntry.Amp)
    val total = p.count()
    val in = SparkEntry.queries("q41_pages_in_any")(spark, sfDir).count()
    val out = SparkEntry.queries("q42_pages_outside_all")(spark, sfDir)
      .agg(sum($"n")).collect()(0).getLong(0)
    assert(in + out == total)
  }

  test("byte-identical text per url through the spatial join (input_hint invariant)") {
    val joined = SparkEntry.queries("q40_course_assign")(spark, sfDir)
      .select($"url", $"text").distinct()
    val source = Pages.pages(spark, sfDir, SparkEntry.Amp).select($"url", $"text")
    // every joined (url, text) pair must exist identically in the source
    val mismatches = joined.join(source, Seq("url", "text"), "left_anti").count()
    assert(mismatches == 0)
  }

  test("kNN via cell-ring expansion equals brute-force kNN") {
    val centroids = boundPolys.toSeq.map { case (key, poly) =>
      val e = Geom.envelopePoly(poly)
      (key, (e(0) + e(2)) / 2, (e(1) + e(3)) / 2)
    }
    val pagePts = Pages.pages(spark, sfDir, SparkEntry.Amp)
      .filter($"page_id" < 2000) // same deterministic slice as q49
      .select($"url", $"lon", $"lat").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val expected = pagePts.flatMap { case (url, lon, lat) =>
      centroids.map { case (key, clon, clat) =>
        (url, key, Geom.haversineM(lon, lat, clon, clat)) }
        .sortBy(t => (t._3, t._2._1, t._2._2, t._2._3))
        .take(3).zipWithIndex
        .map { case ((u, key, _), i) => (u, key._1, key._2, key._3, i + 1) }
    }.toSet
    val got = SparkEntry.queries("q49_knn_courses")(spark, sfDir)
      .select($"url", $"clubId", $"courseId", $"holeNumber", $"rank").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getInt(3), r.getInt(4))).toSet
    assert(got == expected,
      s"got ${got.size} vs expected ${expected.size}; " +
        s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
  }

  test("oracle bounds (pure-JVM) are bit-identical to the engine's boundary dim") {
    val engine = bounds.collect().map { r =>
      (r.getString(0), r.getString(1), r.getInt(2)) -> polyAt(r, 3)(0).toSeq
    }.toMap
    val oracle = GeoQueries.oracleBounds
      .map { case (cl, co, h, flat) => (cl, co, h) -> flat.toSeq }.toMap
    assert(oracle.keySet == engine.keySet,
      s"hole sets differ: onlyOracle=${(oracle.keySet -- engine.keySet).take(3)} " +
        s"onlyEngine=${(engine.keySet -- oracle.keySet).take(3)}")
    oracle.foreach { case (k, flat) =>
      assert(flat == engine(k), s"boundary coords differ for $k")
    }
  }

  test("oracle clip candidates (pure-JVM) replay the engine's gating + areas bit-exactly") {
    // candidate set ⊇ engine survivors; a candidate survives iff the
    // kernel's intersection is non-null; surviving areas are bit-identical
    // to the engine's clip_area column (same local-frame kernel calls)
    val items = Courses.itemsDf(spark, SparkEntry.NCourses)
    val engine = CourseEngine.clippedPolygons(items, bounds)
      .select($"clubId", $"courseId", $"holeNumber", $"itemSeq", $"clip_area").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3)) -> r.getDouble(4))
      .toMap
    val candSurvivors = GeoQueries.oracleClipCands.flatMap {
      case (cl, co, h, seq, _, _, iring, bring) =>
        val pieces = Geom.intersectionPieces(iring, bring)
        if (pieces == null) None
        else Some((cl, co, h, seq) -> pieces.map(Geom.area).sum)
    }.toMap
    assert(candSurvivors.keySet == engine.keySet,
      s"survivor sets differ: onlyOracle=${(candSurvivors.keySet -- engine.keySet).take(3)} " +
        s"onlyEngine=${(engine.keySet -- candSurvivors.keySet).take(3)}")
    candSurvivors.foreach { case (k, a) =>
      assert(a == engine(k), s"clip_area differs for $k: jvm=$a engine=${engine(k)}")
    }
    assert(engine.nonEmpty)
    // guard the q43 quantization scheme itself: the engine and the DuckDB
    // fan-decomposition oracle agree to ~1e-17..1e-16 deg^2 but are
    // different float decompositions, so a clip area sitting within that
    // slack of a rounding boundary could quantize to different integers on
    // a fixture re-roll. Pin that the CURRENT fixture keeps every area at
    // least 100x the worst measured disagreement (1e-14 deg^2 = 1e-4
    // quanta at the 1e-10 grid) away from the boundary — a re-roll into
    // the fragile zone fails HERE with a clear message instead of as an
    // opaque red hash in CORRECTNESS. (This guard is what caught the old
    // 1e-12 grid sitting 8.3e-17 from a boundary and forced the 1e-10
    // choice; measured margin now 6.5e-4 quanta.)
    candSurvivors.foreach { case (k, a) =>
      val scaled = a * 1e10 + 0.5
      val frac = scaled - math.floor(scaled)
      val distFromBoundary = math.min(frac, 1.0 - frac)
      assert(distFromBoundary > 1e-4,
        s"clip area of $k sits ${distFromBoundary} quanta from a rounding boundary " +
          s"(area=$a) — the q43 1e-10 quantization is not safe for this fixture")
    }
  }

  test("q45 rounding margin: every cos-dependent viewport value sits far from a 0.5e-6 boundary") {
    // q45 hash-compares round(fig_w_in|fig_h_in|aspect, 6) across engines
    // whose cos() may differ by 1 ULP (measured: 1/763 calls vs DuckDB).
    // A raw value within that disagreement of a (n+0.5)*1e-6 rounding
    // boundary would flip the rounded digit on one side only — the q43
    // fragile-zone failure mode. Pin that the CURRENT fixture keeps every
    // value >= 100x the worst plausible disagreement away from the
    // boundary: values are O(1..100), 1 ULP of cos feeds through as
    // <= ~1e-13 absolute here, = 1e-7 quanta at the 1e-6 grid; require
    // > 1e-5 quanta (100x). A fixture re-roll into the fragile zone fails
    // HERE with the offending value instead of as a red q45 hash.
    val bounds = CourseEngine.boundaries(Courses.itemsDf(spark, SparkEntry.NCourses))
    val rows = CourseEngine.viewports(bounds)
      .select($"clubId", $"courseId", $"holeNumber", $"fig_w_in", $"fig_h_in", $"aspect")
      .collect()
    assert(rows.length >= SparkEntry.NCourses)
    rows.foreach { r =>
      val key = (r.getString(0), r.getString(1), r.getInt(2))
      Seq("fig_w_in" -> r.getDouble(3), "fig_h_in" -> r.getDouble(4),
          "aspect" -> r.getDouble(5)).foreach { case (name, v) =>
        val scaled = v * 1e6
        val frac = scaled - math.floor(scaled)
        val distFromHalf = math.abs(frac - 0.5)
        assert(distFromHalf > 1e-5,
          s"$name of $key sits $distFromHalf quanta from a 0.5e-6 rounding boundary " +
            s"(value=$v) — the q45 1e-6 quantization is not safe for this fixture")
      }
    }
  }

  test("unknown itemType: warn metric counts it, output drops it (P5)") {
    val items = Courses.itemsDf(spark, 3)
    val planted = items.unionByName(
      items.filter($"itemType" === "FairwayTrace").limit(1)
        .withColumn("itemType", lit("UfoLandingPad")))
    val b = CourseEngine.boundaries(planted)
    val out = CourseEngine.clippedPolygons(planted, b)
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(!rows.exists(_.getAs[String]("itemType") == "UfoLandingPad"),
      "unknown type leaked into the output")
    val metric = out.queryExecution.observedMetrics("unknown_items_polygon")
    assert(metric.getAs[Long]("n_unknown_items") == 1L,
      s"warn metric should count exactly the planted unknown, got $metric")
    // control: the same pipeline without the plant reports zero unknowns
    val clean = CourseEngine.clippedPolygons(items, b)
    clean.collect()
    assert(clean.queryExecution.observedMetrics("unknown_items_polygon")
      .getAs[Long]("n_unknown_items") == 0L)
  }

  test("kNN at polar latitudes: certificate refuses (guard), brute tail keeps it exact") {
    graft.functions.registerAll(spark)
    // hand-built polar course dim (~88.5N) + pages spread 88-89.5N: the
    // poleward-pushed certificate latitude exceeds 89.9 at level 11, so
    // the guard must certify NOTHING and route everything through the
    // exact brute tail — which must still match in-JVM brute force
    val b = spark.range(4).select(
      concat(lit("club-p"), col("id")).as("clubId"),
      concat(lit("course-p"), col("id")).as("courseId"),
      lit(1).as("holeNumber"),
      expr(
        """make_polygon(array(
          |  struct(CAST(id AS DOUBLE) * 10.0 AS x, 88.4d AS y),
          |  struct(CAST(id AS DOUBLE) * 10.0 + 0.2 AS x, 88.4d AS y),
          |  struct(CAST(id AS DOUBLE) * 10.0 + 0.2 AS x, 88.6d AS y),
          |  struct(CAST(id AS DOUBLE) * 10.0 AS x, 88.6d AS y)))""".stripMargin).as("boundary"))
    val pages = spark.range(40).select(
      concat(lit("u"), col("id")).as("url"),
      ((col("id") * 7.3) % 360 - 180).cast("double").as("lon"),
      (lit(88.0) + (col("id") % 15).cast("double") * 0.1).as("lat"))
    val knn = SpatialJoin.knnCourses(pages, b, k = 2)
    val got = knn.collect()
      .map(r => (r.getString(0), r.getString(3), r.getString(4), r.getInt(5), r.getInt(7))).toSet
    // in-JVM brute force over envelope centroids
    val cents = (0 until 4).map(i =>
      ((s"club-p$i", s"course-p$i", 1), i * 10.0 + 0.1, 88.5))
    val pagePts = pages.collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val expected = pagePts.flatMap { case (url, lon, lat) =>
      cents.map { case (key, clon, clat) =>
        (url, key, graft.geom.Geom.haversineM(lon, lat, clon, clat)) }
        .sortBy(t => (t._3, t._2._1, t._2._2, t._2._3))
        .take(2).zipWithIndex
        .map { case ((u, key, _), i) => (u, key._1, key._2, key._3, i + 1) }
    }.toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
    // and the polar guard really engaged: every result row came from the
    // brute tail (40 pages x k=2 = 80 brute rows)
    val brute = knn.queryExecution.observedMetrics.get("knn_brute")
      .map(_.getAs[Long]("n_brute_rows")).getOrElse(0L)
    assert(brute == 80L, s"expected all-brute at the pole, got $brute")
    // the uncertain-slice materialization is SIZE-GATED (r2 advice: a
    // polar-heavy slice must never be collect()ed unbounded onto the
    // driver): force the gate to its persist() fallback and require
    // identical results — the driver-side LocalRelation is an
    // optimization, never a correctness dependency
    val gated = SpatialJoin.knnCourses(pages, b, k = 2, maxLocalRows = 1).collect()
      .map(r => (r.getString(0), r.getString(3), r.getString(4), r.getInt(5), r.getInt(7))).toSet
    assert(gated == expected, "persist-path kNN diverged from localize-path kNN")
  }

  test("kNN brute tail stays tiny (observed metric bounds the fallback)") {
    val df = SparkEntry.queries("q49_knn_courses")(spark, sfDir)
    val n = df.count()
    assert(n > 0)
    val brute = df.queryExecution.observedMetrics.get("knn_brute")
      .map(_.getAs[Long]("n_brute_rows")).getOrElse(0L)
    assert(brute <= n / 20,
      s"brute-forced $brute of $n kNN rows — ring expansion should certify >95%")
  }

  test("clip join: areas positive and bounded by boundary area (J1/U3)") {
    val items = Courses.itemsDf(spark, SparkEntry.NCourses)
    val clipped = CourseEngine.clippedPolygons(items, bounds)
    val withB = clipped.join(bounds, CourseEngine.holeKey)
      .select($"clip_area", graft.functions.st_area($"boundary").as("barea"))
      .collect()
    assert(withB.nonEmpty)
    withB.foreach { r =>
      assert(r.getDouble(0) > 0 && r.getDouble(0) <= r.getDouble(1) + 1e-15)
    }
  }

  test("line clip keeps only strictly-inside vertices (P8 vertex-drop semantics)") {
    val items = Courses.itemsDf(spark, SparkEntry.NCourses)
    val lines = CourseEngine.clippedLines(items, bounds)
      .join(bounds, CourseEngine.holeKey)
      .select($"line", $"boundary").limit(50).collect()
    assert(lines.nonEmpty)
    lines.foreach { r =>
      val poly = polyAt(r, 1)
      r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]](0).foreach { p =>
        assert(Geom.containsStrict(poly, p.getDouble(0), p.getDouble(1)))
      }
    }
  }

  test("markers strictly inside; outside-planted markers dropped (P9)") {
    val items = Courses.itemsDf(spark, SparkEntry.NCourses)
    val m = CourseEngine.markers(items, bounds)
      .select($"clubId", $"courseId", $"holeNumber", $"x", $"y").collect()
    assert(m.nonEmpty)
    m.foreach { r =>
      val key = (r.getString(0), r.getString(1), r.getInt(2))
      assert(Geom.containsStrict(boundPolys(key), r.getDouble(3), r.getDouble(4)),
        s"marker outside boundary for $key")
    }
    // generator plants 1 inside + 1 far-outside marker per hole: at most
    // one survivor per hole
    assert(m.length <= bounds.count())
  }

  test("draw list: boundary first, zorder monotone within hole (W3)") {
    val dl = SparkEntry.queries("q44_drawlist")(spark, sfDir)
      .orderBy($"clubId", $"courseId", $"holeNumber", $"draw_seq").collect()
    val byHole = dl.groupBy(r => (r.getString(0), r.getString(1), r.getInt(2)))
    byHole.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getInt(3))
      assert(sorted.head.getString(5) == "HoleBoundary")
      val zs = sorted.map(_.getInt(4))
      assert(zs.zip(zs.tail).forall { case (a, b) => a <= b }, "zorder not monotone")
    }
  }

  test("zorder ladder matches reference values (plot_courses.py:59-76)") {
    val z = Catalog.items.map(i => i.itemType -> i.zorder).toMap
    assert(z("HoleBoundary") == 0 && z("BunkerTrace") == 1 && z("FairwayTrace") == 2)
    assert(z("TeeboxTrace") == 9 && z("GreenTrace") == 9)
    assert(z("WaterPath") == 10 && z("CartpathTrace") == 11 && z("CartpathPath") == 12)
    assert(z("PineTree") == 20)
  }

  test("tile masks: sampled coverage consistent with st_covers; reverse index consistent") {
    val masks = CourseEngine.tileMasks(bounds.limit(5), zoom = 17)
    val rows = masks.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val cov = r.getDouble(8)
      assert(cov > 0.0 && cov <= 1.0)
    }
    val rev = SpatialJoin.tileReverseIndex(masks).collect()
    assert(rev.map(_.getLong(6)).sum == rows.length) // n_features sums to mask rows
  }

  test("viewport rows reproduce kernel math (F4)") {
    val vp = CourseEngine.viewports(bounds.limit(10)).collect()
    vp.foreach { r =>
      val v = Geom.viewport(r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))
      assert(r.getDouble(7) == v(0) && r.getDouble(8) == v(1) &&
        r.getDouble(9) == v(2) && r.getDouble(10) == v(3))
    }
  }

  test("priority order puts priority holes first (W2)") {
    val rows = SparkEntry.queries("q50_priority_order")(spark, sfDir).collect()
    val prios = rows.map(_.getInt(3))
    assert(prios.head < Int.MaxValue)
    // all finite prios precede all MaxValue rows
    val firstMax = prios.indexWhere(_ == Int.MaxValue)
    if (firstMax >= 0) assert(prios.drop(firstMax).forall(_ == Int.MaxValue))
  }

  test("auto-derived SMJ salt factor balances reducer input under a hot cell") {
    import graft.{functions => gf}
    graft.functions.registerAll(spark)
    val nPartOld = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try {
      val nPart = 32
      // one level-17 cell holds ~91% of pages (planted at a real course
      // centroid so the join-equality check below has actual hits);
      // the rest spread worldwide
      val e0 = Geom.envelopePoly(boundPolys.head._2)
      val (clon, clat) = ((e0(0) + e0(2)) / 2, (e0(1) + e0(3)) / 2)
      val hot = spark.range(20000).select(
        concat(lit("h"), col("id")).as("url"),
        (lit(clon) + (col("id") % 10).cast("double") * lit(1e-7)).as("lon"),
        lit(clat).as("lat"))
      val cold = spark.range(2000).select(
        concat(lit("c"), col("id")).as("url"),
        (((col("id") * 7919) % 360000).cast("double") / 1000.0 - 180.0).as("lon"),
        (((col("id") * 104729) % 160000).cast("double") / 1000.0 - 80.0).as("lat"))
      val pages = hot.unionByName(cold)
      val nSalts = SpatialJoin.autoSalts(pages)
      assert(nSalts > 1, s"hot-cell input must derive a salt factor > 1, got $nSalts")
      // replicate HashPartitioning's reducer assignment (murmur3 + pmod)
      // over the SMJ shuffle key (probe_cell, salt) and pin max/mean
      def partCounts(salts: Int): Array[Long] = {
        val cellCol = gf.cell_id(col("lon"), col("lat"), lit(17))
        pages
          .withColumn("probe_cell",
            explode(array((13 to 17).map(l => gf.cell_parent(cellCol, lit(l))): _*)))
          .withColumn("salt", pmod(xxhash64(col("url")), lit(salts)))
          .groupBy(pmod(hash(col("probe_cell"), col("salt")), lit(nPart)).as("p"))
          .agg(count(lit(1)).as("n")).collect().map(_.getLong(1))
      }
      def maxOverMean(c: Array[Long]) = c.max.toDouble / (c.sum.toDouble / nPart)
      val unsalted = maxOverMean(partCounts(1))
      val salted = maxOverMean(partCounts(nSalts))
      assert(unsalted > 3.0, s"fixture not skewed enough to test: $unsalted")
      assert(salted <= 3.0, s"salted reducer input unbalanced: $salted (unsalted $unsalted)")
      // and the auto-salted join itself agrees with the broadcast path
      val smjJoin = SpatialJoin.assignPages(pages, bounds, budget = 0L)
      assert(shape(smjJoin) == "smj")
      val smj = smjJoin.select($"url", $"clubId", $"courseId", $"holeNumber").collect().toSet
      val bcast = SpatialJoin.assignPagesFlat(pages, SpatialJoin.coverDfFlat(bounds), bounds)
        .select($"url", $"clubId", $"courseId", $"holeNumber").collect().toSet
      assert(smj == bcast && smj.nonEmpty)
    } finally spark.conf.set("spark.sql.shuffle.partitions", nPartOld)
  }

  test("near-dup banding excludes empty-shingle docs (no sentinel collisions)") {
    graft.functions.registerAll(spark)
    // docs 1-2 have < 3 tokens: TextOps.minHash would give both the same
    // all-Long.MaxValue sentinel signature, so without the exclusion they
    // would spuriously band-collide and doc 2 would be "deduped" against
    // an unrelated two-word doc
    val docs = Seq(
      (1L, "one two"), (2L, "ab"),
      (3L, "x y z w v u t s q r"),
      (4L, "three words here more ok yes fine")).toDF("doc_id", "text")
    val banded = Dedup.banded(docs, "doc_id")
    val ids = banded.select($"doc_id").distinct().as[Long].collect().toSet
    assert(ids == Set(3L, 4L), s"short docs must not produce bands: $ids")
    val kept = Dedup.firstWinsKept(banded)
      .filter($"kept").select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(3L, 4L), s"distinct texts must both survive: $kept")
  }

  test("bucketed interval join: equals the theta join, plans as an equi-join") {
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
      .select($"event_id", $"ts", $"user_id")
    // overlapping intervals, including one spanning many buckets and one
    // empty (e <= s) that must be dropped
    val intervals = Seq(
      ("iv1", "2024-01-02 03:30:00", "2024-01-02 09:30:00"),
      ("iv2", "2024-01-02 05:00:00", "2024-01-02 05:45:00"),
      ("iv3", "2024-01-10 00:00:00", "2024-01-17 00:00:00"),
      ("iv4", "2024-01-05 12:00:00", "2024-01-05 12:00:00"))
      .toDF("iv_id", "s_str", "e_str")
      .select($"iv_id", $"s_str".cast("timestamp").as("ws"),
        $"e_str".cast("timestamp").as("we"))
    val bucketed = IntervalJoin.pointInInterval(ev, "ts", intervals, "ws", "we",
      bucketMicros = 3600L * 1000000L)
    val got = bucketed.select($"event_id", $"iv_id").as[(Long, String)].collect().toSet
    val naive = ev.join(intervals, $"ts" >= $"ws" && $"ts" < $"we")
      .select($"event_id", $"iv_id").as[(Long, String)].collect().toSet
    assert(got == naive && got.nonEmpty, s"bucketed=${got.size} naive=${naive.size}")
    assert(!got.exists(_._2 == "iv4"), "empty interval must match nothing")
    // the whole point: the physical plan is a hash/sort-merge EQUI-join,
    // never a nested-loop or cartesian shape
    bucketed.collect() // finalize AQE on THIS QueryExecution (CLAUDE.md)
    val plan = bucketed.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("Cartesian"),
      s"interval join fell back to a nested-loop plan:\n$plan")
    // and the naive theta join really is the bad plan we are avoiding
    val naiveDf = ev.join(intervals, $"ts" >= $"ws" && $"ts" < $"we")
    naiveDf.collect()
    val naivePlan = naiveDf.queryExecution.executedPlan.toString
    assert(naivePlan.contains("BroadcastNestedLoop") || naivePlan.contains("Cartesian"),
      "theta-join control no longer plans as nested-loop — revisit the premise")
  }

  test("interval join fuzz: random intervals/points match the theta join at any bucket width") {
    val rnd = new scala.util.Random(41)
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    val pts = (0 until 400).map { i =>
      (i.toLong, new java.sql.Timestamp(base + rnd.nextInt(14 * 86400) * 1000L))
    }.toDF("pid", "ts")
    // intervals: sub-bucket, multi-bucket, bucket-aligned, empty, overlapping
    val ivs = (0 until 60).map { i =>
      val s = base + rnd.nextInt(14 * 86400) * 1000L
      val len = rnd.nextInt(5) match {
        case 0 => 0L                                  // empty (e == s)
        case 1 => rnd.nextInt(600) * 1000L            // sub-bucket
        case 2 => 3600L * 1000L                       // exactly one bucket
        case _ => rnd.nextInt(3 * 86400) * 1000L      // multi-bucket
      }
      (s"iv$i", new java.sql.Timestamp(s), new java.sql.Timestamp(s + len))
    }.toDF("iv_id", "ws", "we")
    val naive = pts.join(ivs, $"ts" >= $"ws" && $"ts" < $"we")
      .select($"pid", $"iv_id").as[(Long, String)].collect().toSet
    assert(naive.nonEmpty)
    Seq(60L * 1000000L, 3600L * 1000000L, 86400L * 1000000L).foreach { w =>
      val got = IntervalJoin.pointInInterval(pts, "ts", ivs, "ws", "we", w)
        .select($"pid", $"iv_id").as[(Long, String)].collect().toSet
      assert(got == naive, s"bucket width $w: ${got.size} vs ${naive.size}")
    }
  }

  test("first-wins retention equals a greedy id-order simulation over the band sets") {
    graft.functions.registerAll(spark)
    val rnd = new scala.util.Random(17)
    val vocab = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    // controlled duplicates: each doc is either a fresh random text or a
    // lightly-perturbed copy of an earlier one (near-dups that band-collide)
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until 60).foreach { i =>
      if (i > 0 && rnd.nextInt(3) == 0) {
        val srcToks = texts(rnd.nextInt(i)).split(" ").toBuffer
        srcToks(rnd.nextInt(srcToks.length)) = vocab(rnd.nextInt(vocab.length))
        texts += srcToks.mkString(" ")
      } else texts += Seq.fill(12 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toSeq
      .toDF("doc_id", "text")
    val banded = Dedup.banded(docs, "doc_id")
    val kept = Dedup.firstWinsKept(banded)
      .filter($"kept").select($"doc_id").as[Long].collect().toSet
    // greedy reference: walk docs in id order, a doc survives iff none of
    // its bands was claimed by ANY earlier doc ("dedup against seen")
    val bandsById = banded.as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val seen = scala.collection.mutable.Set.empty[Long]
    val expected = bandsById.keys.toSeq.sorted.filter { id =>
      val bs = bandsById(id)
      val fresh = !bs.exists(seen.contains)
      seen ++= bs
      fresh
    }.toSet
    assert(kept == expected,
      s"onlyEngine=${(kept -- expected).take(5)} onlyGreedy=${(expected -- kept).take(5)}")
    assert(expected.size < bandsById.size, "fixture produced no duplicates to drop")
  }

  test("q68 chunk windows: full coverage, no subset windows, contiguous indices") {
    val rows = SparkEntry.queries("q68_chunking")(spark, sfDir)
      .select($"doc_id", $"chunk_idx", $"n_tokens").as[(Long, Int, Int)]
      .collect().groupBy(_._1)
    val nToks = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("doc_id", "size(split(trim(text), '\\\\s+')) AS n")
      .as[(Long, Int)].collect().toMap
    assert(rows.nonEmpty)
    rows.foreach { case (doc, cs) =>
      val n = nToks(doc)
      val sorted = cs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == sorted.indices.toSeq, s"doc $doc: gap in chunk_idx")
      // start of chunk i is 48*i; it must cover through min(48i+64, n)
      sorted.foreach { case (_, idx, len) =>
        assert(len == math.min(48 * idx + 64, n) - 48 * idx, s"doc $doc chunk $idx len $len")
      }
      val last = sorted.last
      assert(48 * last._2 + last._3 == n, s"doc $doc: tail tokens uncovered")
      // no window fully contained in its predecessor (the duplicate-sample
      // guard): every chunk after the first must end past the previous end
      sorted.sliding(2).foreach {
        case Array((_, i1, l1), (_, i2, l2)) =>
          assert(48 * i2 + l2 > 48 * i1 + l1, s"doc $doc: chunk $i2 is a subset of $i1")
        case _ => ()
      }
    }
  }

  test("entry returns rows (driver smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("SMJ scale path plan shape: sort-merge on (cell, salt), no broadcast of the cover, no BNLJ") {
    val p = Pages.pages(spark, sfDir, SparkEntry.Amp)
    // AQE off for the pin: at THIS test's toy scale AQE would legally
    // demote the sort-merge to broadcast (the cover fits); in the regime
    // the path exists for it cannot, so the pinned property is the static
    // strategy honoring the merge hint
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan = try {
      val joined = SpatialJoin.assignPages(p, bounds, budget = 0L)
      joined.collect()
      joined.queryExecution.executedPlan.toString
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    assert(plan.contains("SortMergeJoin"), s"q72's scale path must sort-merge:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"BNLJ in the scale path:\n$plan")
    // the COVER must not be broadcast (that's the regime this path exists
    // for); the refine dim broadcast is expected and fine
    val smjSection = plan.substring(plan.indexOf("SortMergeJoin"))
    assert(smjSection.contains("Exchange hashpartitioning"),
      s"expected both SMJ inputs to arrive via hash exchanges:\n$plan")
  }

  test("flagship plan shape: zero shuffle on the probe side, broadcast-only joins") {
    val p = Pages.pages(spark, sfDir, SparkEntry.Amp)
    // dims localized (the published-index production shape; the dim BUILD
    // legitimately shuffles once per polygon-set version, which is not
    // what this test pins)
    def localize(df: org.apache.spark.sql.DataFrame) = graft.sources.Storage.localize(df)
    val b = localize(bounds)
    val joined = SpatialJoin.assignPagesFlat(p, localize(SpatialJoin.coverDfFlat(bounds)), b)
    joined.count()
    val plan = joined.queryExecution.executedPlan.toString
    // the pages stream must reach the output through broadcast-hash probes
    // only — any hash-partitioning exchange means the 10^12-row side is
    // being shuffled and the plan regressed
    assert(!plan.contains("Exchange hashpartitioning"),
      s"probe-side shuffle appeared:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$plan")
    assert(plan.contains("st_contains_slab"), "exact PIP refine missing from the plan")
  }

  test("flagship refine calls the PIP kernel directly from generated code") {
    // the hot path must stay a static call inside whole-stage codegen, not
    // a generic eval through the expression object (AQE off: its stages
    // are only planned when the query runs)
    val src = graft.expr.KernelSamples.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      SpatialJoin.assignPagesFlat(Pages.pages(spark, sfDir, SparkEntry.Amp),
        SpatialJoin.coverDfFlat(bounds), bounds)
        .queryExecution.debug.codegenToSeq().map(_._2).mkString("\n")
    }
    assert(src.contains("graft.expr.GeoOps.stContainsSlab("), "no direct refine call")
    assert("""references\[\d+\][^;]*\.eval\(""".r.findFirstIn(src).isEmpty,
      "an expression fell back to eval in the flagship stages")
  }
}
