package graft.expr

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions._
import graft.geom.Geom
import graft.index.{Cells, Tiles}

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.registerAll(s)
    s
  }
}

class ExprSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private def ringDf = Seq(
    (1L, Seq((0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0))),          // open square
    (2L, Seq((0.0, 0.0), (1.0, 1.0)))                                     // degenerate
  ).toDF("id", "raw")
    .select($"id", transform($"raw", p => struct(p("_1").as("x"), p("_2").as("y"))).as("ring"))

  test("closed_ring appends first vertex (reference utils.py:40-41)") {
    val rows = ringDf.select($"id", size(closed_ring($"ring")).as("n")).orderBy("id").collect()
    assert(rows(0).getInt(1) == 5) // square closed: 4 -> 5
    assert(rows(1).getInt(1) == 3) // 2-pt "ring" also closes
  }

  test("make_polygon nulls degenerate rings (utils.py:35-38)") {
    val rows = ringDf.select($"id", make_polygon($"ring").as("poly")).orderBy("id").collect()
    assert(!rows(0).isNullAt(1))
    assert(rows(1).isNullAt(1))
  }

  test("st_contains via DataFrame matches kernel, boundary excluded") {
    val df = ringDf.filter($"id" === 1)
      .select(make_polygon($"ring").as("poly"))
      .select(
        st_contains($"poly", lit(2.0), lit(2.0)).as("in"),
        st_contains($"poly", lit(0.0), lit(2.0)).as("edge"),
        st_contains($"poly", lit(9.0), lit(9.0)).as("out"))
    val r = df.collect()(0)
    assert(r.getBoolean(0) && !r.getBoolean(1) && !r.getBoolean(2))
  }

  test("gaussian_smooth matches kernel golden path through SQL") {
    graft.functions.registerAll(spark)
    val r = spark.sql(
      """SELECT gaussian_smooth(array(struct(1.0d as x, 0.0d as y), struct(2.0d as x, 0.0d as y),
        |struct(3.0d as x, 0.0d as y)), 1.0d) AS s""".stripMargin).collect()(0)
    val pts = r.getSeq[Row](0)
    val expected = Geom.gaussianFilter1d(Array(1.0, 2.0, 3.0), 1.0)
    pts.zipWithIndex.foreach { case (p, i) =>
      assert(Math.abs(p.getDouble(0) - expected(i)) < 1e-12)
      assert(p.getDouble(1) == 0.0)
    }
  }

  test("st_intersection / st_area / st_envelope round-trip") {
    val df = spark.sql(
      """SELECT st_intersection(
        |  make_polygon(array(struct(0.0d as x, 0.0d as y), struct(4.0d as x, 0.0d as y),
        |                     struct(4.0d as x, 4.0d as y), struct(0.0d as x, 4.0d as y))),
        |  make_polygon(array(struct(2.0d as x, 2.0d as y), struct(6.0d as x, 2.0d as y),
        |                     struct(6.0d as x, 6.0d as y), struct(2.0d as x, 6.0d as y)))) AS p""".stripMargin)
    val withArea = df.select(st_area($"p").as("a"), st_envelope($"p").as("e"))
    val r = withArea.collect()(0)
    assert(Math.abs(r.getDouble(0) - 4.0) < 1e-12)
    val e = r.getStruct(1)
    assert(e.getDouble(0) == 2.0 && e.getDouble(1) == 2.0 && e.getDouble(2) == 4.0 && e.getDouble(3) == 4.0)
  }

  test("st_intersection composes: multi-piece output intersected again keeps ALL pieces") {
    // bar through a U -> TWO pieces (2x2 each); intersecting that result
    // with a box covering only the RIGHT arm must keep the right piece —
    // a ring-0-only implementation would silently drop whichever piece
    // sorted second and lose area
    val df = spark.sql(
      """SELECT st_intersection(
        |  st_intersection(
        |    make_polygon(array(struct(0.0d as x, 0.0d as y), struct(6.0d as x, 0.0d as y),
        |                       struct(6.0d as x, 6.0d as y), struct(4.0d as x, 6.0d as y),
        |                       struct(4.0d as x, 2.0d as y), struct(2.0d as x, 2.0d as y),
        |                       struct(2.0d as x, 6.0d as y), struct(0.0d as x, 6.0d as y))),
        |    make_polygon(array(struct(-1.0d as x, 3.0d as y), struct(7.0d as x, 3.0d as y),
        |                       struct(7.0d as x, 5.0d as y), struct(-1.0d as x, 5.0d as y)))),
        |  make_polygon(array(struct(3.0d as x, 2.5d as y), struct(7.0d as x, 2.5d as y),
        |                     struct(7.0d as x, 5.5d as y), struct(3.0d as x, 5.5d as y)))) AS p""".stripMargin)
    val both = df.select(st_area($"p").as("a"), size($"p").as("n_pieces")).collect()(0)
    // bar ∩ U = two 2x2 arm rectangles; ∩ right box = the right one (2x2)
    assert(Math.abs(both.getDouble(0) - 4.0) < 1e-12, s"area=${both.getDouble(0)}")
    // and the total area over BOTH pieces is preserved when the second
    // operand covers everything
    val full = spark.sql(
      """SELECT st_intersection(
        |  st_intersection(
        |    make_polygon(array(struct(0.0d as x, 0.0d as y), struct(6.0d as x, 0.0d as y),
        |                       struct(6.0d as x, 6.0d as y), struct(4.0d as x, 6.0d as y),
        |                       struct(4.0d as x, 2.0d as y), struct(2.0d as x, 2.0d as y),
        |                       struct(2.0d as x, 6.0d as y), struct(0.0d as x, 6.0d as y))),
        |    make_polygon(array(struct(-1.0d as x, 3.0d as y), struct(7.0d as x, 3.0d as y),
        |                       struct(7.0d as x, 5.0d as y), struct(-1.0d as x, 5.0d as y)))),
        |  make_polygon(array(struct(-9.0d as x, -9.0d as y), struct(9.0d as x, -9.0d as y),
        |                     struct(9.0d as x, 9.0d as y), struct(-9.0d as x, 9.0d as y)))) AS p""".stripMargin)
    val f = full.select(st_area($"p").as("a"), size($"p").as("n")).collect()(0)
    assert(Math.abs(f.getDouble(0) - 8.0) < 1e-12 && f.getInt(1) == 2,
      s"area=${f.getDouble(0)} pieces=${f.getInt(1)} — a piece was dropped")
  }

  test("st_intersection disjoint -> null row survives (reference None)") {
    val df = spark.sql(
      """SELECT st_intersection(
        |  make_polygon(array(struct(0.0d as x, 0.0d as y), struct(1.0d as x, 0.0d as y), struct(1.0d as x, 1.0d as y))),
        |  make_polygon(array(struct(5.0d as x, 5.0d as y), struct(6.0d as x, 5.0d as y), struct(6.0d as x, 6.0d as y)))) AS p""".stripMargin)
    assert(df.collect()(0).isNullAt(0))
  }

  test("direct-ArrayData st_contains/st_covers equivalent to kernel containsStrict/covers") {
    val rnd = new scala.util.Random(7)
    (0 until 300).foreach { _ =>
      // random polygon: noisy ellipse ring, sometimes with a hole
      val n = 3 + rnd.nextInt(20)
      val cx = rnd.nextDouble() * 10 - 5; val cy = rnd.nextDouble() * 10 - 5
      val shell = (0 until n).flatMap { i =>
        val a = 2 * Math.PI * i / n
        val rr = 1.0 + rnd.nextDouble()
        Seq(cx + rr * Math.cos(a), cy + 0.7 * rr * Math.sin(a))
      }.toArray
      val hole = (0 until 4).flatMap { i =>
        val a = 2 * Math.PI * i / 4
        Seq(cx + 0.3 * Math.cos(a), cy + 0.3 * Math.sin(a))
      }.toArray
      val poly = if (rnd.nextBoolean()) Array(shell) else Array(shell, hole)
      val ad = GeoOps.flatToPoly(poly)
      (0 until 20).foreach { _ =>
        // mix of random points and exact vertices/edge midpoints
        val (px, py) = rnd.nextInt(3) match {
          case 0 => (rnd.nextDouble() * 12 - 6, rnd.nextDouble() * 12 - 6)
          case 1 =>
            val v = rnd.nextInt(n)
            (shell(2 * v), shell(2 * v + 1))
          case _ =>
            val v = rnd.nextInt(n)
            val w = (v + 1) % n
            ((shell(2 * v) + shell(2 * w)) / 2, (shell(2 * v + 1) + shell(2 * w + 1)) / 2)
        }
        assert(GeoOps.stContains(ad, px, py) == Geom.containsStrict(poly, px, py),
          s"contains mismatch at ($px,$py)")
        assert(GeoOps.stCovers(ad, px, py) == Geom.covers(poly, px, py),
          s"covers mismatch at ($px,$py)")
      }
    }
  }

  test("cell_id/tile_x/tile_y/quadkey match kernel over a real column") {
    val pts = Seq((116.3, 39.98), (-73.98, 40.75), (151.2, -33.87), (0.0, 0.0))
    val df = pts.toDF("lon", "lat").select(
      $"lon", $"lat",
      cell_id($"lon", $"lat", lit(15)).as("cell"),
      tile_x($"lon", lit(15)).as("tx"),
      tile_y($"lat", lit(15)).as("ty"),
      quadkey(lit(15), tile_x($"lon", lit(15)), tile_y($"lat", lit(15))).as("qk"))
    df.collect().foreach { r =>
      val lon = r.getDouble(0); val lat = r.getDouble(1)
      assert(r.getLong(2) == Cells.cellId(lon, lat, 15))
      assert(r.getLong(3) == Tiles.lonToTileX(lon, 15))
      assert(r.getLong(4) == Tiles.latToTileY(lat, 15))
      assert(r.getString(5) == Tiles.quadkey(15, Tiles.lonToTileX(lon, 15), Tiles.latToTileY(lat, 15)))
    }
  }

  test("cell_parent/cell_level/ring_cells/disk_cells through DataFrame") {
    val df = Seq((116.3, 39.98)).toDF("lon", "lat").select(
      cell_id($"lon", $"lat", lit(15)).as("c15"))
      .select(
        cell_level($"c15").as("lvl"),
        cell_parent($"c15", lit(12)).as("p12"),
        size(ring_cells($"c15", lit(2))).as("nring"),
        size(disk_cells($"c15", lit(2))).as("ndisk"))
    val r = df.collect()(0)
    assert(r.getInt(0) == 15)
    assert(r.getLong(1) == Cells.cellId(116.3, 39.98, 12))
    assert(r.getInt(2) == 16 && r.getInt(3) == 25)
  }

  test("cover_cells explode yields conservative candidates") {
    val df = ringDf.filter($"id" === 1)
      .select(make_polygon($"ring").as("poly"))
      .select(explode(cover_cells($"poly", lit(6), lit(8))).as("c"))
      .select($"c.cell", $"c.full")
    val cells = df.collect().map(r => (r.getLong(0), r.getBoolean(1)))
    assert(cells.nonEmpty)
    // the point (2,2) inside the square must fall in one of the cover cells
    val hit = cells.exists { case (cell, _) =>
      val lvl = Cells.level(cell)
      Cells.cellId(2.0, 2.0, lvl) == cell
    }
    assert(hit)
  }

  test("st_distance_m haversine and viewport struct") {
    val r = spark.sql(
      "SELECT st_distance_m(0.0d, 0.0d, 0.0d, 1.0d) AS d, viewport(116.30d, 39.98d, 116.31d, 39.99d) AS v")
      .collect()(0)
    assert(Math.abs(r.getDouble(0) - 111195.0) < 100.0)
    val v = r.getStruct(1)
    assert(v.getDouble(3) == 15.0) // marker_px
  }

  test("text: hash_text/fingerprint deterministic; shingles; minhash jaccard estimate") {
    val df = Seq(
      ("a", "the quick brown fox jumps over the lazy dog"),
      ("b", "the quick brown fox jumps over the lazy cat"),
      ("c", "completely different words entirely here now")
    ).toDF("id", "text").select(
      $"id",
      hash_text($"text").as("h"),
      fingerprint($"text").as("fp"),
      minhash(word_shingles($"text", lit(2)), lit(64), lit(7L)).as("sig"),
      simhash(word_shingles($"text", lit(1))).as("sh"))
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getSeq[Long](3), r.getLong(4))).sortBy(_._1)
    // determinism: recompute
    val rows2 = df.collect().map(r => r.getLong(1)).sorted
    assert(rows.map(_._2).sorted sameElements rows2)
    // a vs b share most bigram shingles -> many matching minhash slots;
    // a vs c share none
    val ab = rows(0)._4.zip(rows(1)._4).count { case (x, y) => x == y }
    val ac = rows(0)._4.zip(rows(2)._4).count { case (x, y) => x == y }
    assert(ab > 32, s"near-dup minhash agreement too low: $ab/64")
    assert(ac < 8, s"distinct docs minhash agreement too high: $ac/64")
    // simhash hamming: near-dups closer than far pairs
    val hAb = java.lang.Long.bitCount(rows(0)._5 ^ rows(1)._5)
    val hAc = java.lang.Long.bitCount(rows(0)._5 ^ rows(2)._5)
    assert(hAb < hAc)
  }

  test("cosine_sim on float vectors + hyperplane LSH bucket stability") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(1.0f, 2.0f, 2.0f), Array(2.0f, 4.0f, 4.0f))
    ).toDF("id", "a", "b").select($"id",
      cosine_sim($"a", $"b").as("cos"),
      hyperplane_lsh($"a", lit(16), lit(3L)).as("bucket"))
    val rows = df.collect().sortBy(_.getLong(0))
    assert(Math.abs(rows(0).getDouble(1) - 1.0) < 1e-12)
    assert(Math.abs(rows(1).getDouble(1)) < 1e-12)
    assert(Math.abs(rows(2).getDouble(1) - 1.0) < 1e-12) // parallel vectors
    // identical input vectors -> identical buckets
    assert(rows(0).getLong(2) == rows(1).getLong(2))
  }

  test("dot_sim matches its JVM definition; subspace dots sum to the full dot in exact cases") {
    val rnd = new scala.util.Random(23)
    val vecs = Seq.fill(6)((Array.fill(64)(rnd.nextFloat() - 0.5f),
      Array.fill(64)(rnd.nextFloat() - 0.5f)))
    val df = vecs.zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }
      .toDF("id", "a", "b")
      .select(Seq($"id", graft.functions.dot_sim($"a", $"b").as("d")) ++
        (0 until 4).map(s =>
          graft.functions.dot_sim(slice($"a", s * 16 + 1, 16), slice($"b", s * 16 + 1, 16))
            .as(s"p$s")): _*)
    df.collect().foreach { r =>
      val i = r.getLong(0).toInt
      val (a, b) = vecs(i)
      // kernel == JVM replica (the expression IS TextOps.dotSim)
      var expect = 0.0
      (0 until 64).foreach(k => expect += a(k).toDouble * b(k).toDouble)
      assert(r.getDouble(1) == expect, s"dot_sim kernel diverges for vec $i")
      // subspace partials each match their own slice fold, and their
      // q99-ordered sum is within float-reassociation distance of the
      // full fold (the ADC definition is the ordered partial sum itself)
      val partials = (0 until 4).map { s =>
        var p = 0.0
        (s * 16 until s * 16 + 16).foreach(k => p += a(k).toDouble * b(k).toDouble)
        assert(r.getDouble(2 + s) == p, s"subspace $s partial diverges")
        p
      }
      assert(math.abs(partials.sum - expect) < 1e-12)
    }
  }

  test("lsh_bands: identical signatures share all bands; hamming_dist works") {
    val df = Seq(("x", "same text here"), ("y", "same text here"))
      .toDF("id", "text")
      .select($"id", lsh_bands(minhash(word_shingles($"text", lit(1)), lit(16), lit(1L)), lit(4)).as("bands"))
    val rows = df.collect()
    assert(rows(0).getSeq[Long](1) == rows(1).getSeq[Long](1))
    val hd = spark.sql("SELECT hamming_dist(7L, 0L) AS h").collect()(0).getInt(0)
    assert(hd == 3)
  }

  test("round-4 kernels: mix64/leading_zeros/nfc/shell-distance/trigram match their JVM definitions") {
    import graft.functions._
    val df = Seq((1L, "café test", 42L, 1024L)).toDF("id", "s", "z", "w")
    val r = df.select(
      mix64($"z").as("m"),
      leading_zeros($"w").as("lz"),
      nfc_normalize($"s").as("n"),
      st_distance_to_shell_m(
        org.apache.spark.sql.functions.array(
          Seq(0.0, 0.0, 1.0, 0.0, 1.0, 1.0, 0.0, 1.0, 0.0, 0.0).map(lit): _*),
        lit(2.0), lit(0.5)).as("d")).collect()(0)
    assert(r.getLong(0) == TextOps.mix64(42L))
    assert(r.getInt(1) == java.lang.Long.numberOfLeadingZeros(1024L))
    assert(r.getString(2) == java.text.Normalizer.normalize(
      "café test", java.text.Normalizer.Form.NFC))
    // point (2, 0.5) vs unit square: nearest point on the closed shell is
    // (1, 0.5) -> 1 degree of longitude at lat 0.5
    assert(math.abs(r.getDouble(3) -
      graft.geom.Geom.haversineM(2.0, 0.5, 1.0, 0.5)) == 0.0)
    // trigram predict/fluency == direct kernel calls
    val t = df.select(trigram_lang_predict($"s").as("p"), trigram_fluency($"s").as("f"))
      .collect()(0)
    assert(t.getString(0) == TrigramModel.predict(
      org.apache.spark.unsafe.types.UTF8String.fromString("café test")).toString)
    assert(t.getDouble(1) == TrigramModel.bestAvgLogProb(
      org.apache.spark.unsafe.types.UTF8String.fromString("café test")))
  }

  test("keyed_dot == the (doc, tok)-keyed join + sum it replaces (fuzz), codegen == interpreted") {
    // build per-doc sorted (tok, c) count vectors the exact way q117 does
    // (array_sort over collect_list of structs) and pin the kernel against
    // a pure-Scala map-dot brute on every pair, including empty-overlap
    // and empty-vector cases
    val rnd = new scala.util.Random(117)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")
    val docs = (0L until 12L).map { id =>
      val len = rnd.nextInt(20) // 0 => empty token list
      id -> Seq.fill(len)(vocab(rnd.nextInt(vocab.size)))
    }
    val counts: Map[Long, Map[String, Long]] =
      docs.map { case (id, tk) =>
        id -> tk.groupBy(identity).view.mapValues(_.size.toLong).toMap
      }.toMap
    def bruteDot(a: Long, b: Long): Long =
      counts(a).foldLeft(0L) { case (acc, (tok, ca)) =>
        acc + ca * counts(b).getOrElse(tok, 0L) }
    val tcv = docs.flatMap { case (id, tk) => tk.map(id -> _) }
      .toDF("doc_id", "tok")
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(array_sort(collect_list(struct($"tok", $"c"))).as("ps"))
    val pairs = docs.map(_._1).combinations(2).map(p => (p(0), p(1))).toSeq
      .toDF("doc_a", "doc_b")
    val got = pairs
      .join(tcv.select($"doc_id".as("doc_a"), $"ps".as("ps_a")), Seq("doc_a"))
      .join(tcv.select($"doc_id".as("doc_b"), $"ps".as("ps_b")), Seq("doc_b"))
      .select($"doc_a", $"doc_b", keyed_dot($"ps_a", $"ps_b").as("dp"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // inner joins drop docs with zero tokens — same rule as q117's tcv join
    val present = docs.filter(_._2.nonEmpty).map(_._1).toSet
    assert(got.keySet == pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter(p => present(p._1) && present(p._2)).toSet)
    got.foreach { case ((a, b), dp) => assert(dp == bruteDot(a, b), s"pair ($a,$b)") }
    assert(got.exists(_._2 > 0L)) // fixture sanity: overlaps actually occur
    // interpreted path agrees with codegen
    val q = tcv.as("x").join(tcv.as("y"), $"x.doc_id" < $"y.doc_id")
      .select(sum(keyed_dot($"x.ps", $"y.ps")).as("s"))
    val on = q.collect()(0).getLong(0)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    val off = try q.collect()(0).getLong(0)
      finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    assert(on == off)
  }

  test("bm25_fold == the (query,term,doc) contribution join + qpos-pivot fold it replaces (fuzz)") {
    // replicate q98's relational form end-to-end on a random micro-corpus
    // and pin the kernel's doubles BIT-EQUAL to the pivot fold's: same
    // idf/kdoc subexpression shapes, same qpos-ordered accumulation from
    // 0.0, same absent-pair rule (no shared term -> no row vs NaN-drop)
    val rnd = new scala.util.Random(98)
    val vocab = Vector("the", "fox", "jumps", "over", "lazy", "dog", "quick", "brown")
    val docs = (0L until 30L).map { id =>
      id -> Seq.fill(1 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
    }
    val docsDf = docs.map { case (id, tk) => (id, tk.mkString(" ")) }.toDF("doc_id", "text")
    val toks = filter(split(trim($"text"), "\\s+"), tk => tk =!= "")
    val docToks = docsDf.select($"doc_id", posexplode(toks)).withColumnRenamed("col", "term")
    val dlenF = docsDf.select($"doc_id", size(toks).cast("long").as("len")).filter($"len" > 0)
    val stats = dlenF.agg(count(lit(1)).as("n_docs"), sum($"len").as("total_len"))
    val qt = docsDf.filter($"doc_id" % 7 === 0)
      .select($"doc_id".as("query_id"), posexplode(slice(toks, 1, 6)))
      .withColumnRenamed("col", "term")
      .groupBy($"query_id", $"term").agg(min($"pos").as("qpos"))
    val qTerms = qt.select($"term").distinct()
    val tfF = docToks.join(broadcast(qTerms), Seq("term"), "left_semi")
      .groupBy($"term", $"doc_id").agg(count(lit(1)).as("tf"))
    val dfF = tfF.groupBy($"term").agg(count(lit(1)).as("df"))
    val nd = $"n_docs".cast("double"); val dfd = $"df".cast("double")
    val tfd = $"tf".cast("double"); val lend = $"len".cast("double")
    // --- reference: the exact pre-r6-second-pass relational form ---
    val contrib = qt.join(tfF, Seq("term")).join(broadcast(dfF), Seq("term"))
      .join(dlenF, Seq("doc_id")).crossJoin(broadcast(stats))
      .select($"query_id", $"doc_id", $"qpos",
        (((lit(2.0) * nd - lit(2.0) * dfd + lit(1.0)) / (lit(2.0) * dfd + lit(1.0))) *
          ((tfd * lit(2.2)) / (tfd + lit(1.2) * (lit(0.25) + lit(0.75) *
            (lend / ($"total_len".cast("double") / nd)))))).as("c"))
    val pivots = (0 until 6).map(i => max(when($"qpos" === i, $"c")).as(s"c$i"))
    val want = contrib.groupBy($"query_id", $"doc_id")
      .agg(pivots.head, pivots.tail: _*)
      .select($"query_id", $"doc_id",
        expr("aggregate(filter(array(c0,c1,c2,c3,c4,c5), x -> x is not null), 0.0D, (a, v) -> a + v)").as("bm25"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // --- kernel form (the q98 body's shape) ---
    val qarrF = qt.join(broadcast(dfF), Seq("term")).crossJoin(broadcast(stats))
      .select($"query_id", struct($"qpos", $"term",
        ((lit(2.0) * nd - lit(2.0) * dfd + lit(1.0)) /
          (lit(2.0) * dfd + lit(1.0))).as("idf")).as("qe"))
      .groupBy($"query_id").agg(array_sort(collect_list($"qe")).as("qarr"))
    val psF = tfF.groupBy($"doc_id")
      .agg(array_sort(collect_list(struct($"term", $"tf"))).as("ps"))
    val docF = psF.join(dlenF, Seq("doc_id")).crossJoin(broadcast(stats))
      .select($"doc_id", $"ps",
        (lit(1.2) * (lit(0.25) + lit(0.75) *
          (lend / ($"total_len".cast("double") / nd)))).as("kdoc"))
    val gotQ = docF.crossJoin(broadcast(qarrF))
      .select($"query_id", $"doc_id", bm25_fold($"qarr", $"ps", $"kdoc").as("bm25"))
      .filter(!isnan($"bm25"))
    val got = gotQ.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.keySet == want.keySet) // absent-pair rule matches exactly
    got.foreach { case (k, v) =>
      assert(java.lang.Double.doubleToRawLongBits(v) ==
        java.lang.Double.doubleToRawLongBits(want(k)), s"pair $k: $v != ${want(k)}")
    }
    assert(got.nonEmpty && got.values.exists(_ > 0.0))
    // some query must MISS some doc, or the NaN path went untested
    val nDocs = docF.count(); val nQ = qarrF.count()
    assert(got.size < nDocs * nQ, "fixture never exercised the no-match NaN drop")
    // interpreted path agrees with codegen
    val sums = gotQ.agg(sum($"bm25")).collect()(0).getDouble(0)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    val off = try gotQ.agg(sum($"bm25")).collect()(0).getDouble(0)
      finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    assert(java.lang.Double.doubleToRawLongBits(sums) == java.lang.Double.doubleToRawLongBits(off))
  }

  test("keyed_dot / bm25_fold reject wrong-typed arguments at analysis, naming the function") {
    // one wrong call per kernel: an INT count field where keyed_dot reads
    // a BIGINT, an INT kdoc where bm25_fold reads a DOUBLE — both must fail
    // as DATATYPE_MISMATCH while planning, not as a ClassCastException
    // inside a task
    val df = Seq(("a", 1)).toDF("tok", "c")
      .select(array(struct($"tok", $"c")).as("ps_int"),
        array(struct($"tok", $"c".cast("long"))).as("ps"),
        array(struct($"c".as("qpos"), $"tok".as("term"), lit(1.5).as("idf"))).as("qarr"))
    val kd = intercept[org.apache.spark.sql.AnalysisException](
      df.select(keyed_dot($"ps_int", $"ps")))
    assert(kd.getMessage.contains("DATATYPE_MISMATCH") && kd.getMessage.contains("keyed_dot"),
      kd.getMessage)
    val bm = intercept[org.apache.spark.sql.AnalysisException](
      df.select(bm25_fold($"qarr", $"ps", lit(1))))
    assert(bm.getMessage.contains("DATATYPE_MISMATCH") && bm.getMessage.contains("bm25_fold"),
      bm.getMessage)
    // the same arrays with the right types still resolve and evaluate
    val ok = df.select(keyed_dot($"ps", $"ps"), bm25_fold($"qarr", $"ps", lit(1.0))).collect()(0)
    assert(ok.getLong(0) == 1L && ok.getDouble(1) == 1.5 * (2.2 / 2.0))
  }

  test("expressions survive codegen AND interpreted paths identically") {
    // every kernel in the table, over non-foldable input (a Range, so no
    // LocalRelation folding): row 0 carries the kernel's sample arguments,
    // row 1 nulls them all. Column n reads nullable arguments, column nn the
    // same values through non-nullable ones, so both codegen shapes run.
    val id = col("id")
    def frame(k: Kernel) = {
      val args = KernelSamples.args(k.name)
      spark.range(2).select(
        KernelSamples.call(k, args.map(a => when(id === 0, a))).as("n"),
        KernelSamples.call(k, args.map(a => coalesce(when(id === 0, a), a))).as("nn"))
    }
    def run(mode: String): Seq[Seq[(String, String)]] = KernelSamples.withConf(spark,
        "spark.sql.codegen.factoryMode" -> mode,
        "spark.sql.codegen.wholeStage" -> (mode == "CODEGEN_ONLY").toString,
        "spark.sql.codegen.fallback" -> "false") {
      Kernel.all.map(k => frame(k).collect().toSeq.map(r =>
        (KernelSamples.canon(r.get(0)), KernelSamples.canon(r.get(1)))))
    }
    val codegen = run("CODEGEN_ONLY")
    val interpreted = run("NO_CODEGEN")
    Kernel.all.zip(codegen.zip(interpreted)).foreach { case (k, (c, i)) =>
      assert(c == i, s"${k.name}: codegen $c != interpreted $i")
      val Seq((sample, nonNull0), (nullIn, nonNull1)) = c
      assert(sample != "null", s"${k.name}: sample arguments evaluated to null")
      assert(nullIn == "null", s"${k.name}: null arguments gave $nullIn")
      assert(nonNull0 == sample && nonNull1 == sample,
        s"${k.name}: non-nullable arguments gave $nonNull0 / $nonNull1, not $sample")
    }
  }
}
