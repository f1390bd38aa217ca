package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** CMS + HLL sketches: guarantees, accuracy, and the rounding-safety
  * table that makes q83's corrected estimate hash-comparable. */
class SketchSpec extends AnyFunSuite {
  lazy val spark = graft.expr.SparkTestSession.spark
  import spark.implicits._

  test("CMS: never under-estimates, and is exact when keys fit without collisions") {
    val keys = (0 until 300).flatMap(i => Seq.fill(i % 7 + 1)(s"key-$i"))
    val df = keys.toDF("k")
    val counters = Sketch.countMin(df, $"k")
    val exact = df.groupBy($"k").agg(count(lit(1)).as("exact_n"))
    val joined = Sketch.cmsEstimates(counters, exact.select($"k"))
      .join(exact, Seq("k")).collect()
    assert(joined.length == 300)
    joined.foreach { r =>
      assert(r.getAs[Long]("cms_est") >= r.getAs[Long]("exact_n"),
        s"CMS under-estimated ${r.getAs[String]("k")}")
    }
    // 300 keys x 4 rows in 4x1024 cells: collisions in ALL FOUR rows for
    // one key are overwhelmingly unlikely with a real mixer — with this
    // deterministic hash the min is exact for (at least) the vast majority
    val exactCnt = joined.count(r => r.getAs[Long]("cms_est") == r.getAs[Long]("exact_n"))
    assert(exactCnt >= 290, s"only $exactCnt/300 CMS estimates exact — mixer broken?")
  }

  test("HLL: corrected estimate within 35% over a cardinality sweep; raw monotone-ish in registers") {
    for (n <- Seq(10, 50, 200, 1000)) {
      val df = (0 until n).map(i => s"host-$i.example.com").toDF("k")
      val r = Sketch.hllEstimate(Sketch.hllRegisters(df, $"k")).collect()(0)
      val corrected = r.getAs[Double]("hll_corrected")
      val err = math.abs(corrected - n) / n
      assert(err < 0.35, s"HLL corrected error $err at n=$n (est $corrected)")
    }
  }

  test("q83 rounding safety: ALL 63 possible linear-counting values sit far from a 0.5e-6 boundary") {
    // the corrected estimate's only libm call is ln(64/V), V in 1..63 —
    // a finite input table. Pin that every output sits >= 1000x the
    // cross-engine 1-ULP drift from a 1e-6 rounding boundary, so the
    // rounded value can never flip on ANY input data.
    for (v <- 1 until 64) {
      val x = 64.0 * math.log(64.0 / v)
      val scaled = x * 1e6
      val frac = scaled - math.floor(scaled)
      val dist = math.abs(frac - 0.5)
      assert(dist > 1e-5,
        s"linear-counting value for V=$v sits $dist quanta from a boundary")
    }
  }

  test("CMS merge: counter-wise sum of ANY sharding is cell-identical to the direct sketch") {
    val keys = (0 until 400).flatMap(i => Seq.fill(i % 5 + 1)(s"host-${i % 60}"))
    val df = keys.zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("k", "rid")
    val direct = Sketch.countMin(df, $"k").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    for (nShards <- Seq(2, 3, 7)) {
      val byShard = Sketch.countMinBy(df, pmod($"rid", lit(nShards.toLong)), $"k")
      val merged = Sketch.cmsMerge(byShard).collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(merged == direct, s"CMS merge diverged from direct at nShards=$nShards")
    }
  }

  test("HLL merge: register-wise max of ANY sharding == the direct sketch; any reduce tree") {
    val rnd = new scala.util.Random(19)
    val keys = (0 until 400).map(i => s"host-${rnd.nextInt(120)}.example")
    // three different shardings — mergeability cannot depend on how rows
    // were split (same key across shards included)
    val df = keys.zipWithIndex.toDF("k", "i")
    val shardings: Seq[org.apache.spark.sql.Column] = Seq(
      ($"i" % 4).cast("long"),                          // round-robin rows
      pmod(graft.functions.hash_text($"k"), lit(4L)),   // by key
      when($"i" < 37, 0L).otherwise(1L))                // wildly unbalanced
    val direct = Sketch.hllRegisters(df.select($"k"), $"k")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    for ((grp, si) <- shardings.zipWithIndex) {
      val regsBy = Sketch.hllRegistersBy(df, grp, $"k")
      val merged = Sketch.hllMerge(regsBy)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(merged == direct, s"sharding $si broke mergeability")
      // associativity: merge the per-shard sketches PAIRWISE first, then
      // merge the partial merges — same registers (any reduce tree works)
      val shards = regsBy.select($"grp").distinct().collect().map(_.getLong(0))
      val (ga, gb) = shards.partition(_ % 2 == 0)
      def partial(g: Seq[Long]) = Sketch.hllMerge(
        regsBy.filter($"grp".isInCollection(g))).withColumn("grp", lit(0L))
      if (ga.nonEmpty && gb.nonEmpty) {
        val tree = Sketch.hllMerge(
          partial(ga.toSeq).unionByName(partial(gb.toSeq)))
          .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
        assert(tree == direct, s"sharding $si broke tree-merge associativity")
      }
    }
    // estimates agree too: the merged row's estimate equals the direct one
    val regsBy = Sketch.hllRegistersBy(df, ($"i" % 4).cast("long"), $"k")
    val all = regsBy.unionByName(
      Sketch.hllMerge(regsBy).withColumn("grp", lit(-1L)).select($"grp", $"idx", $"m"))
    val byGrp = Sketch.hllEstimateBy(all).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val est = Sketch.hllEstimate(Sketch.hllRegisters(df.select($"k"), $"k"))
      .collect()(0)
    assert(byGrp(-1L) == ((est.getDouble(0), est.getDouble(1))))
  }

  test("mismatchCount: 0 for equal tables, a missing key matches 0, each differing value counts 1") {
    def n(a: DataFrame, b: DataFrame, keys: Seq[String], value: String): Long = {
      val r = Sketch.mismatchCount(a, b, keys, value, "n_mis").collect()
      assert(r.length == 1 && r(0).schema.fieldNames.toSeq == Seq("n_mis"))
      r(0).getLong(0)
    }
    val regs = Seq((0L, 3), (1L, 0), (2L, 5)).toDF("idx", "m")
    assert(n(regs, regs, Seq("idx"), "m") == 0)
    assert(n(regs.limit(0), regs.limit(0), Seq("idx"), "m") == 0)
    // register 1 is 0 on one side and absent on the other, either way round
    assert(n(regs, regs.filter($"idx" =!= 1L), Seq("idx"), "m") == 0)
    assert(n(regs.filter($"idx" =!= 1L), regs, Seq("idx"), "m") == 0)
    assert(n(regs, regs.filter($"idx" =!= 2L), Seq("idx"), "m") == 1)
    assert(n(regs, Seq((0L, 3), (1L, 0), (2L, 6)).toDF("idx", "m"), Seq("idx"), "m") == 1)
    // q107's shape: a (j, bucket) key over long counters
    val cnt = Seq((0, 1L, 4L), (1, 1L, 2L)).toDF("j", "bucket", "cnt")
    val other = Seq((0, 1L, 4L), (1, 1L, 3L), (2, 9L, 0L)).toDF("j", "bucket", "cnt")
    assert(n(cnt, other, Seq("j", "bucket"), "cnt") == 1)
  }

  test("mismatchCount equals q97's former inline full-join count on q97's inputs") {
    val hosts = graft.queries.Common.pages(spark, "/root/testdata/sf0.01")
      .select($"url", Urls.host($"url").as("k"))
    val regsBy = Sketch.hllRegistersBy(hosts,
      pmod(graft.functions.hash_text($"url"), lit(4L)), $"k")
    val merged = Sketch.hllMerge(regsBy)
    val direct = Sketch.hllRegisters(hosts.select($"k"), $"k")
    // the closure q97, q103 and q106 each wrote before the helper existed
    def inline(a: DataFrame, b: DataFrame): DataFrame =
      a.select(col("idx"), col("m").as("ma"))
        .join(b.select(col("idx"), col("m").as("mb")), Seq("idx"), "full")
        .select(when(coalesce(col("ma"), lit(0)) === coalesce(col("mb"), lit(0)), 0L)
          .otherwise(1L).as("bad"))
        .agg(coalesce(sum(col("bad")), lit(0L)).as("n_register_mismatch"))
    // the merged sketch (q97's graded 0), and the direct one with its
    // first occupied register raised or dropped (1 each)
    val first = direct.filter($"m" > 0).agg(min($"idx")).head().getLong(0)
    val raised = direct.select($"idx", when($"idx" === first, $"m" + 1).otherwise($"m").as("m"))
    val dropped = direct.filter($"idx" =!= first)
    for ((a, want) <- Seq(merged -> 0L, raised -> 1L, dropped -> 1L)) {
      val got = Sketch.mismatchCount(a, direct, Seq("idx"), "m", "n_register_mismatch")
      assert(got.schema == inline(a, direct).schema)
      val (g, w) = (got.collect().toSeq, inline(a, direct).collect().toSeq)
      assert(g == w && g.head.getLong(0) == want, s"$g vs $w")
    }
  }
}
