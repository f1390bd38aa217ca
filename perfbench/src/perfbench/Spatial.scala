package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

import graft.{functions => gf}
import graft.data.{Courses, Pages}
import graft.expr.GeoOps
import graft.pipeline.{Checkpointed, CourseEngine, SpatialJoin}
import graft.sources.Storage

/** Page amplifications of the spatial workload; `smoke` shrinks every
  * input so a run takes seconds. */
final case class Sizes(sparseAmp: Int, denseAmp: Int, ckptAmp: Int)

object Sizes {
  /** 500 documents x amplification = pages: 16M sparse, 4M dense, 1.5M checkpointed. */
  val full = Sizes(sparseAmp = 32000, denseAmp = 8000, ckptAmp = 3000)
  val smoke = Sizes(sparseAmp = 400, denseAmp = 80, ckptAmp = 120)
}

/** One hole's flattened shell with its bounding box and keys. */
final case class Shell(key: String, holeId: Long, flat: org.apache.spark.sql.catalyst.util.ArrayData,
                       minX: Double, minY: Double, maxX: Double, maxY: Double) {
  def contains(x: Double, y: Double): Boolean =
    x > minX && x < maxX && y > minY && y < maxY && GeoOps.stContainsFlat(flat, x, y)
}

/**
 * The spatial inputs, built from the seed: the
 * documents (doc ids shifted by a seeded page-id offset) persisted across
 * `cpus * 4` partitions, a seeded 60-course set, its boundaries and the flat
 * cover, both localized the way Bench.flagship does.
 */
final class SpatialInputs(c: Ctx, maxAmp: Int) {
  private val spark = c.spark
  val NCourses = 60
  val docIdOffset: Long = {
    // page ids must stay below 2^63 / Pages.Mult1 so the geocode
    // arithmetic cannot overflow under ANSI mode, at every amplification
    // drawn from these docs (the kernels' dense sample included)
    val amp = math.max(maxAmp, Kernels.DenseAmp)
    val slots = math.max(1L, (Long.MaxValue / Pages.Mult1 / amp - 500) / 500)
    500L * Math.floorMod(c.opts.seed, slots)
  }

  var docs: DataFrame = _
  var bounds: DataFrame = _
  var cover: DataFrame = _
  var coverBuildS = 0.0

  /** One set-up; repeated, the previous one is released first. */
  def build(): Unit = {
    if (docs != null) docs.unpersist(blocking = true)
    docs = c.spans("data.docs_persist") {
      val d = spark.read.parquet(s"${c.opts.data}/documents.parquet")
        .withColumn("doc_id", col("doc_id") + docIdOffset)
        .repartition(c.cpus * 4).persist()
      d.count()
      d
    }
    val items = c.spans("data.courses") { Courses.itemsDf(spark, NCourses, c.opts.seed) }
    val bounds0 = c.spans("pipeline.boundaries") { CourseEngine.boundaries(items) }
    bounds = c.spans("sources.localize") { Storage.localize(bounds0) }
    val t0 = System.nanoTime()
    cover = c.spans("index.cover_build") { Storage.localize(SpatialJoin.coverDfFlat(bounds0)) }
    coverBuildS = (System.nanoTime() - t0) / 1e9
  }

  lazy val nDocs: Long = docs.count()
  lazy val coverRows: Array[InternalRow] = internalRows(cover.select("cell", "full", "hole_id"))

  lazy val shells: Seq[Shell] =
    internalRows(bounds.select(
      concat_ws("/", col("clubId"), col("courseId"), col("holeNumber")),
      xxhash64(col("clubId"), col("courseId"), col("holeNumber")),
      gf.flatten_shell(col("boundary")))).toSeq.map { r =>
      val flat = r.getArray(2)
      val xs = (0 until flat.numElements() by 2).map(flat.getDouble).filterNot(_.isNaN)
      val ys = (1 until flat.numElements() by 2).map(flat.getDouble).filterNot(_.isNaN)
      Shell(r.getUTF8String(0).toString, r.getLong(1), flat.copy(), xs.min, ys.min, xs.max, ys.max)
    }

  /** Hole centroids: the dense pages cluster around them (Bench.flagshipDense). */
  lazy val centroids: (Seq[Double], Seq[Double]) = {
    val e = bounds.select(gf.st_envelope(col("boundary")).as("e"))
      .select(((col("e.minx") + col("e.maxx")) / 2), ((col("e.miny") + col("e.maxy")) / 2))
      .collect()
    (e.map(_.getDouble(0)).toSeq, e.map(_.getDouble(1)).toSeq)
  }

  def sparsePages(docs: DataFrame, amp: Int): DataFrame =
    c.spans("data.pages") { Pages.fromDocs(docs, amp) }

  def densePages(docs: DataFrame, amp: Int): DataFrame =
    c.spans("data.pages") { Pages.denseAround(docs, amp, centroids._1, centroids._2, jitter = 0.004) }

  def assign(pages: DataFrame): DataFrame =
    c.spans("pipeline.assign_pages_flat") { SpatialJoin.assignPagesFlat(pages, cover, bounds) }

  /** Two seeded whole documents: every page derived from them, at any
    * amplification, is exactly the page the full input derives. */
  def sampleDocs(salt: Long): DataFrame = {
    val ids = new Random(c.opts.seed * 31 + salt).shuffle((0L until 500L).toList)
      .take(2).map(_ + docIdOffset)
    docs.filter(col("doc_id").isin(ids: _*))
  }

  /** Compares the engine's assignment of a page sample against a brute-force
    * strict-contains pass over every hole shell. Returns (pages, assigned
    * pairs, pairs accepted through a full cover cell). */
  def checkAgainstBruteForce(name: String, pages: DataFrame): (Long, Long, Long) = {
    val engine = c.spans("spark.action") {
      assign(pages).select(col("page_id"),
        concat_ws("/", col("clubId"), col("courseId"), col("holeNumber"))).collect()
    }.map(r => (r.getLong(0), r.getString(1))).toSet
    val pts = c.spans("spark.action") {
      pages.select("page_id", "lon", "lat").collect()
    }.map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val expected = c.spans("expr.st_contains_brute_force") {
      pts.iterator.flatMap { case (id, x, y) =>
        shells.iterator.filter(_.contains(x, y)).map(s => (id, s.key))
      }.toSet
    }
    c.check(name, engine == expected,
      s"engine ${engine.size} pairs vs brute force ${expected.size}; " +
        s"only engine ${(engine -- expected).take(3)}, only brute ${(expected -- engine).take(3)}")
    // pairs the join accepts without the contains kernel: the page's cell
    // is a full cover cell of that hole
    val full = coverRows.iterator.filter(_.getBoolean(1))
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val holeIdOf = shells.map(s => s.key -> s.holeId).toMap
    val ptOf = pts.map { case (id, x, y) => id -> (x, y) }.toMap
    val viaFull = expected.count { case (id, key) =>
      val (x, y) = ptOf(id)
      full.contains((GeoOps.cellId(x, y, SpatialJoin.MaxLevel), holeIdOf(key)))
    }
    (pts.length.toLong, expected.size.toLong, viaFull.toLong)
  }

  def internalRows(df: DataFrame): Array[InternalRow] =
    df.queryExecution.toRdd.map(_.copy()).collect()
}

object Tile {
  val Z = 15

  /** Bench.flagship's tile assignment: tile x/y, quadkey and cell id per
    * page, folded into an order-independent aggregate (the quadkey is
    * computed in the plan but not aggregated, exactly as there). */
  def aggregate(pages: DataFrame): DataFrame = {
    val tx = gf.tile_x(col("lon"), lit(Z))
    val ty = gf.tile_y(col("lat"), lit(Z))
    pages.select(tx.as("tx"), ty.as("ty"), gf.quadkey(lit(Z), tx, ty).as("qk"),
      gf.cell_id(col("lon"), col("lat"), lit(Z)).as("cell"))
      .agg(count(lit(1)), sum(col("tx")), sum(col("ty")), sum(col("cell")))
  }

  /** The same aggregate by direct kernel calls. */
  def direct(pts: Seq[(Double, Double)]): Seq[Any] =
    Seq(pts.size.toLong, pts.map(p => GeoOps.tileX(p._1, Z)).sum,
      pts.map(p => GeoOps.tileY(p._2, Z)).sum, pts.map(p => GeoOps.cellId(p._1, p._2, Z)).sum)
}

/** Shared reporting of traced operations' Spark counters: per-operation means. */
object SparkReport {
  def apply(c: Ctx, ops: Seq[Op]): Unit = if (ops.nonEmpty) {
    def m(f: Op => Double) = Stats.mean(ops.map(f))
    c.layer("spark.jobs") = m(_.jobs.toDouble)
    c.layer("spark.stages") = m(_.stages.toDouble)
    c.layer("spark.tasks") = m(_.tasks.toDouble)
    c.layer("spark.planning_s") = m(_.planningS)
    c.layer("spark.codegen_compile_s") = m(_.compileS)
    c.layer("spark.codegen_compiles") = m(_.compiles.toDouble)
    c.layer("spark.sched_delay_s") = m(_.schedDelayS)
    c.layer("spark.driver_residue_s") = m(_.residueS)
    c.layer("spark.task_run_s") = m(_.taskRunS)
    c.layer("spark.task_cpu_s") = m(_.taskCpuS)
    c.layer("spark.gc_s") = m(_.gcS)
    c.layer("spark.task_skew") = Stats.median(ops.map(_.skew))
    c.layer("spark.shuffle_write_bytes") = m(_.shuffleWriteBytes.toDouble)
    c.layer("spark.spill_bytes") = m(_.spillBytes.toDouble)
  }

  /** Traced runs alternate traced and untraced rounds of the same work. */
  def overhead(traced: Seq[Double], untraced: Seq[Double]): Double =
    if (traced.isEmpty || untraced.isEmpty) 0.0 else traced.sum / untraced.sum - 1
}

/** The spatial workload's set-up (session start plus the median of three
  * input builds: docs persist, courses, cover) and its closed loop. */
object SpatialSetup {
  def apply(c: Ctx, maxAmp: Int): SpatialInputs = {
    val in = new SpatialInputs(c, maxAmp)
    val reps = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      c.spans("bench.setup") { in.build() }
      (System.nanoTime() - t0) / 1e9
    }
    c.endToEnd("setup_s") = c.sessionStartS + Stats.median(reps)
    c.layer("index.cover_build_s") = in.coverBuildS
    c.layer("index.cover_cells") = in.cover.count().toDouble
    c.artifact("setup_reps_s") = reps.map(r => f"$r%.3f").mkString(",")
    c.artifact("seed") = c.opts.seed.toString
    c.artifact("doc_id_offset") = in.docIdOffset.toString
    in
  }

  /** Closed loop: one operation in flight. Round 0 warms up (JIT, codegen)
    * and is not timed; then rounds run until `seconds` have been measured
    * and at least `minRounds` ran. Traced runs alternate traced and
    * untraced rounds so the difference is the tracing overhead. The body
    * gets the round number and whether the round is timed. */
  def rounds(c: Ctx, minRounds: Int)(round: (Int, Boolean) => Unit): Unit = {
    c.setTracing(false)
    round(0, false)
    c.calibrateStart()
    val t0 = System.nanoTime()
    var r = 1
    val need = if (c.opts.trace) 2 * minRounds else minRounds
    while (r <= need || (System.nanoTime() - t0) / 1e9 < c.opts.seconds) {
      c.setTracing(c.opts.trace && r % 2 == 1)
      if (c.isTracing) c.spans("bench.round") { round(r, true) } else round(r, true)
      r += 1
    }
    c.setTracing(c.opts.trace)
  }

  def sizes(c: Ctx): Sizes = if (c.opts.smoke) Sizes.smoke else Sizes.full
}

/**
 * `spatial_pipeline`: the BASELINE flagship and the checkpointed path that
 * shares its join. Each round runs, one operation at a time:
 *  - `sparse`: the flat-cover join over sparse, hot-city-skewed pages
 *    (probe-miss bound),
 *  - `tile`: the tile aggregate over the same pages,
 *  - `dense`: the join over pages dense around the holes (refine bound),
 *  - `fresh`: `Checkpointed.runAssign` of its own pages into 16 url-hash
 *    buckets in a new directory (parquet + manifests),
 *  - `resume`: the same call after 8 seeded bucket manifests are deleted.
 */
final class SpatialPipelineWorkload extends Workload {
  val checks = Seq("sparse_join_vs_brute_force", "dense_join_vs_brute_force",
    "tile_aggregate_vs_direct", "repeat_results_stable", "resume_matches_fresh",
    "lineage_sums_equal_committed_rows")
  val NBuckets = 16
  private val kinds = Seq("sparse", "tile", "dense", "fresh", "resume")

  def run(c: Ctx): Unit = {
    val sz = SpatialSetup.sizes(c)
    val in = SpatialSetup(c, math.max(sz.sparseAmp, sz.ckptAmp))
    val pagesOf = Map("sparse" -> in.nDocs * sz.sparseAmp, "tile" -> in.nDocs * sz.sparseAmp,
      "dense" -> in.nDocs * sz.denseAmp, "fresh" -> in.nDocs * sz.ckptAmp,
      "resume" -> in.nDocs * sz.ckptAmp)
    kinds.foreach(k => c.artifact(s"pages_$k") = pagesOf(k).toString)

    c.phase("setup_done")

    val walls = kinds.map(_ -> ArrayBuffer.empty[(Double, Boolean)]).toMap
    val ops = kinds.map(_ -> ArrayBuffer.empty[Op]).toMap
    val results = kinds.map(_ -> ArrayBuffer.empty[Seq[Any]]).toMap
    var timing = false
    def timed(kind: String, span: String)(body: => Seq[Any]): Unit = {
      c.attempted += 1
      val (r, op, wall) = c.op(c.spans(span) { body })
      if (timing) walls(kind) += ((wall, c.isTracing))
      op.foreach(ops(kind) += _)
      results(kind) += r
    }
    var written = (0L, 0L) // bytes and parquet files of the last fresh run
    // round 0 is the warm-up (JIT, codegen), not timed; its checkpointed
    // run is fresh only. The checkpointed cycle (seconds of commit
    // overhead) then runs once per tracing mode, in the last rounds
    val ckptRounds = if (c.opts.trace) Set(0, 3, 4) else Set(0, 2)
    def lineage(ls: Seq[Checkpointed.BucketLineage]) =
      ls.map(l => (l.bucket, l.nPages, l.nAssigned, l.textChecksum))
    def checkpointCycle(r: Int): Unit = {
      val dir = Paths.get(c.opts.scratch, s"ckpt-$r")
      val out = dir.toString
      val pages = in.sparsePages(in.docs, sz.ckptAmp)
      timed("fresh", "pipeline.run_assign") {
        val f = Checkpointed.runAssign(pages, in.cover, in.bounds, out, NBuckets)
        Seq(f.ranBuckets, lineage(f.lineage))
      }
      written = (treeBytes(dir.resolve("data")), treeFiles(dir.resolve("data")))
      if (timing) resumeAfterCrash(r, dir, pages)
      deleteTree(dir)
    }
    // a crash after the commit: half the bucket manifests are lost
    def resumeAfterCrash(r: Int, dir: Path, pages: DataFrame): Unit = {
      val out = dir.toString
      val dropped = new Random(c.opts.seed * 7919 + r).shuffle((0 until NBuckets).toList)
        .take(NBuckets / 2).sorted
      dropped.foreach(b => Files.delete(dir.resolve("_manifest").resolve(s"bucket-$b.json")))
      timed("resume", "pipeline.run_assign") {
        Seq(Checkpointed.runAssign(pages, in.cover, in.bounds, out, NBuckets).ranBuckets,
          lineage(Checkpointed.lineage(out)))
      }
      val after = results("resume").last
      c.check("resume_matches_fresh",
        after == Seq(dropped, results("fresh").last(1)),
        s"round $r resumed ${after.head} of $dropped; lineage equal: ${after(1) == results("fresh").last(1)}")
      val committed = c.spans("spark.action") { c.spark.read.parquet(s"$out/data").count() }
      val lineageRows = Checkpointed.lineage(out).map(_.nAssigned).sum
      c.check("lineage_sums_equal_committed_rows", lineageRows == committed,
        s"round $r lineage $lineageRows vs committed $committed")
    }
    SpatialSetup.rounds(c, minRounds = 2) { (r, isTimed) =>
      timing = isTimed
      timed("sparse", "spark.action") { Seq(in.assign(in.sparsePages(in.docs, sz.sparseAmp)).count()) }
      timed("tile", "spark.action") { Tile.aggregate(in.sparsePages(in.docs, sz.sparseAmp)).collect()(0).toSeq }
      timed("dense", "spark.action") { Seq(in.assign(in.densePages(in.docs, sz.denseAmp)).count()) }
      if (ckptRounds(r)) checkpointCycle(r)
    }
    c.setTracing(false)
    c.phase("timed_done")

    kinds.filterNot(_ == "resume").foreach(k => c.check("repeat_results_stable",
      results(k).distinct.size == 1, s"$k results differ across rounds: ${results(k).distinct}"))
    val (sPages, sAssigned, _) = in.checkAgainstBruteForce("sparse_join_vs_brute_force",
      in.sparsePages(in.sampleDocs(1), sz.sparseAmp))
    val (dPages, dAssigned, dViaFull) = in.checkAgainstBruteForce("dense_join_vs_brute_force",
      in.densePages(in.sampleDocs(2), sz.denseAmp))
    val tileSample = in.sparsePages(in.sampleDocs(1), sz.sparseAmp)
    val engineTile = c.spans("spark.action") { Tile.aggregate(tileSample).collect()(0).toSeq }
    val pts = tileSample.select("lon", "lat").collect().map(r => (r.getDouble(0), r.getDouble(1))).toSeq
    c.check("tile_aggregate_vs_direct", engineTile == Tile.direct(pts),
      s"engine $engineTile vs direct ${Tile.direct(pts)}")
    c.phase("checks_done")
    val committedRows = results("fresh").last(1).asInstanceOf[Seq[(Int, Long, Long, Long)]].map(_._3).sum
    c.artifact("sample_pages") = s"$sPages sparse, $dPages dense"
    c.artifact("sample_assigned") = s"$sAssigned sparse, $dAssigned dense"
    c.artifact("assigned_per_round") =
      s"${results("sparse").head.head} sparse, ${results("dense").head.head} dense, $committedRows checkpointed"

    // end to end: untraced operations only
    val plain = kinds.map(k => k -> walls(k).filterNot(_._2).map(_._1).toSeq).toMap
    val all = kinds.flatMap(plain)
    c.endToEnd("items_per_s") = kinds.map(k => pagesOf(k) * plain(k).size).sum.toDouble / all.sum
    c.endToEnd("op_p50_s") = Stats.percentile(all, 0.5)
    c.endToEnd("op_p90_s") = Stats.percentile(all, 0.9)
    c.artifact("ops_timed") = all.size.toString
    kinds.foreach(k => c.artifact(s"${k}_s") = plain(k).map(w => f"$w%.4f").mkString(","))
    def rate(k: String) = pagesOf(k) / Stats.median(plain(k))
    c.layer("workload.join_pages_per_s") = rate("sparse")
    c.layer("workload.tile_pages_per_s") = rate("tile")
    c.layer("workload.join_dense_pages_per_s") = rate("dense")
    c.layer("workload.ckpt_pages_per_s") = rate("fresh")
    c.layer("workload.resume_s") = Stats.median(plain("resume"))
    c.layer("pipeline.resume_work_ratio") = Stats.median(plain("resume")) / Stats.median(plain("fresh"))

    if (c.opts.trace) {
      SparkReport(c, kinds.flatMap(ops))
      val traced = kinds.flatMap(k => walls(k).filter(_._2).map(_._1))
      c.layer("trace.overhead_frac") = SparkReport.overhead(traced, all)
      def candidates(k: String) = Stats.mean(ops(k).flatMap(_.bhjRows.headOption).map(_.toDouble).toSeq)
      c.layer("index.probe_hit_ratio") = candidates("sparse") / pagesOf("sparse")
      c.layer("pipeline.candidates") = candidates("dense")
      c.layer("pipeline.refine_precision") =
        results("dense").head.head.asInstanceOf[Long] / math.max(1.0, candidates("dense"))
      c.layer("pipeline.full_share") = dViaFull.toDouble / math.max(1L, dAssigned)
      c.layer("pipeline.ckpt_jobs") = Stats.mean(ops("fresh").map(_.jobs.toDouble).toSeq)
      c.layer("sources.bytes_written") = written._1.toDouble
      c.layer("sources.files_written") = written._2.toDouble
      c.layer("sources.bytes_per_row") = written._1.toDouble / math.max(1L, committedRows)
      c.setTracing(true)
      val (_, _, gen) = c.op(c.spans("data.pages_gen") {
        in.sparsePages(in.docs, sz.sparseAmp).agg(sum(col("lon")), sum(col("lat"))).collect()
      })
      c.layer("data.pages_gen_s") = gen
      c.setTracing(false)
      Kernels(c, in)
    }
  }

  private def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else { val s = Files.walk(p); try s.iterator().asScala.toVector finally s.close() }

  private def treeBytes(p: Path): Long = walk(p).filter(Files.isRegularFile(_)).map(Files.size).sum
  private def treeFiles(p: Path): Long =
    walk(p).count(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")).toLong
  private def deleteTree(p: Path): Unit =
    walk(p).sortBy(-_.getNameCount).foreach(Files.deleteIfExists)
}
