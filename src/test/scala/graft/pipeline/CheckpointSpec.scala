package graft.pipeline

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry
import graft.data.{Courses, Pages}

/** Bucket-manifest resume: idempotent, exact, lineage-carrying (north rule
  * "resumable from checkpoint with per-partition lineage + metrics"). */
class CheckpointSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark = graft.expr.SparkTestSession.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val bounds = CourseEngine.boundaries(Courses.itemsDf(spark, SparkEntry.NCourses))
  private lazy val cover = SpatialJoin.coverDfFlat(bounds)
  private lazy val pages = Pages.pages(spark, sfDir, SparkEntry.Amp).cache()

  private def oneShot = SpatialJoin.assignPagesFlat(pages, cover, bounds)
    .select($"url", $"clubId", $"courseId", $"holeNumber")

  test("preempted run resumes where it committed; result equals one-shot") {
    val out = tempDir("graft-ckpt").toString
    val nBuckets = 8

    // invocation 1: budget of 3 buckets, then "preempted"
    val r1 = Checkpointed.runAssign(pages, cover, bounds, out, nBuckets, maxBuckets = 3)
    assert(r1.ranBuckets === Seq(0, 1, 2) && r1.skippedBuckets.isEmpty)
    assert(Checkpointed.completedBuckets(out) === Set(0, 1, 2))

    // invocation 2: finishes the rest, skipping committed buckets
    val r2 = Checkpointed.runAssign(pages, cover, bounds, out, nBuckets)
    assert(r2.skippedBuckets === Seq(0, 1, 2) && r2.ranBuckets === Seq(3, 4, 5, 6, 7))

    // invocation 3: no-op
    val r3 = Checkpointed.runAssign(pages, cover, bounds, out, nBuckets)
    assert(r3.ranBuckets.isEmpty && r3.skippedBuckets === (0 until nBuckets))

    val got = spark.read.parquet(s"$out/data")
      .select($"url", $"clubId", $"courseId", $"holeNumber")
    assert(got.count() === oneShot.count())
    assert(got.except(oneShot).count() === 0 && oneShot.except(got).count() === 0)

    // lineage: every bucket reported; totals reconcile; checksum = recompute
    val lin = Checkpointed.lineage(out)
    assert(lin.map(_.bucket) === (0 until nBuckets))
    assert(lin.map(_.nPages).sum === pages.count())
    assert(lin.map(_.nAssigned).sum === oneShot.count())
    val recomputed = spark.read.parquet(s"$out/data")
      .groupBy($"bucket").agg(expr("bit_xor(xxhash64(text))").as("cs"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    lin.filter(_.nAssigned > 0).foreach { l =>
      assert(recomputed(l.bucket) === l.textChecksum)
    }
  }

  test("any stage checkpoints: tile-mask rasterization resumes by hole bucket") {
    val out = tempDir("graft-ckpt3").toString
    val bexpr = pmod(xxhash64($"clubId", $"courseId", $"holeNumber"), lit(4))
    def stage(b: org.apache.spark.sql.DataFrame) =
      CourseEngine.tileMasks(b.drop("bucket"), zoom = 16).withColumn("bucket",
        pmod(xxhash64($"clubId", $"courseId", $"holeNumber"), lit(4)).cast("int"))
    val r1 = Checkpointed.runStage(bounds, bexpr, out, 4, maxBuckets = 2,
      checksumCol = "qk")(stage)
    assert(r1.ranBuckets === Seq(0, 1))
    val r2 = Checkpointed.runStage(bounds, bexpr, out, 4, checksumCol = "qk")(stage)
    assert(r2.ranBuckets === Seq(2, 3))
    val got = spark.read.parquet(s"$out/data")
      .select($"clubId", $"courseId", $"holeNumber", $"z", $"x", $"y", $"mask")
    val oneShot = CourseEngine.tileMasks(bounds, zoom = 16)
      .select($"clubId", $"courseId", $"holeNumber", $"z", $"x", $"y", $"mask")
    assert(got.count() === oneShot.count())
    assert(got.exceptAll(oneShot).count() === 0)
    assert(Checkpointed.lineage(out).map(_.nAssigned).sum === oneShot.count())
  }

  test("a half-written (uncommitted) bucket is rewritten cleanly on retry") {
    val out = tempDir("graft-ckpt2").toString
    val nBuckets = 4
    Checkpointed.runAssign(pages, cover, bounds, out, nBuckets)
    val expected = spark.read.parquet(s"$out/data")
      .select($"url", $"clubId", $"courseId", $"holeNumber").collect().toSet

    // simulate a crash AFTER bucket 1's data write but BEFORE its commit:
    // drop the manifest entry and corrupt the bucket's data to a subset
    Files.delete(Paths.get(out, "_manifest", "bucket-1.json"))
    val b1 = spark.read.parquet(s"$out/data").filter($"bucket" === 1).cache()
    val crippled = b1.limit(1).drop("bucket")
    crippled.withColumn("bucket", lit(1)).write
      .mode("overwrite").partitionBy("bucket")
      .option("partitionOverwriteMode", "dynamic").parquet(s"$out/data")
    b1.unpersist()

    val r = Checkpointed.runAssign(pages, cover, bounds, out, nBuckets)
    assert(r.ranBuckets === Seq(1))
    val got = spark.read.parquet(s"$out/data")
      .select($"url", $"clubId", $"courseId", $"holeNumber").collect().toSet
    assert(got === expected)
  }

  private def list(dir: Path): Seq[Path] = {
    val st = Files.list(dir)
    try st.iterator().asScala.toVector finally st.close()
  }

  test("a fresh run commits exactly one parquet file per bucket") {
    // the docs arrive in 4 splits, so every split holds rows of every
    // bucket: without the rebalance each bucket would get one file per split
    val out = tempDir("graft-ckpt4").toString
    val split = Pages.pages(spark, sfDir, SparkEntry.Amp, repartitionDocs = 4)
    Checkpointed.runAssign(split, cover, bounds, out, nBuckets = 8)
    val parts = list(Paths.get(out, "data"))
      .filter(_.getFileName.toString.startsWith("bucket="))
    assert(parts.nonEmpty)
    parts.foreach { p =>
      val files = list(p).map(_.getFileName.toString)
        .filter(f => f.endsWith(".parquet") && !f.startsWith("."))
      assert(files.size === 1, s"$p holds $files")
    }
  }

  test("the bucketed input hashes each url once; the stage re-derives nothing in a Filter") {
    // a plain `bucket` projection let Catalyst push the todo filter below
    // it, so each url was built and hashed in the Filter and again above it
    val out = tempDir("graft-ckpt6").toString
    var input: org.apache.spark.sql.DataFrame = null
    var staged: org.apache.spark.sql.DataFrame = null
    Checkpointed.runStage(Pages.pages(spark, sfDir, SparkEntry.Amp),
        pmod(xxhash64($"url"), lit(4)), out, nBuckets = 4) { b =>
      input = b
      staged = SpatialJoin.assignPagesFlat(b, cover, bounds)
      staged
    }
    val plan = input.queryExecution.optimizedPlan.toString
    assert("xxhash64\\(".r.findAllMatchIn(plan).size === 1, plan)
    staged.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition.toString
    }.foreach(c => assert(!c.contains("xxhash64(") && !c.contains("cell_id("), c))
  }

  test("a resume over an unseen todo set compiles no new code") {
    val out = tempDir("graft-ckpt5").toString
    val nBuckets = 8
    Checkpointed.runAssign(pages, cover, bounds, out, nBuckets) // warm-up: todo = 0..7
    Seq(2, 5).foreach(b => Files.delete(Paths.get(out, "_manifest", s"bucket-$b.json")))
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val r = Checkpointed.runAssign(pages, cover, bounds, out, nBuckets)
    assert(r.ranBuckets === Seq(2, 5))
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before === 0L)
  }
}
