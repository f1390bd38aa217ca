package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{functions => gf}

/**
 * Cell-clustered storage layout evidence (r4 verdict item 5): pages
 * written sorted by cell_id read back through manifest-stat pruning —
 * a cell-range query reads a STRICT SUBSET of the files (Iceberg's
 * scan-planning contract), the parquet scan carries the pushed range
 * filter (row-group pruning within surviving files), and the pruned
 * read returns exactly what an unpruned filter returns. PLANS.md §12
 * documents the plan extract.
 */
class ClusteredLayoutSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark = graft.expr.SparkTestSession.spark
  import spark.implicits._

  private val NFiles = 16

  private lazy val (tableDir, stats) = {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pages = graft.data.Pages.fromDocs(docs, amplify = 4)
      .withColumn("cell", gf.cell_id($"lon", $"lat", lit(11)))
      .select($"url", $"lon", $"lat", $"cell")
    val dir = tempDir("graft_clustered").toString
    val st = Storage.writeClustered(pages, dir, "cell", NFiles)
    (dir, st)
  }

  test("clustering produced key-disjoint files with stats covering every row") {
    assert(stats.length === NFiles)
    assert(stats.map(_.rows).sum === spark.read.parquet(s"$tableDir/data").count())
    // range partitioning => files overlap at most at boundaries: sorted by
    // min, each file's min must be >= the previous file's max (allowing
    // equality — range boundaries can split a repeated key)
    val sorted = stats.sortBy(_.min)
    sorted.sliding(2).foreach {
      case Seq(a, b) => assert(b.min >= a.max,
        s"files overlap beyond a boundary key: ${a} vs ${b}")
      case _ =>
    }
  }

  test("a cell-range query plans a strict subset of files and returns exact results") {
    // probe range: one middle file's exact key span
    val mid = stats.sortBy(_.min).apply(NFiles / 2)
    val (lo, hi) = (mid.min, mid.max)
    val planned = Storage.planKeyRange(tableDir, lo, hi)
    assert(planned.nonEmpty && planned.size < NFiles,
      s"pruning read ${planned.size} of $NFiles files")
    // boundary-key sharing means at most a couple of neighbors join in
    assert(planned.size <= 3, s"pruned set unexpectedly wide: $planned")
    val pruned = Storage.readKeyRange(spark, tableDir, "cell", lo, hi)
      .select($"url").as[String].collect().sorted
    val full = spark.read.parquet(s"$tableDir/data")
      .filter($"cell" >= lo && $"cell" <= hi)
      .select($"url").as[String].collect().sorted
    assert(pruned.toSeq === full.toSeq)
    assert(pruned.nonEmpty)
    // an out-of-range query plans ZERO files (metadata-only no-op)
    assert(Storage.planKeyRange(tableDir, stats.map(_.max).max + 1, Long.MaxValue).isEmpty)
  }

  test("the range filter is pushed into the parquet scan (row-group pruning within files)") {
    val mid = stats.sortBy(_.min).apply(NFiles / 2)
    val plan = Storage.readKeyRange(spark, tableDir, "cell", mid.min, mid.max)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("PushedFilters"), plan.take(2000))
    assert(plan.contains("GreaterThanOrEqual(cell") && plan.contains("LessThanOrEqual(cell"),
      plan.take(2000))
  }
}
