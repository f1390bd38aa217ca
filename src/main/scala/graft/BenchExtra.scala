package graft

import org.apache.spark.sql.SparkSession

/**
 * Round-6 optimization harness (guide §1): time a SUBSET of
 * `SparkEntry.queries` with the noop sink so the computation — not the
 * count()-pruned plan or the sink — is what's measured, and optionally
 * dump `.explain("formatted")` per query for the plans/r06 artifacts.
 *
 * NOT part of the driver contract: `graft.Bench` (frozen) remains the
 * artifact of record; this main exists so per-query before/after numbers
 * in OPTIMIZATION_r06.md are reproducible.
 *
 * Usage:
 *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
 *     sbt "runMain graft.BenchExtra [--runs N] [--noop] [--explain DIR_SUFFIX] q75 q98 ..."
 *
 * A query arg names the query itself or its number: `q75` or
 * `q75_knn_boundary` both select q75_knn_boundary, and `q11` selects
 * q11_* only, never q110_*; an arg that selects nothing is an error.
 * With --noop the timed action is a noop-sink write (every column of
 * every row computed); default is the driver's `count()` action for
 * comparability with Bench. A query that throws prints
 * `[benchextra] <name> FAILED: <message>`, is left out of `total_min`,
 * and the run goes on; the exit status is nonzero if any query failed.
 */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    var runs = 3
    var noop = false
    var explainDir: Option[String] = None
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--runs" => runs = args(i + 1).toInt; i += 2
        case "--noop" => noop = true; i += 1
        case "--explain" => explainDir = Some(args(i + 1)); i += 2
        case q => names += q; i += 1
      }
    }
    val all = SparkEntry.queries
    val selected =
      if (names.isEmpty) all.keys.toSeq.sorted
      else names.toSeq.map { n =>
        all.keys.find(k => k == n || k.startsWith(n + "_")).getOrElse(
          sys.error(s"no query matches $n"))
      }
    val spark = Bench.session(cpus)
    def runOnce(name: String): Double = {
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      val df = all(name)(spark, sfDir)
      if (noop) df.write.format("noop").mode("overwrite").save() else df.count()
      (System.nanoTime() - t0) / 1e9
    }
    def measure(name: String): Double = {
      explainDir.foreach { dir =>
        val df = all(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val p = java.nio.file.Paths.get(dir)
        java.nio.file.Files.createDirectories(p)
        java.nio.file.Files.write(p.resolve(s"$name.txt"),
          txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      val times = (1 to runs).map(_ => runOnce(name))
      println(f"[benchextra] $name%-32s min=${times.min}%8.3f  med=${times.sorted.apply(times.length / 2)}%8.3f  all=${times.map(t => f"$t%.3f").mkString(",")}")
      times.min
    }
    val results = selected.flatMap { name =>
      try Some(name -> measure(name)) catch {
        case e: Exception => println(s"[benchextra] $name FAILED: ${e.getMessage}"); None
      }
    }
    println("[benchextra] total_min=" + f"${results.map(_._2).sum}%.3f")
    spark.stop()
    if (results.size < selected.size) sys.exit(1)
  }
}
