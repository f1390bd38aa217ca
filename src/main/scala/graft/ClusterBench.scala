package graft

import org.apache.spark.sql.SparkSession

/**
 * spark-submit entry for the MULTI-EXECUTOR scaling evidence (north rule:
 * "run via spark-submit on a multi-executor cluster at two cluster sizes
 * (N and 4N executors)"). Unlike [[ScalingBench]] (thread-count proxy,
 * `local[N]`), this main takes its master FROM spark-submit, so under
 * `--master local-cluster[E,C,mem]` the flagship join runs against E
 * REAL executor JVMs with separate heaps, serialized broadcasts, and
 * netty shuffle — the closest thing to a cluster this sandbox can host.
 *
 *   /opt/spark/bin/spark-submit --master 'local-cluster[2,4,4096]' \
 *     --class graft.ClusterBench target/scala-2.13/<jar> [sfDir] [amplify] [repeats]
 *
 * Prints one JSON line per invocation; `tools/spark_submit_scaling.py`
 * runs the N and 4N invocations and derives the efficiency.
 */
object ClusterBench {

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val amplify = if (args.length > 1) args(1).toInt else 40000
    val repeats = if (args.length > 2) args(2).toInt else 3
    val spark = SparkSession.builder() // master comes from spark-submit
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.registerAll(spark)
    // local-cluster executors register ASYNCHRONOUSLY after the context
    // comes up; sampling defaultParallelism (or launching the warmup)
    // before they join would partition the whole run for the driver's
    // cores only — wait for the master-string executor count to appear
    // in the block-manager census (driver + one entry per executor JVM)
    val masterSpec = "local-cluster\\[\\s*(\\d+)\\s*,\\s*(\\d+)\\s*,.*".r
    val expected = spark.sparkContext.master match {
      case masterSpec(e, c) => Some((e.toInt, c.toInt))
      case _                => None
    }
    expected.foreach { case (e, _) =>
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (spark.sparkContext.getExecutorMemoryStatus.size - 1 < e &&
             System.nanoTime() < deadline) Thread.sleep(200)
    }
    val execs = spark.sparkContext.getExecutorMemoryStatus.size - 1
    val cores = expected.map { case (e, c) => e * c }
      .getOrElse(spark.sparkContext.defaultParallelism)
    require(expected.forall { case (e, _) => execs >= e },
      s"only $execs of ${expected.get._1} executors registered within 120s")
    val (nPages, bestJoin, bestTile) =
      ScalingBench.bestFlagship(spark, sfDir, amplify, repeats, parts = cores * 4)
    // the host's pure-compute ceiling sample for THIS topology — lets the
    // two-invocation comparison normalize out shared-host turbo/contention
    // exactly like ScalingBench does
    val ceilSec = ScalingBench.ceilingFold(spark, 2000000000L, cores * 4)
    println(
      s"""{"metric":"cluster_bench","master":"${spark.sparkContext.master}",""" +
        s""""executors":$execs,"total_cores":$cores,"pages":$nPages,""" +
        s""""join_pages_per_sec":${(nPages / bestJoin).toLong},""" +
        s""""tile_pages_per_sec":${(nPages / bestTile).toLong},""" +
        s""""compute_ceiling_sec":${"%.3f".format(ceilSec)}}""")
    spark.stop()
  }
}
