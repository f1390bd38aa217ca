package graft

import org.apache.spark.sql.SparkSession

/**
 * Two-cluster-size scaling evidence (BASELINE.json north_rule; no real
 * cluster in the sandbox, so N vs 4N executors is proxied by local[8] vs
 * local[32] on the SAME input): run the flagship spatial join + tile
 * assignment at both parallelism levels, report throughput at each and
 * efficiency = (throughput@32 / throughput@8) / 4.
 *
 * Usage: runMain graft.ScalingBench [sfDir] [amplify] [repeats]
 * Prints one JSON line; BENCH.md records the round's numbers.
 */
object ScalingBench {

  /** Warm-up run (JIT the same generated code: identical plan constants),
    * then `repeats` timed runs of [[Bench.flagship]]: (pages, best join
    * seconds, best tile seconds). */
  private def bestFlagship(spark: SparkSession, sfDir: String, amplify: Int, repeats: Int,
                   parts: Int): (Long, Double, Double) = {
    Bench.flagship(spark, sfDir, amplify, parts)
    val runs = Seq.fill(repeats)(Bench.flagship(spark, sfDir, amplify, parts))
    (runs.last._1, runs.map(_._2).min, runs.map(_._3).min)
  }

  def measure(cpus: Int, sfDir: String, amplify: Int, repeats: Int):
      (Long, Double, Double, Long, Double) = {
    val spark = Bench.session(cpus.toString)
    try {
      val (nPages, bestJoin, bestTile) = bestFlagship(spark, sfDir, amplify, repeats, cpus * 4)
      Bench.flagshipDense(spark, sfDir, amplify / 10, parts = cpus * 4)
      val dense = Seq.fill(repeats)(Bench.flagshipDense(spark, sfDir, amplify / 10, parts = cpus * 4))
      val nDense = dense.last._1
      (nPages, nPages / bestJoin, nPages / bestTile, nDense, nDense / dense.map(_._2).min)
    } finally spark.stop()
  }

  /** Seconds of a pure-compute (no-IO, no-shuffle, no-allocation)
    * codegen'd sin·cos fold over `n` ids in `parts` partitions, after a
    * warm-up fold over n/10. */
  private def ceilingFold(spark: SparkSession, n: Long, parts: Int): Double = {
    spark.range(0, n / 10, 1, parts)
      .selectExpr("sum(sin(id * 1e-9) * cos(id * 1e-9))").collect()
    val t0 = System.nanoTime()
    spark.range(0, n, 1, parts)
      .selectExpr("sum(sin(id * 1e-9) * cos(id * 1e-9))").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** The host's own scaling ceiling for this cpu pair: the [[ceilingFold]]
    * at each parallelism level. On shared/turbo hardware this is < the
    * core ratio; the engine can't exceed it, so normalized efficiency =
    * raw efficiency / ceiling efficiency is the engine's contribution
    * isolated from the host's. */
  def computeCeiling(cpusA: Int, cpusB: Int, n: Long): (Double, Double) = {
    def run(cpus: Int): Double = {
      val spark = Bench.session(cpus.toString)
      try ceilingFold(spark, n, cpus * 4) finally spark.stop()
    }
    val tA = run(cpusA); val tB = run(cpusB)
    (tA / tB, (tA / tB) / (cpusB.toDouble / cpusA))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val amplify = if (args.length > 1) args(1).toInt else 40000
    val repeats = if (args.length > 2) args(2).toInt else 3
    val cpusA = if (args.length > 3) args(3).toInt else 8
    val cpusB = if (args.length > 4) args(4).toInt else 32
    val ratio = cpusB.toDouble / cpusA
    val (nA, joinA, tileA, dA, denseA) = measure(cpusA, sfDir, amplify, repeats)
    val (nB, joinB, tileB, dB, denseB) = measure(cpusB, sfDir, amplify, repeats)
    require(nA == nB && dA == dB, "same input required at both parallelism levels")
    val (ceilSpeedup, ceilEff) = computeCeiling(cpusA, cpusB, 2000000000L)
    def eff(b: Double, a: Double) = (b / a) / ratio
    println(
      s"""{"metric":"scaling","pages":$nA,"dense_pages":$dA,"sf":"$sfDir","amplify":$amplify,""" +
        s""""cpus_a":$cpusA,"cpus_b":$cpusB,""" +
        s""""join_pages_per_sec_a":${joinA.toLong},"join_pages_per_sec_b":${joinB.toLong},""" +
        s""""join_scaling_efficiency":${"%.3f".format(eff(joinB, joinA))},""" +
        s""""dense_join_pages_per_sec_a":${denseA.toLong},"dense_join_pages_per_sec_b":${denseB.toLong},""" +
        s""""dense_join_scaling_efficiency":${"%.3f".format(eff(denseB, denseA))},""" +
        s""""tile_pages_per_sec_a":${tileA.toLong},"tile_pages_per_sec_b":${tileB.toLong},""" +
        s""""tile_scaling_efficiency":${"%.3f".format(eff(tileB, tileA))},""" +
        s""""host_compute_ceiling_speedup":${"%.2f".format(ceilSpeedup)},""" +
        s""""host_compute_ceiling_efficiency":${"%.3f".format(ceilEff)},""" +
        s""""join_efficiency_vs_ceiling":${"%.3f".format(eff(joinB, joinA) / ceilEff)},""" +
        s""""dense_join_efficiency_vs_ceiling":${"%.3f".format(eff(denseB, denseA) / ceilEff)},""" +
        s""""tile_efficiency_vs_ceiling":${"%.3f".format(eff(tileB, tileA) / ceilEff)}}""")
  }
}
