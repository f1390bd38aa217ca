package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/**
 * Bucket-manifest checkpointing for the BATCH pipeline (north rule:
 * "resumable from checkpoint with per-partition lineage + metrics").
 *
 * The reference is implicitly resumable: a rerun overwrites per-hole PNGs
 * idempotently and skips nothing (`/root/reference/src/main/main.js:183-194`
 * kills mid-run; partial outputs persist). This module makes that explicit
 * and exact: the url-space is hash-partitioned into `nBuckets` buckets,
 * each bucket's join output is committed via dynamic partition overwrite
 * (a half-written bucket is fully rewritten on retry — never duplicated),
 * and a one-file-per-bucket manifest records completion plus lineage
 * metrics: input rows, output rows, wall ms, and the xor-of-hashes text
 * checksum that carries the byte-identity invariant (`input_hint`).
 *
 * At 10^12 rows each "bucket" is the resume unit a scheduler retries —
 * orders of magnitude coarser than tasks (Spark retries those itself),
 * fine enough that a preempted cluster loses minutes, not days.
 *
 * Layout: one file per committed bucket, sized by the bucket's data, not
 * by the number of upstream splits. The stage output is rebalanced on
 * `bucket` before the partitioned write, so each bucket lands in one
 * write task instead of one file per (input split, bucket) pair (16 × 16
 * = 256 small files for a 16-split, 16-bucket run). Under AQE the
 * REBALANCE coalesces small buckets into one task and splits an oversized
 * bucket into advisory-size files, so a huge bucket is never funnelled
 * through a single task the way `repartition(bucket)` would. The shuffle
 * moves only the stage OUTPUT, never its input.
 *
 * The todo-bucket predicate (input filter and committed read-back) is ONE
 * array literal, `array_contains(<todo>, bucket)`, not `bucket IN (b1,
 * ..., bn)`: the array reaches generated code as a reference object, so
 * the whole-stage code is byte-identical for every todo set and a resume
 * reuses the code compiled by the run before it instead of paying a
 * Janino compile and a cold JIT per pass. The read-back still prunes
 * partitions — the predicate references only the partition column.
 */
object Checkpointed {

  /** `invocationWallMs` is the WALL TIME OF THE WHOLE INVOCATION that
    * committed this bucket (buckets of one run share a job, so per-bucket
    * wall isn't separable without serializing them) — named for what it
    * is rather than misattributing invocation time to each bucket. */
  final case class BucketLineage(bucket: Int, nPages: Long, nAssigned: Long,
                                 textChecksum: Long, invocationWallMs: Long)

  final case class RunSummary(ranBuckets: Seq[Int], skippedBuckets: Seq[Int],
                              lineage: Seq[BucketLineage])

  private def manifestDir(outDir: String): Path = Paths.get(outDir, "_manifest")

  private def listManifest(outDir: String): Seq[Path] = {
    val dir = manifestDir(outDir)
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.toVector finally s.close()
    }
  }

  /** Buckets already committed (manifest entry exists). */
  def completedBuckets(outDir: String): Set[Int] =
    listManifest(outDir)
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("bucket-") && s.endsWith(".json") =>
        s.stripPrefix("bucket-").stripSuffix(".json").toInt }
      .toSet

  /** Lineage rows parsed back from the manifest (the `_metrics` analog of
    * SURVEY.md §2.1 S6). */
  def lineage(outDir: String): Seq[BucketLineage] =
    listManifest(outDir)
      .filter(p => p.getFileName.toString.startsWith("bucket-"))
      .map { p =>
        val m = Files.readString(p).trim
        def fOpt(k: String): Option[Long] =
          ("\"" + k + "\":(-?\\d+)").r.findFirstMatchIn(m).map(_.group(1).toLong)
        def f(k: String): Long = fOpt(k).get
        BucketLineage(f("bucket").toInt, f("n_pages"), f("n_assigned"),
          f("text_checksum"),
          // manifests written before the rename carry "wall_ms" — a resume
          // over an old checkpoint dir must keep parsing them
          fOpt("invocation_wall_ms").orElse(fOpt("wall_ms")).getOrElse(0L))
      }.sortBy(_.bucket)

  /**
   * Run (or resume) ANY bucketed stage: `stage` maps the not-yet-committed
   * slice of the input (which carries a `bucket` column the stage must
   * PRESERVE) to its output. Already-manifested buckets are not read,
   * transformed, or written again — the filter on the bucket column prunes
   * them before the stage runs. Returns this run's per-bucket lineage.
   *
   * `checksumCol`: output column whose xor-of-hashes checksum lands in the
   * manifest (the byte-identity invariant column; any column works).
   */
  def runStage(input: DataFrame, bucketExpr: Column, outDir: String,
               nBuckets: Int, maxBuckets: Int = Int.MaxValue,
               checksumCol: String = "text")
              (stage: DataFrame => DataFrame): RunSummary = {
    val spark = input.sparkSession
    val done = completedBuckets(outDir)
    val all = 0 until nBuckets
    // `maxBuckets` bounds one invocation's work — the incremental/preempted
    // operation mode; the next invocation picks up where this one committed
    val todo = all.filterNot(done).take(maxBuckets)
    if (todo.isEmpty) return RunSummary(Nil, done.toSeq.sorted, lineage(outDir))

    // one literal for any todo set: identical generated code on every resume
    val inTodo = array_contains(typedLit(todo.toArray), col("bucket"))
    // the bucket is a one-element explode's output: Catalyst keeps a filter
    // on a generator's output above the Generate, so each row is hashed
    // once (under a plain projection the todo filter is pushed below it,
    // with the whole bucket expression substituted into the Filter)
    val bucketed = input
      .withColumn("bucket", explode(array(bucketExpr.cast("int"))))
      .filter(inTodo)

    val t0 = System.nanoTime()
    // input-side lineage (counted on the same pass shape as the stage input)
    val inCounts = bucketed.groupBy(col("bucket")).agg(count(lit(1)).as("n_pages"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

    val staged = stage(bucketed)

    // pre-truncate every todo bucket's data partition: dynamic overwrite
    // only rewrites partitions PRESENT in this write, so a crashed
    // attempt's partial files for a bucket whose retry legitimately
    // produces ZERO rows would otherwise survive as committed-looking data
    todo.foreach(b =>
      graft.sources.Storage.deleteRecursively(Paths.get(outDir, "data", s"bucket=$b")))

    // dynamic partition overwrite, scoped to THIS write via option (never
    // mutates the shared session conf): only the buckets present in the
    // write are replaced — other buckets' committed data is untouched.
    // The rebalance puts each bucket in one write task: one file per bucket
    staged.hint("rebalance", col("bucket")).write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket")
      .parquet(s"$outDir/data")

    val wallMs = (System.nanoTime() - t0) / 1000000
    // output-side lineage from what was actually committed
    val outStats = spark.read.parquet(s"$outDir/data")
      .filter(inTodo)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_assigned"),
        // xor-fold of row hashes is order/partitioning independent (and
        // cannot overflow) — the same checksum at any parallelism level
        expr(s"bit_xor(xxhash64($checksumCol))").as("text_checksum"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap

    val dir = manifestDir(outDir)
    Files.createDirectories(dir)
    val ran = todo.map { b =>
      val (nAssigned, checksum) = outStats.getOrElse(b, (0L, 0L))
      val lin = BucketLineage(b, inCounts.getOrElse(b, 0L), nAssigned, checksum, wallMs)
      val tmp = dir.resolve(s".bucket-$b.json.tmp")
      Files.writeString(tmp,
        s"""{"bucket":${lin.bucket},"n_pages":${lin.nPages},"n_assigned":${lin.nAssigned},""" +
          s""""text_checksum":${lin.textChecksum},"invocation_wall_ms":${lin.invocationWallMs}}""")
      // atomic rename = the bucket's commit point
      Files.move(tmp, dir.resolve(s"bucket-$b.json"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      lin
    }
    RunSummary(todo, done.toSeq.sorted, ran)
  }

  /** The flagship assignment as a checkpointed stage: url-hash buckets,
    * text checksum. */
  def runAssign(pages: DataFrame, cover: DataFrame, bounds: DataFrame,
                outDir: String, nBuckets: Int,
                maxBuckets: Int = Int.MaxValue): RunSummary =
    runStage(pages, pmod(xxhash64(col("url")), lit(nBuckets)), outDir,
      nBuckets, maxBuckets) { bucketed =>
      SpatialJoin.assignPagesFlat(bucketed, cover, bounds)
    }
}
