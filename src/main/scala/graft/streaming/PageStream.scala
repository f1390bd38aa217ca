package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._

import graft.pipeline.SpatialJoin

/**
 * Structured-Streaming form of the engine (SURVEY.md §2.9 T1-T3).
 *
 * The reference streams per-hole completion events over a stdout pipe
 * (`/root/reference/src/python/plot_courses.py:317`) that the Electron
 * shell consumes incrementally (`/root/reference/src/main/main.js:136-151`)
 * and can cancel with SIGTERM, resuming by idempotent rerun
 * (`main.js:183-194`). Here that becomes: a file-source micro-batch stream
 * of page batches, the same broadcast cover-join per batch (stateless),
 * exactly-once resume from the streaming checkpoint (the principled form
 * of the reference's rerun-overwrite idempotence), and per-batch progress
 * events via [[StreamingQueryListener]] instead of stdout lines.
 */
object PageStream {

  /** Input schema — the BASELINE.json `input_hint` page shape + geocode. */
  val pageSchema: StructType = StructType(Seq(
    StructField("page_id", LongType),
    StructField("url", StringType),
    StructField("warc_ts", TimestampType),
    StructField("html", BinaryType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("lon", DoubleType),
    StructField("lat", DoubleType)))

  /** Unbounded pages table over a directory of parquet batch files. */
  def pagesStream(spark: SparkSession, inputDir: String, maxFilesPerTrigger: Int = 4): DataFrame =
    spark.readStream
      .schema(pageSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inputDir)

  /**
   * T1 — the flagship spatial join as an incremental query: each
   * micro-batch of pages is cover-probed and PIP-refined against the
   * broadcast polygon index (stateless — no watermark or state store
   * needed), appended to `outDir`. `Trigger.AvailableNow` drains whatever
   * input exists then stops, which makes stop/resume deterministic to
   * test; production would run the default continuous micro-batch trigger.
   *
   * Exactly-once: the file-source offsets + parquet sink commit log live
   * in `checkpointDir`, so a killed query (T2 cancellation) restarted with
   * the same checkpoint reprocesses nothing and loses nothing.
   */
  def assignQuery(pages: DataFrame, cover: DataFrame, bounds: DataFrame,
                  outDir: String, checkpointDir: String): StreamingQuery =
    SpatialJoin.assignPagesFlat(pages, cover, bounds)
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming exact dedup — the stream form of q20's exact dedup: drop
    * pages whose `text` was already seen within the watermark horizon.
    * State-store-backed, and the watermark AGES DUPLICATE KEYS OUT of
    * state instead of letting it grow with the stream — the property
    * that makes continuous dedup feasible over an unbounded 10^12-row
    * crawl (an unbounded `dropDuplicates` would hold every key forever). */
  def dedupStream(pages: DataFrame, watermark: String = "1 hour"): DataFrame =
    pages
      .withWatermark("warc_ts", watermark)
      .dropDuplicatesWithinWatermark("text")

  /**
   * Watermarked STREAM-STREAM inner join: pages joined to crawl-budget
   * grants for the same host, where the page was fetched within
   * `validFor` after the grant was issued. Both sides carry watermarks
   * AND the join condition bounds event-time distance, which is exactly
   * what lets Spark evict join state: a buffered grant older than
   * (watermark - validFor) can never match a future page, so the state
   * store drops it — state is bounded by the horizon, not stream length.
   * Inner-join matches emit as soon as both sides arrive (no
   * finalization wait). `budgets` needs `(host, grant_id, issued_ts)`.
   */
  def pagesWithBudget(pages: DataFrame, budgets: DataFrame,
                      watermark: String = "2 hours",
                      validFor: String = "1 hour"): DataFrame = {
    val p = pages
      .select(graft.pipeline.Urls.host(col("url")).as("p_host"),
        col("url"), col("warc_ts"))
      .withWatermark("warc_ts", watermark)
    val b = budgets
      .select(col("host"), col("grant_id"), col("issued_ts"))
      .withWatermark("issued_ts", watermark)
    p.join(b,
      col("p_host") === col("host") &&
        col("warc_ts") >= col("issued_ts") &&
        col("warc_ts") < col("issued_ts") + expr(s"INTERVAL $validFor"))
      .select(col("url"), col("warc_ts"), col("host"), col("grant_id"))
  }

  /** Event-time tumbling-window counts with a watermark — the streaming
    * form of q17; rows later than the watermark are dropped, finalized
    * windows emit exactly once in append mode. */
  def windowedCounts(pages: DataFrame, watermark: String = "1 hour",
                     width: String = "1 hour"): DataFrame =
    pages
      .withWatermark("warc_ts", watermark)
      // the window struct itself must be the grouping key: that is what
      // carries the event-time metadata the watermark finalizes against
      .groupBy(window(col("warc_ts"), width), col("lang"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("wstart"), col("lang"), col("n"))

  /** One progress event per completed micro-batch — the analog of the
    * reference's `"Generated image: <path>"` lines. */
  final case class Progress(batchId: Long, numInputRows: Long, sink: String)

  /**
   * T1 consumer side: a listener that turns query progress into the same
   * line protocol the reference's Electron shell parsed, plus a queue the
   * embedding application can drain (the `update-preview` analog).
   */
  final class ProgressLog(quiet: Boolean = true) extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[Progress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = Progress(e.progress.batchId, e.progress.numInputRows, e.progress.sink.description)
      events.add(p)
      if (!quiet) println(s"Generated batch: ${p.batchId} rows=${p.numInputRows}")
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Schema of the `_metrics` lineage log. */
  val metricsSchema: StructType = StructType(Seq(
    StructField("batch_id", LongType),
    StructField("num_input_rows", LongType),
    StructField("event_ts", StringType),
    StructField("query_id", StringType)))

  /**
   * S6 made durable: every micro-batch APPENDS ONE JSON LINE to a single
   * `_metrics/metrics.jsonl` log (batch id, rows, event timestamp, query
   * id) — the queryable form of the reference's progress lines, and the
   * stream counterpart of [[graft.pipeline.Checkpointed]]'s per-bucket
   * manifest. A driver-side O_APPEND line write, NOT a parquet write per
   * event: at production cadence (a micro-batch every few seconds for
   * months) one-file-per-batch is a small-files explosion that kills the
   * downstream listing; a line-appended log stays one file and Spark's
   * json source reads it with an explicit schema (no inference pass).
   */
  final class MetricsSink(spark: SparkSession, metricsDir: String)
      extends StreamingQueryListener {
    private val dir = java.nio.file.Paths.get(metricsDir)
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      java.nio.file.Files.createDirectories(dir)
      val line =
        s"""{"batch_id":${e.progress.batchId},"num_input_rows":${e.progress.numInputRows},""" +
          s""""event_ts":"${e.progress.timestamp}","query_id":"${e.progress.id}"}""" + "\n"
      java.nio.file.Files.write(dir.resolve("metrics.jsonl"),
        line.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** T3 — the reference renderer keeps only the most recent handful of
    * previews (`renderer.js:35`); relational form: last `n` batches. */
  def recentBatches(spark: SparkSession, metricsDir: String, n: Int = 5): DataFrame =
    spark.read.schema(metricsSchema).json(metricsDir)
      .orderBy(col("batch_id").desc, col("event_ts").desc)
      .limit(n)
}
