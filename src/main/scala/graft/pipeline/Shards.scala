package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Training-shard MATERIALIZATION (r4 verdict item 3): q69 assigns docs to
 * token-budget batches; this module emits the shard ARTIFACT — per
 * (shard, batch) one binary blob of big-endian uint16 token ids, docs in
 * doc_id order, each doc's tokens in position order. The training-data
 * analog of the reference's one-file-per-key PNG sink
 * (`/root/reference/src/python/plot_courses.py:309-316`).
 *
 * Vocabulary is TRAINED from the corpus (rank by count desc, token) and
 * capped at `maxVocab` (<= 65535 so ids fit 2 bytes); out-of-vocab tokens
 * encode as UNK = 0 — the cap is what keeps the id table broadcast-able
 * at any corpus size (the vocab ranking window runs over the AGGREGATED
 * vocab table, never the corpus). Blob bytes are deterministic at any
 * partitioning: the only order-sensitive step is the per-batch concat,
 * which sorts by doc_id inside the aggregation.
 *
 * Durable writes go through [[Checkpointed.runStage]] (shard = resume
 * bucket): a preempted run recommits only missing shards, with per-shard
 * lineage + blob checksums in the manifest.
 */
object Shards {

  val Unk = 0

  /** (doc_id, pos, tok) — q69's whitespace tokenization, positions kept. */
  def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      posexplode(Quality.tokens(col("text"))).as(Seq("pos", "tok")))

  /** Trained id table `(tok, tid)`: rank 1..maxVocab by (count desc,
    * token), everything rarer -> [[Unk]]. The window's input is the
    * vocab-sized aggregate (one row per distinct token), so the single
    * window partition holds the MODEL, not the corpus. */
  def vocab(docs: DataFrame, maxVocab: Int = 65535): DataFrame = {
    require(maxVocab >= 1 && maxVocab <= 65535,
      s"maxVocab must fit uint16 with 0 reserved for UNK, got $maxVocab")
    tokens(docs).groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(Window.orderBy(col("n").desc, col("tok"))))
      .select(col("tok"),
        when(col("rn") <= maxVocab, col("rn")).otherwise(lit(Unk)).as("tid"))
  }

  /** Per-doc encoded payload as a hex string (4 hex chars = one uint16
    * id per token, position order): `(doc_id, n_toks, doc_hex)`. Hex —
    * not bytes — so the per-batch concat stays an order-aware string
    * aggregation both engines express identically; unhex happens once at
    * the end. Tokens missing from `vc` (scoring a different corpus than
    * the vocab was trained on) encode as UNK. */
  def docTokenHex(docs: DataFrame, vc: DataFrame): DataFrame =
    tokens(docs)
      .join(broadcast(vc), Seq("tok"), "left")
      .select(col("doc_id"), col("pos"),
        coalesce(col("tid"), lit(Unk)).as("tid"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tid")))),
          s => lpad(hex(s("tid")), 4, "0")), "").as("doc_hex"))

  /** The shard artifact frame over an EXPLICIT id table `vc` — the form
    * the resumable sink needs (vocab trained once on the full corpus,
    * blobs recomputed per resume slice). */
  def batchBlobsWith(docs: DataFrame, vc: DataFrame, budget: Long,
                     nShards: Int): DataFrame = {
    val dh = docTokenHex(docs, vc)
    Packing.tokenBatchAssignments(docs, budget, nShards)
      .join(dh.select(col("doc_id"), col("doc_hex")), Seq("doc_id"))
      .groupBy(col("shard"), col("batch_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("total_tokens"),
        unhex(array_join(transform(
          array_sort(collect_list(struct(col("doc_id"), col("doc_hex")))),
          s => s("doc_hex")), "")).as("blob"))
  }

  /** The shard artifact frame: one row per (shard, batch_id) with the
    * concatenated token-id BLOB plus its manifest stats. Vocab trains on
    * `docs` itself (the q90 split pattern applies when a separate
    * trusted split should train it). */
  def batchBlobs(docs: DataFrame, budget: Long, nShards: Int = 0,
                 maxVocab: Int = 65535): DataFrame =
    batchBlobsWith(docs, vocab(docs, maxVocab), budget, nShards)

  /** Durable, resumable shard sink: partitioned parquet of blob rows,
    * shard = resume bucket, blob checksum in the per-shard manifest.
    * Returns the run summary (ran/skipped shards + lineage).
    *
    * The vocab is trained ONCE on the full corpus and localized BEFORE
    * bucketing — a vocab trained per resume slice would encode the same
    * token to different ids across invocations and the artifact would
    * depend on the preemption history. */
  def writeShards(docs: DataFrame, outDir: String, budget: Long,
                  nShards: Int, maxVocab: Int = 65535,
                  maxShardsPerRun: Int = Int.MaxValue): Checkpointed.RunSummary = {
    val vc = graft.sources.Storage.localize(vocab(docs, maxVocab))
    Checkpointed.runStage(docs, Packing.shardOf(col("doc_id"), nShards),
      outDir, nShards, maxShardsPerRun, checksumCol = "blob") { bucketed =>
      // the bucket column IS the packing shard (same hash) — the resume
      // slice contains WHOLE shards, and batch ids within a shard depend
      // only on that shard's docs, so per-shard recomputation is
      // self-contained
      batchBlobsWith(bucketed.drop("bucket"), vc, budget, nShards)
        .withColumn("bucket", col("shard"))
    }
  }
}
