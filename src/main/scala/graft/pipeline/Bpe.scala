package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * BPE tokenizer TRAINING as relational rounds (q114) — the
 * subword-vocabulary trainer (Sennrich et al., ACL'16) a data pipeline
 * runs before token counting / packing, expressed so that every round is
 * pure relational algebra over (word, pos, sym) rows and therefore
 * replayable in SQL:
 *
 *   - pair stats: one `lead` window over each word's symbol sequence,
 *     weighted by the word's corpus frequency (overlapping occurrences
 *     counted, the classic get_pair_stats);
 *   - best pair: argmax by (total DESC, s1 ASC, s2 ASC) — a 1-row
 *     driver-side aggregate, the same train→broadcast→apply shape as the
 *     k-means rounds (q62);
 *   - rewrite: classic BPE replaces left-to-right GREEDILY. Greedy is
 *     not sequential here: overlapping matches exist only for runs of a
 *     repeated symbol (a match at pos and pos+1 forces s1 = s2), and
 *     within each maximal run of CONSECUTIVE match positions greedy
 *     takes exactly the even offsets. So: islands of consecutive match
 *     positions (pos - row_number gaps-and-islands), keep even offsets,
 *     merge those starts, drop the consumed successor, re-densify pos.
 *
 * Trainer state is O(vocab x word length) rows — independent of corpus
 * size (the corpus collapses to the word-frequency table in one
 * aggregation, and 100 TB of text has a bounded distinct-word set by
 * Heaps' law; a cap on vocab rows would be the production knob). Each
 * round's state is localized (size-gated) so the 6-round loop never
 * re-executes upstream lineage.
 */
object Bpe {

  /** The q70-parity whitespace tokenization -> (word, n) frequency table. */
  def wordFreq(docs: DataFrame): DataFrame =
    docs.select(explode(Quality.words(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))

  /**
   * Train `rounds` merges over `docs`. Returns the ordered merge table
   * (rank, s1, s2, total) and the final per-word tokenization as
   * (word, n, pos, sym) rows.
   */
  def train(docs: DataFrame, rounds: Int, maxLocalRows: Int = 1 << 20)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    val loc = graft.sources.Storage.localizeOrCheckpoint(_: DataFrame, maxLocalRows)
    // one corpus-sized job: the corpus collapses to the word-frequency
    // table here; everything after operates on O(vocab) rows
    val freqProbe = wordFreq(docs).limit(maxLocalRows + 1).collect()
    val spark = docs.sparkSession
    // r6 SIZE-GATED LOCAL TRAINER (guide §8 "decide with small rows"):
    // trainer state is O(vocab x word length) BY DESIGN — when the freq
    // table fits the probe gate (it was just collected), the 6 merge
    // rounds are a driver-side loop over those rows instead of
    // 2 micro-jobs per round (measured ~12 jobs of window/join plans over
    // a LocalRelation). Identical semantics, stage by stage: pair totals
    // are exact integer sums over adjacent symbol pairs weighted by n
    // (overlapping occurrences counted); argmax by (total DESC, s1 ASC,
    // s2 ASC) with the comparisons on UTF-8 BYTES (what Spark's string
    // ordering compares — for the pure-ASCII corpus both orders agree,
    // and the byte comparator keeps them equal beyond ASCII); the rewrite
    // is classic greedy left-to-right, which equals the relational
    // "even offsets inside islands" rule. A vocab past the gate — the
    // only kind that needs a cluster — takes the unchanged relational
    // rounds below.
    if (freqProbe.length <= maxLocalRows)
      return trainLocal(spark, freqProbe, rounds)
    val freq = wordFreq(docs).localCheckpoint()
    var syms = loc(freq
      .select(col("word"), col("n"),
        explode(sequence(lit(1), length(col("word")))).as("pos"))
      .select(col("word"), col("n"), col("pos"),
        col("word").substr(col("pos"), lit(1)).as("sym")))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    val w = Window.partitionBy(col("word")).orderBy(col("pos"))
    for (r <- 1 to rounds) {
      val withNext = syms.withColumn("nxt", lead(col("sym"), 1).over(w))
      val best = withNext.filter(col("nxt").isNotNull)
        .groupBy(col("sym").as("s1"), col("nxt").as("s2"))
        .agg(sum(col("n")).as("total"))
        .orderBy(col("total").desc, col("s1"), col("s2")).limit(1)
        .collect().headOption
        .getOrElse(throw new IllegalStateException(
          s"BPE round $r: no adjacent pairs left — corpus too small for $rounds merges"))
      val (b1, b2, total) = (best.getString(0), best.getString(1), best.getLong(2))
      merges += ((r, b1, b2, total))
      val m = withNext.withColumn("im",
        col("nxt").isNotNull && col("sym") === b1 && col("nxt") === b2)
      // greedy == even offsets inside islands of consecutive match positions
      val sel = m.filter(col("im"))
        .withColumn("grp", col("pos") - row_number().over(w))
        .withColumn("off", row_number().over(
          Window.partitionBy(col("word"), col("grp")).orderBy(col("pos"))) - 1)
        .filter(pmod(col("off"), lit(2)) === 0)
        .select(col("word").as("sw"), col("pos").as("sp"))
      syms = loc(m
        .join(sel, col("word") === col("sw") && col("pos") === col("sp"), "left")
        .withColumn("start", col("sp").isNotNull)
        .drop("sw", "sp")
        .join(sel, col("word") === col("sw") && col("pos") === col("sp") + 1, "left")
        .filter(col("sp").isNull) // consumed successor of a selected start
        .select(col("word"), col("n"), col("pos"),
          when(col("start"), concat(col("sym"), col("nxt"))).otherwise(col("sym")).as("sym"))
        // re-densify in a SEPARATE select: assigning a window over the old
        // `pos` to the name `pos` in one step trips the Spark 4 lateral
        // column alias hazard (CLAUDE.md round-5)
        .withColumn("pos2", row_number().over(w))
        .select(col("word"), col("n"), col("pos2").as("pos"), col("sym")))
    }
    (merges.toSeq, syms)
  }

  /** Unsigned UTF-8 byte comparison — Spark's binary string ordering. */
  private def u8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Driver-side merge rounds over the collected (word, n) rows — the
    * [[train]] local path. Same pair stats, same argmax tie-break, same
    * greedy rewrite; returns the same (merges, syms-frame) pair with the
    * syms frame as a LocalRelation of (word, n, pos, sym). */
  private def trainLocal(spark: org.apache.spark.sql.SparkSession,
                         freqRows: Array[org.apache.spark.sql.Row],
                         rounds: Int): (Seq[(Int, String, String, Long)], DataFrame) = {
    val words = freqRows.map { r =>
      (r.getString(0), r.getLong(1),
        r.getString(0).toCharArray.map(_.toString))
    }
    var state = words
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    for (r <- 1 to rounds) {
      val stats = new java.util.HashMap[(String, String), Long]()
      state.foreach { case (_, n, syms) =>
        var i = 0
        while (i < syms.length - 1) {
          val key = (syms(i), syms(i + 1))
          stats.merge(key, n, java.lang.Long.sum(_, _))
          i += 1
        }
      }
      if (stats.isEmpty) throw new IllegalStateException(
        s"BPE round $r: no adjacent pairs left — corpus too small for $rounds merges")
      import scala.jdk.CollectionConverters._
      var best: ((String, String), Long) = null
      stats.entrySet().asScala.foreach { e =>
        val cand = (e.getKey, e.getValue.longValue())
        if (best == null) best = cand
        else {
          val better =
            if (cand._2 != best._2) cand._2 > best._2
            else if (cand._1._1 != best._1._1) u8Lt(cand._1._1, best._1._1)
            else u8Lt(cand._1._2, best._1._2)
          if (better) best = cand
        }
      }
      val ((b1, b2), total) = best
      merges += ((r, b1, b2, total))
      state = state.map { case (w, n, syms) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == b1 && syms(i + 1) == b2) {
            out += b1 + b2; i += 2
          } else { out += syms(i); i += 1 }
        }
        (w, n, out.toArray)
      }
    }
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
    val rows: java.util.List[org.apache.spark.sql.Row] = java.util.Arrays.asList(
      state.flatMap { case (w, n, syms) =>
        syms.zipWithIndex.map { case (sym, i) =>
          org.apache.spark.sql.Row(w, n, i + 1, sym)
        }
      }.toIndexedSeq: _*)
    val symsDf = spark.createDataFrame(rows, StructType(Seq(
      StructField("word", StringType), StructField("n", LongType),
      StructField("pos", IntegerType), StructField("sym", StringType))))
    (merges.toSeq, symsDf)
  }
}
