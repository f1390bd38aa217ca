package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * q91's training-shard materialization: blob bytes vs an independent
 * pure-Scala replica (tokenize -> vocab-rank -> encode -> pack -> concat,
 * no Spark), the UNK path, and the resumable sink's preempt/resume runs.
 */
class ShardsSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark = graft.expr.SparkTestSession.spark
  import spark.implicits._

  private val Budget = 2000L
  private val NShards = 8
  private val MaxVocab = 24

  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select($"doc_id".cast("long").as("doc_id"), $"text").cache()

  /** Pure-Scala replica of the whole artifact build. */
  private lazy val replica: Map[(Long, Long), (Long, Long, Vector[Byte])] = {
    val rows = docs.as[(Long, String)].collect()
    val toks: Map[Long, Array[String]] =
      rows.map { case (id, t) => id -> t.trim.split("\\s+") }.toMap
    val vocabRank: Map[String, Int] = toks.values.flatten
      .groupBy(identity).view.mapValues(_.size).toSeq
      .sortBy { case (tok, n) => (-n, tok) }
      .zipWithIndex
      .map { case ((tok, _), i) => tok -> (if (i + 1 <= MaxVocab) i + 1 else 0) }
      .toMap
    def shardOf(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % NShards
    }
    rows.map(_._1).groupBy(shardOf).toSeq.flatMap { case (shard, ids) =>
      var before = 0L
      ids.sorted.map { id =>
        val n = toks(id).length.toLong
        val batch = before / Budget
        before += n
        (shard, batch, id, n)
      }
    }.groupBy { case (s, b, _, _) => (s, b) }
      .map { case (k, grp) =>
        val sorted = grp.sortBy(_._3)
        val bytes = sorted.iterator.flatMap { case (_, _, id, _) =>
          toks(id).iterator.flatMap { tok =>
            val tid = vocabRank(tok)
            Iterator((tid >> 8).toByte, (tid & 0xff).toByte)
          }
        }.toVector
        k -> (grp.size.toLong, grp.map(_._4).sum, bytes)
      }
  }

  test("blob bytes match the independent replica exactly; UNK path is exercised") {
    val got = Shards.batchBlobs(docs, Budget, NShards, MaxVocab)
      .select($"shard", $"batch_id", $"n_docs", $"total_tokens", $"blob")
      .as[(Long, Long, Long, Long, Array[Byte])].collect()
    assert(got.length === replica.size)
    got.foreach { case (s, b, nd, nt, blob) =>
      val (rnd, rnt, rbytes) = replica((s, b))
      assert(nd === rnd && nt === rnt, s"stats mismatch at ($s,$b)")
      assert(blob.toVector === rbytes, s"blob bytes mismatch at ($s,$b)")
      assert(blob.length === 2 * nt)
    }
    // the vocab cap must actually bite: some UNK (0x0000) pairs present
    val hasUnk = got.exists { case (_, _, _, _, blob) =>
      blob.grouped(2).exists(p => p(0) == 0 && p(1) == 0)
    }
    assert(hasUnk, s"no UNK ids in any blob — cap $MaxVocab did not bite")
  }

  test("writeShards resumes: a preempted run commits a prefix, the rerun completes the rest") {
    val out = tempDir("graft_shards").toString
    val first = Shards.writeShards(docs, out, Budget, NShards, MaxVocab,
      maxShardsPerRun = 3)
    assert(first.ranBuckets === Seq(0, 1, 2) && first.skippedBuckets.isEmpty)
    val second = Shards.writeShards(docs, out, Budget, NShards, MaxVocab)
    assert(second.skippedBuckets === Seq(0, 1, 2))
    assert(second.ranBuckets === (3 until NShards))
    val third = Shards.writeShards(docs, out, Budget, NShards, MaxVocab)
    assert(third.ranBuckets.isEmpty && third.skippedBuckets === (0 until NShards))
    // the resumed artifact equals the direct build, byte for byte
    val direct = Shards.batchBlobs(docs, Budget, NShards, MaxVocab)
      .select($"shard", $"batch_id", hex($"blob").as("h"))
      .as[(Long, Long, String)].collect().toSet
    val resumed = spark.read.parquet(s"$out/data")
      .select($"shard", $"batch_id", hex($"blob").as("h"))
      .as[(Long, Long, String)].collect().toSet
    assert(resumed === direct)
    // per-shard manifests carry blob checksums (the lineage contract)
    assert(Checkpointed.lineage(out).map(_.bucket) === (0 until NShards))
  }
}
