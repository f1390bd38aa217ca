package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

/** Exact-substring duplicated-span dedup (q101): hand-built cases for
  * merge/adjacency/gap semantics plus a seeded brute-force fuzz. */
class SubstringDedupSpec extends AnyFunSuite {
  lazy val spark = graft.expr.SparkTestSession.spark
  import spark.implicits._

  private val N = Dedup.SpanN

  /** Pure-Scala replica: duplicated n-gram starts -> merged spans. */
  private def brute(docs: Seq[(Long, String)], n: Int): Set[(Long, Int, Int)] = {
    val toks = docs.map { case (id, t) => id -> t.trim.split("\\s+").filter(_.nonEmpty).toSeq }
    val grams = toks.flatMap { case (id, tk) =>
      (0 to tk.length - n).map(i => (id, i, tk.slice(i, i + n).mkString(" ")))
    }
    val counts = grams.groupBy(_._3).view.mapValues(_.size).toMap
    val hits = grams.filter(g => counts(g._3) >= 2).map(g => (g._1, g._2))
    hits.groupBy(_._1).flatMap { case (id, ps) =>
      val starts = ps.map(_._2).sorted
      val spans = scala.collection.mutable.ListBuffer.empty[(Int, Int)]
      for (p <- starts) {
        if (spans.nonEmpty && p <= spans.last._2 + 1) {
          val (s0, e0) = spans.remove(spans.length - 1)
          spans += ((s0, math.max(e0, p + n - 1)))
        } else spans += ((p, p + n - 1))
      }
      spans.map { case (s0, e0) => (id, s0, e0) }
    }.toSet
  }

  private def run(docs: Seq[(Long, String)]): Set[(Long, Int, Int)] =
    Dedup.duplicatedSpans(docs.toDF("doc_id", "text")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("span_start"), r.getAs[Int]("span_end")))
      .toSet

  test("self-repetition, cross-doc duplication, overlap merge, adjacency merge, gap split") {
    val eight = "a b c d e f g h"
    val docs = Seq(
      // self-repetition: the 8-gram at pos 0 recurs at pos 11 -> two spans
      0L -> s"$eight x y z $eight",
      // cross-doc duplicate of a 9-word run -> grams at pos 0 and 1 both
      // duplicated -> one merged span [0, 8] in both docs
      1L -> s"$eight i",
      2L -> s"p q $eight i",
      // no duplicated gram at all -> absent from the output
      3L -> "unique words only never repeated anywhere at all ever once")
    val got = run(docs)
    val want = brute(docs, N)
    assert(got == want, s"got $got\nwant $want")
    assert(got.contains((0L, 0, 7)) && got.contains((0L, 11, 18)))
    assert(got.contains((1L, 0, 8)) && got.contains((2L, 2, 10)))
    assert(!got.exists(_._1 == 3L))
  }

  test("adjacent spans merge, gapped spans stay split") {
    val a = "a1 a2 a3 a4 a5 a6 a7 a8"
    val b = "b1 b2 b3 b4 b5 b6 b7 b8"
    val docs = Seq(
      // doc 10: a-gram at 0, b-gram at 8 (adjacent) -> merged [0, 15]
      10L -> s"$a $b",
      // doc 11: a-gram at 0, gap word, b-gram at 9 -> two spans
      11L -> s"$a gapword $b",
      // partners making the grams duplicated
      12L -> a, 13L -> b)
    val got = run(docs)
    assert(got == brute(docs, N))
    assert(got.contains((10L, 0, 15)))
    assert(got.contains((11L, 0, 7)) && got.contains((11L, 9, 16)))
  }

  test("fuzz vs brute force over a small-vocab corpus") {
    val rnd = new scala.util.Random(101)
    val vocab = Vector("tok0", "tok1", "tok2", "tok3", "tok4")
    val docs = (0L until 40L).map { id =>
      val len = 5 + rnd.nextInt(30)
      id -> Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    assert(run(docs) == brute(docs, N))
  }
}
