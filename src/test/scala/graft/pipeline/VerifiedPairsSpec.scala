package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

/** The minhash funnel's verified pair graph (q25, q76, q78, q86, q105,
  * q110, q113): [[Dedup.verifiedPairs]] equals a Scala replica — band
  * candidates from the collected [[Dedup.banded]] frame, jaccard over the
  * collected [[Dedup.shingleState]] arrays as sets — row for row, the
  * unrounded jaccard included. */
class VerifiedPairsSpec extends AnyFunSuite {
  lazy val spark = graft.expr.SparkTestSession.spark
  import spark.implicits._

  // families of 30-word docs: each variant keeps its family base's first
  // `keep` words and replaces the rest, so of the 28 word 3-shingles per
  // doc keep-2 are shared — jaccard 1 (keep 30) down to 10/46 (keep 12),
  // with several just under the 0.5 threshold (keep 18-20), where band
  // candidates that the verify rejects turn up
  private val corpus: Seq[(Long, String)] = {
    val keeps = Seq(30, 30, 28, 24, 22, 21, 20, 19, 18, 16, 12)
    (0 until 8).flatMap { f =>
      val base = (0 until 30).map(i => s"f${f}w$i")
      keeps.zipWithIndex.map { case (keep, v) =>
        val words = base.take(keep) ++ (keep until 30).map(i => s"f${f}v${v}x$i")
        (f * 100L + v) -> words.mkString(" ")
      }
    } ++ Seq(900L -> "too short", 901L -> "too short")
  }

  test("verifiedPairs == band candidates verified by set jaccard (replica)") {
    val docs = corpus.toDF("doc_id", "text")
    val bandRows = Dedup.banded(docs, "doc_id").collect()
      .map(r => (r.getLong(0), r.get(1)))
    val candidates = bandRows.groupBy(_._2).values
      .flatMap { members =>
        val ids = members.map(_._1).distinct.sorted
        for (i <- ids.indices; j <- i + 1 until ids.length) yield (ids(i), ids(j))
      }.toSet
    val sh = Dedup.shingleState(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    def jaccard(a: Long, b: Long): Double =
      (sh(a) & sh(b)).size.toDouble / (sh(a) | sh(b)).size.toDouble
    val want = candidates.map { case (a, b) => (a, b, jaccard(a, b)) }
      .filter(_._3 >= Dedup.JaccardThreshold)
    val got = Dedup.verifiedPairs(docs).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard")))
    assert(got.length == got.toSet.size, "duplicate pair rows")
    assert(got.toSet == want)
    // the threshold is exercised: some band candidate is rejected by the verify
    val rejected = candidates.filter { case (a, b) => jaccard(a, b) < Dedup.JaccardThreshold }
    assert(rejected.nonEmpty, "no band candidate below the jaccard threshold")
    // and identical docs pair, shingle-less docs never do
    assert(got.exists(r => r._3 == 1.0))
    assert(!got.exists(r => r._1 >= 900L || r._2 >= 900L))
  }
}
