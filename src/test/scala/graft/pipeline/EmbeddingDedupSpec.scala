package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{functions => gf}

/**
 * q89's embedding near-dup funnel: candidate recall vs the all-pairs brute
 * anchor, the verify decision margin around the 0.8 threshold, and the
 * retention semantics — the spec the r4 verdict's top item prescribes.
 */
class EmbeddingDedupSpec extends AnyFunSuite {
  lazy val spark = graft.expr.SparkTestSession.spark
  import spark.implicits._

  private val Threshold = Dedup.CosineThreshold

  private lazy val corpus =
    graft.data.Fixtures.embDupCorpus(spark, "/root/testdata/sf0.001").cache()

  /** All-pairs verified pairs — the labeled brute anchor (the q32 shape).
    * Fixture-sized only; the operator under test never runs this. */
  private lazy val brutePairs: Set[(Long, Long)] = {
    val a = corpus.select($"vec_id".as("vec_a"), $"embedding".as("ea"))
    val b = corpus.select($"vec_id".as("vec_b"), $"embedding".as("eb"))
    a.join(broadcast(b), $"vec_a" < $"vec_b")
      .filter(gf.cosine_sim($"ea", $"eb") >= Threshold)
      .select($"vec_a", $"vec_b").as[(Long, Long)].collect().toSet
  }

  private lazy val candPairs: Set[(Long, Long)] =
    Dedup.embeddingCandidates(corpus)
      .select($"vec_a", $"vec_b").as[(Long, Long)].collect().toSet

  test("planted dups exist and LSH candidate recall vs the brute anchor is pinned") {
    // 500 orig->dup1 pairs + 100 orig->dup2 + 100 dup1<->dup2 (transitive
    // companions are also >= threshold by construction: both copies differ
    // from the original in one component each)
    assert(brutePairs.size >= 600, s"brute verified pairs = ${brutePairs.size}")
    val hit = (candPairs & brutePairs).size
    val recall = hit.toDouble / brutePairs.size
    // 4 tables x 8 bits over >=0.997-cosine pairs: per-table collision
    // ~0.85, miss ~(0.15)^4 — measured 1.0 on this fixture; the pin floor
    // leaves room for exactly a few unlucky pairs, not for a broken funnel
    assert(recall >= 0.98, s"candidate recall = $recall ($hit/${brutePairs.size})")
  }

  test("verify decisions sit far from the threshold on BOTH sides (cross-engine safety)") {
    // both engines fold the cosine identically (bit-exact), so this margin
    // is about the FIXTURE staying well-posed if it's ever re-rolled: no
    // candidate pair's cosine may approach the 0.8 decision boundary
    // (true dups >= 0.996, unrelated pairs <= ~0.55 — measured min margin
    // 0.196 on this fixture)
    val a = corpus.select($"vec_id".as("vec_a"), $"embedding".as("ea"))
    val b = corpus.select($"vec_id".as("vec_b"), $"embedding".as("eb"))
    val cosines = Dedup.embeddingCandidates(corpus)
      .join(a, Seq("vec_a")).join(b, Seq("vec_b"))
      .select(gf.cosine_sim($"ea", $"eb").as("c")).as[Double].collect()
    val minMargin = cosines.map(c => math.abs(c - Threshold)).min
    assert(minMargin >= 0.15, s"min |cosine - $Threshold| = $minMargin")
  }

  test("candidate generation is never all-pairs (bucket join stays sparse)") {
    val n = corpus.count()
    val allPairs = n * (n - 1) / 2
    // 4 tables x 8-bit buckets over n=1100: expected random collisions
    // ~4 * n^2/2 / 256 ~ 9.5k of 604k possible pairs (~2%); nBits must
    // grow with log2(n) at scale (Dedup.embeddingBuckets doc)
    assert(candPairs.size < allPairs / 20,
      s"candidates = ${candPairs.size} vs all-pairs = $allPairs — bucket sizing broken")
  }

  test("retention: originals kept, caught dups fold into their original's component") {
    val kept = Dedup.embeddingKept(corpus)
      .select($"vec_id", $"component", $"kept")
      .as[(Long, Long, Boolean)].collect()
    val byId = kept.map(r => r._1 -> r).toMap
    assert(kept.length === corpus.count())
    // originals are the min id of any component they're in -> always kept
    kept.filter(_._1 < 500).foreach { case (id, comp, k) =>
      assert(k && comp === id, s"original $id: component=$comp kept=$k")
    }
    // a non-kept row's component is a smaller id that IS kept
    kept.filterNot(_._3).foreach { case (id, comp, _) =>
      assert(comp < id && byId(comp)._3, s"dup $id -> component $comp")
    }
    // every candidate-caught planted pair landed in one component
    (candPairs & brutePairs).foreach { case (a, b) =>
      assert(byId(a)._2 === byId(b)._2, s"verified pair ($a,$b) split across components")
    }
  }
}
