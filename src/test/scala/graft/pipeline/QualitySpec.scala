package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The shared quality gate (q22, q29, q54, q65, q73): engine signals and
  * decisions against a plain-Scala replica on docs built to sit on each
  * threshold, and the proof that comparing rounded or raw ratios makes
  * the same decision. */
class QualitySpec extends AnyFunSuite {
  lazy val spark = graft.expr.SparkTestSession.spark
  import spark.implicits._

  /** Spark's `round(x, 6)` on a double: HALF_UP on the decimal form. */
  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The gate written out independently of [[Quality]]'s constants. */
  private def replica(text: String): (Int, Int, Double, Double, Boolean) = {
    val stop = Set("the", "a", "and", "of", "to", "in", "is", "it", "for", "on")
    val toks = text.trim.split("\\s+")
    val n = toks.length
    val k = toks.count(stop.contains)
    val sr = round6(k.toDouble / n)
    val dr = round6(toks.distinct.length.toDouble / n)
    (n, k, sr, dr, n >= 20 && n <= 1000 && sr >= 0.01 && dr >= 0.3)
  }

  /** `n` tokens: `nStop` copies of "the", the rest cycling over enough
    * non-stopwords that the doc has `nDistinct` distinct tokens. */
  private def doc(n: Int, nStop: Int, nDistinct: Int): String = {
    val words = nDistinct - (if (nStop > 0) 1 else 0)
    require(words >= 1 && n - nStop >= words)
    (Seq.fill(nStop)("the") ++ (0 until n - nStop).map(i => s"w${i % words}")).mkString(" ")
  }

  // (name, text, expected decision)
  private val cases = Seq(
    ("19 tokens", doc(19, 1, 10), false),
    ("20 tokens", doc(20, 1, 10), true),
    ("1000 tokens", doc(1000, 10, 300), true),
    ("1001 tokens", doc(1001, 11, 301), false),
    ("stop ratio exactly 0.01", doc(300, 3, 100), true),
    ("one stopword short of 0.01", doc(300, 2, 100), false),
    ("distinct ratio exactly 0.3", doc(100, 5, 30), true),
    ("one distinct token short of 0.3", doc(100, 5, 29), false),
    ("no stopwords", doc(50, 0, 40), false),
    ("padded whitespace", "  " + doc(40, 2, 20) + "  ", true))

  test("engine signals and gate match the replica on the threshold docs") {
    val toks = Quality.tokens(col("text"))
    val got = cases.map(c => (c._1, c._2)).toDF("name", "text")
      .select(col("name"), size(toks).as("n"), Quality.nStop(toks).as("k"),
        Quality.stopRatio(toks).as("sr"), Quality.distinctRatio(toks).as("dr"),
        Quality.inBand(size(toks)).as("band"),
        Quality.passes(size(toks), Quality.stopRatio(toks), Quality.distinctRatio(toks))
          .as("passed"))
      .collect().map(r => r.getString(0) -> r).toMap
    cases.foreach { case (name, text, expected) =>
      val r = got(name)
      val (n, k, sr, dr, passed) = replica(text)
      assert((r.getAs[Int]("n"), r.getAs[Int]("k")) == ((n, k)), name)
      assert(r.getAs[Double]("sr") == sr && r.getAs[Double]("dr") == dr, name)
      assert(r.getAs[Boolean]("band") == (n >= 20 && n <= 1000), name)
      assert(r.getAs[Boolean]("passed") == passed, name)
      assert(passed == expected, s"$name: replica decided $passed")
    }
  }

  test("rounded and raw ratios make the same decision for every token count in the band") {
    for (n <- Quality.MinTokens to Quality.MaxTokens; k <- 0 to n) {
      val raw = k.toDouble / n
      for (t <- Seq(Quality.MinStopRatio, Quality.MinDistinctRatio))
        assert((raw >= t) == (round6(raw) >= t), s"k=$k n=$n threshold $t")
    }
  }

  test("tokens keeps empty edge tokens; words drops them and equals TextOps.tokens") {
    val inputs = Seq("", "  a  b  ", "\ta b\n", "word")
    val got = inputs.toDF("text")
      .select($"text", Quality.tokens($"text"), Quality.words($"text"))
      .collect().map(r => r.getString(0) -> (r.getSeq[String](1), r.getSeq[String](2))).toMap
    // Spark's trim strips spaces only, and its split keeps edge empties
    assert(got("")._1 == Seq(""))
    assert(got("  a  b  ")._1 == Seq("a", "b"))
    assert(got("\ta b\n")._1 == Seq("", "a", "b", ""))
    assert(got("word")._1 == Seq("word"))
    inputs.foreach { in =>
      val words = got(in)._2
      assert(words == got(in)._1.filter(_.nonEmpty), in)
      assert(words == graft.expr.TextOps.tokens(
        org.apache.spark.unsafe.types.UTF8String.fromString(in)).toSeq, in)
    }
  }
}
