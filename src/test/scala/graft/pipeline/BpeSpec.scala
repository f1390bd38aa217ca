package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BPE training (q114/q115): both the local trainer and the relational
  * rounds equal a pure-Scala CLASSIC greedy trainer — pair stats with
  * overlap, argmax with the (total DESC, s1, s2) tiebreak, sequential
  * left-to-right rewrite. */
class BpeSpec extends AnyFunSuite {
  lazy val spark = graft.expr.SparkTestSession.spark
  import spark.implicits._

  /** The textbook sequential trainer. */
  private def replica(freq: Map[String, Long], rounds: Int)
      : (Seq[(Int, String, String, Long)], Map[String, Seq[String]]) = {
    var state: Map[String, Seq[String]] = freq.keys.map(w => w -> w.map(_.toString)).toMap
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    for (r <- 1 to rounds) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((w, syms) <- state; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) = counts.getOrElse((syms(i), syms(i + 1)), 0L) + freq(w)
      val ((b1, b2), total) = counts.toSeq.minBy { case ((x, y), c) => (-c, x, y) }
      merges += ((r, b1, b2, total))
      state = state.map { case (w, syms) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == b1 && syms(i + 1) == b2) {
            out += (b1 + b2); i += 2
          } else { out += syms(i); i += 1 }
        }
        w -> out.toSeq
      }
    }
    (merges.toSeq, state)
  }

  private def engine(freq: Map[String, Long], rounds: Int, maxLocalRows: Int)
      : (Seq[(Int, String, String, Long)], Map[String, Seq[String]]) = {
    // docs whose token stream realizes the frequency table exactly
    val text = freq.toSeq.sortBy(_._1)
      .flatMap { case (w, n) => Seq.fill(n.toInt)(w) }.mkString(" ")
    val docs = Seq((0L, text)).toDF("doc_id", "text")
    val (merges, syms) = Bpe.train(docs, rounds, maxLocalRows)
    val tok = syms.collect().groupBy(_.getString(0)).map { case (w, rows) =>
      w -> rows.sortBy(_.getInt(2)).map(_.getString(3)).toSeq
    }
    (merges, tok)
  }

  /** Both trainers against the replica: the default gate takes the local
    * trainer, `maxLocalRows = 0` forces the relational rounds. */
  private def agree(freq: Map[String, Long], rounds: Int, what: String = ""): Unit = {
    val (rm, rt) = replica(freq, rounds)
    for (gate <- Seq(1 << 20, 0)) {
      val (em, et) = engine(freq, rounds, gate)
      assert(em == rm, s"$what gate $gate merges differ:\n$em\n$rm")
      assert(et == rt, s"$what gate $gate tokenizations differ:\n$et\n$rt")
    }
  }

  test("matches the textbook greedy trainer on the classic example") {
    agree(Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L), 6)
  }

  test("repeated-symbol runs: greedy == even-offset islands (aaa cases)") {
    agree(Map("aaaa" -> 3L, "aaa" -> 2L, "aa" -> 7L, "baaab" -> 1L), 3)
  }

  test("fuzz: random small-alphabet corpora agree for 4 rounds") {
    val rnd = new scala.util.Random(114)
    for (trial <- 0 until 5) {
      val words = (0 until 12).map(_ =>
        (0 until (2 + rnd.nextInt(6))).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
      val freq = words.groupBy(identity).map { case (w, g) =>
        w -> (g.size.toLong + rnd.nextInt(3)) }
      agree(freq, 4, s"trial $trial (freq=$freq)")
    }
  }
}
