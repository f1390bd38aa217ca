package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import DuckDb.dlit

/**
 * N-gram-heuristic language identification (q24's operator, factored out
 * so the crawl-to-corpus pipeline (q73) and the standalone confusion
 * query share ONE profile set and ONE argmax rule — the single-definition
 * invariant that keeps batch consumers from drifting).
 *
 * The whole prediction is ONE expression tree in which the tokenization
 * appears exactly once: scores come from a `transform` over the literal
 * profile array, and the argmax is a single `aggregate` fold over
 * (score, index) pairs — a separate greatest/when-chain re-references
 * every score subtree and re-evaluates the tokenization per reference
 * after projection collapse (the round-1 43s pathology; CLAUDE.md
 * Catalyst perf rules).
 */
object LangId {

  /** Tiny per-language stopword profiles — deliberately toy-sized (the
    * oracle replays them as literals); the argmax rule is what scales. */
  val Profiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "des"))

  private val langs = Profiles.map(_._1)

  /** Predicted language of `text` ("und" when no profile scores > 0).
    * Tie rule: first profile (in [[Profiles]] order) reaching the max. */
  def predict(text: Column): Column = {
    val toks = Quality.tokens(lower(text))
    // lambda-let: bind the token array to a lambda VARIABLE via a
    // 1-element transform, so the tokenization subtree is evaluated once
    // per row even though every profile score references it
    def argmax(tk: Column): Column = {
      val scores = transform(typedLit(Profiles.map(_._2)),
        p => size(array_intersect(tk, p)))
      // strictly-greater scan = first profile hitting the max wins;
      // all-zero scores leave the (0, 0) seed -> "und"
      aggregate(
        zip_with(scores, sequence(lit(1), lit(langs.size)),
          (sc, i) => struct(sc.as("s"), i.as("i"))),
        struct(lit(0).as("s"), lit(0).as("i")),
        (acc, x) => when(x("s") > acc("s"), x).otherwise(acc),
        acc => when(acc("s") <= 0, lit("und"))
          .otherwise(element_at(typedLit(langs), acc("i"))))
    }
    element_at(transform(array(toks), tk => argmax(tk)), 1)
  }

  /** DuckDB replay of [[predict]] over a text expression: per-profile
    * score columns + the first-max CASE chain (>= later profiles ==
    * strictly-greater scan). Returns (scoreSelectList, predCaseExpr) to
    * splice into a CTE: scores s1..sN from `textExpr`'s tokens, then the
    * CASE over them. */
  def scoreSql(textExpr: String): String = {
    val toks = Quality.tokensSql(s"lower($textExpr)")
    Profiles.zipWithIndex.map { case ((_, ws), i) =>
      val lst = ws.map(w => s"'$w'").mkString("[", ",", "]")
      s"len(list_filter($lst, w -> list_contains($toks, w))) AS s${i + 1}"
    }.mkString(",\n    ")
  }

  def predCaseSql: String = {
    val n = langs.size
    val maxAll = (1 to n).map(i => s"s$i").mkString("greatest(", ",", ")")
    val branches = (1 until n).map { i =>
      val conds = (i + 1 to n).map(j => s"s$i >= s$j").mkString(" AND ")
      s"WHEN $conds THEN '${langs(i - 1)}'"
    }.mkString("\n       ")
    s"""CASE WHEN $maxAll <= 0 THEN 'und'
       |       $branches
       |       ELSE '${langs.last}' END""".stripMargin
  }
}

/**
 * Char-trigram Naive-Bayes language id (q77; the r3 verdict's "richer
 * langid" stretch): per-language trigram log-probability models derived
 * deterministically from built-in seed corpora, scored as ONE left-fold
 * per language over the document's trigram list.
 *
 * Cross-engine EXACTNESS by construction: the log-probs are computed once
 * in the JVM and emitted into the DuckDB oracle as double literals; both
 * engines then add the SAME doubles in the SAME (document) order — no
 * libm calls at query time, so the scores are bit-identical and the
 * argmax (first-max rule, [[LangId]]'s proven scan) needs no quantum.
 */
object TrigramLangId {

  /** Model constants live in [[graft.expr.TrigramModel]] (the kernel's
    * layer); this object is the Column + oracle-SQL surface. */
  private def model = graft.expr.TrigramModel.model
  private def unseen = graft.expr.TrigramModel.unseen
  private def langs = graft.expr.TrigramModel.langs.toSeq

  /** Predicted language — the codegen'd kernel fold (the first cut was a
    * built-in-HOF composition with literal maps; interpreted lambda eval
    * measured 15.3s over sf0.1 vs sub-second for the kernel, same
    * arithmetic). Ties (<3-char docs, all scores 0) go to the first
    * profile — same first-max rule as [[LangId.predict]]. */
  def predict(text: Column): Column = graft.functions.trigram_lang_predict(text)

  /** Best-language mean trigram log-prob — the q79 fluency/quality score
    * (same kernel fold + one division; bit-exact cross-engine). */
  def fluency(text: Column): Column = graft.functions.trigram_fluency(text)

  private def mapSql(m: Map[String, Double]): String = {
    val entries = m.toSeq.sortBy(_._1) // deterministic SQL text
    s"map([${entries.map(e => s"'${e._1}'").mkString(",")}], " +
      s"[${entries.map(e => dlit(e._2)).mkString(",")}])"
  }

  /** Per-language score select list: the same left-fold over the same
    * trigram list with the same double constants (element_at on a map
    * returns a 1-or-0 element LIST in DuckDB — hence `[1]`). */
  def scoreSql(textExpr: String): String = {
    val gramList =
      s"list_transform(range(1, length(lower($textExpr)) - 1), " +
        s"i -> substring(lower($textExpr), CAST(i AS BIGINT), 3))"
    model.zipWithIndex.map { case ((_, m), i) =>
      val mp = mapSql(m)
      s"""list_reduce(list_prepend(0.0E0, list_transform($gramList,
         |      g -> coalesce(element_at($mp, g)[1], ${dlit(unseen(i))}))),
         |      (a, b) -> a + b) AS s${i + 1}""".stripMargin
    }.mkString(",\n    ")
  }

  /** First-max CASE — NO 'und' clause (log-prob scores are always finite
    * and usually negative; [[LangId.predCaseSql]]'s `<= 0` guard would
    * swallow everything). */
  def predCaseSql: String = {
    val n = langs.size
    val branches = (1 until n).map { i =>
      val conds = (i + 1 to n).map(j => s"s$i >= s$j").mkString(" AND ")
      s"WHEN $conds THEN '${langs(i - 1)}'"
    }.mkString("\n       ")
    s"""CASE $branches
       |       ELSE '${langs.last}' END""".stripMargin
  }
}
