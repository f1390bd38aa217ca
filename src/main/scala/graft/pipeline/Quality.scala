package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * The C4/Gopher-style quality gate: a token-count band, a minimum
 * stopword ratio and a minimum distinct-token ratio (q54 alone, q65's
 * first funnel stage, q73 over crawled text; q22 reports the band, q29
 * the stopword count). Like [[LangId]], one set of constants builds both
 * the Spark Column forms and the DuckDB SQL forms.
 *
 * Ratios are compared ROUNDED to 6 decimals, the form q54 and q73 emit.
 * The raw ratio k/n decides the same for every n <= [[MaxTokens]]: both
 * thresholds are multiples of 1/100, so a ratio under one is at least
 * 1/(100n) >= 1e-5 under it, far beyond rounding's 5e-7, and a ratio at
 * or above one never rounds below it (QualitySpec checks every k, n).
 */
object Quality {

  val Stopwords = Seq("the", "a", "and", "of", "to", "in", "is", "it", "for", "on")
  val MinTokens = 20
  val MaxTokens = 1000
  val MinStopRatio = 0.01
  val MinDistinctRatio = 0.3

  /** Whitespace tokens of the space-trimmed text; "" and edge non-space
    * whitespace give empty tokens. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** [[tokens]] without the empty ones: `TextOps.tokens`'s definition. */
  def words(text: Column): Column = filter(tokens(text), tk => tk =!= "")

  def nStop(toks: Column): Column = size(filter(toks, tk => tk.isInCollection(Stopwords)))

  def stopRatio(toks: Column): Column = ratio(nStop(toks), toks)

  def distinctRatio(toks: Column): Column = ratio(size(array_distinct(toks)), toks)

  private def ratio(k: Column, toks: Column): Column =
    round(k.cast("double") / size(toks).cast("double"), 6)

  def inBand(nToks: Column): Column = nToks >= MinTokens && nToks <= MaxTokens

  def passes(nToks: Column, stopRatio: Column, distinctRatio: Column): Column =
    inBand(nToks) && stopRatio >= MinStopRatio && distinctRatio >= MinDistinctRatio

  // ---- the same rules in DuckDB SQL ----
  def tokensSql(text: String): String = s"string_split_regex(trim($text), '\\s+')"

  def wordsSql(text: String): String = s"list_filter(${tokensSql(text)}, t -> t <> '')"

  def nStopSql(text: String): String =
    s"len(list_filter(${tokensSql(text)},\n      t -> t IN (${Stopwords.map(w => s"'$w'").mkString(",")})))"

  def stopRatioSql(text: String): String = ratioSql(nStopSql(text), text)

  def distinctRatioSql(text: String): String =
    ratioSql(s"len(list_distinct(${tokensSql(text)}))", text)

  private def ratioSql(k: String, text: String): String =
    s"round(CAST($k AS DOUBLE)\n      / len(${tokensSql(text)}), 6)"

  def inBandSql(nToks: String): String = s"$nToks >= $MinTokens AND $nToks <= $MaxTokens"

  def passesSql(nToks: String, stopRatio: String, distinctRatio: String): String =
    s"${inBandSql(nToks)}\n  AND $stopRatio >= $MinStopRatio AND $distinctRatio >= $MinDistinctRatio"
}
