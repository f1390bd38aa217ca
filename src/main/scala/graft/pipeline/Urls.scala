package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * URL canonicalization (q80) — the crawl-side normalization a dedup /
 * frontier pass keys on: two syntactic spellings of one resource must
 * canonicalize identically before url-keyed grouping means anything at
 * 10^12 pages.
 *
 * Rules (deliberately syntactic — no DNS, no path semantics):
 *   1. scheme lowercased;
 *   2. host[:port] lowercased; the scheme's DEFAULT port stripped
 *      (http:80, https:443) — non-default ports kept;
 *   3. fragment dropped (never sent to the server);
 *   4. query parameters sorted bytewise (case-sensitive, `Z=1` != `z=2`
 *      as keys); a bare `?` dropped;
 *   5. path preserved byte-for-byte (percent-decoding is NOT applied —
 *      decoding can change meaning, e.g. encoded `/`).
 *
 * Everything is codegen'd built-ins (regexp over the RE2∩Java-safe
 * subset, split/sort_array/concat); [[canonicalizeSql]] emits the same
 * chain for DuckDB, built from the same pattern constants.
 */
object Urls {

  private val SchemePat = "^([A-Za-z][A-Za-z0-9+.-]*)://"

  /** The raw authority (userinfo and port kept, not [[canonicalize]]d)
    * after a lowercase scheme: the host key of q56, q82, q83, q97, q100,
    * q107 and the streaming budget join. */
  private val HostPat = "^[a-z]+://([^/]+)"

  def host(url: Column): Column = regexp_extract(url, HostPat, 1)

  def hostSql(u: String): String = s"regexp_extract($u, '$HostPat', 1)"

  def canonicalize(url: Column): Column = {
    val scheme = lower(regexp_extract(url, SchemePat, 1))
    val rest = regexp_replace(url, SchemePat, "")
    val hostport = lower(regexp_extract(rest, "^([^/?#]*)", 1))
    val host = when(scheme === "http", regexp_replace(hostport, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostport, ":443$", ""))
      .otherwise(hostport)
    val tail = regexp_replace(regexp_replace(rest, "^[^/?#]*", ""), "#.*$", "")
    val path = regexp_extract(tail, "^([^?]*)", 1)
    val query = regexp_replace(tail, "^[^?]*", "")
    val qsorted = when(length(query) > 1,
        concat(lit("?"),
          array_join(sort_array(split(substr(query, lit(2), length(query)), "&")), "&")))
      .otherwise(lit(""))
    concat(scheme, lit("://"), host, path, qsorted)
  }

  /** The identical chain as DuckDB SQL over `urlExpr`. */
  def canonicalizeSql(u: String): String = {
    val scheme = s"lower(regexp_extract($u, '$SchemePat', 1))"
    val rest = s"regexp_replace($u, '$SchemePat', '')"
    val hostport = s"lower(regexp_extract($rest, '^([^/?#]*)', 1))"
    val host =
      s"""CASE WHEN $scheme = 'http' THEN regexp_replace($hostport, ':80$$', '')
         |     WHEN $scheme = 'https' THEN regexp_replace($hostport, ':443$$', '')
         |     ELSE $hostport END""".stripMargin
    val tail = s"regexp_replace(regexp_replace($rest, '^[^/?#]*', ''), '#.*$$', '')"
    val path = s"regexp_extract($tail, '^([^?]*)', 1)"
    val query = s"regexp_replace($tail, '^[^?]*', '')"
    val qsorted =
      s"""CASE WHEN length($query) > 1
         |     THEN '?' || array_to_string(list_sort(string_split(substring($query, 2), '&')), '&')
         |     ELSE '' END""".stripMargin
    s"$scheme || '://' || $host || $path || $qsorted"
  }
}
