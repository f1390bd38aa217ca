package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.data.{Courses, Pages}
import graft.pipeline.{CourseEngine, Quality}

/**
 * What several query families share: the correctness-scale constants,
 * the table, pages and course-dim readers, and the oracle-side SQL
 * replays of the engine's hashes (FNV-1a 64, splitmix64, MinHash banding)
 * and of the minhash verify and first-wins rules.
 * A leaf: it reads no family module and no `SparkEntry` member, so any
 * thread may initialise it first.
 */
private[graft] object Common {

  /** Pages amplification for correctness queries (bench uses its own). */
  final val Amp = 4

  /** Synthetic course count for correctness queries. */
  final val NCourses = 60

  def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def pages(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.registerAll(spark)
    Pages.pages(spark, sfDir, Amp)
  }

  /** The course dims (items, boundaries) are a ONCE-PER-DATASET-VERSION
    * build — in production the polygon set is built once and broadcast to
    * every query (north_star's cover-index shape; Bench.flagship localizes
    * the same way). Memoized per session as collected LocalRelations so a
    * query plan embeds the tiny dim rows directly instead of replaying
    * driver-side generation + smoothing once per branch that references
    * the dim (kNN alone references it from three branches). One session
    * per driver JVM -> the strong-keyed map never grows past two entries. */
  val dimCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  def itemsDf(spark: SparkSession): DataFrame =
    dimCache.computeIfAbsent((spark, "items"), _ => {
      graft.functions.registerAll(spark)
      graft.sources.Storage.localize(Courses.itemsDf(spark, NCourses))
    })

  def boundsDf(spark: SparkSession): DataFrame = {
    // resolve the items dim BEFORE entering the bounds mapping function:
    // a computeIfAbsent that re-enters the same ConcurrentHashMap throws
    // "Recursive update"
    val items = itemsDf(spark)
    dimCache.computeIfAbsent((spark, "bounds"), _ => {
      graft.functions.registerAll(spark)
      graft.sources.Storage.localize(CourseEngine.boundaries(items))
    })
  }

  def pagesCte: String = s"WITH pages AS (${Pages.sqlView(Amp)})"

  // ---- FNV-1a 64 + splitmix64 replayed in SQL, so DuckDB re-derives every
  // hash-derived CANDIDATE (q25 minhash band keys, q26 simhash chunks, q27
  // sampled rare grams) from the raw text — the only constants shared with
  // the engine are the published FNV/splitmix64 parameters. Arithmetic runs
  // in the unsigned-64 domain as HUGEINT in [0, 2^64); products are split
  // 32/32 so no intermediate exceeds HUGEINT's 127-bit positive range. ----

  val Wrap64 = "18446744073709551616::HUGEINT"

  /** (a * b) mod 2^64, both operands in [0, 2^64). */
  def mulmod64(a: String, b: String): String =
    s"(((($a) % 4294967296) * ($b) + (((($a) // 4294967296) * ($b)) % 4294967296) * 4294967296) % $Wrap64)"

  /** `TextOps.mix64` (splitmix64 finalizer); >>> k is `// 2^k` unsigned. */
  def mix64Sql(z: String): String = {
    val s1 = s"((($z) + 11400714819323198485::HUGEINT) % $Wrap64)"
    val s2 = mulmod64(s"xor($s1, $s1 // 1073741824)", "13787848793156543929::HUGEINT")
    val s3 = mulmod64(s"xor($s2, $s2 // 134217728)", "10723151780598845931::HUGEINT")
    s"xor($s3, $s3 // 2147483648)"
  }

  /** `TextOps.hashText` over an ASCII string expression (documents.text is
    * ASCII by construction, so `ord` per char == the UTF-8 byte the engine
    * folds; [[fnvSqlBytes]] is the byte-true form for non-ASCII corpora). */
  def fnvSql(col: String): String =
    mix64Sql(
      s"""list_reduce(list_prepend(14695981039346656037::HUGEINT,
         |        list_transform(range(1, length($col)+1), i -> ord(substring($col, i, 1)))),
         |      (h, c) -> ${mulmod64("xor(h, CAST(c AS HUGEINT))", "1099511628211::HUGEINT")})""".stripMargin)

  /** `TextOps.hashText` over ARBITRARY UTF-8 text: folds the REAL encoded
    * bytes (encode() -> hex digit pairs), not per-character ord — the
    * non-ASCII-safe replay the r3 verdict asked for (q76 proves it over a
    * multi-byte corpus; on ASCII input it equals [[fnvSql]] exactly). */
  def fnvSqlBytes(col: String): String =
    mix64Sql(
      s"""list_reduce(list_prepend(14695981039346656037::HUGEINT,
         |        list_transform(range(0, CAST(octet_length(encode($col)) AS BIGINT)),
         |          i -> CAST(strpos('0123456789ABCDEF', substring(hex(encode($col)), CAST(2*i+1 AS BIGINT), 1)) - 1 AS HUGEINT) * 16
         |             + CAST(strpos('0123456789ABCDEF', substring(hex(encode($col)), CAST(2*i+2 AS BIGINT), 1)) - 1 AS HUGEINT))),
         |      (h, c) -> ${mulmod64("xor(h, c)", "1099511628211::HUGEINT")})""".stripMargin)

  /** q25's per-slot remix keys `mix64(seed + j)` (seed 7, k = 64) as
    * `(j, kj)` VALUES — data-independent constants, like q31's weights. */
  lazy val oracleMinhashSlotValues: String =
    (0 until 64).map { j =>
      s"($j, ${java.lang.Long.toUnsignedString(graft.expr.TextOps.mix64(7L + j))}::HUGEINT)"
    }.mkString(",")

  /** The full MinHash banding replay as a CTE chain ending in
    * `keys(doc_id, bk)` — raw text → word 3-shingles → FNV/mix64 shingle
    * hashes → 64 min-slots → 16 FNV band keys. Shared by the q25 pair
    * oracle, the q63 first-wins dedup oracle, and (over the gated
    * survivor set) the q65 pipeline oracle. `src` must expose
    * `(doc_id, text)`. */
  def minhashBandCtes(src: String = "documents",
                              byteTrueFnv: Boolean = false): String =
    s"""toks AS (
       |  -- list_filter mirrors TextOps.tokens, which drops empty tokens
       |  -- produced by leading/trailing NON-SPACE whitespace (SQL trim
       |  -- strips spaces only) — same divergence q70 fixed for '\\n'-padded
       |  -- corpora; len(tk) gates below therefore count REAL tokens
       |  SELECT doc_id, ${Quality.wordsSql("text")} AS tk FROM $src),
       |sh AS (
       |  SELECT doc_id, concat_ws(' ', tk[i], tk[i+1], tk[i+2]) AS s
       |  FROM toks, unnest(range(1, len(tk) - 1)) AS g(i)
       |  WHERE len(tk) >= 3),
       |shh AS (SELECT doc_id, ${if (byteTrueFnv) fnvSqlBytes("s") else fnvSql("s")} AS h FROM sh),
       |slots AS (SELECT * FROM (VALUES $oracleMinhashSlotValues) k(j, kj)),
       |sig AS (
       |  -- the engine's min is over SIGNED longs (TextOps.minHash compares
       |  -- Long), so take the min in the sign-adjusted domain and map the
       |  -- winner back to unsigned for band-byte extraction
       |  SELECT doc_id, j,
       |    CASE WHEN gs < 0 THEN gs + $Wrap64 ELSE gs END AS g
       |  FROM (
       |    SELECT doc_id, j, min(CASE WHEN g0 >= 9223372036854775808::HUGEINT
       |        THEN g0 - $Wrap64 ELSE g0 END) AS gs
       |    FROM (SELECT doc_id, j, ${mix64Sql("xor(h, kj)")} AS g0
       |          FROM shh CROSS JOIN slots)
       |    GROUP BY doc_id, j)),
       |bands AS (
       |  SELECT doc_id, (j // 4) AS b, list(g ORDER BY j) AS vs
       |  FROM sig GROUP BY doc_id, (j // 4)),
       |keys AS (
       |  SELECT doc_id, xor(CAST(b AS HUGEINT) * 72057594037927936::HUGEINT,
       |    ${mix64Sql(
      s"""list_reduce(list_prepend(14695981039346656037::HUGEINT, vs), (h, v) ->
         |    list_reduce(list_prepend(h, list_transform(range(0, 8), s -> (v // power(256, s)::HUGEINT) % 256)),
         |      (h2, byte) -> ${mulmod64("xor(h2, byte)", "1099511628211::HUGEINT")}))""".stripMargin)} // 256) AS bk
       |  FROM bands)""".stripMargin

  // ---- the minhash verify and first-wins rules over the `keys` and `sh`
  // CTEs of [[minhashBandCtes]] ----

  /** `cand(doc_a, doc_b)`: distinct pairs sharing a band key, and
    * `feat(doc_id, sh, n)`: each doc's distinct shingles and their count. */
  val candFeatCtes: String =
    """cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM keys a JOIN keys b ON a.bk = b.bk AND a.doc_id < b.doc_id),
      |feat AS (SELECT doc_id, list_distinct(list(s)) AS sh, count(DISTINCT s) AS n
      |         FROM sh GROUP BY doc_id)""".stripMargin

  /** Exact shingle jaccard of the `feat` rows aliased `fa` and `fb`. */
  val jaccardSql: String =
    """CAST(len(list_intersect(fa.sh, fb.sh)) AS DOUBLE) /
      |      (fa.n + fb.n - len(list_intersect(fa.sh, fb.sh)))""".stripMargin

  /** The verify stage as a FROM/WHERE tail: `cand` joined to `feat` on
    * both sides, kept at jaccard >= `Dedup.JaccardThreshold`. */
  val verifySql: String =
    s"""FROM cand
       |  JOIN feat fa ON fa.doc_id = doc_a JOIN feat fb ON fb.doc_id = doc_b
       |  WHERE $jaccardSql >= ${graft.pipeline.Dedup.JaccardThreshold}""".stripMargin

  /** [[candFeatCtes]] plus `pairs(doc_a, doc_b)`, the verified pairs. */
  val verifiedPairsCtes: String =
    s"""$candFeatCtes,
       |pairs AS (
       |  SELECT doc_a, doc_b $verifySql)""".stripMargin

  /** First-wins `own(bk, owner)`: the smallest doc id holding each band
    * key. Over `keys k JOIN own o USING (bk)` grouped by `k.doc_id`,
    * [[ownsAllSql]] holds iff no earlier doc shares any of its bands. */
  val ownCte = "own AS (SELECT bk, min(doc_id) AS owner FROM keys GROUP BY bk)"
  val ownsAllSql = "min(CASE WHEN o.owner = k.doc_id THEN 1 ELSE 0 END) = 1"
}
