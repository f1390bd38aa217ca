package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.{functions => gf}

/**
 * Count-min sketch (q82) — the sublinear frequency structure a 10^12-row
 * stream summarizes heavy hitters with when an exact groupBy over all
 * keys is too large to hold. `depth` independent hash rows of `width`
 * counters; a key's estimate is the MIN of its counters, which can only
 * OVER-estimate (collisions add, never subtract) — the classic one-sided
 * guarantee, asserted per-key in the q82 output.
 *
 * Determinism/replayability: slot hash = mix64(hash_text(key) XOR j) —
 * XOR (not +) so the composition never overflows under ANSI arithmetic,
 * and the DuckDB oracle replays it with the same HUGEINT machinery as
 * the minhash bands. `width` must be a power of two so the signed
 * `pmod` equals the unsigned low bits the oracle computes.
 *
 * Scale shape: the counter build is ONE groupBy over (j, bucket) —
 * depth*width cells regardless of key cardinality (map-side partials
 * collapse to ≤ depth*width rows per task); estimates are an equi-join
 * of the (distinct-key x depth) probe frame against the tiny counter
 * table, broadcastable by construction.
 */
object Sketch {

  private def bucket(key: Column, j: Column, width: Int): Column =
    pmod(gf.mix64(gf.hash_text(key).bitwiseXOR(j.cast("long"))), lit(width.toLong))

  /** The (j, bucket, cnt) counter table of `df`'s `key` column. */
  def countMin(df: DataFrame, key: Column, depth: Int = 4, width: Int = 1024): DataFrame = {
    require(width > 0 && (width & (width - 1)) == 0, s"width must be a power of 2, got $width")
    df.select(key.as("k"))
      .withColumn("j", explode(array((0 until depth).map(lit): _*)))
      .select(col("j"), bucket(col("k"), col("j"), width).as("bucket"))
      .groupBy(col("j"), col("bucket")).agg(count(lit(1)).as("cnt"))
  }

  /** Point estimates for `keys` (a frame with column `k`): min counter
    * across the depth rows. Missing cells count 0 (keys never inserted). */
  def cmsEstimates(counters: DataFrame, keys: DataFrame,
                   depth: Int = 4, width: Int = 1024): DataFrame =
    keys.select(col("k"))
      .withColumn("j", explode(array((0 until depth).map(lit): _*)))
      .withColumn("bucket", bucket(col("k"), col("j"), width))
      .join(counters, Seq("j", "bucket"), "left")
      .groupBy(col("k"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))

  /** Per-group CMS counter tables (q107): [[countMin]] keyed by `grp` —
    * the partial sketch each executor holds over its input slice. */
  def countMinBy(df: DataFrame, grp: Column, key: Column,
                 depth: Int = 4, width: Int = 1024): DataFrame = {
    require(width > 0 && (width & (width - 1)) == 0, s"width must be a power of 2, got $width")
    df.select(grp.as("grp"), key.as("k"))
      .withColumn("j", explode(array((0 until depth).map(lit): _*)))
      .select(col("grp"), col("j"), bucket(col("k"), col("j"), width).as("bucket"))
      .groupBy(col("grp"), col("j"), col("bucket")).agg(count(lit(1)).as("cnt"))
  }

  /** CMS UNION (q107): counter-wise SUM over per-group sketches — unlike
    * HLL's idempotent max, the CMS merge is an exact-additive
    * distributive aggregate, so the merged table is IDENTICAL (cell for
    * cell) to the sketch built directly on the union; q107 grades that
    * identity. */
  def cmsMerge(countersBy: DataFrame): DataFrame =
    countersBy.groupBy(col("j"), col("bucket")).agg(sum(col("cnt")).as("cnt"))

  /** The merge self-check (q97, q103, q106, q107): one row whose column
    * `name` counts the `keys` whose `value` differs between sketch tables
    * `a` and `b`, a key missing on one side being 0 there (an empty
    * register or counter). */
  def mismatchCount(a: DataFrame, b: DataFrame, keys: Seq[String], value: String,
                    name: String): DataFrame = {
    val (va, vb) = (s"${value.head}a", s"${value.head}b")
    a.select(keys.map(col) :+ col(value).as(va): _*)
      .join(b.select(keys.map(col) :+ col(value).as(vb): _*), keys, "full")
      .select(when(coalesce(col(va), lit(0)) === coalesce(col(vb), lit(0)), 0L)
        .otherwise(1L).as("bad"))
      .agg(coalesce(sum(col("bad")), lit(0L)).as(name))
  }

  /** [[mismatchCount]] in DuckDB SQL: a SELECT over tables `a` and `b`. */
  def mismatchCountSql(a: String, b: String, keys: Seq[String], value: String,
                       name: String): String =
    s"""SELECT CAST(coalesce(sum(
       |    CASE WHEN coalesce(a.$value, 0) = coalesce(b.$value, 0) THEN 0 ELSE 1 END), 0) AS BIGINT)
       |    AS $name
       |  FROM $a a FULL JOIN $b b USING (${keys.mkString(", ")})""".stripMargin

  // ---- HyperLogLog (q83): p = 6 -> m = 64 registers ----------------------

  val HllP = 6
  val HllM: Int = 1 << HllP // 64
  val HllMaxRank: Int = 64 - HllP + 1 // 59
  /** alpha_64 from the HLL paper's small-m table; the full constant
    * alpha * m^2 * 2^MaxRank is precomputed in the JVM and emitted into
    * the oracle verbatim, so both engines divide the SAME double. */
  val HllAlpha = 0.709
  val HllNumeratorScale: Double = HllAlpha * HllM.toDouble * HllM.toDouble *
    math.pow(2.0, HllMaxRank.toDouble)

  /** Register index (top p bits of the mixed hash) and rank (leading
    * zeros of h << p, plus one; h << p == 0 caps at MaxRank) of `key`. */
  private def hllIdxRank(key: Column): (Column, Column) = {
    val h = gf.hash_text(key) // FNV-fold + splitmix finalizer — already mixed
    val w = shiftleft(h, HllP)
    (shiftrightunsigned(h, 64 - HllP),
      when(w === 0L, lit(HllMaxRank)).otherwise(gf.leading_zeros(w) + lit(1)))
  }

  /**
   * HLL registers of `key`: (idx, m) with m = max(rank) per register —
   * the classic observable. One groupBy of at most m rows — the whole
   * 10^12-row cardinality summary is 64 ints.
   */
  def hllRegisters(df: DataFrame, key: Column): DataFrame = {
    val (idx, rank) = hllIdxRank(key)
    df.select(idx.as("idx"), rank.as("rank"))
      .groupBy(col("idx")).agg(max(col("rank")).as("m"))
  }

  /**
   * Per-group HLL registers (q97): [[hllRegisters]] keyed by `grp` — the
   * partition-local sketch each of 1000 executors would hold over its
   * slice of 100 TB. One groupBy, ≤ m rows per group.
   */
  def hllRegistersBy(df: DataFrame, grp: Column, key: Column): DataFrame = {
    val (idx, rank) = hllIdxRank(key)
    df.select(grp.as("grp"), idx.as("idx"), rank.as("rank"))
      .groupBy(col("grp"), col("idx")).agg(max(col("rank")).as("m"))
  }

  /**
   * Sketch UNION (q97): register-wise max over per-group sketches — the
   * mergeability that makes HLL a distributive aggregate (commutative,
   * associative, idempotent), so partial sketches combine in any tree
   * shape with a bounded O(m) reduce and NO re-read of the inputs.
   * max(max) == max ⇒ merged registers are IDENTICAL to the sketch built
   * directly on the union — asserted as a graded column in q97.
   */
  def hllMerge(regsBy: DataFrame): DataFrame =
    regsBy.groupBy(col("idx")).agg(max(col("m")).as("m"))

  /** Per-group estimates: [[hllEstimate]]'s exact arithmetic, one row per
    * group (each group left-joined against the full m-register grid). */
  def hllEstimateBy(regs: DataFrame): DataFrame = {
    val spark = regs.sparkSession
    val grid = regs.select(col("grp")).distinct()
      .crossJoin(spark.range(0, HllM).select(col("id").cast("long").as("idx")))
    val full = grid.join(regs, Seq("grp", "idx"), "left")
      .select(col("grp"), coalesce(col("m"), lit(0)).as("m"))
    estimated(full, col("grp"))
  }

  /**
   * Raw HLL estimate (no small/large-range bias correction — documented
   * scope; the q83 output carries the exact distinct count alongside).
   * EXACT cross-engine arithmetic: the harmonic-mean denominator sum
   * `Σ 2^-M_j` spans 59 binades, which double addition cannot hold
   * exactly in any order — so the sum is computed as the INTEGER
   * `Σ 2^(MaxRank - M_j)` (fits 66 bits -> DECIMAL(38,0) here, HUGEINT
   * in the oracle), and only then divided into the precomputed scale
   * constant: one int->double rounding + one division, both
   * deterministic and identical on both engines.
   */
  def hllEstimate(regs: DataFrame): DataFrame = {
    val spark = regs.sparkSession
    val full = spark.range(0, HllM).select(col("id").cast("long").as("idx"))
      .join(regs, Seq("idx"), "left")
      .select(coalesce(col("m"), lit(0)).as("m"))
    estimated(full)
  }

  /** The estimate columns over every register's `m`, grouped by `keys`. */
  private def estimated(full: DataFrame, keys: Column*): DataFrame = {
    val raw = lit(HllNumeratorScale) / col("num").cast("double")
    val empties = lit(HllM.toLong) - col("occupied")
    // standard small-range correction: linear counting m*ln(m/V) when the
    // raw estimate is <= 2.5m and empty registers remain. ln() is the one
    // libm call — rounded to 1e-6, where ALL 63 possible V inputs sit
    // >= 0.015 quanta from a rounding boundary (SketchSpec pins the whole
    // table, so this can never red-hash on any data)
    val corrected = when(raw <= lit(2.5 * HllM) && empties > 0,
        round(lit(HllM.toDouble) * log(lit(HllM.toDouble) / empties.cast("double")), 6))
      .otherwise(round(raw, 6))
    full.groupBy(keys: _*).agg(
        sum(expr(s"shiftleft(1L, $HllMaxRank - m)")
          .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("num"),
        sum(when(col("m") > 0, 1).otherwise(0)).cast("long").as("occupied"))
      .select(keys ++ Seq(raw.as("hll_estimate"), corrected.as("hll_corrected"),
        col("occupied")): _*)
  }

  // ---- the rank and estimator in DuckDB SQL, over the oracles' unsigned
  // HUGEINT hash `h` in [0, 2^64) ----
  private val TwoTo64Sql = s"${BigInt(1) << 64}::HUGEINT"

  /** `idx, rank` select items for hash `h`: leading zeros of the
    * shifted hash w = (h << p) mod 2^64 are 64 - len(bin(w)). */
  def hllIdxRankSql(h: String): String =
    s"""CAST($h // ${1L << (64 - HllP)} AS BIGINT) AS idx,
       |    CASE WHEN ($h * $HllM) % $TwoTo64Sql = 0 THEN $HllMaxRank
       |         ELSE CAST(65 - length(bin(($h * $HllM) % $TwoTo64Sql)) AS INT) END AS rank""".stripMargin

  /** `num, occupied` aggregates over every register's `m` (the integer
    * harmonic numerator in HUGEINT). */
  val hllSumsSql: String =
    s"""sum(CAST(CAST(1 AS BIGINT) << ($HllMaxRank - m) AS HUGEINT)) AS num,
       |    sum(CASE WHEN m > 0 THEN 1 ELSE 0 END) AS occupied""".stripMargin

  /** [[hllEstimateBy]] in DuckDB SQL, ending a WITH query: `regs(grp,
    * idx, m)` padded to each group's full register grid, then one estimate
    * row per group carrying the `extra` select items. */
  def hllEstimateBySql(regs: String, extra: String): String =
    s"""grid AS (SELECT g.grp, t.range AS idx
       |  FROM (SELECT DISTINCT grp FROM $regs) g, range(0, $HllM) t),
       |jm AS (SELECT grid.grp, coalesce(ar.m, 0) AS m
       |  FROM grid LEFT JOIN $regs ar ON ar.grp = grid.grp AND ar.idx = grid.idx),
       |agg AS (SELECT grp,
       |    $hllSumsSql FROM jm GROUP BY grp)
       |SELECT grp,
       |  $hllEstimateSql,
       |  $extra
       |FROM agg""".stripMargin

  /** `hll_estimate, hll_corrected, occupied` over [[hllSumsSql]]'s
    * columns; the two double constants are DuckDB DOUBLE literals. */
  val hllEstimateSql: String = {
    val raw = s"${DuckDb.dlit(HllNumeratorScale)} / CAST(num AS DOUBLE)"
    s"""$raw AS hll_estimate,
       |  CASE WHEN $raw
       |         <= ${DuckDb.dlit(2.5 * HllM)} AND ($HllM - occupied) > 0
       |       THEN round($HllM.0 * ln($HllM.0 / CAST($HllM - occupied AS DOUBLE)), 6)
       |       ELSE round($raw, 6)
       |  END AS hll_corrected,
       |  CAST(occupied AS BIGINT) AS occupied""".stripMargin
  }
}
