package graft
package queries

import org.apache.spark.sql.functions._
import graft.{functions => gf}
import Common._
import graft.pipeline.{Packing, Sketch, Urls}

/**
 * Sketch and sampling queries (count-min, HLL, Bloom, KMV, bottom-k,
 * weighted and stratified samples, range partitioning), each beside
 * its DuckDB oracle.
 */
private[graft] object SketchQueries {

  val queries: Seq[Query] = Seq(
    Query("q53_stratified_sample", (s, d) => {
      // deterministic language-balanced sampling: a content-hash bucket
      // (md5 -> 60-bit int -> mod 1000) gates each doc against its
      // language's quota — reproducible at any parallelism, no RNG state,
      // and the dominant language is downsampled 4x
      val bucket = Packing.md5Key(col("text")) % 1000
      t(s, d, "documents")
        .filter(bucket < when(col("lang") === "en", lit(250)).otherwise(lit(1000)))
        .select(col("doc_id"), col("lang"))
    }, () =>
      s"""WITH h AS (
        |  SELECT doc_id, lang, ${Packing.md5KeySql("text")} % 1000 AS bucket
        |  FROM documents)
        |SELECT doc_id, lang FROM h
        |WHERE bucket < CASE WHEN lang = 'en' THEN 250 ELSE 1000 END""".stripMargin),

    Query("q82_cms_heavy_hitters", (s, d) => {
      // count-min sketch over page hosts (pipeline.Sketch): counter table
      // + per-host min-estimate, joined against the exact counts so the
      // one-sided guarantee (never under-estimates) is ASSERTED per key
      // in the graded output, not just claimed
      val hosts = pages(s, d).select(
        Urls.host(col("url")).as("k"))
      val counters = graft.pipeline.Sketch.countMin(hosts, col("k"))
      val exact = hosts.groupBy(col("k")).agg(count(lit(1)).as("exact_n"))
      graft.pipeline.Sketch.cmsEstimates(counters, exact.select(col("k")))
        .join(exact, Seq("k"))
        .select(col("k").as("host"), col("exact_n"), col("cms_est"),
          (col("cms_est") >= col("exact_n")).as("never_under"))
    },
    // the full sketch replayed: every slot hash (FNV + splitmix64 over
    // HUGEINT), every counter cell, every min-estimate re-derived
    () => (pagesCte + s""",
      |hosts AS (SELECT ${Urls.hostSql("url")} AS k FROM pages),
      |hh AS (SELECT k, ${fnvSql("k")} AS h FROM hosts),
      |b AS (SELECT k, j,
      |    CAST(${mix64Sql("xor(h, CAST(j AS HUGEINT))")} % 1024 AS BIGINT) AS bucket
      |  FROM hh CROSS JOIN unnest([0,1,2,3]) AS t(j)),
      |counters AS (SELECT j, bucket, count(*) AS cnt FROM b GROUP BY j, bucket),
      |ks AS (SELECT DISTINCT k, j, bucket FROM b),
      |est AS (SELECT ks.k, min(c.cnt) AS cms_est
      |        FROM ks JOIN counters c USING (j, bucket) GROUP BY ks.k),
      |exact AS (SELECT k, count(*) AS exact_n FROM hosts GROUP BY k)
      |SELECT exact.k AS host, exact_n, CAST(cms_est AS BIGINT) AS cms_est,
      |  (cms_est >= exact_n) AS never_under
      |FROM exact JOIN est ON est.k = exact.k""".stripMargin)),

    Query("q107_cms_merge", (s, d) => {
      // CMS MERGEABILITY driver-certified (the q97 pattern for the
      // frequency sketch): rows sharded 4 ways by URL hash, one
      // depth x width counter table per shard, union = counter-wise SUM
      // (Sketch.cmsMerge) — exact-additive, so the merged table must be
      // cell-identical to the sketch built directly on all rows
      // (n_counter_mismatch = 0 graded), and estimates from the MERGED
      // sketch keep the one-sided guarantee per key (never_under).
      val hosts = pages(s, d).select(col("url"),
        Urls.host(col("url")).as("k"))
      val byShard = Sketch.countMinBy(hosts,
        pmod(gf.hash_text(col("url")), lit(4L)), col("k"))
      val merged = Sketch.cmsMerge(byShard)
      val direct = Sketch.countMin(hosts.select(col("k")), col("k"))
      val mis = Sketch.mismatchCount(merged, direct, Seq("j", "bucket"), "cnt",
        "n_counter_mismatch")
      val exact = hosts.groupBy(col("k")).agg(count(lit(1)).as("exact_n"))
      Sketch.cmsEstimates(merged, exact.select(col("k")))
        .join(exact, Seq("k"))
        .select(col("k").as("host"), col("exact_n"), col("cms_est"),
          (col("cms_est") >= col("exact_n")).as("never_under"))
        .crossJoin(mis)
    },
    // CMS merge replayed both ways: per-shard counters summed vs the
    // direct table (exact-additive identity -> mismatch recomputed in
    // SQL), estimates from the MERGED counters
    () => (pagesCte + s""",
      |hosts AS (SELECT url, ${Urls.hostSql("url")} AS k FROM pages),
      |hh AS (SELECT k, CAST(${fnvSql("url")} % 4 AS BIGINT) AS grp, ${fnvSql("k")} AS h FROM hosts),
      |b AS (SELECT k, grp, j,
      |    CAST(${mix64Sql("xor(h, CAST(j AS HUGEINT))")} % 1024 AS BIGINT) AS bucket
      |  FROM hh CROSS JOIN unnest([0,1,2,3]) AS t(j)),
      |byshard AS (SELECT grp, j, bucket, count(*) AS cnt FROM b GROUP BY grp, j, bucket),
      |merged AS (SELECT j, bucket, sum(cnt) AS cnt FROM byshard GROUP BY j, bucket),
      |direct AS (SELECT j, bucket, count(*) AS cnt FROM b GROUP BY j, bucket),
      |mis AS (${Sketch.mismatchCountSql("merged", "direct", Seq("j", "bucket"), "cnt",
           "n_counter_mismatch")}),
      |ks AS (SELECT DISTINCT k, j, bucket FROM b),
      |est AS (SELECT ks.k, min(c.cnt) AS cms_est
      |        FROM ks JOIN merged c USING (j, bucket) GROUP BY ks.k),
      |exact AS (SELECT k, count(*) AS exact_n FROM hosts GROUP BY k)
      |SELECT exact.k AS host, exact_n, CAST(cms_est AS BIGINT) AS cms_est,
      |  (cms_est >= exact_n) AS never_under,
      |  (SELECT n_counter_mismatch FROM mis) AS n_counter_mismatch
      |FROM exact JOIN est ON est.k = exact.k""".stripMargin)),

    Query("q83_hll_distinct", (s, d) => {
      // HyperLogLog host cardinality (pipeline.Sketch): 64 registers from
      // one groupBy; estimate arithmetic exact cross-engine (integer
      // harmonic numerator, one rounding + one division) — output carries
      // the true distinct count for the accuracy story
      val hosts = pages(s, d).select(
        Urls.host(col("url")).as("k"))
      val est = graft.pipeline.Sketch.hllEstimate(
        graft.pipeline.Sketch.hllRegisters(hosts, col("k")))
      est.crossJoin(hosts.agg(countDistinct(col("k")).as("exact_distinct")))
    },
    // HLL replayed end-to-end: register indexes/ranks from the same
    // hash (leading zeros via 64 - len(bin(w)) in the unsigned domain),
    // integer harmonic numerator in HUGEINT, the identical scale
    // constant divided in DOUBLE
    () => (pagesCte + s""",
      |hosts AS (SELECT ${Urls.hostSql("url")} AS k FROM pages),
      |hh AS (SELECT ${fnvSql("k")} AS h FROM hosts),
      |rr AS (
      |  SELECT ${Sketch.hllIdxRankSql("h")}
      |  FROM hh),
      |regs AS (SELECT idx, max(rank) AS m FROM rr GROUP BY idx),
      |allreg AS (SELECT t.range AS idx FROM range(0, ${Sketch.HllM}) t),
      |jm AS (SELECT coalesce(m, 0) AS m FROM allreg LEFT JOIN regs USING (idx)),
      |agg AS (SELECT
      |    ${Sketch.hllSumsSql} FROM jm)
      |SELECT ${Sketch.hllEstimateSql},
      |  (SELECT count(DISTINCT k) FROM hosts) AS exact_distinct
      |FROM agg""".stripMargin)),

    Query("q97_hll_merge", (s, d) => {
      // HLL MERGEABILITY driver-certified: rows sharded 4 ways by URL
      // hash (so the same host deliberately lands in multiple shards),
      // one sketch per shard, union = register-wise max (Sketch
      // .hllMerge). The merged sketch must be IDENTICAL to the sketch
      // built directly over all rows — graded as n_register_mismatch = 0
      // on every row: the distributive-aggregate property that lets 1000
      // executors each hold O(m) state over their slice of 100 TB and
      // combine in any reduce tree with no re-read. grp = -1 is the
      // merged row; its estimate is the global q83 estimate.
      val hosts = pages(s, d).select(col("url"),
        Urls.host(col("url")).as("k"))
      val regsBy = Sketch.hllRegistersBy(hosts,
        pmod(gf.hash_text(col("url")), lit(4L)), col("k"))
      val mergedRegs = Sketch.hllMerge(regsBy)
      val direct = Sketch.hllRegisters(hosts.select(col("k")), col("k"))
      val mis = Sketch.mismatchCount(mergedRegs, direct, Seq("idx"), "m", "n_register_mismatch")
      val all = regsBy.unionByName(
        mergedRegs.withColumn("grp", lit(-1L)).select(col("grp"), col("idx"), col("m")))
      Sketch.hllEstimateBy(all).crossJoin(mis)
    },
    // sketch-merge replay: per-shard registers, register-wise max union,
    // identity vs the direct sketch as a graded count, then q83's exact
    // estimate arithmetic per (shard ∪ merged) row
    () => (pagesCte + s""",
      |hosts AS (SELECT url, ${Urls.hostSql("url")} AS k FROM pages),
      |hh AS (SELECT CAST(${fnvSql("url")} % 4 AS BIGINT) AS grp, ${fnvSql("k")} AS h FROM hosts),
      |rr AS (SELECT grp,
      |    ${Sketch.hllIdxRankSql("h")}
      |  FROM hh),
      |regsby AS (SELECT grp, idx, max(rank) AS m FROM rr GROUP BY grp, idx),
      |merged AS (SELECT CAST(-1 AS BIGINT) AS grp, idx, max(m) AS m FROM regsby GROUP BY idx),
      |direct AS (SELECT idx, max(rank) AS m FROM rr GROUP BY idx),
      |mis AS (${Sketch.mismatchCountSql("merged", "direct", Seq("idx"), "m", "n_register_mismatch")}),
      |allregs AS (SELECT * FROM regsby UNION ALL SELECT * FROM merged),
      |${Sketch.hllEstimateBySql("allregs",
           "(SELECT n_register_mismatch FROM mis) AS n_register_mismatch")}""".stripMargin)),

    Query("q100_bloom_semijoin", (s, d) => {
      // Bloom-filter semi-join reduction (pipeline.Bloom): a 256-url
      // blocklist (deterministic bottom-k sample — the takedown/
      // decontamination list shape) is summarized into a 2048-bit filter
      // (32 longs, broadcast); ALL pages probe it map-side — k=3
      // broadcast joins, no exchange on the probe side — and only
      // passing rows would reach the exact join. Graded per host:
      // n_false_neg MUST be 0 on every row (the guarantee that makes
      // dropping non-passing rows safe); n_false_pos is the expected
      // (1-e^{-kn/bits})^k leakage the exact join re-filters. The exact
      // in-block join here is the GRADING truth; at scale the bloom
      // probe replaces it on the fast path.
      import graft.pipeline.{Bloom, Sample}
      val p = pages(s, d)
      val block = Sample.bottomK(p.select(col("url")), col("url"), col("url"), 256)
        .select(col("url"))
      val words = Bloom.buildWords(block, col("url"), bits = 2048, k = 3)
      val probed = Bloom.mightContain(
        p.select(col("url"),
          Urls.host(col("url")).as("host")),
        col("url"), words, bits = 2048, k = 3, out = "bloom_pass")
      probed.join(broadcast(block.withColumn("in_block", lit(1))), Seq("url"), "left")
        .groupBy(col("host")).agg(
          count(lit(1)).as("n_pages"),
          sum(when(col("bloom_pass"), 1L).otherwise(0L)).as("n_pass"),
          sum(when(col("in_block") === 1, 1L).otherwise(0L)).as("n_true"),
          sum(when(col("bloom_pass") && col("in_block").isNull, 1L).otherwise(0L))
            .as("n_false_pos"),
          sum(when(!col("bloom_pass") && col("in_block") === 1, 1L).otherwise(0L))
            .as("n_false_neg"))
    },
    // bloom membership replayed as "every probe idx IN the distinct
    // build-idx set" — structurally different SQL from the engine's
    // word/bit table, identical semantics (bit (idx>>6, idx&63) is set
    // iff some build key produced exactly idx); blocklist = q84's
    // sign-adjusted bottom-k ordering over url hashes
    () => (pagesCte + s""",
      |bh AS (SELECT url, ${fnvSql("url")} AS hu FROM pages),
      |block AS (SELECT url, hu FROM (
      |    SELECT url, hu, CAST(CASE WHEN hu >= 9223372036854775808::HUGEINT
      |      THEN hu - $Wrap64 ELSE hu END AS BIGINT) AS hs FROM bh)
      |  ORDER BY hs, url LIMIT 256),
      |bset AS (SELECT DISTINCT CAST(${mix64Sql("xor(hu, CAST(j AS HUGEINT))")} % 2048 AS BIGINT) AS idx
      |  FROM block, (VALUES (0), (1), (2)) jj(j)),
      |probe AS (SELECT url, ${Urls.hostSql("url")} AS host,
      |    CAST(${mix64Sql("xor(hu, 0::HUGEINT)")} % 2048 AS BIGINT) AS i0,
      |    CAST(${mix64Sql("xor(hu, 1::HUGEINT)")} % 2048 AS BIGINT) AS i1,
      |    CAST(${mix64Sql("xor(hu, 2::HUGEINT)")} % 2048 AS BIGINT) AS i2
      |  FROM bh),
      |tested AS (SELECT probe.host,
      |    (b0.idx IS NOT NULL AND b1.idx IS NOT NULL AND b2.idx IS NOT NULL) AS pass,
      |    (bl.url IS NOT NULL) AS in_block
      |  FROM probe
      |  LEFT JOIN bset b0 ON probe.i0 = b0.idx
      |  LEFT JOIN bset b1 ON probe.i1 = b1.idx
      |  LEFT JOIN bset b2 ON probe.i2 = b2.idx
      |  LEFT JOIN (SELECT DISTINCT url FROM block) bl ON probe.url = bl.url)
      |SELECT host, count(*) AS n_pages,
      |  CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
      |  CAST(sum(CASE WHEN in_block THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
      |  CAST(sum(CASE WHEN pass AND NOT in_block THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
      |  CAST(sum(CASE WHEN (NOT pass) AND in_block THEN 1 ELSE 0 END) AS BIGINT) AS n_false_neg
      |FROM tested GROUP BY host""".stripMargin)),

    Query("q102_kmv_quantiles", (s, d) => {
      // mergeable per-language quantile sketch (pipeline.Sample
      // .kmvQuantileSummary): estimates are order statistics of the
      // 32-row bottom-k-by-hash sample; merged-over-4-shards sample ==
      // directly-built sample graded as n_mismatch = 0 (the q97
      // mergeability pattern), estimate quality as the exact in-group
      // rank of each estimate (integer-only within_bound — no floats).
      // positions in the 32-sample: ceil(pct/100 * 32)
      graft.pipeline.Sample.kmvQuantileSummary(
        t(s, d, "documents").select(col("lang").as("grp"),
          col("doc_id").as("id"), col("n_chars").cast("long").as("v")),
        k = 32, pcts = Seq((25, 8), (50, 16), (75, 24), (90, 29)))
        .withColumnRenamed("grp", "lang")
    },
    // KMV quantile sketch replay: sample membership by sign-adjusted
    // mix64 order (the q84 rule), merge = bottom-k of per-shard
    // bottom-ks, estimates as order statistics, ranks exact-integer
    () =>
      s"""WITH d AS (SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS v FROM documents),
         |h0 AS (SELECT lang, doc_id, v,
         |    ${mix64Sql("CAST(doc_id AS HUGEINT)")} AS hu,
         |    CAST(${mix64Sql("xor(CAST(doc_id AS HUGEINT), 40503::HUGEINT)")} % 4 AS BIGINT) AS shard
         |  FROM d),
         |hh AS (SELECT lang, doc_id, v, shard,
         |    CAST(CASE WHEN hu >= 9223372036854775808::HUGEINT
         |      THEN hu - $Wrap64 ELSE hu END AS BIGINT) AS hs FROM h0),
         |ps AS (SELECT lang, doc_id, v, hs FROM (
         |    SELECT *, row_number() OVER (PARTITION BY lang, shard ORDER BY hs, doc_id) AS rn
         |    FROM hh) WHERE rn <= 32),
         |mg AS (SELECT lang, doc_id FROM (
         |    SELECT lang, doc_id, row_number() OVER (PARTITION BY lang ORDER BY hs, doc_id) AS rn
         |    FROM ps) WHERE rn <= 32),
         |dr AS (SELECT lang, doc_id, v FROM (
         |    SELECT lang, doc_id, v, row_number() OVER (PARTITION BY lang ORDER BY hs, doc_id) AS rn
         |    FROM hh) WHERE rn <= 32),
         |mis AS (SELECT coalesce(a.lang, b.lang) AS lang,
         |    CAST(sum(CASE WHEN a.doc_id IS NULL OR b.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_mismatch
         |  FROM mg a FULL JOIN dr b ON a.lang = b.lang AND a.doc_id = b.doc_id
         |  GROUP BY coalesce(a.lang, b.lang)),
         |qd AS (SELECT * FROM (VALUES (25, 8), (50, 16), (75, 24), (90, 29)) qd(pct, r)),
         |est AS (SELECT s.lang, qd.pct, s.v AS est_value, s.doc_id AS est_id
         |  FROM (SELECT lang, doc_id, v,
         |      row_number() OVER (PARTITION BY lang ORDER BY v, doc_id) AS vr FROM dr) s
         |  JOIN qd ON s.vr = qd.r),
         |ng AS (SELECT lang, count(*) AS n_group FROM d GROUP BY lang),
         |rk AS (SELECT e.lang, e.pct, count(*) AS true_rank
         |  FROM est e JOIN d ON d.lang = e.lang
         |    AND (d.v < e.est_value OR (d.v = e.est_value AND d.doc_id <= e.est_id))
         |  GROUP BY e.lang, e.pct)
         |SELECT e.lang, CAST(e.pct AS INT) AS pct, e.est_value, e.est_id,
         |  rk.true_rank, ng.n_group, mis.n_mismatch,
         |  abs(100 * rk.true_rank - e.pct * ng.n_group) <= 30 * ng.n_group AS within_bound
         |FROM est e
         |JOIN rk ON rk.lang = e.lang AND rk.pct = e.pct
         |JOIN ng ON ng.lang = e.lang
         |JOIN mis ON mis.lang = e.lang""".stripMargin),

    Query("q103_incremental_sketch", (s, d) => {
      // INCREMENTAL sketch maintenance across snapshot commits: HLL
      // registers persisted at v1, plus registers over ONLY the CDC
      // increment (Snapshots.diff v1->v2 inserts), merge into registers
      // IDENTICAL to a sketch built directly on v2 — a 100-TB table's
      // cardinality summary is maintainable from new files only, never
      // re-reading old rows. Grades the q97 pattern: per-source
      // estimates (grp 1 = v1, 2 = increment, 3 = v2 direct, 4 = v1 +
      // increment merged) + n_register_mismatch = 0 between 3 and 4.
      val dir = graft.data.Fixtures.snapshotTable(s, d)
      val v1 = graft.sources.Snapshots.readVersionAsOf(s, dir, 1L)
      val v2 = graft.sources.Snapshots.readVersionAsOf(s, dir, 2L)
      val inc = graft.sources.Snapshots.diff(s, dir, 1L, 2L)
        .where(col("op") === "insert")
      val r1 = Sketch.hllRegistersBy(v1, lit(1L), col("n_name"))
      val rInc = Sketch.hllRegistersBy(inc, lit(2L), col("n_name"))
      val rDirect = Sketch.hllRegistersBy(v2, lit(3L), col("n_name"))
      val rMerged = Sketch.hllMerge(r1.unionByName(rInc))
        .select(lit(4L).as("grp"), col("idx"), col("m"))
      val mis = Sketch.mismatchCount(rMerged, rDirect, Seq("idx"), "m", "n_register_mismatch")
      Sketch.hllEstimateBy(
          r1.unionByName(rInc).unionByName(rDirect).unionByName(rMerged))
        .crossJoin(mis)
    },
    // incremental-sketch replay: v1/increment/v2 row sets re-derived from
    // nation (the q61 snapshot fixture rule), registers + estimates via
    // the q97 machinery, merged = register-max of grp 1 and 2
    () => (s"""
      |WITH allrows AS (
      |  SELECT n_name AS k, 1 AS grp FROM nation
      |  UNION ALL SELECT n_name, 2 FROM nation WHERE n_nationkey < 10
      |  UNION ALL SELECT n_name, 3 FROM nation
      |  UNION ALL SELECT n_name, 3 FROM nation WHERE n_nationkey < 10),
      |hh AS (SELECT CAST(grp AS BIGINT) AS grp, ${fnvSql("k")} AS h FROM allrows),
      |rr AS (SELECT grp,
      |    ${Sketch.hllIdxRankSql("h")}
      |  FROM hh),
      |regsby AS (SELECT grp, idx, max(rank) AS m FROM rr GROUP BY grp, idx),
      |merged AS (SELECT CAST(4 AS BIGINT) AS grp, idx, max(m) AS m
      |  FROM regsby WHERE grp IN (1, 2) GROUP BY idx),
      |direct AS (SELECT idx, m FROM regsby WHERE grp = 3),
      |mis AS (${Sketch.mismatchCountSql("merged", "direct", Seq("idx"), "m", "n_register_mismatch")}),
      |allregs AS (SELECT * FROM regsby UNION ALL SELECT * FROM merged),
      |${Sketch.hllEstimateBySql("allregs",
           "(SELECT n_register_mismatch FROM mis) AS n_register_mismatch")}""".stripMargin)),

    Query("q104_weighted_sample", (s, d) => {
      // deterministic WEIGHTED sampling (pipeline.Sample.weightedBottomK):
      // per-language mixing weights (upsample rare languages, downsample
      // the dominant one — the data-mixing knob of a training-corpus
      // builder), item priority = min of w per-copy hashes, global
      // bottom-150. RNG-free and mergeable like q84; the copy fan-out
      // collapses map-side so the shuffle carries one row per doc.
      val wmap = typedLit(Map("en" -> 1, "zh" -> 2, "es" -> 4, "de" -> 8, "fr" -> 16))
      graft.pipeline.Sample.weightedBottomK(
        t(s, d, "documents").select(col("doc_id").as("id"), col("lang"),
          coalesce(element_at(wmap, col("lang")), lit(1)).as("w")),
        k = 150)
        .select(col("id").as("doc_id"), col("lang"), col("w"), col("priority"))
    },
    // weighted sample replay: per-copy draws via generate_series(0, w-1),
    // min over SIGN-ADJUSTED priorities (the q84 signed-order rule),
    // weights from the same literal lang map
    () =>
      s"""WITH wd AS (SELECT doc_id, lang,
         |    CASE lang WHEN 'en' THEN 1 WHEN 'zh' THEN 2 WHEN 'es' THEN 4
         |      WHEN 'de' THEN 8 WHEN 'fr' THEN 16 ELSE 1 END AS w
         |  FROM documents),
         |base AS (SELECT doc_id, lang, w,
         |    ${mix64Sql("CAST(doc_id AS HUGEINT)")} AS b FROM wd),
         |draws AS (SELECT doc_id, lang, w,
         |    ${mix64Sql("xor(b, CAST(j AS HUGEINT))")} AS pu
         |  FROM base, unnest(generate_series(0, w - 1)) AS g(j)),
         |pr AS (SELECT doc_id, lang, CAST(w AS INT) AS w,
         |    min(CAST(CASE WHEN pu >= 9223372036854775808::HUGEINT
         |      THEN pu - $Wrap64 ELSE pu END AS BIGINT)) AS priority
         |  FROM draws GROUP BY doc_id, lang, w)
         |SELECT doc_id, lang, w, priority FROM pr
         |ORDER BY priority, doc_id LIMIT 150""".stripMargin),

    Query("q108_range_partition", (s, d) => {
      // deterministic range-partitioned global sort (the TeraSort
      // primitive a 100-TB ORDER BY needs): boundaries come from a
      // value-INDEPENDENT k=64 bottom-k-by-id-hash sample (one
      // TakeOrderedAndProject, driver holds O(k)), every row buckets
      // map-side against the literal boundary array, and bucket order
      // is global (v, id) order — certified per bucket by mono_ok
      // (previous bucket's max <= this bucket's min, never violable by
      // construction because ties split on doc_id). bal_pct grades the
      // sample-quality balance the shuffle would see.
      val docs = t(s, d, "documents")
        .select(col("doc_id").as("id"), length(col("text")).cast("long").as("v"))
      val nBuckets = 8
      val bounds = graft.pipeline.Sample.rangeBoundaries(docs, k = 64, nBuckets = nBuckets)
      val total = docs.count()
      val agg = docs
        .withColumn("bucket", graft.pipeline.Sample.rangeBucket(col("v"), col("id"), bounds))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_rows"), min(col("v")).as("min_v"), max(col("v")).as("max_v"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("bucket"))
      agg.select(col("bucket"), col("n_rows"), col("min_v"), col("max_v"),
        coalesce(lag(col("max_v"), 1).over(w) <= col("min_v"), lit(true)).as("mono_ok"),
        floor(lit(100L) * col("n_rows") * lit(nBuckets.toLong) / lit(total)).cast("long")
          .as("bal_pct"))
    },
    // range-sort replay: the value-independent sample re-drawn by
    // sign-adjusted mix64 order, boundaries as order statistics of the
    // sample at ranks i*k/B, bucket = count of boundaries lexicographically
    // <= (v, id), then the same per-bucket stats + mono certificate
    () =>
      s"""WITH d AS (SELECT doc_id AS id, CAST(length(text) AS BIGINT) AS v FROM documents),
         |hs AS (SELECT id, v, ${mix64Sql("CAST(id AS HUGEINT)")} AS hu FROM d),
         |smp AS (SELECT id, v FROM hs
         |  ORDER BY CAST(CASE WHEN hu >= 9223372036854775808::HUGEINT
         |    THEN hu - $Wrap64 ELSE hu END AS BIGINT), id LIMIT 64),
         |rk AS (SELECT id, v, row_number() OVER (ORDER BY v, id) AS rn FROM smp),
         |bd AS (SELECT v AS bv, id AS bid FROM rk WHERE rn IN (8,16,24,32,40,48,56)),
         |asg AS (SELECT d.id, d.v,
         |    (SELECT count(*) FROM bd WHERE bv < d.v OR (bv = d.v AND bid <= d.id)) AS bucket
         |  FROM d),
         |agg AS (SELECT bucket, count(*) AS n_rows, min(v) AS min_v, max(v) AS max_v
         |  FROM asg GROUP BY bucket)
         |SELECT CAST(bucket AS BIGINT) AS bucket, n_rows, min_v, max_v,
         |  coalesce(lag(max_v) OVER (ORDER BY bucket) <= min_v, true) AS mono_ok,
         |  CAST((100 * n_rows * 8) // (SELECT count(*) FROM d) AS BIGINT) AS bal_pct
         |FROM agg""".stripMargin),

    Query("q84_bottomk_sample", (s, d) => {
      // deterministic uniform sample: 100 docs with the smallest content
      // hash (RNG-free, mergeable, identical at any partitioning —
      // pipeline.Sample). The orderBy is TOTAL (hash, then doc_id), so
      // the limit is deterministic (the q49 limit rule)
      graft.pipeline.Sample.bottomK(
        t(s, d, "documents").select(col("doc_id"), col("text")),
        col("text"), col("doc_id"), 100)
        .select(col("doc_id"), col("h"))
    },
    // the signed-order rule (CLAUDE.md): the engine sorts the hash as a
    // SIGNED long, so the replay maps the unsigned HUGEINT back before
    // ordering AND emits the same signed value
    () =>
      s"""WITH h AS (SELECT doc_id, ${fnvSql("text")} AS hu FROM documents),
         |s AS (SELECT doc_id,
         |  CAST(CASE WHEN hu >= 9223372036854775808::HUGEINT
         |       THEN hu - $Wrap64 ELSE hu END AS BIGINT) AS h FROM h)
         |SELECT doc_id, h FROM s ORDER BY h, doc_id LIMIT 100""".stripMargin)
  )
}
