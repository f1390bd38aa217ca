package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{functions => gf}
import Common._
import graft.pipeline.Quality
import graft.pipeline.DuckDb.dlit

/**
 * Vector search queries (brute and LSH kNN, IVF, PQ, quantization,
 * embedding dedup, BM25 top-k), each beside its DuckDB oracle.
 */
private[graft] object AnnQueries {

  val queries: Seq[Query] = Seq(
    // ---- scalable embedding near-dup retention (r4 verdict top item):
    // the minhash funnel's shape over an embedding column — LSH-bucket
    // candidates -> exact-cosine verify ON CANDIDATES ONLY -> connected-
    // component retention. The corpus is the embeddings table plus
    // deterministic near-duplicate copies (one perturbed component each)
    // derived IN BOTH ENGINES from the same arithmetic, so near-dup pairs
    // exist to retain against (the raw fixture's max pairwise cosine is
    // 0.513, far below any near-dup threshold). No all-pairs stage
    // anywhere; q32 stays the labeled brute anchor. ----
    Query("q89_embedding_dedup", (s, d) => {
      // near-dup copies: ONE component gets +delta (position varies by
      // id); float32 of (float64 + delta) is bit-identical cross-engine,
      // and on the unit-norm fixture every true-dup pair's cosine is
      // >= 0.996 (dup1-dup2 companions included) while unrelated pairs
      // stay <= ~0.55 — the 0.8 threshold sits mid-gap, >= 0.19 from any
      // decision on either side (EmbeddingDedupSpec pins the margin and
      // candidate recall vs the brute anchor)
      // the corpus is 1100 tiny rows referenced by five operator branches
      // (two bucket sides, two verify sides, the retention spine) —
      // localize once so every job plans a LocalRelation instead of
      // re-reading parquet + re-deriving the perturbation per branch
      // (the q62 localize discipline; measured ~5s -> ~2s in the suite)
      graft.pipeline.Dedup.embeddingKept(
        graft.sources.Storage.localize(graft.data.Fixtures.embDupCorpus(s, d)))
    },
    // the full embedding funnel replayed from raw embeddings: the
    // perturbed-copy corpus (same float32-of-float64 arithmetic), every
    // hyperplane dot sign (shared published constants, ordered float64
    // folds), bucket-collision candidates, the exact-cosine verify
    // decision (bit-identical fold on both sides of 0.95), and the
    // recursive component closure with singleton fill-in
    () =>
      s"""WITH RECURSIVE $embDupCorpusCte,
         |hp AS (
         |  SELECT * FROM (VALUES $oracleHyperplaneValues) AS h(tbl, bit, ws)),
         |dots AS (
         |  SELECT c.vec_id, h.tbl, h.bit,
         |    ${orderedSum("h.ws", i => s"CAST(c.embedding[$i] AS DOUBLE) * h.ws[$i]")} AS dot
         |  FROM corpus c CROSS JOIN hp h),
         |buckets AS (
         |  SELECT vec_id, tbl,
         |    sum(CASE WHEN dot >= 0 THEN CAST(1 AS BIGINT) << bit ELSE 0 END) AS bucket
         |  FROM dots GROUP BY vec_id, tbl),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM buckets a JOIN buckets b
         |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |vp AS (
         |  SELECT vec_a, vec_b FROM cand
         |  JOIN corpus ca ON ca.vec_id = vec_a
         |  JOIN corpus cb ON cb.vec_id = vec_b
         |  WHERE ${cosSqlExpr("ca.embedding", "cb.embedding")} >= 0.8E0),
         |edges AS (SELECT vec_a AS a, vec_b AS b FROM vp
         |          UNION SELECT vec_b, vec_a FROM vp),
         |r(a, b) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
         |  UNION
         |  SELECT e.a, r.b FROM edges e JOIN r ON e.b = r.a),
         |comp AS (SELECT a AS vec_id, min(b) AS component FROM r GROUP BY a)
         |SELECT c.vec_id, coalesce(m.component, c.vec_id) AS component,
         |  (coalesce(m.component, c.vec_id) = c.vec_id) AS kept
         |FROM corpus c LEFT JOIN comp m USING (vec_id)""".stripMargin),

    // ---- embeddings: ANN (brute-force oracle path + LSH scale path) ----
    Query("q30_knn_brute", (s, d) => {
      val emb = t(s, d, "embeddings")
      graft.pipeline.Ann.bruteTopK(emb,
          emb.filter(col("vec_id") < 8)
            .select(col("vec_id").as("query_id"), col("embedding").as("qvec")),
          k = 10)
        .select(col("query_id"), col("rank"), col("vec_id"))
    }, () =>
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 8)
        |SELECT query_id, rank, vec_id FROM (
        |  SELECT q.query_id, e.vec_id,
        |    row_number() OVER (PARTITION BY q.query_id
        |      ORDER BY list_cosine_similarity(e.embedding, q.qvec) DESC, e.vec_id) AS rank
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id)
        |WHERE rank <= 10""".stripMargin),

    Query("q31_ann_lsh", (s, d) => {
      // LSH-bucketed ANN (the scale path, recall < 1 by construction):
      // 4 hash tables x 8 hyperplane bits; candidates share any table's
      // bucket with the query, then exact cosine top-10 over candidates
      // (pipeline.Ann.lshTopK — one definition with the q93 recall row).
      val emb = t(s, d, "embeddings")
      graft.pipeline.Ann.lshTopK(emb,
          emb.filter(col("vec_id") < 8)
            .select(col("vec_id").as("query_id"), col("embedding").as("qvec")),
          k = 10)
        .select(col("query_id"), col("rank"), col("vec_id"),
          round(col("sim"), 6).as("sim"))
    },
    // full LSH-ANN replay: hyperplane weights are emitted as constants
    // (see oracleHyperplaneValues); DuckDB re-derives every dot sign,
    // bucket, candidate pair, exact cosine (engine accumulation order →
    // bit-identical sims) and rank
    () =>
      s"""WITH ${lshTop10Ctes()}
         |SELECT query_id, rank, vec_id, round(sim, 6) AS sim
         |FROM lshtop""".stripMargin),

    // ---- ANN recall as a GRADED surface (r4 verdict item 8): the LSH
    // funnel scored against an exact brute anchor per query point, run
    // over the q89 dup corpus where TRUE near neighbors exist (on the
    // raw fixture the brute "top-10" are cosine~0.4 strangers LSH is not
    // built to find — measured recall 0-0.2, a vacuous bound). Graded
    // columns: recall@10 (exact rational) plus the asserted guarantee
    // (q82's pattern): the funnel's top-1 IS the true nearest neighbor
    // — the planted >=0.996-cosine dup — for EVERY query point. ----
    Query("q93_ann_recall", (s, d) => {
      val corpus = graft.data.Fixtures.embDupCorpus(s, d)
      val qs = corpus.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val lsh = graft.pipeline.Ann.lshTopK(corpus, qs, k = 10)
      val brute = graft.pipeline.Ann.bruteTopK(corpus, qs, k = 10)
        .select(col("query_id"), col("rank"), col("vec_id"))
      val top1 = brute.filter(col("rank") === 1)
        .select(col("query_id"), col("vec_id").as("top1_id"))
      val lshTop1 = lsh.filter(col("rank") === 1)
        .select(col("query_id"), col("vec_id").as("lsh_top1"))
      brute.join(lsh.select(col("query_id"), col("vec_id"))
            .withColumn("__hit", lit(1)), Seq("query_id", "vec_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_brute"),
          sum(coalesce(col("__hit"), lit(0))).as("n_hit"))
        .join(top1, Seq("query_id")).join(lshTop1, Seq("query_id"))
        .select(col("query_id"), col("n_brute"), col("n_hit"),
          (col("n_hit").cast("double") / lit(10.0)).as("recall"),
          col("top1_id"),
          (col("top1_id") === col("lsh_top1")).as("top1_found"))
    },
    // recall of the LSH funnel vs an exact brute anchor AS GRADED COLUMNS
    // (the q82 pattern: the quality guarantee is asserted inside the
    // output) — over the dup corpus, where true near neighbors exist.
    // recall@10 is a rational n_hit/10 (exact in both engines); the
    // brute ranking replays the engine's exact double fold (cosSqlExpr,
    // not float32 list_cosine_similarity — the doubled corpus has
    // near-tied stranger ranks a float32 replay could flip).
    () =>
      s"""WITH $embDupCorpusCte,
         |${lshTop10Ctes("corpus")},
         |brute AS (
         |  SELECT query_id, rank, vec_id FROM (
         |    SELECT q.query_id, e.vec_id,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY ${cosSqlExpr("e.embedding", "q.qvec")} DESC, e.vec_id) AS rank
         |    FROM corpus e
         |    CROSS JOIN (SELECT vec_id AS query_id, embedding AS qvec
         |                FROM corpus WHERE vec_id < 8) q
         |    WHERE e.vec_id <> q.query_id)
         |  WHERE rank <= 10),
         |top1 AS (SELECT query_id, vec_id AS top1_id FROM brute WHERE rank = 1),
         |l1 AS (SELECT query_id, vec_id AS lsh_top1 FROM lshtop WHERE rank = 1),
         |hits AS (
         |  SELECT b.query_id, count(*) AS n_brute,
         |    sum(CASE WHEN l.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
         |  FROM brute b LEFT JOIN lshtop l
         |    ON l.query_id = b.query_id AND l.vec_id = b.vec_id
         |  GROUP BY b.query_id)
         |SELECT h.query_id, CAST(h.n_brute AS BIGINT) AS n_brute,
         |  CAST(h.n_hit AS BIGINT) AS n_hit,
         |  CAST(h.n_hit AS DOUBLE) / 10.0E0 AS recall,
         |  t.top1_id, (t.top1_id = l1.lsh_top1) AS top1_found
         |FROM hits h JOIN top1 t USING (query_id) JOIN l1 USING (query_id)""".stripMargin),

    Query("q62_ann_ivf_kmeans", (s, d) => {
      // IVF with a TRAINED quantizer: 2 k-means iterations over the
      // id-sample seed (exact quantized-mean accumulation — centroids
      // bit-identical at any parallelism; DuckDB replays both iterations)
      val emb = t(s, d, "embeddings")
      val queriesDf = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      graft.pipeline.Ann.ivfTopK(emb, queriesDf, k = 10, nLists = 32, nProbe = 4,
          trainIters = 2)
        .select(col("query_id"), col("rank"), col("vec_id"))
    },
    // trained-quantizer IVF, FULLY replayed: the id-sample seed, BOTH
    // k-means iterations (exact-cosine argmax assignment + quantized-mean
    // centroid update — both engines compute bit-identical centroids by
    // construction), the probes, and the final ranks
    () =>
      s"""WITH c0 AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) AS list_id, embedding AS cvec
         |  FROM (SELECT vec_id, embedding FROM embeddings
         |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 32)),
         |${kmeansIterCtes("c0", "a1", "m1", "c1")},
         |${kmeansIterCtes("c1", "a2", "m2", "c2")},
         |a3 AS (
         |  SELECT vec_id, embedding, list_id FROM (
         |    SELECT e.vec_id, e.embedding, c.list_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosSqlExpr("e.embedding", "c.cvec")} DESC, c.list_id) AS rn
         |    FROM embeddings e CROSS JOIN c2 c) WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 8),
         |probes AS (
         |  SELECT query_id, qvec, list_id FROM (
         |    SELECT q.query_id, q.qvec, c.list_id,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY ${cosSqlExpr("q.qvec", "c.cvec")} DESC, c.list_id) AS prnk
         |    FROM q CROSS JOIN c2 c) WHERE prnk <= 4)
         |SELECT query_id, rank, vec_id FROM (
         |  SELECT p.query_id, a.vec_id,
         |    row_number() OVER (PARTITION BY p.query_id
         |      ORDER BY ${cosSqlExpr("a.embedding", "p.qvec")} DESC, a.vec_id) AS rank
         |  FROM probes p JOIN a3 a USING (list_id)
         |  WHERE a.vec_id <> p.query_id)
         |WHERE rank <= 10""".stripMargin),

    Query("q71_embed_quantize", (s, d) => {
      // int8 symmetric quantization of the embedding store (the 4x
      // compression a 100-TB vector corpus ships with): per-dimension
      // scale = corpus max|x| (a narrow agg — one row per dim, exact and
      // order-independent), published to the plan as a literal array
      // (the build-once/broadcast pattern, like the cover index), then a
      // pure map-side quantize + reconstruct with per-vector error stats.
      val emb = t(s, d, "embeddings")
      val mx = emb.select(posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("pos")).agg(max(abs(col("x").cast("double"))).as("mx"))
        .orderBy(col("pos")).collect().map(_.getDouble(1))
      val sc = typedLit(mx.toSeq)
      val qv = zip_with(col("embedding"), sc, (x, m) =>
        when(m === 0d, lit(0L)).otherwise(
          greatest(lit(-127L), least(lit(127L),
            round(x.cast("double") / m * lit(127d)).cast("long")))))
      val recon = zip_with(qv, sc, (q, m) => (q.cast("double") * m / lit(127d)))
      val err = zip_with(col("embedding"), recon, (x, r) => abs(x.cast("double") - r))
      emb.select(col("vec_id"), col("embedding"),
          qv.as("qv"), recon.as("recon"), err.as("err"))
        .select(col("vec_id"),
          array_max(transform(col("qv"), q => abs(q))).as("max_q"),
          round(array_max(col("err")), 9).as("max_abs_err"),
          round(gf.cosine_sim(col("embedding"), col("recon").cast("array<float>")), 6)
            .as("recon_cos"))
    },
    // per-dim scales re-derived (exact max agg), the same round/clamp
    // quantize, double reconstruction, and the engine's float-cast +
    // index-ordered cosine replayed
    () =>
      s"""WITH mx AS (
         |  SELECT g.p AS pos, max(abs(CAST(embedding[g.p] AS DOUBLE))) AS m
         |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(p)
         |  GROUP BY g.p),
         |s AS (SELECT list(m ORDER BY pos) AS sc FROM mx),
         |qr AS (
         |  SELECT vec_id, embedding,
         |    list_transform(generate_series(1, len(embedding)), i ->
         |      CASE WHEN sc[i] = 0 THEN 0 ELSE greatest(-127, least(127,
         |        CAST(round(CAST(embedding[i] AS DOUBLE) / sc[i] * 127) AS BIGINT))) END) AS qv,
         |    sc
         |  FROM embeddings, s),
         |rr AS (
         |  SELECT vec_id, embedding, qv,
         |    list_transform(generate_series(1, len(qv)), i ->
         |      CAST(CAST(qv[i] AS DOUBLE) * sc[i] / 127 AS REAL)) AS recon,
         |    list_transform(generate_series(1, len(qv)), i ->
         |      abs(CAST(embedding[i] AS DOUBLE) - CAST(qv[i] AS DOUBLE) * sc[i] / 127)) AS err
         |  FROM qr)
         |SELECT vec_id,
         |  CAST(list_aggregate(list_transform(qv, q -> abs(q)), 'max') AS BIGINT) AS max_q,
         |  round(list_aggregate(err, 'max'), 9) AS max_abs_err,
         |  round(${cosSqlExpr("embedding", "recon")}, 6) AS recon_cos
         |FROM rr""".stripMargin),

    Query("q36_ann_ivf", (s, d) => {
      // IVF-style ANN: probe the 4 nearest of 32 inverted lists, exact
      // rank within — the clustered-index scale path beside q31's LSH
      val emb = t(s, d, "embeddings")
      val queriesDf = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      // output is (query, rank, neighbor) — the similarity VALUE is
      // excluded because DuckDB's list_cosine_similarity accumulates in
      // float32 while the engine accumulates in float64; the ORDERING
      // agrees (that's what rank checks), the 7th decimal doesn't
      graft.pipeline.Ann.ivfTopK(emb, queriesDf, k = 10, nLists = 32, nProbe = 4)
        .select(col("query_id"), col("rank"), col("vec_id"))
    },
    // full IVF replay: md5-ordered centroid sample, argmax list assignment
    // (ties to the smallest list_id), nProbe=4 probes, exact rank within
    () =>
      """WITH cents AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) AS list_id, embedding AS cvec
        |  FROM (SELECT vec_id, embedding FROM embeddings
        |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 32)
        |),
        |assign AS (
        |  SELECT vec_id, embedding, list_id FROM (
        |    SELECT e.vec_id, e.embedding, c.list_id,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.embedding, c.cvec) DESC, c.list_id) AS rn
        |    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1
        |),
        |q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 8),
        |probes AS (
        |  SELECT query_id, qvec, list_id FROM (
        |    SELECT q.query_id, q.qvec, c.list_id,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY list_cosine_similarity(q.qvec, c.cvec) DESC, c.list_id) AS prnk
        |    FROM q CROSS JOIN cents c) WHERE prnk <= 4
        |)
        |SELECT query_id, rank, vec_id FROM (
        |  SELECT p.query_id, a.vec_id,
        |    row_number() OVER (PARTITION BY p.query_id
        |      ORDER BY list_cosine_similarity(a.embedding, p.qvec) DESC, a.vec_id) AS rank
        |  FROM probes p JOIN assign a USING (list_id)
        |  WHERE a.vec_id <> p.query_id)
        |WHERE rank <= 10""".stripMargin),

    Query("q99_pq_adc", (s, d) => {
      // Product quantization for MIPS — the ANN COMPRESSION path: 64
      // floats (256 B) per vector become 4 one-byte codes before the
      // index ships to searchers; inner product is the one similarity
      // that decomposes EXACTLY across subspaces, so ADC scoring is a
      // broadcast lookup-table sum (Ann.pqCodebooks/pqCodes/pqTopK —
      // per-subspace k-means with the IVF trainer's 1/2^20-quantized
      // exact means, dot-argmax assignment, subspace-ordered ADC folds).
      // Graded q93-style: adc scores bit-exact, plus each hit's
      // exact-dot brute rank and per-query recall@10 as columns — PQ
      // recall < 1 by construction, the NUMBER is the contract.
      import graft.pipeline.Ann
      val emb = graft.data.Fixtures.embDupCorpus(s, d)
      val queries = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val approx = Ann.pqTopK(emb, queries, k = 10)
      val bruteW = Window.partitionBy(col("query_id"))
        .orderBy(col("xdot").desc, col("vec_id"))
      // bounded fixture anchor (8 x corpus), the labeled brute pattern
      val brute = queries.crossJoin(emb)
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          gf.dot_sim(col("embedding"), col("qvec")).as("xdot"))
        .withColumn("exact_rank", row_number().over(bruteW))
        .select(col("query_id"), col("vec_id"), col("exact_rank"))
      val recall = approx
        .join(brute.filter(col("exact_rank") <= 10).withColumn("hit", lit(1L))
          .select(col("query_id"), col("vec_id"), col("hit")),
          Seq("query_id", "vec_id"), "left")
        .groupBy(col("query_id"))
        .agg((sum(coalesce(col("hit"), lit(0L))) / lit(10.0)).as("recall10"))
      approx.join(brute, Seq("query_id", "vec_id"))
        .join(recall, Seq("query_id"))
        .select(col("query_id"), col("rank"), col("vec_id"), col("adc"),
          col("exact_rank"), col("recall10"))
    },
    // full PQ replay: four per-subspace trainers (shared md5 id-sample,
    // dot-argmax, quantized means), codes, query ADC tables, subspace-
    // ordered fold, exact-dot brute ranks and recall@10
    () =>
      s"""WITH $embDupCorpusCte,
         |${(0 until 4).map(pqSubCtes(_, "corpus")).mkString(",\n")},
         |books AS (${(0 until 4).map(s => s"SELECT * FROM book$s").mkString(" UNION ALL ")}),
         |slall AS (${(0 until 4).map(s => s"SELECT vec_id, $s AS sub, svec FROM sl$s").mkString(" UNION ALL ")}),
         |codes AS (
         |  SELECT vec_id, sub, code FROM (
         |    SELECT s.vec_id, s.sub, b.list_id AS code,
         |      row_number() OVER (PARTITION BY s.vec_id, s.sub
         |        ORDER BY ${dotSqlExpr("s.svec", "b.cvec")} DESC, b.list_id) AS rn
         |    FROM slall s JOIN books b USING (sub)) WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, embedding AS qvec FROM corpus WHERE vec_id < 8),
         |qsl AS (${(0 until 4).map(s => s"SELECT query_id, $s AS sub, qvec[${s * 16 + 1}:${s * 16 + 16}] AS qs FROM q").mkString(" UNION ALL ")}),
         |tbl AS (
         |  SELECT query_id, sub, b.list_id AS code, ${dotSqlExpr("qsl.qs", "b.cvec")} AS pd
         |  FROM qsl JOIN books b USING (sub)),
         |adc AS (
         |  SELECT t.query_id, c.vec_id,
         |    list_reduce(list_prepend(0.0E0, list(pd ORDER BY t.sub)), (a, v) -> a + v) AS adc
         |  FROM codes c JOIN tbl t ON t.sub = c.sub AND t.code = c.code
         |  WHERE c.vec_id <> t.query_id
         |  GROUP BY t.query_id, c.vec_id),
         |ranked AS (
         |  SELECT query_id, vec_id, adc,
         |    row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, vec_id) AS rank
         |  FROM adc),
         |brute AS (
         |  SELECT q.query_id, e.vec_id,
         |    row_number() OVER (PARTITION BY q.query_id
         |      ORDER BY ${dotSqlExpr("e.embedding", "q.qvec")} DESC, e.vec_id) AS exact_rank
         |  FROM q CROSS JOIN corpus e WHERE e.vec_id <> q.query_id),
         |rec AS (
         |  SELECT r.query_id,
         |    sum(CASE WHEN b.exact_rank <= 10 THEN 1 ELSE 0 END) / 10.0E0 AS recall10
         |  FROM ranked r JOIN brute b USING (query_id, vec_id)
         |  WHERE r.rank <= 10 GROUP BY r.query_id)
         |SELECT r.query_id, CAST(r.rank AS INT) AS rank, r.vec_id, r.adc,
         |  CAST(b.exact_rank AS INT) AS exact_rank, rec.recall10
         |FROM ranked r JOIN brute b USING (query_id, vec_id) JOIN rec USING (query_id)
         |WHERE r.rank <= 10""".stripMargin),

    Query("q98_bm25_topk", (s, d) => {
      // BM25 retrieval top-k — the ranked-retrieval primitive a curation
      // pipeline runs for query-based decontamination / targeted corpus
      // slicing. Shape: inverted-index equi-join of a small query-term
      // frame (broadcast) against per-(term, doc) postings — never
      // all-pairs; df/length stats are narrow exact-integer aggregates.
      // RATIONAL-idf variant: idf = (2N-2df+1)/(2df+1) — the classic
      // ln((N-df+.5)/(df+.5)) replaced by its argument, keeping the exact
      // same monotone df-ordering per term while making every score a
      // pure rational expression: identical arithmetic shapes fold
      // bit-exact cross-engine in query-term order (the q90 rule) with no
      // libm call and no rounding quantum. k1 = 1.2, b = 0.75. At 100 TB
      // the stopword-heavy candidate fan-out is bounded by an idf floor
      // (here unpruned: the fixture's corpus is small; the knob is a
      // WHERE on idf before the postings join). Ties cannot occur: the
      // row_number orders by (score, doc_id).
      val docs = t(s, d, "documents")
      val toks = Quality.words(col("text"))
      val docToks = docs.select(col("doc_id"), posexplode(toks))
        .withColumnRenamed("col", "term")
      // r6 (guide §2.3 "shuffle fewer bytes"): per-doc length needs no
      // explode at all — size(toks) IS the token count, computed map-side
      // (docs with zero tokens produce no dlenF row, exactly like the
      // posexplode+groupBy form it replaces)
      val dlenF = docs.select(col("doc_id"), size(toks).cast("long").as("len"))
        .filter(col("len") > 0)
      val stats = dlenF.agg(count(lit(1)).as("n_docs"), sum(col("len")).as("total_len"))
      val qt = docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("query_id"), posexplode(slice(toks, 1, 6)))
        .withColumnRenamed("col", "term")
        .groupBy(col("query_id"), col("term")).agg(min(col("pos")).as("qpos"))
      // r6 (guide §3.2 "reduce the big side before shuffling"): the
      // (term, doc) posting aggregation only ever feeds joins keyed on
      // QUERY terms — semi-join the exploded tokens against the tiny
      // broadcast query-term dim BEFORE the groupBy, so the posting
      // shuffle carries only matching tokens instead of the whole
      // corpus's. Identical tf/df values for every surviving (term, doc).
      val qTerms = qt.select(col("term")).distinct()
      val tfF = docToks.join(broadcast(qTerms), Seq("term"), "left_semi")
        .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
      val dfF = tfF.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val nd = col("n_docs").cast("double"); val dfd = col("df").cast("double")
      val lend = col("len").cast("double")
      // r6 second pass (guide §2.3 "shuffle keys/metadata, not
      // payloads"): the (query, term, doc) contribution join fanned the
      // postings into ~query_terms x postings rows (~1.5M at sf0.1) just
      // to sum 6 doubles per (query, doc). Instead: per-doc counts pack
      // ONCE into a term-sorted (term, tf) array (the q117 shape); each
      // query packs its (qpos, term, idf) array with idf precomputed
      // per TERM in the exact float shape the contrib rows used; the
      // per-pair score is the codegen bm25_fold kernel — matched terms'
      // idf * (tf*2.2)/(tf + kdoc) added in qpos order from 0.0, the
      // same doubles in the same order as the c0..c5 pivot fold it
      // replaces (kdoc = the per-doc length normalization, also
      // precomputed in the contrib rows' float shape). A pair with no
      // shared term folds to NaN and is dropped — the contrib form
      // emitted no row for it (matched contributions are strictly
      // positive). ExprSpec pins kernel == pivot-fold bit-equality.
      val qarrF = qt.join(broadcast(dfF), Seq("term")).crossJoin(broadcast(stats))
        .select(col("query_id"), struct(col("qpos"), col("term"),
          ((lit(2.0) * nd - lit(2.0) * dfd + lit(1.0)) /
            (lit(2.0) * dfd + lit(1.0))).as("idf")).as("qe"))
        .groupBy(col("query_id"))
        .agg(array_sort(collect_list(col("qe"))).as("qarr"))
      val psF = tfF.groupBy(col("doc_id"))
        .agg(array_sort(collect_list(struct(col("term"), col("tf")))).as("ps"))
      val docF = psF.join(dlenF, Seq("doc_id")).crossJoin(broadcast(stats))
        .select(col("doc_id"), col("ps"),
          (lit(1.2) * (lit(0.25) + lit(0.75) *
            (lend / (col("total_len").cast("double") / nd)))).as("kdoc"))
      // NOTE (the q24 CollapseProject lesson): the isnan filter is pushed
      // into the BNLJ join condition, so bm25_fold evaluates twice per
      // pair (condition + projection). Tolerated deliberately: the kernel
      // is ~6 binary searches over a <=31-entry array — the HOF lambda
      // binding that suppresses duplication costs more than it saves here.
      val scored = docF.crossJoin(broadcast(qarrF))
        .select(col("query_id"), col("doc_id"),
          gf.bm25_fold(col("qarr"), col("ps"), col("kdoc")).as("bm25"))
        .filter(!isnan(col("bm25")))
      scored.select(col("query_id"),
          row_number().over(Window.partitionBy(col("query_id"))
            .orderBy(col("bm25").desc, col("doc_id"))).as("rank"),
          col("doc_id"), col("bm25"))
        .filter(col("rank") <= 10)
    },
    // BM25 replay: identical tokenization (the q70 parity forms),
    // identical rational arithmetic shapes, query-term-order fold
    // (list_reduce over list(c ORDER BY qpos)), row_number tiebreak
    () =>
      s"""WITH tokd AS (
        |  SELECT doc_id, ${Quality.wordsSql("text")} AS tk
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, tk[i] AS term, i - 1 AS pos
        |  FROM tokd, unnest(generate_series(1, len(tk))) AS g(i)),
        |dlen AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY doc_id),
        |stats AS (SELECT count(*) AS n_docs, sum(len) AS total_len FROM dlen),
        |tf AS (SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY term, doc_id),
        |qt AS (SELECT doc_id AS query_id, term, min(pos) AS qpos
        |  FROM toks WHERE doc_id % 97 = 0 AND pos < 6 GROUP BY query_id, term),
        |dfq AS (SELECT term, count(*) AS df FROM tf
        |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY term),
        |contrib AS (
        |  SELECT q.query_id, f.doc_id, q.qpos,
        |    ((2.0E0 * CAST(s.n_docs AS DOUBLE) - 2.0E0 * CAST(d.df AS DOUBLE) + 1.0E0)
        |      / (2.0E0 * CAST(d.df AS DOUBLE) + 1.0E0))
        |    * ((CAST(f.tf AS DOUBLE) * 2.2E0)
        |      / (CAST(f.tf AS DOUBLE) + 1.2E0 * (0.25E0 + 0.75E0 *
        |          (CAST(l.len AS DOUBLE) / (CAST(s.total_len AS DOUBLE) / CAST(s.n_docs AS DOUBLE)))))) AS c
        |  FROM qt q JOIN tf f USING (term) JOIN dfq d USING (term)
        |    JOIN dlen l ON l.doc_id = f.doc_id, stats s),
        |scored AS (
        |  SELECT query_id, doc_id,
        |    list_reduce(list_prepend(0.0E0, list(c ORDER BY qpos)), (a, v) -> a + v) AS bm25
        |  FROM contrib GROUP BY query_id, doc_id)
        |SELECT query_id, CAST(rn AS INT) AS rank, doc_id, bm25
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS rn
        |      FROM scored)
        |WHERE rn <= 10""".stripMargin)
  )

  /** q31's hyperplane-LSH weights as VALUES literals — pure DATA-INDEPENDENT
    * constants (`TextOps.hyperplaneLsh`'s mix64 stream for 4 tables x 8
    * bits over the 64-dim embeddings), so emitting them leaves every
    * data-dependent step (dot signs, buckets, candidates, exact cosine,
    * ranks) to DuckDB. */
  private lazy val oracleHyperplaneValues: String =
    (0 until 4).flatMap { tbl =>
      (0 until 8).map { bit =>
        val ws = (0 until 64).map { d =>
          dlit(graft.expr.TextOps.mix64((100L + tbl) + bit * 1000003L + d).toDouble /
            Long.MaxValue.toDouble)
        }.mkString("[", ",", "]")
        s"($tbl,$bit,$ws)"
      }
    }.mkString(",")

  /** The q31 LSH-ANN funnel as a CTE chain ending in
    * `lshtop(query_id, rank, vec_id, sim)` over source table `src` —
    * shared by the q31 oracle (over `embeddings`) and the q93 recall
    * oracle (over the dup `corpus`); single definition, like
    * minhashBandCtes. Must be spliced after `WITH`. */
  private def lshTop10Ctes(src: String = "embeddings"): String =
    s"""hp AS (
       |  SELECT * FROM (VALUES $oracleHyperplaneValues) AS h(tbl, bit, ws)),
       |dots AS (
       |  SELECT e.vec_id, h.tbl, h.bit,
       |    ${orderedSum("h.ws", i => s"CAST(e.embedding[$i] AS DOUBLE) * h.ws[$i]")} AS dot
       |  FROM $src e CROSS JOIN hp h),
       |buckets AS (
       |  SELECT vec_id, tbl,
       |    sum(CASE WHEN dot >= 0 THEN CAST(1 AS BIGINT) << bit ELSE 0 END) AS bucket
       |  FROM dots GROUP BY vec_id, tbl),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, e.vec_id
       |  FROM buckets q JOIN buckets e ON q.tbl = e.tbl AND q.bucket = e.bucket
       |  WHERE q.vec_id < 8 AND e.vec_id != q.vec_id),
       |sims AS (
       |  SELECT c.query_id, c.vec_id,
       |    ${orderedSum("a.embedding",
           i => s"CAST(a.embedding[$i] AS DOUBLE) * CAST(b.embedding[$i] AS DOUBLE)")} AS dot,
       |    ${orderedSum("a.embedding",
           i => s"CAST(a.embedding[$i] AS DOUBLE) * CAST(a.embedding[$i] AS DOUBLE)")} AS na,
       |    ${orderedSum("b.embedding",
           i => s"CAST(b.embedding[$i] AS DOUBLE) * CAST(b.embedding[$i] AS DOUBLE)")} AS nb
       |  FROM cand c JOIN $src a ON a.vec_id = c.vec_id
       |              JOIN $src b ON b.vec_id = c.query_id),
       |lshtop AS (
       |  SELECT query_id, rank, vec_id, sim FROM (
       |    SELECT query_id, vec_id,
       |      CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE dot / (sqrt(na) * sqrt(nb)) END AS sim,
       |      row_number() OVER (PARTITION BY query_id ORDER BY
       |        CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE dot / (sqrt(na) * sqrt(nb)) END DESC,
       |        vec_id) AS rank
       |    FROM sims)
       |  WHERE rank <= 10)""".stripMargin

  /** The q89 dup corpus as a CTE (Fixtures.embDupCorpus replayed) —
    * shared by the q89 and q93 oracles. Must be spliced after `WITH`. */
  private def embDupCorpusCte: String =
    s"""corpus AS (
       |  SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT CAST(vec_id AS BIGINT) + 1000,
       |    list_transform(generate_series(1, len(embedding)), i ->
       |      CASE WHEN i - 1 = vec_id % 64
       |           THEN CAST(CAST(embedding[i] AS DOUBLE) + 0.05E0 AS REAL)
       |           ELSE embedding[i] END)
       |  FROM embeddings
       |  UNION ALL
       |  SELECT CAST(vec_id AS BIGINT) + 2000,
       |    list_transform(generate_series(1, len(embedding)), i ->
       |      CASE WHEN i - 1 = (vec_id * 7 + 13) % 64
       |           THEN CAST(CAST(embedding[i] AS DOUBLE) + 0.07E0 AS REAL)
       |           ELSE embedding[i] END)
       |  FROM embeddings WHERE vec_id < 100)""".stripMargin

  /** Ordered float64 fold of `f(i)` over i = 1..len(`arr`) — DuckDB's sum()
    * is order-nondeterministic; the engine accumulates sequentially. */
  private def orderedSum(arr: String, f: String => String): String =
    s"""list_reduce(list_prepend(0.0, list_transform(generate_series(1, len($arr)), i ->
       |      ${f("i")})), (acc, v) -> acc + v)""".stripMargin

  /** `TextOps.cosineSim` replayed exactly (double folds in index order,
    * zero-norm -> 0) over two float-array SQL expressions. */
  private def cosSqlExpr(a: String, b: String): String = {
    val dot = orderedSum(a, i => s"CAST($a[$i] AS DOUBLE) * CAST($b[$i] AS DOUBLE)")
    val na = orderedSum(a, i => s"CAST($a[$i] AS DOUBLE) * CAST($a[$i] AS DOUBLE)")
    val nb = orderedSum(b, i => s"CAST($b[$i] AS DOUBLE) * CAST($b[$i] AS DOUBLE)")
    s"(CASE WHEN $na = 0 OR $nb = 0 THEN 0.0 ELSE $dot / (sqrt($na) * sqrt($nb)) END)"
  }

  /** `TextOps.dotSim` replayed exactly (double fold in index order). */
  private def dotSqlExpr(a: String, b: String): String =
    orderedSum(a, i => s"CAST($a[$i] AS DOUBLE) * CAST($b[$i] AS DOUBLE)")

  /** q99's per-subspace PQ trainer replay: slice CTE, the shared md5
    * id-sample init (row_number over vec_id order — `Ann.centroids`),
    * two dot-argmax + quantized-mean k-means iterations, ending in
    * `book<sub>(sub, list_id, cvec)`. Mirrors [[kmeansIterCtes]] with
    * dot in place of cosine over the 16-dim slices. */
  private def pqSubCtes(sub: Int, src: String): String = {
    val lo = sub * 16 + 1; val hi = sub * 16 + 16
    val sl = s"sl$sub"
    def iter(cPrev: String, aNew: String, mNew: String, cNew: String) =
      s"""$aNew AS (
         |  SELECT vec_id, svec, list_id FROM (
         |    SELECT e.vec_id, e.svec, c.list_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${dotSqlExpr("e.svec", "c.cvec")} DESC, c.list_id) AS rn
         |    FROM $sl e CROSS JOIN $cPrev c) WHERE rn = 1),
         |$mNew AS (
         |  SELECT list_id, g.p AS pos,
         |    CAST(sum(floor(CAST(svec[g.p] AS DOUBLE) * 1048576.0 + 0.5))
         |      / count(*) / 1048576.0 AS REAL) AS c
         |  FROM $aNew, unnest(generate_series(1, len(svec))) AS g(p)
         |  GROUP BY list_id, g.p),
         |$cNew AS (SELECT list_id, list(c ORDER BY pos) AS cvec FROM $mNew GROUP BY list_id)""".stripMargin
    s"""$sl AS (SELECT vec_id, embedding[$lo:$hi] AS svec FROM $src),
       |c0_$sub AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) AS list_id, embedding[$lo:$hi] AS cvec
       |  FROM (SELECT vec_id, embedding FROM $src
       |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16)),
       |${iter(s"c0_$sub", s"a1_$sub", s"m1_$sub", s"c1_$sub")},
       |${iter(s"c1_$sub", s"a2_$sub", s"m2_$sub", s"c2_$sub")},
       |book$sub AS (SELECT $sub AS sub, list_id, cvec FROM c2_$sub)""".stripMargin
  }

  /** One k-means iteration in SQL: argmax assignment of every vector to
    * `cPrev`'s nearest centroid (exact cosine replay, ties to smallest
    * list), then the quantized per-(list, dim) mean — producing `aNew`
    * (assignment) and `cNew` (REAL centroid arrays). */
  private def kmeansIterCtes(cPrev: String, aNew: String, mNew: String, cNew: String): String =
    s"""$aNew AS (
       |  SELECT vec_id, embedding, list_id FROM (
       |    SELECT e.vec_id, e.embedding, c.list_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSqlExpr("e.embedding", "c.cvec")} DESC, c.list_id) AS rn
       |    FROM embeddings e CROSS JOIN $cPrev c) WHERE rn = 1),
       |$mNew AS (
       |  SELECT list_id, g.p AS pos,
       |    CAST(sum(floor(CAST(embedding[g.p] AS DOUBLE) * 1048576.0 + 0.5))
       |      / count(*) / 1048576.0 AS REAL) AS c
       |  FROM $aNew, unnest(generate_series(1, len(embedding))) AS g(p)
       |  GROUP BY list_id, g.p),
       |$cNew AS (SELECT list_id, list(c ORDER BY pos) AS cvec FROM $mNew GROUP BY list_id)""".stripMargin
}
