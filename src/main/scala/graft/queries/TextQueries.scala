package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{functions => gf}
import Common._
import graft.pipeline.{Packing, Quality}

/**
 * Text and dedup queries (tokenization, language id, quality gates,
 * normalization, packing, exact and near-duplicate detection, CDC,
 * BPE), each beside its DuckDB oracle.
 */
private[graft] object TextQueries {

  /** q69's per-batch token budget — ONE constant interpolated into both
    * the Spark query and the DuckDB oracle (shared-constants rule). */
  private val Q69TokenBudget = 2000L

  /** q87's corpus/increment boundary — docs below are the "already
    * ingested" corpus whose band state is the only thing the increment
    * sees; interpolated into both sides. */
  private val Q87Boundary = 250L

  /** q91's vocab cap — deliberately BELOW the fixture's distinct-token
    * count (31 at both sf0.001 and sf0.01) so the UNK=0 encoding path is
    * exercised in the graded blobs, not just in specs; interpolated into
    * both sides. */
  private val Q91MaxVocab = 24

  /** q69's shard count, interpolated into both sides identically. 32 (not
    * the session's shuffle-partitions default the library uses) because
    * the oracle SQL is static while SPARK_GRAFT_CPUS varies per host —
    * and 32 matches the production intent of one window partition per
    * reducer at driver scale. */
  private val Q69Shards = 32

  // q123 uses its own, tighter packing parameters so batches actually
  // CROSS the budget at the correctness scale (q69's 2000x32 leaves one
  // under-filled batch per shard at sf0.01, making the overshoot
  // certificate vacuous there)
  private val Q123TokenBudget = 400L

  private val Q123Shards = 8

  /** q76's multi-byte corpus — ONE constant feeding the engine
    * LocalRelation and the oracle VALUES. Accented Latin (2-byte),
    * Greek/Cyrillic (2-byte), CJK (3-byte), an emoji (4-byte): every
    * UTF-8 width the byte-true hash replay must fold; rows (1,2) and
    * (6,7) are planted near-dup pairs so the pair output is non-vacuous. */
  private val Utf8Corpus: Seq[(Long, String)] = Seq(
    1L -> "café au lait naïve résumé über straße",
    2L -> "café au lait naïve résumé über garçon",
    3L -> "ελληνικά κείμενο δοκιμή εγγράφου μηχανής",
    4L -> "日本語 テキスト 重複 検出 テスト",
    5L -> "русский текст проверка дубликатов хэширование",
    6L -> "mixed ascii with émojis 🌍 and 中文 words",
    7L -> "mixed ascii with émojis 🌍 and 中文 terms",
    8L -> "ascii only control row for parity")

  /** q88's normalization corpus — ONE constant, both sides. Decomposed
    * accents (e+U+0301), the Angstrom (U+212B) and Ohm (U+2126)
    * compatibility singletons, combining-mark carriers, uppercase Greek
    * and Latin, and whitespace noise. Case folding stays within the
    * simple-mapping subset where JVM and utf8proc lower() agree (no
    * U+0130, no locale-sensitive forms) — same fixture-scoping rule as
    * the ASCII hash oracles before q76. */
  private val NormCorpus: Seq[(Long, String)] = Seq(
    1L -> "Cafe\u0301   au  lait", // DECOMPOSED acute (explicit escapes --
    // a composed source literal would make the NFC stage vacuous)
    2L -> "\u212bngstro\u0308m   Unit", // Angstrom SIGN + decomposed o-diaeresis
    3L -> "\u2126 Resistance OHM", // Ohm SIGN -> U+03A9 under NFC
    4L -> "already clean ascii",
    5L -> "MIXED  Ca\u0301se\u0301 TEXT",
    6L -> "\u0391\u0398\u0397\u039d\u0391 greek city") // uppercase Greek

  /** q80's messy-URL corpus — ONE constant, both sides; rows (1,2) and
    * (3,4) canonicalize to the same resource, 5/6 keep non-default
    * ports, 10 pins case-sensitive param sorting. */
  private val UrlCorpus: Seq[(Long, String)] = Seq(
    1L -> "HTTP://Example.COM:80/path/Page?b=2&a=1#frag",
    2L -> "http://example.com/path/Page?a=1&b=2",
    3L -> "https://Sub.Example.org:443/",
    4L -> "https://sub.example.org/",
    5L -> "http://example.com:8080/keep-port",
    6L -> "ftp://Files.Example.net:21/data",
    7L -> "https://example.com/search?q=golf+course&lang=en&q2=x",
    8L -> "https://example.com/search#only-fragment",
    9L -> "http://EXAMPLE.com:80?x=1",
    10L -> "https://example.com/a%20b?Z=1&z=2")

  /** A `(id, text)` corpus as the rows of a SQL `VALUES` list. */
  private def valuesRows(corpus: Seq[(Long, String)]): String =
    corpus.map { case (id, t) => s"($id, '$t')" }.mkString(",")

  /** q66's PII patterns — deliberately restricted to the regex subset
    * where Java regex and RE2 (DuckDB) agree: no backrefs, no lookaround,
    * leftmost-first greedy quantifiers only. */
  private val PiiEmail = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""

  private val PiiPhone = """\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}"""

  private val PiiIp = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""

  val queries: Seq[Query] = Seq(
    // ---- text pipeline: dedup / stats / quality (training-data ops) ----
    Query("q20_dedup_exact", (s, d) => {
      t(s, d, "documents")
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
        .select(col("keep_id"), col("n_dups"))
    }, () =>
      """SELECT min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY text""".stripMargin),

    Query("q21_token_stats", (s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"),
          size(Quality.tokens(col("text"))).cast("long").as("n_tokens"),
          length(col("text")).cast("long").as("n_chars"))
    }, () =>
      s"""SELECT doc_id,
        |  CAST(len(${Quality.tokensSql("text")}) AS BIGINT) AS n_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents""".stripMargin),

    Query("q22_quality_score", (s, d) => {
      val nTokens = size(Quality.tokens(col("text"))).cast("long")
      val nChars = length(col("text")).cast("long")
      val nSpaces = (length(col("text")) - length(regexp_replace(col("text"), " ", ""))).cast("long")
      t(s, d, "documents")
        .select(col("doc_id"), nTokens.as("n_tokens"), nChars.as("n_chars"),
          round((nChars - nSpaces).cast("double") / nTokens.cast("double"), 6).as("avg_token_len"),
          Quality.inBand(nTokens).as("is_quality"))
    }, () =>
      s"""SELECT doc_id, n_tokens, n_chars,
        |  round(CAST(n_chars - n_spaces AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS avg_token_len,
        |  (${Quality.inBandSql("n_tokens")}) AS is_quality
        |FROM (
        |  SELECT doc_id,
        |    CAST(len(${Quality.tokensSql("text")}) AS BIGINT) AS n_tokens,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS n_spaces
        |  FROM documents)""".stripMargin),

    Query("q28_bpe_tokens", (s, d) => {
      // BPE-ish pre-tokenizer (GPT-2-style regex, ASCII form): contractions,
      // space-prefixed words / numbers / punctuation runs, whitespace runs —
      // the token counter a training-data pipeline budgets with
      val pat = "'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9'\\s]+|\\s+"
      t(s, d, "documents").select(col("doc_id"),
        size(Quality.tokens(col("text"))).cast("long").as("n_ws_tokens"),
        size(regexp_extract_all(col("text"), lit(pat), lit(0))).cast("long").as("n_bpe_tokens"))
    }, () =>
      s"""SELECT doc_id,
        |  CAST(len(${Quality.tokensSql("text")}) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9''\\s]+|\\s+')) AS BIGINT) AS n_bpe_tokens
        |FROM documents""".stripMargin),

    Query("q29_stopword_ratio", (s, d) => {
      val toks = Quality.tokens(col("text"))
      val nStop = Quality.nStop(toks).cast("long")
      t(s, d, "documents").select(col("doc_id"),
        nStop.as("n_stop"),
        round(nStop.cast("double") / size(toks).cast("double"), 6).as("stop_ratio"))
    }, () =>
      s"""SELECT doc_id, CAST(${Quality.nStopSql("text")} AS BIGINT) AS n_stop,
        |  ${Quality.stopRatioSql("text")} AS stop_ratio
        |FROM documents""".stripMargin),

    // ---- training-data curation: repetition / sampling / gating /
    // per-domain stats (the Gopher/C4-style rule family) ----
    Query("q52_repetition", (s, d) => {
      // Gopher-style repetition signals: top-bigram fraction + distinct-
      // token ratio. Bigram counting is RELATIONAL (explode -> groupBy):
      // partial aggregation collapses each doc's bigrams map-side, so the
      // shuffle carries one row per (doc, distinct bigram) — no per-doc
      // driver work, scales to any doc length
      val toks = t(s, d, "documents")
        .select(col("doc_id"), Quality.tokens(col("text")).as("toks"))
      // guard: sequence(1, 0) is DESCENDING in Spark ([1, 0]), which would
      // fabricate null bigrams for <=1-token docs — emit an empty array
      // instead (DuckDB's generate_series(1, 0) is empty)
      val bigrams = toks.select(col("doc_id"),
        explode(expr(
          """CASE WHEN size(toks) >= 2
            |  THEN transform(sequence(1, size(toks) - 1), i -> concat(toks[i-1], ' ', toks[i]))
            |  ELSE array() END""".stripMargin))
          .as("bigram"))
      val counts = bigrams.groupBy(col("doc_id"), col("bigram"))
        .agg(count(lit(1)).as("n"))
      val top = counts.groupBy(col("doc_id"))
        .agg(max(col("n")).as("top_bigram_n"), sum(col("n")).as("n_bigrams"))
      top.join(toks, "doc_id")
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_toks"),
          round(size(array_distinct(col("toks"))).cast("double") /
            size(col("toks")).cast("double"), 6).as("distinct_ratio"),
          col("top_bigram_n"),
          round(col("top_bigram_n").cast("double") /
            col("n_bigrams").cast("double"), 6).as("top_bigram_frac"))
    }, () =>
      s"""WITH toks AS (
        |  SELECT doc_id, ${Quality.tokensSql("text")} AS toks FROM documents),
        |big AS (
        |  SELECT doc_id, t.toks[i] || ' ' || t.toks[i+1] AS bigram
        |  FROM toks t, unnest(generate_series(1, greatest(len(t.toks) - 1, 0))) AS g(i)),
        |counts AS (
        |  SELECT doc_id, bigram, count(*) AS n FROM big GROUP BY doc_id, bigram),
        |top AS (
        |  SELECT doc_id, max(n) AS top_bigram_n, CAST(sum(n) AS BIGINT) AS n_bigrams
        |  FROM counts GROUP BY doc_id)
        |SELECT t.doc_id,
        |  CAST(len(tk.toks) AS BIGINT) AS n_toks,
        |  round(CAST(len(list_distinct(tk.toks)) AS DOUBLE) / len(tk.toks), 6) AS distinct_ratio,
        |  CAST(t.top_bigram_n AS BIGINT) AS top_bigram_n,
        |  round(CAST(t.top_bigram_n AS DOUBLE) / t.n_bigrams, 6) AS top_bigram_frac
        |FROM top t JOIN toks tk USING (doc_id)""".stripMargin),

    Query("q54_quality_gate", (s, d) => {
      // C4/Gopher-style rule-chain filter: token-count band, minimum
      // stopword ratio, minimum distinct-token ratio — the composed
      // keep/drop gate a curation pipeline runs before training
      val toks = Quality.tokens(col("text"))
      val scored = t(s, d, "documents").select(col("doc_id"),
        size(toks).cast("long").as("n_toks"),
        Quality.stopRatio(toks).as("stop_ratio"),
        Quality.distinctRatio(toks).as("distinct_ratio"))
      scored.filter(Quality.passes(col("n_toks"), col("stop_ratio"), col("distinct_ratio")))
    }, () =>
      s"""SELECT * FROM (
        |  SELECT doc_id,
        |    CAST(len(${Quality.tokensSql("text")}) AS BIGINT) AS n_toks,
        |    ${Quality.stopRatioSql("text")} AS stop_ratio,
        |    ${Quality.distinctRatioSql("text")} AS distinct_ratio
        |  FROM documents)
        |WHERE ${Quality.passesSql("n_toks", "stop_ratio", "distinct_ratio")}""".stripMargin),

    // ---- embeddings: exact cosine near-dup pairs (brute force = the
    // correctness anchor; q31's LSH buckets are the 10^12-row scale path) ----
    Query("q32_embed_dup_pairs", (s, d) => {
      val e = t(s, d, "embeddings")
      bruteAnchorJoin(e.select(col("vec_id").as("vec_a"), col("embedding").as("ea")),
        e.select(col("vec_id").as("vec_b"), col("embedding").as("eb")), "vec_a", "vec_b")
        .filter(gf.cosine_sim(col("ea"), col("eb")) >= 0.451)
        .select(col("vec_a"), col("vec_b"))
    }, () =>
      """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.451""".stripMargin),

    // ---- text pipeline: hash-based ----
    Query("q23_fingerprint_dedup", (s, d) => {
      // fingerprint(text) = rolling hash of the whitespace-token sequence,
      // so grouping by it == grouping by the normalized token string
      // (modulo 64-bit collisions — none at these scales, ExprSpec-pinned);
      // that equivalence is what the DuckDB oracle checks
      t(s, d, "documents")
        .groupBy(gf.fingerprint(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
        .select(col("keep_id"), col("n_dups"))
    },
    // fingerprint(text) groups by the whitespace-normalized token sequence
    () =>
      s"""SELECT min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents
        |GROUP BY array_to_string(${Quality.tokensSql("text")}, ' ')""".stripMargin),

    Query("q24_langid", (s, d) => {
      // n-gram heuristic language id: score against tiny per-language
      // stopword profiles, predict argmax, report confusion counts. The
      // prediction expression lives in pipeline.LangId (ONE definition,
      // shared with the q73 crawl-to-corpus pipeline); see its scaladoc
      // for the lambda-let single-tokenization discipline.
      t(s, d, "documents")
        .select(col("lang"), graft.pipeline.LangId.predict(col("text")).as("pred_lang"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
    },
    // scores + first-max CASE generated from pipeline.LangId's profile
    // constants — the same single definition the engine predicts with
    () =>
      s"""WITH scored AS (
        |  SELECT lang,
        |    ${graft.pipeline.LangId.scoreSql("text")}
        |  FROM documents)
        |SELECT lang,
        |  ${graft.pipeline.LangId.predCaseSql} AS pred_lang,
        |  count(*) AS n
        |FROM scored GROUP BY lang, pred_lang""".stripMargin),

    Query("q77_trigram_langid", (s, d) => {
      // char-trigram Naive-Bayes language id (the production-shaped
      // upgrade of q24's stopword heuristic): model constants baked in
      // the JVM, scores summed in document order on both engines — exact
      // compare, no quantum (see pipeline.TrigramLangId)
      t(s, d, "documents")
        .select(col("lang"),
          graft.pipeline.TrigramLangId.predict(col("text")).as("pred_lang"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
    },
    // trigram NB: the model's log-prob maps emitted as literals, scores
    // re-summed in the same document order -> bit-identical doubles
    () =>
      s"""WITH scored AS (
        |  SELECT lang,
        |    ${graft.pipeline.TrigramLangId.scoreSql("text")}
        |  FROM documents)
        |SELECT lang,
        |  ${graft.pipeline.TrigramLangId.predCaseSql} AS pred_lang,
        |  count(*) AS n
        |FROM scored GROUP BY lang, pred_lang""".stripMargin),

    Query("q80_url_canonical", (s, d) => {
      import s.implicits._
      // crawl-side URL canonicalization over the planted messy corpus,
      // plus the dedup grouping it exists for (canonical -> url count);
      // pipeline.Urls holds the ONE rule set + the generated SQL twin
      val urls = graft.sources.Storage.localize(UrlCorpus.toDF("url_id", "url"))
      urls.select(col("url_id"), col("url"),
        graft.pipeline.Urls.canonicalize(col("url")).as("canon"))
    },
    // the same canonicalization chain generated from Urls' constants
    () =>
      s"""WITH urls AS (SELECT * FROM (VALUES ${valuesRows(UrlCorpus)}) u(url_id, url))
         |SELECT CAST(url_id AS BIGINT) AS url_id, url,
         |  ${graft.pipeline.Urls.canonicalizeSql("url")} AS canon
         |FROM urls""".stripMargin),

    Query("q88_text_normalize", (s, d) => {
      import s.implicits._
      // the normalization stage a multilingual pipeline runs before any
      // hashing/dedup: NFC (kernel expression; byte-different spellings
      // of one string must hash identically downstream) -> lowercase ->
      // whitespace collapse. Byte lengths are compared (octet_length is
      // unambiguous cross-engine; char counts are not)
      val corpus = graft.sources.Storage.localize(NormCorpus.toDF("doc_id", "text"))
      val norm = trim(regexp_replace(lower(gf.nfc_normalize(col("text"))), "\\s+", " "))
      corpus.select(col("doc_id"), norm.as("norm"),
        octet_length(col("text")).as("bytes_before"),
        octet_length(norm).as("bytes_after"),
        (norm =!= col("text")).as("changed"))
    },
    // profile score = #profile words present in toks (array_intersect is
    // distinct and profiles are distinct); CASE chain = first-max-wins
    // same chain through DuckDB's utf8proc NFC — decomposed VALUES
    // literals survive the JSON round-trip byte-exactly
    () =>
      s"""WITH docs AS (SELECT * FROM (VALUES ${valuesRows(NormCorpus)}) d(doc_id, text)),
         |n AS (SELECT doc_id, text,
         |  trim(regexp_replace(lower(nfc_normalize(text)), '\\s+', ' ', 'g')) AS norm
         |  FROM docs)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id, norm,
         |  CAST(octet_length(encode(text)) AS INT) AS bytes_before,
         |  CAST(octet_length(encode(norm)) AS INT) AS bytes_after,
         |  (norm <> text) AS changed
         |FROM n""".stripMargin),

    Query("q101_substring_dedup", (s, d) => {
      // exact-substring dedup (the suffix-array-style repeated-sequence
      // stage, word-level): 8-gram spans occurring >= 2x anywhere in the
      // corpus, merged per doc into maximal overlap/adjacent word ranges
      // (pipeline.Dedup.duplicatedSpans) — the cut list a curation pass
      // applies before training. 47 docs carry duplicated spans at
      // sf0.01 (the near-dup fixture docs plus self-repetition).
      graft.pipeline.Dedup.duplicatedSpans(t(s, d, "documents"))
    },
    // duplicated 8-gram spans: q70's tokenization parity forms, gram hash
    // = fnv over the joined shingle string, gaps-and-islands merge
    // (lag == running max because span starts sort ascending per doc)
    () =>
      s"""WITH toks AS (
         |  SELECT doc_id, ${Quality.wordsSql("text")} AS tk FROM documents),
         |gr0 AS (
         |  SELECT doc_id, i - 1 AS pos, array_to_string(tk[i : i + 7], ' ') AS sh
         |  FROM toks, unnest(generate_series(1, greatest(len(tk) - 7, 0))) AS s(i)),
         |gr AS (SELECT doc_id, pos, ${fnvSql("sh")} AS g FROM gr0),
         |dup AS (SELECT g FROM gr GROUP BY g HAVING count(*) >= 2),
         |hits AS (SELECT doc_id, pos FROM gr JOIN dup USING (g)),
         |lagd AS (SELECT doc_id, pos,
         |    lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM hits),
         |isl AS (SELECT doc_id, pos,
         |    sum(CASE WHEN prev IS NULL OR pos > prev + 8 THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
         |  FROM lagd)
         |SELECT doc_id, CAST(span_start AS INT) AS span_start,
         |  CAST(span_end AS INT) AS span_end,
         |  CAST(span_end - span_start + 1 AS INT) AS span_words
         |FROM (SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end
         |      FROM isl GROUP BY doc_id, island)""".stripMargin),

    Query("q109_cdc_chunks", (s, d) => {
      // content-defined chunking dedup (the Gear/FastCDC shape): chunk
      // boundaries from a rolling byte hash, so an insertion re-syncs
      // within 64 bytes + one chunk — the blob-level dedup a multimodal
      // 100-TB store runs where fixed blocks would never re-align. Cuts
      // and chunk hashes are computed MAP-SIDE by the codegen'd
      // gear_cuts kernel; only (doc_id, hash, len) ints shuffle — the
      // text/bytes never do. Graded per doc: chunk count and how many
      // bytes sit in corpus-duplicated chunks.
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val chunks = graft.pipeline.Cdc.chunks(docs, col("text"), 6, "doc_id")
      val counts = chunks.groupBy(col("chash")).agg(count(lit(1)).as("cnt"))
      chunks.join(counts, Seq("chash"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("clen")).as("total_bytes"),
          sum(when(col("cnt") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"),
          sum(when(col("cnt") >= 2, col("clen").cast("long")).otherwise(0L)).as("dup_bytes"))
    },
    // CDC replay: the rolling Gear hash re-derived POSITION-LOCALLY —
    // h_i as the explicit 64-term windowed sum (gear(b_j) << (i-j) mod
    // 2^64, products split 32/32), cuts where the top 6 bits vanish,
    // chunk spans via a lag window over the bounds, chunk hashes via
    // the shared FNV replay over the substring
    () =>
      s"""WITH ${cdcChunkCtes("documents", Seq("doc_id"))},
         |counts AS (SELECT chash, count(*) AS cnt FROM cchunks GROUP BY chash)
         |SELECT doc_id, count(*) AS n_chunks,
         |  CAST(sum(clen) AS BIGINT) AS total_bytes,
         |  CAST(sum(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
         |  CAST(sum(CASE WHEN cnt >= 2 THEN clen ELSE 0 END) AS BIGINT) AS dup_bytes
         |FROM cchunks JOIN counts USING (chash) GROUP BY doc_id""".stripMargin),

    Query("q112_cdc_delta", (s, d) => {
      // chunk-level snapshot delta (the rsync/dedup-store accounting):
      // v2 of every doc is v1 with a patch INSERTED at the midpoint; the
      // CDC chunker re-syncs after the insertion, so a new snapshot
      // stores only the churn bytes — exactly what sizes an incremental
      // 100-TB crawl commit on a chunk-dedup store. Both versions chunk
      // map-side (q109's kernel); the compare is one (doc_id, chash)
      // full join of count tables. Graded per doc: total v2 bytes,
      // bytes reused from v1, churn bytes, v2 chunk count. v1 is the
      // doc text at 4x length (snapshot blobs are KB-scale, the fixture
      // rows are not) so the re-sync effect is visible in the grade.
      val docs = t(s, d, "documents").select(col("doc_id"),
        concat_ws(" ", col("text"), col("text"), col("text"), col("text")).as("text"))
      val half = floor(length(col("text")) / lit(2)).cast("int")
      val v2 = docs.select(col("doc_id"),
        concat(col("text").substr(lit(1), half),
          lit(" INSERTED PATCH SEGMENT "),
          col("text").substr(half + 1, length(col("text")))).as("text"))
      graft.pipeline.Cdc.deltaStats(docs, v2, col("text"), 6)
    },
    // delta replay: v2 derived by the identical midpoint-insert
    // expression, both versions chunked by the same windowed-sum
    // machinery (ver carried through the CTEs), multiset reuse/churn
    // via a per-(doc, hash) full join
    () =>
      s"""WITH v1 AS (SELECT doc_id,
         |    text || ' ' || text || ' ' || text || ' ' || text AS text
         |  FROM documents),
         |vsrc AS (
         |  SELECT doc_id, 1 AS ver, text FROM v1
         |  UNION ALL
         |  SELECT doc_id, 2 AS ver,
         |    substring(text, 1, length(text) // 2) || ' INSERTED PATCH SEGMENT ' ||
         |    substring(text, length(text) // 2 + 1, length(text)) AS text
         |  FROM v1),
         |${cdcChunkCtes("vsrc", Seq("doc_id", "ver"))},
         |cnt AS (SELECT doc_id, ver, chash, count(*) AS c, min(clen) AS clen
         |  FROM cchunks GROUP BY doc_id, ver, chash),
         |j AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
         |    coalesce(a.c, 0) AS c1, coalesce(b.c, 0) AS c2,
         |    coalesce(b.clen, a.clen) AS clen
         |  FROM (SELECT * FROM cnt WHERE ver = 1) a
         |  FULL JOIN (SELECT * FROM cnt WHERE ver = 2) b
         |    ON a.doc_id = b.doc_id AND a.chash = b.chash)
         |SELECT doc_id,
         |  CAST(sum(c2 * clen) AS BIGINT) AS total_v2_bytes,
         |  CAST(sum(least(c1, c2) * clen) AS BIGINT) AS reuse_bytes,
         |  CAST(sum(greatest(c2 - c1, 0) * clen) AS BIGINT) AS churn_bytes,
         |  CAST(sum(c2) AS BIGINT) AS n_chunks_v2
         |FROM j GROUP BY doc_id""".stripMargin),

    Query("q79_trigram_fluency", (s, d) => {
      // per-doc fluency/quality: best-language mean trigram log-prob
      // (near the unseen floor = gibberish) + the predicted language —
      // the perplexity-style scoring column a curation pass thresholds
      // on. Both columns bit-exact cross-engine (kernel fold + one
      // division; no libm at query time)
      t(s, d, "documents").select(col("doc_id"),
        graft.pipeline.TrigramLangId.predict(col("text")).as("pred_lang"),
        graft.pipeline.TrigramLangId.fluency(col("text")).as("fluency"))
    },
    // fluency = greatest(score folds) / (len-2), every double re-derived
    () =>
      s"""WITH scored AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS len,
        |    ${graft.pipeline.TrigramLangId.scoreSql("text")}
        |  FROM documents)
        |SELECT doc_id,
        |  ${graft.pipeline.TrigramLangId.predCaseSql} AS pred_lang,
        |  CASE WHEN len < 3 THEN 0.0E0
        |       ELSE greatest(s1, s2, s3, s4) / (len - 2) END AS fluency
        |FROM scored""".stripMargin),

    Query("q25_minhash_pairs", (s, d) => {
      // MinHash + LSH banding near-dup pairs: shingle -> 64-slot signature
      // -> 16 bands of 4 -> band-key equi-join -> exact jaccard >= 0.5
      // (the shared pipeline.Dedup funnel)
      graft.pipeline.Dedup.verifiedPairs(t(s, d, "documents"))
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
    },
    // MinHash + LSH, FULLY replayed from raw text: word 3-shingles, the
    // FNV/splitmix64 shingle hash, all 64 min-slots (remix keys emitted as
    // constants), FNV band keys over the little-endian signature bytes,
    // the band equi-join, and the exact distinct-shingle jaccard verify —
    // every candidate the banding admits is independently re-derived
    () =>
      s"""WITH ${minhashBandCtes()},
         |$candFeatCtes
         |SELECT doc_a, doc_b, round($jaccardSql, 6) AS jaccard
         |$verifySql""".stripMargin),

    Query("q116_adaptive_gate", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      // per-language ADAPTIVE quality gate: a fixed fluency threshold
      // biases against whole languages (scores aren't comparable across
      // charsets), so the cut is trained per language from the corpus
      // itself — drop the worst quartile WITHIN each language. The
      // decision is integer-exact (4*rank > n) over the bit-exact q79
      // fluency ordering, so the whole gate replays.
      val scored = t(s, d, "documents").select(col("doc_id"), col("lang"),
        graft.pipeline.TrigramLangId.fluency(col("text")).as("fl"))
      val w = Window.partitionBy(col("lang")).orderBy(col("fl"), col("doc_id"))
      scored
        .withColumn("lang_rank", row_number().over(w))
        .withColumn("n_lang", count(lit(1)).over(Window.partitionBy(col("lang"))))
        .select(col("doc_id"), col("lang"), round(col("fl"), 6).as("fluency"),
          col("lang_rank"), col("n_lang"),
          (lit(4) * col("lang_rank") > col("n_lang")).as("kept"))
    },
    // adaptive-gate replay: the q79 bit-exact fluency fold, per-language
    // rank/count windows, and the integer-exact 4*rank > n decision
    () =>
      s"""WITH scored AS (
         |  SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS len,
         |    ${graft.pipeline.TrigramLangId.scoreSql("text")}
         |  FROM documents),
         |fl AS (SELECT doc_id, lang,
         |    CASE WHEN len < 3 THEN 0.0E0
         |         ELSE greatest(s1, s2, s3, s4) / (len - 2) END AS fluency
         |  FROM scored),
         |r AS (SELECT doc_id, lang, fluency,
         |    row_number() OVER (PARTITION BY lang ORDER BY fluency, doc_id) AS lang_rank,
         |    count(*) OVER (PARTITION BY lang) AS n_lang
         |  FROM fl)
         |SELECT doc_id, lang, round(fluency, 6) AS fluency,
         |  CAST(lang_rank AS INT) AS lang_rank, CAST(n_lang AS BIGINT) AS n_lang,
         |  (4 * lang_rank > n_lang) AS kept
         |FROM r""".stripMargin),

    Query("q117_simhash_estimate", (s, d) => {
      // sketch certification for the SimHash family (q111's pattern):
      // for every chunk-banded candidate pair, the signature's bit
      // agreement fraction (dyadic) graded next to the EXACT cosine of
      // the token-count vectors it sketches — the angular-similarity
      // contract random-hyperplane sketches carry. Exact cosine via a
      // token-keyed join of count vectors (integers to the last
      // division; sqrt is IEEE correctly-rounded, so cross-engine safe).
      val docsT = t(s, d, "documents")
      val sigs = docsT.select(col("doc_id"),
        gf.simhash(gf.word_shingles(col("text"), lit(1))).as("sh"))
      val banded = sigs.select(col("doc_id"), explode(array(
        (0 until 4).map(i => concat(lit(i), lit(":"),
          (shiftright(col("sh"), i * 16).bitwiseAND(lit(0xffffL))))): _*)).as("chunk"))
      val pairs = banded.as("a").join(banded.as("b"),
          col("a.chunk") === col("b.chunk") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b")).distinct()
      // r6 (guide §2.3 "shuffle fewer bytes" / §4): the exact dot was a
      // (doc, tok)-keyed join of the candidate pairs against the count
      // vectors — ~10M intermediate rows shuffled + aggregated + LEFT
      // SMJ'd back for the fixture's 338k pairs. Instead each doc's
      // count vector is packed ONCE into a sorted (tok, c) struct array
      // and the per-pair dot is the codegen merge-walk kernel
      // `keyed_dot` (exact integer sum(ca*cb), identical values), with
      // n2 = sum(c^2) folded map-side from the same array — the dot
      // subtree, both n2 joins and the LeftOuter SMJ disappear from the
      // plan. A pair with no shared token gets kernel dot 0 == the old
      // coalesce(NULL, 0).
      val tcv = docsT.select(col("doc_id"),
          explode(Quality.words(col("text"))).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(array_sort(collect_list(struct(col("tok"), col("c")))).as("ps"))
        .select(col("doc_id"), col("ps"),
          expr("aggregate(ps, 0L, (a, x) -> a + x.c * x.c)").as("n2"))
      pairs
        .join(sigs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
        .join(sigs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
        .join(tcv.select(col("doc_id").as("doc_a"), col("ps").as("ps_a"),
          col("n2").as("n2a")), Seq("doc_a"))
        .join(tcv.select(col("doc_id").as("doc_b"), col("ps").as("ps_b"),
          col("n2").as("n2b")), Seq("doc_b"))
        .withColumn("hamming", gf.hamming_dist(col("sh_a"), col("sh_b")))
        .select(col("doc_a"), col("doc_b"), col("hamming"),
          round((lit(64) - col("hamming")).cast("double") / lit(64.0d), 6).as("agree_frac"),
          round(gf.keyed_dot(col("ps_a"), col("ps_b")).cast("double") /
            sqrt((col("n2a") * col("n2b")).cast("double")), 6).as("exact_cos"))
    },
    // simhash-estimate replay: q26's majority-vote signature CTEs (all
    // candidates, no hamming cut), bit agreement as the dyadic fraction,
    // exact cosine from token-count vectors (integer dot/norms, one
    // division, IEEE sqrt)
    () =>
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(${Quality.tokensSql("text")}) AS s FROM documents),
         |th AS (SELECT doc_id, ${fnvSql("s")} AS h FROM toks),
         |bits AS (
         |  SELECT doc_id, b.b,
         |    CASE WHEN 2 * sum(CASE WHEN (h // power(2, b.b)::HUGEINT) % 2 = 1 THEN 1 ELSE 0 END)
         |        > count(*)
         |      THEN power(2, b.b)::HUGEINT ELSE 0::HUGEINT END AS bv
         |  FROM th CROSS JOIN (SELECT unnest(range(0, 64)) AS b) b
         |  GROUP BY doc_id, b.b),
         |sh AS (SELECT doc_id, sum(bv)::HUGEINT AS u FROM bits GROUP BY doc_id),
         |chunks AS (
         |  SELECT doc_id, concat(i, ':', CAST((u // power(2, 16*i)::HUGEINT) % 65536 AS BIGINT)) AS chunk
         |  FROM sh CROSS JOIN (SELECT unnest(range(0, 4)) AS i)),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM chunks a JOIN chunks b ON a.chunk = b.chunk AND a.doc_id < b.doc_id),
         |tc AS (SELECT doc_id, tok, count(*) AS c FROM (
         |    SELECT doc_id, unnest(${Quality.wordsSql("text")}) AS tok FROM documents)
         |  GROUP BY doc_id, tok),
         |nn AS (SELECT doc_id, sum(c*c) AS n2 FROM tc GROUP BY doc_id),
         |dt AS (SELECT p.doc_a, p.doc_b, sum(a.c * b.c) AS dp
         |  FROM pairs p JOIN tc a ON a.doc_id = p.doc_a
         |  JOIN tc b ON b.doc_id = p.doc_b AND b.tok = a.tok
         |  GROUP BY p.doc_a, p.doc_b)
         |SELECT p.doc_a, p.doc_b,
         |  CAST(bit_count(CAST(xor(sa.u, sb.u) AS UBIGINT)) AS INT) AS hamming,
         |  round(CAST(64 - bit_count(CAST(xor(sa.u, sb.u) AS UBIGINT)) AS DOUBLE) / 64.0E0, 6)
         |    AS agree_frac,
         |  round(CAST(coalesce(d.dp, 0) AS DOUBLE) / sqrt(CAST(na.n2 * nb.n2 AS DOUBLE)), 6)
         |    AS exact_cos
         |FROM pairs p
         |JOIN sh sa ON sa.doc_id = p.doc_a JOIN sh sb ON sb.doc_id = p.doc_b
         |JOIN nn na ON na.doc_id = p.doc_a JOIN nn nb ON nb.doc_id = p.doc_b
         |LEFT JOIN dt d ON d.doc_a = p.doc_a AND d.doc_b = p.doc_b""".stripMargin),

    Query("q114_bpe_train", (s, d) => {
      // BPE tokenizer TRAINING (pipeline.Bpe): six merge rounds, each a
      // lead-window pair count weighted by word frequency + a 1-row
      // driver argmax + a relational greedy rewrite (greedy == even
      // offsets inside islands of consecutive match positions). The
      // graded frame is the trained artifact itself: the ordered merge
      // table. Trainer state is O(vocab), independent of corpus size.
      val (merges, _) = graft.pipeline.Bpe.train(t(s, d, "documents"), rounds = 6)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("merge_rank",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("s1",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("s2",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("total",
          org.apache.spark.sql.types.LongType, nullable = false)))
      val rows = merges.map { case (r, a, b, n) =>
        org.apache.spark.sql.Row(r, a, b, n) }
      s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    },
    // BPE replay: the full six-round trainer re-run in SQL; the graded
    // frame is the ordered merge table the rounds produce
    () =>
      s"""WITH ${bpeRoundCtes(6)}
         |SELECT * FROM (
         |  ${(1 to 6).map(r =>
              s"SELECT $r AS merge_rank, s1, s2, CAST(total AS BIGINT) AS total FROM b$r")
              .mkString("\n  UNION ALL ")})""".stripMargin),

    Query("q115_bpe_tokenize", (s, d) => {
      // the trained tokenizer APPLIED: final subword segmentation of the
      // 20 most frequent corpus words after q114's six merges (the
      // order-sensitive concat pair from q91: array_join over the
      // pos-sorted collect vs string_agg ORDER BY)
      val docs = t(s, d, "documents")
      val (_, syms) = graft.pipeline.Bpe.train(docs, rounds = 6)
      val top = graft.pipeline.Bpe.wordFreq(docs)
        .orderBy(col("n").desc, col("word")).limit(20)
      syms.join(top.select(col("word")), Seq("word"))
        .groupBy(col("word"))
        .agg(first(col("n")).as("n"),
          array_join(transform(array_sort(collect_list(struct(col("pos"), col("sym")))),
            p => p.getField("sym")), "|").as("toks"))
        .select(col("word"), col("n"), col("toks"))
    },
    // tokenizer application replay: the same trainer CTEs, final state
    // s6 aggregated with the q91 order-sensitive concat pair
    () =>
      s"""WITH ${bpeRoundCtes(6)},
         |top AS (SELECT word, n FROM vocab ORDER BY n DESC, word LIMIT 20)
         |SELECT t.word, CAST(t.n AS BIGINT) AS n,
         |  string_agg(s.sym, '|' ORDER BY s.pos) AS toks
         |FROM top t JOIN s6 s ON s.word = t.word
         |GROUP BY t.word, t.n""".stripMargin),

    Query("q122_vocab_growth", (s, d) => {
      // vocabulary growth curve (Heaps'-law evidence): distinct words
      // seen within each corpus prefix (by arrival id) — the statistic
      // that sizes incremental vocab/trainer state (q114's O(vocab)
      // claim) and predicts dedup novelty decay. On this synthetic
      // corpus the curve saturates immediately (31 words, all seen in
      // the first prefix) — the closed-vocabulary finding is the real
      // answer, not a fixture defect. First-occurrence
      // analysis: one groupBy(word).min(doc_id), then each word counts
      // toward every prefix threshold past its first sighting — no
      // per-prefix rescan of the corpus.
      val docs = t(s, d, "documents")
      val nd = docs.agg(max(col("doc_id"))).head.getLong(0) + 1
      val thresholds = (1 to 5).map(i => math.ceil(nd * i / 5.0).toLong)
      val firstSeen = docs.select(col("doc_id"),
          explode(Quality.words(col("text"))).as("w"))
        .groupBy(col("w")).agg(min(col("doc_id")).as("fd"))
      firstSeen.select(col("fd"), explode(typedLit(thresholds)).as("prefix_docs"))
        .where(col("fd") < col("prefix_docs"))
        .groupBy(col("prefix_docs")).agg(count(lit(1)).as("vocab"))
    },
    // vocab-growth replay: identical tokenization, first-occurrence
    // min, the same ceil(nd*i/5) thresholds, per-threshold counts
    () =>
      s"""WITH tok AS (SELECT doc_id,
         |    unnest(${Quality.wordsSql("text")}) AS w FROM documents),
         |fs AS (SELECT w, min(doc_id) AS fd FROM tok GROUP BY w),
         |n AS (SELECT max(doc_id) + 1 AS nd FROM documents),
         |th AS (SELECT CAST(ceil(nd * u.i / 5.0) AS BIGINT) AS prefix_docs
         |  FROM n, unnest([1,2,3,4,5]) AS u(i))
         |SELECT th.prefix_docs, count(*) AS vocab
         |FROM th JOIN fs ON fs.fd < th.prefix_docs
         |GROUP BY th.prefix_docs""".stripMargin),

    Query("q120_band_skew_audit", (s, d) => {
      // LSH band-skew audit: the join-cost ESTIMATOR an operator runs
      // before launching the 100-TB dedup self-join — a band of size s
      // implies s*(s-1)/2 candidate pairs, so the band-size histogram IS
      // the shuffle-cost forecast (and the skew alarm: one hot band key
      // dominates the join the way hot cells dominate the flagship's,
      // which is why the flagship's sort-merge shape salts). Two
      // aggregations, output O(distinct sizes) rows.
      val bands = graft.pipeline.Dedup.banded(t(s, d, "documents"), "doc_id")
      bands.groupBy(col("band")).agg(count(lit(1)).as("s"))
        .groupBy(col("s")).agg(count(lit(1)).as("n_bands"))
        .select(col("s"),
          col("n_bands"),
          floor(col("s") * (col("s") - 1) / lit(2)).cast("long").as("pairs_per_band"),
          (col("n_bands") * floor(col("s") * (col("s") - 1) / lit(2)).cast("long"))
            .as("total_pairs"))
    },
    // band-skew replay: the shared band-key CTEs, per-key sizes, the
    // size histogram, integer pair arithmetic
    () =>
      s"""WITH ${minhashBandCtes()},
         |sz AS (SELECT bk, count(*) AS s FROM keys GROUP BY bk),
         |hist AS (SELECT s, count(*) AS n_bands FROM sz GROUP BY s)
         |SELECT s, n_bands,
         |  CAST((s * (s - 1)) // 2 AS BIGINT) AS pairs_per_band,
         |  CAST(n_bands * ((s * (s - 1)) // 2) AS BIGINT) AS total_pairs
         |FROM hist""".stripMargin),

    Query("q113_contamination_matrix", (s, d) => {
      // cross-source contamination matrix: the audit a data team runs
      // BEFORE mixing corpora — for each unordered source pair, how many
      // verified near-dup pairs straddle it and how many distinct docs
      // on each side are implicated (mixing both sources would duplicate
      // those). Same funnel as q25 (band candidates -> exact verify),
      // one extra broadcast-able source-dim join; the matrix is
      // O(sources^2) rows no matter the corpus size.
      val docs = t(s, d, "documents")
      val src = docs.select(col("doc_id"), col("source"))
      // r6: same verified-pair front half as q78 — the shared
      // Dedup.verifiedPairs (kernels materialized once)
      val pairs = graft.pipeline.Dedup.verifiedPairs(docs)
      pairs
        .join(src.select(col("doc_id").as("doc_a"), col("source").as("source_a")), Seq("doc_a"))
        .join(src.select(col("doc_id").as("doc_b"), col("source").as("source_b")), Seq("doc_b"))
        .filter(col("source_a") =!= col("source_b"))
        .select(least(col("source_a"), col("source_b")).as("src_a"),
          greatest(col("source_a"), col("source_b")).as("src_b"),
          when(col("source_a") < col("source_b"), col("doc_a")).otherwise(col("doc_b")).as("da"),
          when(col("source_a") < col("source_b"), col("doc_b")).otherwise(col("doc_a")).as("db"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("da")).as("n_docs_a"),
          countDistinct(col("db")).as("n_docs_b"))
    },
    // contamination replay: the q25 candidate+verify CTEs with a source
    // join; pair orientation normalized by least/greatest on the source
    () =>
      s"""WITH ${minhashBandCtes()},
         |$verifiedPairsCtes,
         |ps AS (
         |  SELECT least(sa.source, sb.source) AS src_a,
         |    greatest(sa.source, sb.source) AS src_b,
         |    CASE WHEN sa.source < sb.source THEN doc_a ELSE doc_b END AS da,
         |    CASE WHEN sa.source < sb.source THEN doc_b ELSE doc_a END AS db
         |  FROM pairs
         |  JOIN documents sa ON sa.doc_id = doc_a
         |  JOIN documents sb ON sb.doc_id = doc_b
         |  WHERE sa.source <> sb.source)
         |SELECT src_a, src_b, count(*) AS n_pairs,
         |  count(DISTINCT da) AS n_docs_a, count(DISTINCT db) AS n_docs_b
         |FROM ps GROUP BY src_a, src_b""".stripMargin),

    Query("q111_minhash_estimate", (s, d) => {
      // sketch-quality certification for the minhash funnel (the q93
      // pattern applied to dedup): for every LSH candidate pair, the
      // signature's own jaccard ESTIMATE (agreeing slots / 64) is graded
      // next to the exact shingle jaccard and the estimation error —
      // driver-checking the statistical machinery the 100-TB funnel
      // trusts when it verifies candidates by signature alone. est is
      // dyadic (n/64) and exact a single rational division, so both
      // replay bit-exact.
      val docs = t(s, d, "documents")
      val feats = docs
        .withColumn("sh0", gf.word_shingles(col("text"), lit(3)))
        .filter(size(col("sh0")) > 0)
        .select(col("doc_id"),
          gf.minhash(col("sh0"), lit(graft.pipeline.Dedup.MinhashK),
            lit(graft.pipeline.Dedup.MinhashSeed)).as("sig"),
          col("sh0"))
      graft.pipeline.Dedup.candidatePairs(graft.pipeline.Dedup.banded(docs, "doc_id"))
        .join(feats.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"),
          col("sh0").as("sh_a")), Seq("doc_a"))
        .join(feats.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"),
          col("sh0").as("sh_b")), Seq("doc_b"))
        .withColumn("n_agree",
          size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
            b => b)).cast("long"))
        .withColumn("exact_jaccard",
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
            size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
        .select(col("doc_a"), col("doc_b"), col("n_agree"),
          round(col("n_agree").cast("double") / lit(64.0d), 6).as("est_jaccard"),
          round(col("exact_jaccard"), 6).as("exact_jaccard"),
          round(abs(col("n_agree").cast("double") / lit(64.0d) - col("exact_jaccard")), 6)
            .as("est_err"))
    },
    // sketch-estimate replay: per-slot signature agreement from the same
    // sig CTE the band keys derive from (slot minima already
    // sign-adjusted), exact jaccard as the q25 rational, error as the
    // identical double ops (n/64 is dyadic-exact; one division each)
    () =>
      s"""WITH ${minhashBandCtes()},
         |$candFeatCtes,
         |agree AS (
         |  SELECT c.doc_a, c.doc_b,
         |    sum(CASE WHEN sa.g = sb.g THEN 1 ELSE 0 END) AS n_agree
         |  FROM cand c
         |  JOIN sig sa ON sa.doc_id = c.doc_a
         |  JOIN sig sb ON sb.doc_id = c.doc_b AND sb.j = sa.j
         |  GROUP BY c.doc_a, c.doc_b)
         |SELECT g.doc_a, g.doc_b, CAST(g.n_agree AS BIGINT) AS n_agree,
         |  round(CAST(g.n_agree AS DOUBLE) / 64.0E0, 6) AS est_jaccard,
         |  round($jaccardSql, 6) AS exact_jaccard,
         |  round(abs(CAST(g.n_agree AS DOUBLE) / 64.0E0 -
         |    $jaccardSql), 6) AS est_err
         |FROM agree g JOIN feat fa ON fa.doc_id = g.doc_a
         |JOIN feat fb ON fb.doc_id = g.doc_b""".stripMargin),

    Query("q76_minhash_utf8", (s, d) => {
      import s.implicits._
      // the q25 pipeline over a MULTI-BYTE corpus (r3 verdict item #7):
      // proves the engine's FNV/minhash path and the DuckDB replay agree
      // on real UTF-8 bytes, not just the ASCII ord()==byte shortcut —
      // the oracle folds encode()'d hex pairs (fnvSqlBytes)
      val corpus = graft.sources.Storage.localize(Utf8Corpus.toDF("doc_id", "text"))
      graft.pipeline.Dedup.verifiedPairs(corpus)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
    },
    // the q25 replay over the multi-byte corpus, with the BYTE-TRUE FNV
    // (encode()'d hex pairs — exact UTF-8 bytes, any width)
    () =>
      s"""WITH docs AS (SELECT * FROM (VALUES ${valuesRows(Utf8Corpus)}) d(doc_id, text)),
         |${minhashBandCtes("docs", byteTrueFnv = true)},
         |$candFeatCtes
         |SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b,
         |  round($jaccardSql, 6) AS jaccard
         |$verifySql""".stripMargin),

    Query("q78_neardup_components", (s, d) => {
      // cluster-level near-dup retention: connected components of the
      // jaccard-verified pair graph (q25's pairs), one representative
      // (the min id) kept per component — the rule production dedup
      // passes apply when "first seen" is not well-defined. Components
      // via Dedup.connectedComponents (union-find under its size gate,
      // star contraction past it); the oracle closes the same graph with
      // a recursive CTE.
      val docs = t(s, d, "documents")
      // r6: the banded-candidates -> shingle-verify front half is the
      // shared Dedup.verifiedPairs (band table + shingle state each
      // materialized once instead of re-evaluating the kernels per join
      // side); same candidates, same jaccard filter, same pairs
      val pairs = graft.pipeline.Dedup.verifiedPairs(docs)
      graft.pipeline.Dedup.connectedComponents(pairs)
        .withColumn("kept", col("doc_id") === col("component"))
    },
    // components of the SAME pair graph, closed independently: recursive
    // transitive closure from each node, component = min reachable id
    () =>
      s"""WITH RECURSIVE $neardupClosureCtes
         |SELECT CAST(a AS BIGINT) AS doc_id, CAST(min(b) AS BIGINT) AS component,
         |  (a = min(b)) AS kept
         |FROM r GROUP BY a""".stripMargin),

    Query("q110_incremental_components", (s, d) => {
      // incremental near-dup component maintenance: the first half of the
      // corpus (by arrival id) was clustered in a previous run; the
      // second half arrives as an increment and is folded in using ONLY
      // the persisted state — labels, band table, per-doc shingle state.
      // Old text is never re-read and the old pair graph never recomputed
      // (old↔old connectivity travels as label edges). Certified by the
      // oracle closing the FULL verified pair graph recursively — the
      // incremental result must equal the direct one, doc for doc.
      val docs = t(s, d, "documents")
      val splitId = docs.agg(max(col("doc_id"))).head.getLong(0) / 2
      val old = docs.filter(col("doc_id") <= splitId)
      val inc = docs.filter(col("doc_id") > splitId)
      // state as the previous run would have persisted it
      val oldBands = graft.pipeline.Dedup.banded(old, "doc_id")
      val oldSh = graft.pipeline.Dedup.shingleState(old)
      val oldLabels = graft.pipeline.Dedup.connectedComponents(
        graft.pipeline.Dedup.verifiedPairs(old))
      graft.pipeline.Dedup.incrementalComponents(oldLabels, oldBands, oldSh, inc)
        .withColumn("kept", col("doc_id") === col("component"))
        .withColumn("is_new", col("doc_id") > lit(splitId))
    },
    // the incremental certificate: the DIRECT closure over the full
    // verified pair graph — the engine's label-edge merge must reproduce
    // it doc for doc (is_new derives the same arrival split)
    () =>
      s"""WITH RECURSIVE $neardupClosureCtes
         |SELECT CAST(a AS BIGINT) AS doc_id, CAST(min(b) AS BIGINT) AS component,
         |  (a = min(b)) AS kept,
         |  a > (SELECT max(doc_id) // 2 FROM documents) AS is_new
         |FROM r GROUP BY a""".stripMargin),

    Query("q105_best_of_cluster", (s, d) => {
      // BEST-of-cluster retention: q78's near-dup components, but the
      // kept representative is the HIGHEST-QUALITY member (fluency
      // score, bit-exact cross-engine per q79) with doc_id as the tie
      // break — the curation rule when "first seen" should lose to
      // "best written". Rank inside each component via one window; at
      // scale components are bounded (near-dup clusters), so the window
      // partition never spans a corpus.
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents")
      // r6: shared verified-pair front half (see q78)
      val pairs = graft.pipeline.Dedup.verifiedPairs(docs)
      val comps = graft.pipeline.Dedup.connectedComponents(pairs)
      val qual = docs.select(col("doc_id"),
        graft.pipeline.TrigramLangId.fluency(col("text")).as("fluency"))
      comps.join(qual, Seq("doc_id"))
        .withColumn("rn", row_number().over(Window.partitionBy(col("component"))
          .orderBy(col("fluency").desc, col("doc_id"))))
        .select(col("doc_id"), col("component"), col("fluency"),
          (col("rn") === 1).as("kept"))
    },
    // q78's component closure + q79's bit-exact fluency, ranked per
    // component by (fluency DESC, doc_id) — the same window both engines
    // evaluate over bit-identical doubles
    () =>
      s"""WITH RECURSIVE $neardupClosureCtes,
         |comp AS (SELECT CAST(a AS BIGINT) AS doc_id, CAST(min(b) AS BIGINT) AS component
         |  FROM r GROUP BY a),
         |scored AS (
         |  SELECT doc_id, CAST(length(text) AS BIGINT) AS len,
         |    ${graft.pipeline.TrigramLangId.scoreSql("text")}
         |  FROM documents),
         |flu AS (SELECT doc_id,
         |    CASE WHEN len < 3 THEN 0.0E0
         |         ELSE greatest(s1, s2, s3, s4) / (len - 2) END AS fluency
         |  FROM scored),
         |ranked AS (SELECT c.doc_id, c.component, f.fluency,
         |    row_number() OVER (PARTITION BY c.component
         |      ORDER BY f.fluency DESC, c.doc_id) AS rn
         |  FROM comp c JOIN flu f USING (doc_id))
         |SELECT doc_id, component, fluency, rn = 1 AS kept FROM ranked""".stripMargin),

    Query("q86_leakage_safe_split", (s, d) => {
      // train/val/test assignment keyed on the near-dup COMPONENT (q78's
      // graph), so near-duplicates can never straddle the train/eval
      // boundary; singletons are their own component
      val docs = t(s, d, "documents")
      // r6: shared verified-pair front half (see q78)
      val pairs = graft.pipeline.Dedup.verifiedPairs(docs)
      graft.pipeline.Dedup.leakageSafeSplit(docs, pairs)
    },
    // the same closure, then the split bucket = SIGNED pmod replay of
    // mix64(component) (pmod of a negative long is NOT unsigned mod 100)
    () =>
      s"""WITH RECURSIVE $neardupClosureCtes,
         |comp AS (SELECT a AS doc_id, min(b) AS component FROM r GROUP BY a),
         |alldocs AS (
         |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
         |  FROM documents d LEFT JOIN comp c USING (doc_id)),
         |bkt AS (
         |  SELECT doc_id, component,
         |    ((((CASE WHEN m >= 9223372036854775808::HUGEINT THEN m - $Wrap64 ELSE m END)
         |        % 100) + 100) % 100) AS bucket
         |  FROM (SELECT doc_id, component,
         |          ${mix64Sql("CAST(component AS HUGEINT)")} AS m FROM alldocs))
         |SELECT doc_id, CAST(component AS BIGINT) AS component,
         |  CASE WHEN bucket < 90 THEN 'train'
         |       WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
         |FROM bkt""".stripMargin),

    Query("q87_incremental_dedup", (s, d) => {
      // dedup the new increment (doc_id >= boundary) against ONLY the
      // old corpus's band state — old text is never re-read; the oracle
      // proves the shortcut equals the global first-wins rule restricted
      // to the increment (valid because old ids precede new ids)
      val docs = t(s, d, "documents")
      val seen = graft.pipeline.Dedup
        .banded(docs.filter(col("doc_id") < Q87Boundary), "doc_id")
        .select(col("band")).distinct()
      graft.pipeline.Dedup.incrementalKept(
        docs.filter(col("doc_id") >= Q87Boundary), seen)
    },
    // the GLOBAL first-wins rule restricted to the increment — the
    // independent derivation that certifies the band-state shortcut
    () =>
      s"""WITH ${minhashBandCtes()},
         |$ownCte
         |SELECT k.doc_id, ($ownsAllSql) AS kept
         |FROM keys k JOIN own o USING (bk)
         |WHERE k.doc_id >= $Q87Boundary
         |GROUP BY k.doc_id""".stripMargin),

    // ---- corpus-TRAINED n-gram LM quality filter (r4 verdict item 2):
    // train a char-trigram add-1 LM on the 80% split (exact integer counts
    // via one groupBy per table), publish it (localize -> broadcast), then
    // score the held-out 20% — per-doc position-ordered fold of
    // ln((n3+1)/(n2+V)), ONE final division, quantized at 1e-6 with the
    // boundary margin pinned in LangModelSpec. The KenLM-style perplexity
    // gate a real curation pipeline runs, as one train->score dataflow ----
    Query("q90_lm_quality", (s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      // r6 (guide §1.2): ONE training job. The trained model is collected
      // once; the vocab size is the collected row count (== the old
      // model.count() job) and the context table is the same exact
      // integer prefix-sum derived driver-side (long addition is
      // order-independent) — three setup jobs collapse into one.
      val modelRows = graft.pipeline.LangModel
        .trigramModel(docs.filter(col("doc_id") % 5 =!= 0)).collect()
      val v = modelRows.length.toLong
      val model = s.createDataFrame(
        java.util.Arrays.asList(modelRows: _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("tri",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n3",
            org.apache.spark.sql.types.LongType))))
      val ctxAgg = new java.util.LinkedHashMap[String, Long]()
      modelRows.foreach { r =>
        ctxAgg.merge(r.getString(0).substring(0, 2), r.getLong(1), java.lang.Long.sum(_, _))
      }
      val ctx = {
        import scala.jdk.CollectionConverters._
        s.createDataFrame(
          ctxAgg.entrySet().asScala.toSeq.map(e =>
            org.apache.spark.sql.Row(e.getKey, e.getValue.longValue())).asJava,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("ctx",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("n2",
              org.apache.spark.sql.types.LongType))))
      }
      graft.pipeline.LangModel
        .scoreDocs(docs.filter(col("doc_id") % 5 === 0), model, ctx, v)
        .select(col("doc_id"), col("n_tri"),
          round(col("lp") / col("n_tri"), 6).as("avg_lp"),
          // gate margin: min |avg_lp + 1.08| measured 6.1e-5 at sf0.01 /
          // 2.7e-4 at sf0.001 — >= 10^8 x the sub-ULP ln() drift
          // (LangModelSpec pins it); 63/100 fluent at sf0.01
          (col("lp") / col("n_tri") >= -1.08).as("fluent"),
          lit(v).as("vocab"))
    },
    // the trained LM replayed END TO END from the documents table: the
    // train-split trigram counts (exact integers), context sums, vocab
    // size, every held-out trigram's smoothed conditional, the
    // position-ordered log-prob fold, and both graded decisions (1e-6
    // quantum + the -1.08 gate, margins pinned in LangModelSpec)
    () =>
      """WITH tr AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
        |tri0 AS (SELECT substring(t.text, g.i, 3) AS tri
        |         FROM tr t, unnest(generate_series(1, greatest(len(t.text) - 2, 0))) AS g(i)),
        |c3 AS (SELECT tri, count(*) AS n3 FROM tri0 GROUP BY tri),
        |c2 AS (SELECT substring(tri, 1, 2) AS ctx, sum(n3) AS n2 FROM c3 GROUP BY 1),
        |v AS (SELECT count(*) AS v FROM c3),
        |ho AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0 AND len(text) >= 3),
        |toks AS (SELECT h.doc_id, g.i AS pos, substring(h.text, g.i, 3) AS tri
        |         FROM ho h, unnest(generate_series(1, len(h.text) - 2)) AS g(i)),
        |terms AS (SELECT t.doc_id, t.pos,
        |            ln(CAST(coalesce(c3.n3, 0) + 1 AS DOUBLE) /
        |               CAST(coalesce(c2.n2, 0) + v.v AS DOUBLE)) AS term
        |          FROM toks t LEFT JOIN c3 ON c3.tri = t.tri
        |               LEFT JOIN c2 ON c2.ctx = substring(t.tri, 1, 2), v),
        |agg AS (SELECT doc_id, count(*) AS n_tri,
        |          list_reduce(list_prepend(0.0E0, list(term ORDER BY pos)),
        |            (a, x) -> a + x) AS lp
        |        FROM terms GROUP BY doc_id)
        |SELECT a.doc_id, a.n_tri, round(a.lp / a.n_tri, 6) AS avg_lp,
        |  (a.lp / a.n_tri >= -1.08E0) AS fluent, v.v AS vocab
        |FROM agg a, v""".stripMargin),

    Query("q63_minhash_dedup", (s, d) => {
      // First-wins candidate-level near-dup RETENTION (the form a 100-TB
      // dedup pass actually materializes): a doc is kept iff it is the
      // smallest-id claimant of EVERY one of its 16 LSH bands — i.e. no
      // earlier doc shares any band ("dedup against seen", the greedy
      // order-respecting rule a single streaming pass can honor; see
      // streaming.NearDup for the watermark-bounded stream form). The
      // banding + retention logic is the shared pipeline.Dedup scheme:
      // band-keyed groupBy + equi-join + doc-keyed groupBy — no all-pairs
      // stage, partial aggregation map-side throughout.
      graft.pipeline.Dedup.firstWinsKept(
        graft.pipeline.Dedup.banded(t(s, d, "documents"), "doc_id"))
    },
    // first-wins retention over the SAME fully-replayed band keys as q25:
    // kept iff the doc is the min-id claimant of every band it occupies
    () =>
      s"""WITH ${minhashBandCtes()},
         |$ownCte
         |SELECT k.doc_id, ($ownsAllSql) AS kept
         |FROM keys k JOIN own o USING (bk)
         |GROUP BY k.doc_id""".stripMargin),

    Query("q70_decontamination", (s, d) => {
      // test-set decontamination: flag every training doc sharing >= 1
      // hashed word 5-gram with the eval set — the step a pretraining
      // pipeline runs so benchmark text never leaks into training data.
      // The eval fixture is a deterministic 10-token slice of every 25th
      // doc (both engines derive it identically). Shape: inverted-index
      // equi-join on the gram hash with the tiny eval side BROADCAST —
      // the training side streams map-side; never an all-pairs stage.
      val docs = t(s, d, "documents")
      // eval tokens are the non-empty Quality.words, so the slice is
      // whitespace-robust, not space-only
      val evalToks = Quality.words(col("text"))
      val evalDf = docs.filter(col("doc_id") % 25 === 0)
        .select(col("doc_id").as("eval_id"),
          concat_ws(" ", slice(evalToks, 6, 10)).as("etext"))
      // no .distinct() on either gram frame: hashed_word_shingles returns
      // per-doc SORTED-DISTINCT grams, so (id, g) rows are already unique
      // — a distinct here would plan a corpus-wide exchange for nothing
      val eg = evalDf.select(col("eval_id"),
        explode(gf.hashed_word_shingles(col("etext"), lit(5))).as("g"))
      val tg = docs.select(col("doc_id"),
        explode(gf.hashed_word_shingles(col("text"), lit(5))).as("g"))
      val hits = tg.join(broadcast(eg), Seq("g"))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("eval_id")).as("h"))
      docs.select(col("doc_id")).join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("h"), lit(0L)).as("n_eval_hits"))
        .withColumn("contaminated", col("n_eval_hits") > 0)
    },
    // TextOps.hashedWordShingles replayed: per-token FNV/mix64 hash, then
    // the rolling h*31+tokHash combine over 5 tokens (mod 2^64), mix64'd;
    // same every-25th-doc 10-token eval slice, same inverted-index join.
    // over the non-empty Quality.words tokens the engine hashes
    () =>
      s"""WITH toks AS (
         |  SELECT doc_id, ${Quality.wordsSql("text")} AS tk FROM documents),
         |eth AS (
         |  SELECT doc_id AS eval_id, list_transform(tk[6:15], t -> ${fnvSql("t")}) AS th
         |  FROM toks WHERE doc_id % 25 = 0),
         |eg AS (
         |  SELECT DISTINCT eval_id, g FROM (
         |    SELECT eval_id, unnest(list_transform(generate_series(1, greatest(len(th) - 4, 0)),
         |      i -> ${mix64Sql(s"list_reduce(list_prepend(14695981039346656037::HUGEINT, th[i : i + 4]), (a, b) -> (${mulmod64("a", "31::HUGEINT")} + b) % $Wrap64)")})) AS g
         |    FROM eth)),
         |tth AS (SELECT doc_id, list_transform(tk, t -> ${fnvSql("t")}) AS th FROM toks),
         |tg AS (
         |  SELECT DISTINCT doc_id, g FROM (
         |    SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(th) - 4, 0)),
         |      i -> ${mix64Sql(s"list_reduce(list_prepend(14695981039346656037::HUGEINT, th[i : i + 4]), (a, b) -> (${mulmod64("a", "31::HUGEINT")} + b) % $Wrap64)")})) AS g
         |    FROM tth)),
         |hits AS (
         |  SELECT doc_id, count(DISTINCT eval_id) AS h
         |  FROM tg JOIN eg USING (g) GROUP BY doc_id)
         |SELECT t.doc_id, CAST(coalesce(h.h, 0) AS BIGINT) AS n_eval_hits,
         |  coalesce(h.h, 0) > 0 AS contaminated
         |FROM toks t LEFT JOIN hits h ON h.doc_id = t.doc_id""".stripMargin),

    Query("q68_chunking", (s, d) => {
      // token-window chunking for training: windows of 64 tokens at
      // stride 48 (16-token overlap), final partial window kept — the
      // split a pretraining tokenizer pipeline feeds from. Pure map-side
      // array math (sequence + slice inside one projection); at 10^12
      // docs this is a single scan with no shuffle. A start s > 0 adds
      // new tokens only while the PREVIOUS window stopped short of the
      // end (prev covered up to s + 16), so starts stop at n - 17 — a
      // trailing subset window would be a pure duplicate training sample
      // (12% of chunks on the fixture before this guard).
      val tk = Quality.tokens(col("text"))
      t(s, d, "documents")
        .select(col("doc_id"), tk.as("tk"))
        .select(col("doc_id"),
          posexplode(transform(
            sequence(lit(0), greatest(size(col("tk")) - 17, lit(0)), lit(48)),
            st => slice(col("tk"), st + 1, lit(64)))).as(Seq("chunk_idx", "chunk")))
        .select(col("doc_id"), col("chunk_idx"),
          size(col("chunk")).as("n_tokens"),
          md5(concat_ws(" ", col("chunk"))).as("chunk_md5"))
    },
    // same windows: starts 0,48,96,... over the token list, width 64,
    // DuckDB's 1-based inclusive list slice == Spark's slice(arr, st+1, 64)
    () =>
      s"""WITH tk AS (
        |  SELECT doc_id, ${Quality.tokensSql("text")} AS tk FROM documents),
        |ch AS (
        |  SELECT doc_id, g.i AS start_i,
        |    tk[g.i + 1 : least(g.i + 64, len(tk))] AS chunk,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY g.i) - 1 AS chunk_idx
        |  FROM tk, unnest(generate_series(0, greatest(len(tk) - 17, 0), 48)) AS g(i))
        |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
        |  CAST(len(chunk) AS INT) AS n_tokens,
        |  md5(array_to_string(chunk, ' ')) AS chunk_md5
        |FROM ch""".stripMargin),

    Query("q123_packing_certificate", (s, d) => {
      // the q82-pattern certificate for token packing: per (shard,
      // batch) the utilization percent AND the <=1-doc-overshoot
      // guarantee asserted IN the graded output — a batch closes when
      // the running sum crosses the budget, so (total - last doc's
      // tokens) < budget must hold on every row; the driver now checks
      // the packing contract itself, not just the assignment.
      val docs = t(s, d, "documents")
      val base = graft.pipeline.Packing.tokenBatches(docs, Q123TokenBudget, Q123Shards)
      val toks = docs.select(col("doc_id").as("last_doc"),
        size(Quality.tokens(col("text"))).cast("long").as("last_toks"))
      base.join(toks, Seq("last_doc"))
        .select(col("shard"), col("batch_id"), col("n_docs"), col("total_tokens"),
          floor(lit(100L) * col("total_tokens") / lit(Q123TokenBudget)).cast("long")
            .as("util_pct"),
          (col("total_tokens") - col("last_toks") < lit(Q123TokenBudget))
            .as("overshoot_ok"))
    },
    // exclusive-prefix batch assignment replayed with the same md5 shard
    // packing certificate replay: q69's CTEs + a join back for the last
    // doc's token count, identical integer arithmetic
    () =>
      s"""WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(${Quality.tokensSql("text")}) AS BIGINT) AS n_toks,
        |    ${Packing.md5KeySql("CAST(doc_id AS VARCHAR)")} % $Q123Shards AS shard
        |  FROM documents),
        |b AS (
        |  SELECT shard, doc_id, n_toks,
        |    CAST((sum(n_toks) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) - n_toks) // $Q123TokenBudget AS BIGINT) AS batch_id
        |  FROM t),
        |agg AS (
        |  SELECT shard, batch_id, count(*) AS n_docs,
        |    CAST(sum(n_toks) AS BIGINT) AS total_tokens,
        |    max(doc_id) AS last_doc
        |  FROM b GROUP BY shard, batch_id)
        |SELECT a.shard, a.batch_id, a.n_docs, a.total_tokens,
        |  CAST((100 * a.total_tokens) // $Q123TokenBudget AS BIGINT) AS util_pct,
        |  (a.total_tokens - t.n_toks < $Q123TokenBudget) AS overshoot_ok
        |FROM agg a JOIN t ON t.doc_id = a.last_doc""".stripMargin),

    Query("q69_token_packing", (s, d) => {
      // Packing.tokenBatches (the parameterized operator — shard count
      // defaults to spark.sql.shuffle.partitions in the library; the
      // driver query pins Q69Shards because the static oracle SQL must
      // interpolate the SAME constant, and the driver's session conf
      // varies with SPARK_GRAFT_CPUS). PackingSpec pins the sequential
      // replica + <=1-doc overshoot invariant at two other shard counts.
      graft.pipeline.Packing.tokenBatches(t(s, d, "documents"),
        Q69TokenBudget, Q69Shards)
    }, () =>
      s"""WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(${Quality.tokensSql("text")}) AS BIGINT) AS n_toks,
        |    ${Packing.md5KeySql("CAST(doc_id AS VARCHAR)")} % $Q69Shards AS shard
        |  FROM documents),
        |b AS (
        |  SELECT shard, doc_id, n_toks,
        |    CAST((sum(n_toks) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) - n_toks) // $Q69TokenBudget AS BIGINT) AS batch_id
        |  FROM t)
        |SELECT shard, batch_id, count(*) AS n_docs,
        |  CAST(sum(n_toks) AS BIGINT) AS total_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM b GROUP BY shard, batch_id""".stripMargin),

    // ---- training shards MATERIALIZED (r4 verdict item 3): q69 assigns
    // docs to token-budget batches; q91 emits the artifact — per
    // (shard, batch) one binary blob of big-endian uint16 token ids from
    // a corpus-trained capped vocab (UNK=0 beyond rank 24, exercised:
    // the fixture has 31 distinct tokens). Graded by blob md5 + byte
    // count (q34's md5-block pattern); ShardsSpec adds an independent
    // byte-level replica and the resumable sink's preempt/resume runs ----
    Query("q91_training_shards", (s, d) => {
      graft.pipeline.Shards
        .batchBlobs(t(s, d, "documents"), Q69TokenBudget, Q69Shards, Q91MaxVocab)
        .select(col("shard"), col("batch_id"), col("n_docs"), col("total_tokens"),
          length(col("blob")).cast("long").as("n_bytes"),
          md5(hex(col("blob")).cast("binary")).as("blob_md5"))
    },
    // the shard blobs replayed byte-for-byte from the documents table:
    // trained vocab ranks (count desc, token), the UNK cap, every doc's
    // position-ordered uint16 hex encoding, q69's shard/batch assignment,
    // and the doc_id-ordered per-batch concat — md5 compared over the
    // SAME hex text both engines build (blob = unhex of it)
    () =>
      s"""WITH toks AS (
         |  SELECT d.doc_id, g.i AS pos, d.tk[g.i] AS tok
         |  FROM (SELECT doc_id, ${Quality.tokensSql("text")} AS tk
         |        FROM documents) d,
         |       unnest(generate_series(1, len(d.tk))) AS g(i)),
         |vc AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
         |vocab AS (
         |  SELECT tok, CASE WHEN rn <= $Q91MaxVocab THEN rn ELSE 0 END AS tid
         |  FROM (SELECT tok, row_number() OVER (ORDER BY n DESC, tok) AS rn FROM vc)),
         |dochex AS (
         |  SELECT t.doc_id, count(*) AS n_toks,
         |    string_agg(upper(lpad(to_hex(v.tid), 4, '0')), '' ORDER BY t.pos) AS doc_hex
         |  FROM toks t JOIN vocab v USING (tok) GROUP BY t.doc_id),
         |shards AS (
         |  SELECT doc_id,
         |    ${Packing.md5KeySql("CAST(doc_id AS VARCHAR)")} % $Q69Shards AS shard
         |  FROM documents),
         |asg AS (
         |  SELECT s.shard, d.doc_id, d.n_toks,
         |    CAST((sum(d.n_toks) OVER (PARTITION BY s.shard ORDER BY d.doc_id
         |      ROWS UNBOUNDED PRECEDING) - d.n_toks) // $Q69TokenBudget AS BIGINT) AS batch_id
         |  FROM dochex d JOIN shards s USING (doc_id)),
         |b AS (
         |  SELECT a.shard, a.batch_id, count(*) AS n_docs,
         |    CAST(sum(a.n_toks) AS BIGINT) AS total_tokens,
         |    string_agg(d.doc_hex, '' ORDER BY a.doc_id) AS hexcat
         |  FROM asg a JOIN dochex d USING (doc_id)
         |  GROUP BY a.shard, a.batch_id)
         |SELECT shard, batch_id, n_docs, total_tokens,
         |  CAST(2 * total_tokens AS BIGINT) AS n_bytes, md5(hexcat) AS blob_md5
         |FROM b""".stripMargin),

    Query("q65_curation_pipeline", (s, d) => {
      // The END-TO-END curation pass a training-data pipeline runs, as one
      // dataflow: quality gate (q54's rule chain) -> exact dedup (first id
      // per identical text) -> first-wins near-dup retention (q63's rule,
      // bands computed over the survivors) -> language-stratified sampling
      // (q53's content-hash quota). Output: the per-source funnel. Every
      // stage keys on doc/text/band hashes — no all-pairs, no driver
      // state; the funnel aggregation is one map-side-partial groupBy.
      val toks = Quality.tokens(col("text"))
      val docs = t(s, d, "documents")
      // each stage feeds BOTH the next stage and its own funnel join, so
      // stages re-evaluate once per consumer. MEASURED at sf0.1 (same
      // host window): this plain form is the fastest of the three
      // candidates — materializing every stage costs MORE here
      // (localCheckpoint ~+1.2s, LocalRelation ~+1.7s) because the
      // stages are cheap pipelined scans and the corpus is small. At production
      // scale the multi-consumer rule flips the tradeoff: persist()
      // gated/exact/near before the funnel and unpersist after the
      // action (the caller owns the lifetime), or run the funnel as a
      // multi-stage checkpointed pipeline (pipeline.Checkpointed).
      val gated = docs.filter(
        Quality.passes(size(toks), Quality.stopRatio(toks), Quality.distinctRatio(toks)))
      val wText = org.apache.spark.sql.expressions.Window
        .partitionBy(col("text")).orderBy(col("doc_id"))
      val exact = gated.withColumn("rn", row_number().over(wText))
        .filter(col("rn") === 1).drop("rn")
      // near-dup stage = the shared pipeline.Dedup first-wins rule over
      // the survivor set (gate guarantees >= 20 tokens, so the helper's
      // short-doc exclusion is vacuous here)
      val nearIds = graft.pipeline.Dedup
        .firstWinsKept(graft.pipeline.Dedup.banded(exact, "doc_id"))
        .filter(col("kept")).select(col("doc_id"))
      val near = exact.join(nearIds, Seq("doc_id"))
      val bucket = Packing.md5Key(col("text")) % 1000
      val sampled = near.filter(
        bucket < when(col("lang") === "en", lit(250)).otherwise(lit(1000)))
      def ids(df: org.apache.spark.sql.DataFrame, flag: String) =
        df.select(col("doc_id"), lit(1L).as(flag))
      docs.select(col("doc_id"), col("source"))
        .join(ids(gated, "g"), Seq("doc_id"), "left")
        .join(ids(exact, "e"), Seq("doc_id"), "left")
        .join(ids(near, "nd"), Seq("doc_id"), "left")
        .join(ids(sampled, "sm"), Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("g")), lit(0L)).as("n_gated"),
          coalesce(sum(col("e")), lit(0L)).as("n_exact"),
          coalesce(sum(col("nd")), lit(0L)).as("n_neardup"),
          coalesce(sum(col("sm")), lit(0L)).as("n_sampled"))
    },
    // the whole curation funnel replayed stage by stage: the q54 gate
    // predicate, first-id-per-text exact dedup, the q63 first-wins rule
    // over the survivor set's REPLAYED band keys, and the q53 sampling
    // quota — then the same per-source funnel counts
    () =>
      s"""WITH gated AS (
         |  SELECT doc_id, text, lang, source FROM documents
         |  WHERE ${Quality.passesSql(s"len(${Quality.tokensSql("text")})",
                    Quality.stopRatioSql("text"), Quality.distinctRatioSql("text"))}),
         |exact AS (
         |  SELECT doc_id, text, lang, source FROM (
         |    SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
         |    FROM gated) WHERE rn = 1),
         |${minhashBandCtes("exact")},
         |$ownCte,
         |near AS (
         |  SELECT e.doc_id, e.text, e.lang, e.source FROM exact e JOIN (
         |    SELECT k.doc_id FROM keys k JOIN own o USING (bk)
         |    GROUP BY k.doc_id
         |    HAVING $ownsAllSql) kk
         |  ON kk.doc_id = e.doc_id),
         |sampled AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, lang, ${Packing.md5KeySql("text")} % 1000 AS bucket
         |    FROM near)
         |  WHERE bucket < CASE WHEN lang = 'en' THEN 250 ELSE 1000 END)
         |SELECT d.source, count(*) AS n_docs,
         |  CAST(count(g.doc_id) AS BIGINT) AS n_gated,
         |  CAST(count(e.doc_id) AS BIGINT) AS n_exact,
         |  CAST(count(n.doc_id) AS BIGINT) AS n_neardup,
         |  CAST(count(s.doc_id) AS BIGINT) AS n_sampled
         |FROM documents d
         |LEFT JOIN (SELECT doc_id FROM gated) g USING (doc_id)
         |LEFT JOIN (SELECT doc_id FROM exact) e ON e.doc_id = d.doc_id
         |LEFT JOIN (SELECT doc_id FROM near) n ON n.doc_id = d.doc_id
         |LEFT JOIN sampled s ON s.doc_id = d.doc_id
         |GROUP BY d.source""".stripMargin),

    Query("q66_pii_scrub", (s, d) => {
      // PII redaction (emails / NANP-style phones / IPv4) — the scrubbing
      // pass a curation pipeline runs before training. Patterns are
      // RE2-compatible (no backrefs/lookaround) so the DuckDB oracle runs
      // the IDENTICAL regex strings under leftmost-first semantics; the
      // synthetic PII is derived deterministically from doc_id on BOTH
      // sides (documents.text itself carries no digits or '@', checked).
      // Pure map-side regexp chain, codegen'd — nothing here shuffles.
      val withPii = t(s, d, "documents").select(col("doc_id"), col("source"),
        concat(col("text"),
          when(col("doc_id") % 4 === 0,
            concat(lit(" reach me at user"), col("doc_id"), lit("@example-mail.org")))
          .when(col("doc_id") % 4 === 1,
            concat(lit(" call ("), lpad((col("doc_id") % 800 + 200).cast("string"), 3, "0"),
              lit(") "), lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
              lit("-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .when(col("doc_id") % 4 === 2,
            concat(lit(" from 10."), (col("doc_id") % 256).cast("string"), lit("."),
              ((col("doc_id") * 7) % 256).cast("string"), lit(".1")))
          .otherwise(lit(""))).as("text"))
      val email = PiiEmail; val phone = PiiPhone; val ip = PiiIp
      withPii.select(col("doc_id"), col("source"),
        regexp_count(col("text"), lit(email)).as("n_email"),
        regexp_count(col("text"), lit(phone)).as("n_phone"),
        regexp_count(col("text"), lit(ip)).as("n_ip"),
        md5(regexp_replace(
          regexp_replace(
            regexp_replace(col("text"), email, "<EMAIL>"),
            phone, "<PHONE>"),
          ip, "<IP>")).as("redacted_md5"))
    },
    // identical RE2-safe regexes, identical deterministic PII synthesis
    () =>
      s"""WITH withpii AS (
         |  SELECT doc_id, source, text ||
         |    CASE WHEN doc_id % 4 = 0
         |        THEN ' reach me at user' || doc_id || '@example-mail.org'
         |      WHEN doc_id % 4 = 1
         |        THEN ' call (' || lpad(CAST(doc_id % 800 + 200 AS VARCHAR), 3, '0')
         |          || ') ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
         |          || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |      WHEN doc_id % 4 = 2
         |        THEN ' from 10.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256) || '.1'
         |      ELSE '' END AS text
         |  FROM documents)
         |SELECT doc_id, source,
         |  CAST(len(regexp_extract_all(text, '$PiiEmail')) AS INT) AS n_email,
         |  CAST(len(regexp_extract_all(text, '$PiiPhone')) AS INT) AS n_phone,
         |  CAST(len(regexp_extract_all(text, '$PiiIp')) AS INT) AS n_ip,
         |  md5(regexp_replace(regexp_replace(regexp_replace(text,
         |    '$PiiEmail', '<EMAIL>', 'g'),
         |    '$PiiPhone', '<PHONE>', 'g'),
         |    '$PiiIp', '<IP>', 'g')) AS redacted_md5
         |FROM withpii""".stripMargin),

    Query("q26_simhash_pairs", (s, d) => {
      // SimHash near-dup: 64-bit simhash, band on 4x16-bit chunks, verify
      // hamming distance <= 8
      val docs = t(s, d, "documents").select(col("doc_id"),
        gf.simhash(gf.word_shingles(col("text"), lit(1))).as("sh"))
      val banded = docs.select(col("doc_id"), col("sh"), explode(array(
        (0 until 4).map(i => concat(lit(i), lit(":"),
          (shiftright(col("sh"), i * 16).bitwiseAND(lit(0xffffL))))): _*)).as("band"))
      graft.pipeline.Dedup.candidatePairs(banded)
        .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
        .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
        .withColumn("hamming", gf.hamming_dist(col("sh_a"), col("sh_b")))
        .filter(col("hamming") <= 8)
        .select(col("doc_a"), col("doc_b"), col("hamming"))
    },
    // SimHash, FULLY replayed: per-token FNV hash, the 64 majority-vote
    // bits, the 4x16-bit chunk band keys (arith-shift + mask == unsigned
    // extract, q26's engine form), the chunk equi-join, and the hamming
    // verify over the recomputed 64-bit signatures
    () =>
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(${Quality.tokensSql("text")}) AS s FROM documents),
         |th AS (SELECT doc_id, ${fnvSql("s")} AS h FROM toks),
         |bits AS (
         |  SELECT doc_id, b.b,
         |    CASE WHEN 2 * sum(CASE WHEN (h // power(2, b.b)::HUGEINT) % 2 = 1 THEN 1 ELSE 0 END)
         |        > count(*)
         |      THEN power(2, b.b)::HUGEINT ELSE 0::HUGEINT END AS bv
         |  FROM th CROSS JOIN (SELECT unnest(range(0, 64)) AS b) b
         |  GROUP BY doc_id, b.b),
         |sh AS (SELECT doc_id, sum(bv)::HUGEINT AS u FROM bits GROUP BY doc_id),
         |chunks AS (
         |  SELECT doc_id, concat(i, ':', CAST((u // power(2, 16*i)::HUGEINT) % 65536 AS BIGINT)) AS chunk
         |  FROM sh CROSS JOIN (SELECT unnest(range(0, 4)) AS i)),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM chunks a JOIN chunks b ON a.chunk = b.chunk AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, CAST(bit_count(CAST(xor(sa.u, sb.u) AS UBIGINT)) AS INT) AS hamming
         |FROM pairs JOIN sh sa ON sa.doc_id = doc_a JOIN sh sb ON sb.doc_id = doc_b
         |WHERE bit_count(CAST(xor(sa.u, sb.u) AS UBIGINT)) <= 8""".stripMargin),

    Query("q27_ngram_jaccard", (s, d) => {
      // n-gram Jaccard near-dup over hashed char 5-grams (sorted long
      // arrays, no gram strings). Candidates come from a document-
      // frequency-filtered inverted index: only RARE grams (2 <= df <= 10)
      // key the self-join, so common-substring grams can't hot-spot it.
      // Verification = single merge-walk jaccard over the long arrays.
      val docs = t(s, d, "documents").select(col("doc_id"),
        gf.hashed_char_shingles(col("text"), lit(5)).as("grams"))
      // near-dup docs share MANY rare grams; sampling every 16th gram of
      // the index side keeps the inverted index 16x smaller with ~no
      // recall loss (a near-dup pair still shares >= 1 sampled rare gram)
      val inv = docs.select(col("doc_id"),
        explode(filter(col("grams"), (g, i) => i % 16 === 0)).as("band"))
      val rare = inv.groupBy(col("band")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2 && col("df") <= 10)
      graft.pipeline.Dedup.candidatePairs(inv.join(rare.select(col("band")), Seq("band")))
        .join(docs.select(col("doc_id").as("doc_a"), col("grams").as("ga")), Seq("doc_a"))
        .join(docs.select(col("doc_id").as("doc_b"), col("grams").as("gb")), Seq("doc_b"))
        .withColumn("jaccard", gf.sorted_jaccard(col("ga"), col("gb")))
        .filter(col("jaccard") >= 0.6)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
    },
    // hashed char-5-gram near-dup, FULLY replayed: per-gram FNV/mix64 over
    // char code units, the SIGNED-long sort order the engine's sorted-
    // distinct arrays use (every 16th position samples the index side),
    // the 2<=df<=10 rare-gram filter, the inverted-index join, and the
    // distinct-gram jaccard verify
    () =>
      s"""WITH grams_raw AS (
         |  SELECT doc_id, ${mix64Sql(
        s"""list_reduce(list_prepend(14695981039346656037::HUGEINT,
           |      list_transform(range(0, 5), j -> ord(substring(text, i + j, 1)))),
           |      (h, c) -> ${mulmod64("xor(h, CAST(c AS HUGEINT))", "1099511628211::HUGEINT")})""".stripMargin)} AS g
         |  FROM documents, unnest(range(1, length(text) - 3)) AS u(i)
         |  WHERE length(text) >= 5),
         |grams AS (SELECT DISTINCT doc_id, g FROM grams_raw),
         |ranked AS (
         |  SELECT doc_id, g, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY (CASE WHEN g >= 9223372036854775808::HUGEINT
         |      THEN g - $Wrap64 ELSE g END)) - 1 AS pos
         |  FROM grams),
         |inv AS (SELECT doc_id, g FROM ranked WHERE pos % 16 = 0),
         |rare AS (SELECT g FROM inv GROUP BY g HAVING count(*) BETWEEN 2 AND 10),
         |keyed AS (SELECT doc_id, g FROM inv JOIN rare USING (g)),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM keyed a JOIN keyed b ON a.g = b.g AND a.doc_id < b.doc_id),
         |feat AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
         |inter AS (
         |  SELECT p.doc_a, p.doc_b, count(*) AS ni
         |  FROM pairs p JOIN grams ga ON ga.doc_id = p.doc_a
         |  JOIN grams gb ON gb.doc_id = p.doc_b AND gb.g = ga.g
         |  GROUP BY p.doc_a, p.doc_b)
         |SELECT doc_a, doc_b,
         |  round(CAST(ni AS DOUBLE) / (fa.n + fb.n - ni), 6) AS jaccard
         |FROM inter JOIN feat fa ON fa.doc_id = doc_a JOIN feat fb ON fb.doc_id = doc_b
         |WHERE CAST(ni AS DOUBLE) / (fa.n + fb.n - ni) >= 0.6""".stripMargin),

    // ---- near-dup VERIFY-stage anchors: the exact-verification kernels
    // of q25/q26/q27 (jaccard merge-walk, hamming) run brute-force over a
    // bounded probe slice (doc_id < 100 one side) with full DuckDB oracles.
    // q25-q27 themselves are ALSO fully oracled (FNV/splitmix64 replayed
    // in HUGEINT SQL), so these anchors now serve as the thresholdless
    // full-similarity-table fixtures and recall baselines ----
    Query("q37_shingle_jaccard", (s, d) => {
      // q25's verify stage: exact word-3-shingle jaccard (distinct-set
      // semantics). Per-PAIR work is ONE array_intersect: the arrays are
      // deduped and size-annotated once per DOC, and |A∪B| = |A|+|B|-|A∩B|
      // replaces a second per-pair set operation. The probe slice is
      // bounded on both sides (a<100, b<1000 — all of sf0.01, capped at
      // bench scale); q25's banded LSH is the unbounded scale path.
      val docs = t(s, d, "documents")
        .filter(col("doc_id") < 1000)
        .select(col("doc_id"),
          array_distinct(gf.word_shingles(col("text"), lit(3))).as("sh"))
        .withColumn("n", size(col("sh")))
      val a = docs.filter(col("doc_id") < 100)
        .select(col("doc_id").as("doc_a"), col("sh").as("sh_a"), col("n").as("n_a"))
      val b = docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"), col("n").as("n_b"))
      // thresholdless (the full pair-similarity table): a jaccard filter
      // would reference the expression from both Filter and Project after
      // pushdown, re-evaluating the intersect per reference — emitting
      // every pair, with the intersect size lambda-let-bound (it feeds
      // both numerator and denominator), keeps it at exactly ONE set
      // operation per pair
      val jaccard = element_at(
        transform(array(size(array_intersect(col("sh_a"), col("sh_b")))),
          i => round(i.cast("double") /
            (col("n_a") + col("n_b") - i).cast("double"), 6)), 1)
      bruteAnchorJoin(a, b, "doc_a", "doc_b")
        .filter(col("n_a") + col("n_b") > 0)
        .select(col("doc_a"), col("doc_b"), jaccard.as("jaccard"))
    }, () =>
      s"""WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
        |      i -> array_to_string(toks[i:i+2], ' '))) AS sh
        |  FROM (SELECT doc_id, ${Quality.tokensSql("text")} AS toks FROM documents)
        |  WHERE doc_id < 1000
        |)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |    CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE), 6) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE a.doc_id < 100 AND len(a.sh) + len(b.sh) > 0""".stripMargin),

    Query("q38_chargram_jaccard", (s, d) => {
      // q27's verify stage: the sorted-long-array merge-walk jaccard over
      // hashed char 5-grams. The oracle computes jaccard over the DISTINCT
      // GRAM STRINGS — equal values because the 64-bit gram hash is
      // injective on these inputs (a collision would show as a hash
      // mismatch, which is the point of the anchor)
      val docs = t(s, d, "documents").select(col("doc_id"),
        gf.hashed_char_shingles(col("text"), lit(5)).as("grams"))
      bruteAnchorJoin(docs.filter(col("doc_id") < 100).select(col("doc_id").as("doc_a"), col("grams").as("ga")),
        docs.select(col("doc_id").as("doc_b"), col("grams").as("gb")), "doc_a", "doc_b")
        .filter(size(col("ga")) + size(col("gb")) > 0)
        // r6 size-ratio prefilter (guide §1.2 per-task work): the arrays
        // are sorted-DISTINCT sets, so jaccard <= min(|A|,|B|)/max(|A|,|B|);
        // a pair failing 5*min >= 2*max (i.e. min/max < 0.4) can never
        // reach the 0.4 threshold — the O(|A|+|B|) merge-walk kernel now
        // runs only on pairs that could pass. Exact integer arithmetic;
        // pairs at exactly 0.4 keep both filters' semantics.
        .filter(lit(5) * least(size(col("ga")), size(col("gb"))) >=
          lit(2) * greatest(size(col("ga")), size(col("gb"))))
        .withColumn("jaccard", gf.sorted_jaccard(col("ga"), col("gb")))
        .filter(col("jaccard") >= 0.4)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
    }, () =>
      """WITH g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, greatest(length(text) - 4, 0)),
        |      i -> substring(text, i, 5))) AS grams
        |  FROM documents)
        |SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
        |    CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE) AS jaccard
        |  FROM g a JOIN g b ON a.doc_id < b.doc_id
        |  WHERE a.doc_id < 100 AND len(a.grams) + len(b.grams) > 0)
        |WHERE jaccard >= 0.4""".stripMargin),

    Query("q39_md5_hamming", (s, d) => {
      // q26's verify stage: hamming_dist over 60-bit keys derived from
      // md5(text) identically on both sides (15 hex chars -> int), so the
      // custom popcount-xor expression itself is oracle-checked
      val h = Packing.md5Key(col("text"))
      val docs = t(s, d, "documents").select(col("doc_id"), h.as("h"))
      bruteAnchorJoin(docs.filter(col("doc_id") < 100).select(col("doc_id").as("doc_a"), col("h").as("ha")),
        docs.select(col("doc_id").as("doc_b"), col("h").as("hb")), "doc_a", "doc_b")
        .withColumn("hamming", gf.hamming_dist(col("ha"), col("hb")))
        .filter(col("hamming") <= 22)
        .select(col("doc_a"), col("doc_b"), col("hamming"))
    }, () =>
      s"""WITH h AS (
        |  SELECT doc_id, ${Packing.md5KeySql("text")} AS h
        |  FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.h, b.h)) AS INT) AS hamming
        |FROM h a JOIN h b ON a.doc_id < b.doc_id
        |WHERE a.doc_id < 100 AND bit_count(xor(a.h, b.h)) <= 22""".stripMargin),

    Query("q96_components_star", (s, d) => {
      // connected components (Dedup.connectedComponents) on a
      // HIGH-DIAMETER graph: past the operator's size gate its
      // large-star/small-star rounds are diameter-independent, where
      // per-hop label propagation would pay one shuffle round per hop.
      // The edge set is derived from doc ids alone so both engines
      // define it identically:
      // seven stride-7 chains over the dense id space (diameter ~ n/7,
      // ~71 at sf0.01) plus a bridge (i, i+3) at every i % 101 == 0,
      // which welds six of the seven chains into one snaking component
      // hundreds of hops across. At sf0.01 it fits the gate and the
      // union-find closes it; the oracle closes the same graph with a
      // recursive CTE.
      val ids = t(s, d, "documents").select(col("doc_id"))
      val chain = ids.as("a").join(ids.as("b"), col("b.doc_id") === col("a.doc_id") + 7)
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      val bridge = ids.as("a").filter(col("doc_id") % 101 === 0)
        .join(ids.as("b"), col("b.doc_id") === col("a.doc_id") + 3)
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      graft.pipeline.Dedup.connectedComponents(chain.unionByName(bridge))
        .select(col("doc_id"), col("component"),
          (col("doc_id") === col("component")).as("kept"))
    },
    // high-diameter star-contraction components: the identical id-derived
    // edge set (stride-7 chains + %101 bridges) closed by a recursive CTE
    () =>
      """WITH RECURSIVE e AS (
        |  SELECT a.doc_id AS u, b.doc_id AS v FROM documents a
        |    JOIN documents b ON b.doc_id = a.doc_id + 7
        |  UNION ALL
        |  SELECT a.doc_id, b.doc_id FROM documents a
        |    JOIN documents b ON b.doc_id = a.doc_id + 3
        |  WHERE a.doc_id % 101 = 0),
        |sym AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
        |r(a, b) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM sym)
        |  UNION
        |  SELECT s.u, r.b FROM sym s JOIN r ON s.v = r.a)
        |SELECT a AS doc_id, min(b) AS component, (a = min(b)) AS kept
        |FROM r GROUP BY a""".stripMargin)
  )

  /** The brute-force anchor join: each `probe` row against each broadcast
    * `build` row with a larger id (`idA < idB`). r6: the BNLJ stream side
    * inherits the scan's partitioning — ONE task for a single-row-group
    * parquet, serializing every pairwise kernel eval — so the probe side
    * is spread across the session's cores (round-robin, row-level map =>
    * result-invariant). */
  private def bruteAnchorJoin(probe: DataFrame, build: DataFrame, idA: String, idB: String): DataFrame =
    probe.repartition(probe.sparkSession.sparkContext.defaultParallelism)
      .join(broadcast(build), col(idA) < col(idB))

  /** BPE training replay (q114/q115): `rounds` merge rounds as chained
    * CTEs — per round a lead-window pair count over s{r-1}, the 1-row
    * argmax b{r} (total DESC, s1, s2), match islands, even-offset
    * selection (== greedy left-to-right), and the rewritten s{r}. */
  private def bpeRoundCtes(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""wtoks AS (SELECT unnest(${Quality.wordsSql("text")}) AS word FROM documents),
         |vocab AS MATERIALIZED (SELECT word, count(*) AS n FROM wtoks GROUP BY word),
         |s0 AS MATERIALIZED (SELECT word, n, CAST(g.i AS BIGINT) AS pos, substring(word, g.i, 1) AS sym
         |  FROM vocab, unnest(generate_series(1, length(word))) g(i))""".stripMargin)
    for (r <- 1 to rounds) {
      val p = r - 1
      sb.append(s""",
         |nx$r AS MATERIALIZED (SELECT word, n, pos, sym,
         |  lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt FROM s$p),
         |b$r AS MATERIALIZED (SELECT sym AS s1, nxt AS s2, sum(n) AS total FROM nx$r
         |  WHERE nxt IS NOT NULL GROUP BY sym, nxt
         |  ORDER BY total DESC, s1, s2 LIMIT 1),
         |mm$r AS MATERIALIZED (SELECT word, pos,
         |    pos - row_number() OVER (PARTITION BY word ORDER BY pos) AS grp
         |  FROM nx$r WHERE sym = (SELECT s1 FROM b$r) AND nxt = (SELECT s2 FROM b$r)),
         |sel$r AS MATERIALIZED (SELECT word, pos FROM (
         |    SELECT word, pos,
         |      row_number() OVER (PARTITION BY word, grp ORDER BY pos) - 1 AS off
         |    FROM mm$r) WHERE off % 2 = 0),
         |s$r AS MATERIALIZED (SELECT word, n,
         |    row_number() OVER (PARTITION BY word ORDER BY pos) AS pos,
         |    CASE WHEN start_pos IS NOT NULL THEN sym || nxt ELSE sym END AS sym
         |  FROM (
         |    SELECT m.word, m.n, m.pos, m.sym, m.nxt, st.pos AS start_pos
         |    FROM nx$r m
         |    LEFT JOIN sel$r st ON st.word = m.word AND st.pos = m.pos
         |    LEFT JOIN sel$r cn ON cn.word = m.word AND cn.pos = m.pos - 1
         |    WHERE cn.pos IS NULL))""".stripMargin)
    }
    sb.toString
  }

  /** CDC chunk replay over `src` (must provide `text` + the `keys`
    * columns): every position's Gear hash as the explicit 64-term
    * windowed sum (32/32-split products, mod 2^64), cuts where the TOP
    * 6 bits vanish (hv < 2^58), spans via a lag window, FNV chunk hashes —
    * producing `cchunks(keys..., clen, chash)`. */
  private def cdcChunkCtes(src: String, keys: Seq[String]): String = {
    val ks = keys.mkString(", ")
    val ka = keys.map(k => s"a.$k").mkString(", ")
    val onEq = keys.map(k => s"c.$k = a.$k").mkString(" AND ")
    val sdEq = keys.map(k => s"sp.$k = d.$k").mkString(" AND ")
    val sks = keys.map(k => s"sp.$k").mkString(", ")
    s"""cdocs AS (SELECT $ks, text, length(text) AS n FROM $src),
       |cbyte AS (SELECT $ks, g.i, ord(substring(text, g.i, 1)) AS byte
       |  FROM cdocs, unnest(generate_series(1, n)) g(i)),
       |cgear AS (SELECT byte, ${mix64Sql("CAST(byte AS HUGEINT)")} AS gv
       |  FROM (SELECT DISTINCT byte FROM cbyte)),
       |cbg AS (SELECT $ks, i, gv FROM cbyte JOIN cgear USING (byte)),
       |ch AS (SELECT $ka, a.i,
       |    sum(${mulmod64("c.gv", "CAST(1 AS HUGEINT) << (a.i - c.i)")}) % $Wrap64 AS hv
       |  FROM cbg a JOIN cbg c ON $onEq AND c.i BETWEEN a.i - 63 AND a.i
       |  GROUP BY $ka, a.i),
       |ccuts AS (SELECT $ks, i FROM ch JOIN cdocs USING ($ks)
       |  WHERE hv // ${1L << 58} = 0 AND i < n),
       |cbounds AS (SELECT $ks, 0 AS p FROM cdocs
       |  UNION ALL SELECT $ks, i FROM ccuts
       |  UNION ALL SELECT $ks, n FROM cdocs),
       |cspans AS (SELECT $ks, p AS e,
       |    lag(p) OVER (PARTITION BY $ks ORDER BY p) AS st FROM cbounds),
       |cchunks AS (SELECT $sks, sp.e - sp.st AS clen,
       |    ${fnvSql("substring(d.text, sp.st + 1, sp.e - sp.st)")} AS chash
       |  FROM cspans sp JOIN cdocs d ON $sdEq WHERE sp.st IS NOT NULL)""".stripMargin
  }

  /** The near-dup pair graph + its recursive transitive closure `r(a,b)`
    * — shared by the q78 components oracle and the q86 split oracle
    * (single definition, like minhashBandCtes itself). Must be spliced
    * after a `WITH RECURSIVE`. */
  private def neardupClosureCtes: String =
    s"""${minhashBandCtes()},
       |$verifiedPairsCtes,
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |r(a, b) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
       |  UNION
       |  SELECT e.a, r.b FROM edges e JOIN r ON e.b = r.a)""".stripMargin
}
