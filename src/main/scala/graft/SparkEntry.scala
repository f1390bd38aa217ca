package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.data.{Courses, Pages}
import graft.pipeline.{Catalog, CourseEngine, SpatialJoin}
import graft.{functions => gf}

/**
 * Driver contract (SURVEY.md §7): `entry` = flagship spatial join;
 * `queries` = one entry per implemented operator (SURVEY.md §2);
 * `oracleSql` = DuckDB-equivalent SQL for every relationally-expressible
 * query (geo/hash operators are covered by scalatest + kernel fixtures
 * instead, as the contract permits).
 *
 * Oracle-parity rules used throughout (so value hashes match DuckDB):
 *  - money/quantity sums go through DECIMAL(18,2) (exact, order-independent)
 *    then CAST to DOUBLE;
 *  - double arithmetic keeps the exact same expression shape on both sides;
 *  - every aggregate/computed column is aliased identically on both sides.
 */
object SparkEntry {

  /** Pages amplification for correctness queries (bench uses its own). */
  final val Amp = 4
  /** Synthetic course count for correctness queries. */
  final val NCourses = 60

  /** q66's PII patterns — deliberately restricted to the regex subset
    * where Java regex and RE2 (DuckDB) agree: no backrefs, no lookaround,
    * leftmost-first greedy quantifiers only. */
  /** q69's per-batch token budget — ONE constant interpolated into both
    * the Spark query and the DuckDB oracle (shared-constants rule). */
  private val Q69TokenBudget = 2000L
  /** q87's corpus/increment boundary — docs below are the "already
    * ingested" corpus whose band state is the only thing the increment
    * sees; interpolated into both sides. */
  private val Q87Boundary = 250L

  /** q95's PNG fill color — ONE constant (from the S2-parsed catalog, so
    * it rides the same colors.xml path as F10) interpolated into both the
    * Spark plan and the DuckDB oracle's scanline bytes. */
  private lazy val Q95Rgb: Int =
    Integer.parseInt(Catalog.colors("water_blue").stripPrefix("#"), 16)

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

  private lazy val oracleUtf8CorpusValues: String =
    Utf8Corpus.map { case (id, t) => s"($id, '$t')" }.mkString(",")

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

  private lazy val oracleNormCorpusValues: String =
    NormCorpus.map { case (id, t) => s"($id, '$t')" }.mkString(",")

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

  private lazy val oracleUrlCorpusValues: String =
    UrlCorpus.map { case (id, u) => s"($id, '$u')" }.mkString(",")

  private val PiiEmail = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private val PiiPhone = """\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}"""
  private val PiiIp = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""

  private def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  private def pages(spark: SparkSession, sfDir: String): DataFrame = {
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
  private val dimCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private def itemsDf(spark: SparkSession): DataFrame =
    dimCache.computeIfAbsent((spark, "items"), _ => {
      graft.functions.registerAll(spark)
      graft.sources.Storage.localize(Courses.itemsDf(spark, NCourses))
    })

  private def boundsDf(spark: SparkSession): DataFrame = {
    // resolve the items dim BEFORE entering the bounds mapping function:
    // a computeIfAbsent that re-enters the same ConcurrentHashMap throws
    // "Recursive update"
    val items = itemsDf(spark)
    dimCache.computeIfAbsent((spark, "bounds"), _ => {
      graft.functions.registerAll(spark)
      graft.sources.Storage.localize(CourseEngine.boundaries(items))
    })
  }

  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Runs a streaming frame under `Trigger.AvailableNow` and returns the
    * rows of each micro-batch, in batch order — the streaming CORRECTNESS
    * rows (q74, q92, q106) grade what the stream itself emitted.
    *  - `spark.sql.shuffle.partitions` is scoped to 4: stateful operators
    *    keep one state store per shuffle partition per micro-batch, pure
    *    store-init/commit machinery for a fixture-sized stream (results
    *    are partitioning-invariant, pinned by the driver's local[2]/
    *    local[16] compare).
    *  - `skipNoDataBatches` drops the no-data batch after the data batch,
    *    which only evicts state or re-emits a complete-mode table. A
    *    chained stateful query emits in the batch AFTER its input and must
    *    keep it.
    *  - The checkpoint goes to the fastest local scratch (recovery
    *    metadata only, see `Fixtures.fastCheckpointDir`).
    * The confs are restored only after the query drains: streaming conf
    * is captured per micro-batch and `start()` is async. */
  private def drainStream(frame: DataFrame, outputMode: String,
                          skipNoDataBatches: Boolean): Seq[Array[org.apache.spark.sql.Row]] = {
    val s = frame.sparkSession
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Array[org.apache.spark.sql.Row]]()
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    val prevNoData = s.conf.get(noData, "true")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s.conf.set(noData, (!skipNoDataBatches).toString)
    val ckpt = graft.data.Fixtures.fastCheckpointDir()
    try {
      frame.writeStream.outputMode(outputMode)
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, _: Long) => batches.add(batch.collect()); () }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.conf.set(noData, prevNoData)
      graft.data.Fixtures.dropCheckpointDir(ckpt)
    }
    import scala.jdk.CollectionConverters._
    batches.asScala.toSeq
  }

  /** Flagship: page -> containing course hole + tile assignments, sf0.001.
    * Driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame = {
    val sfDir = "/root/testdata/sf0.001"
    val p = pages(spark, sfDir)
    val b = boundsDf(spark)
    SpatialJoin.assignPages(p, b)
      .select(col("url"), col("clubId"), col("courseId"), col("holeNumber"),
        gf.tile_x(col("lon"), lit(15)).as("tx"),
        gf.tile_y(col("lat"), lit(15)).as("ty"),
        gf.quadkey(lit(15), gf.tile_x(col("lon"), lit(15)), gf.tile_y(col("lat"), lit(15))).as("qk"),
        gf.cell_id(col("lon"), col("lat"), lit(15)).as("cell"))
  }

  // =========================================================================
  // Query suite
  // =========================================================================
  /** Every closure registers the graft SQL functions first (idempotent
    * per session), so a query can call them by name. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    closures.map { case (name, q) =>
      name -> ((s: SparkSession, d: String) => { graft.functions.registerAll(s); q(s, d) })
    }

  private def closures: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- scans / aggregations (S1-analog, A1-A5 relational forms) ----
    "q01_pricing_summary" -> ((s, d) => {
      t(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-01"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base"),
          sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("n_rows"))
    }),

    "q02_filter_project" -> ((s, d) => {
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-01-01") && col("l_shipdate") < lit("1996-01-01") &&
          col("l_quantity") > 30)
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
    }),

    // ---- joins (J2/J3 relational forms) ----
    "q03_join_agg" -> ((s, d) => {
      val c = t(s, d, "customer"); val n = t(s, d, "nation"); val r = t(s, d, "region")
      val o = t(s, d, "orders")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(dec(col("o_totalprice"))).cast("double").as("revenue"),
          count(lit(1)).as("n_orders"))
    }),

    "q04_semi_join" -> ((s, d) => {
      val c = t(s, d, "customer"); val o = t(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_mktsegment"))
    }),

    "q05_anti_join" -> ((s, d) => {
      val c = t(s, d, "customer"); val o = t(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_mktsegment"))
    }),

    // ---- windows / sorts / limits (W1-W4) ----
    "q06_window_topk" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, d, "orders")
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 2)
        .select(col("o_custkey"), col("o_orderkey"), col("rnk"))
    }),

    "q07_sort_limit" -> ((s, d) => {
      t(s, d, "lineitem")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(100)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    }),

    "q11_moving_avg" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(-4, 4)
      t(s, d, "events")
        .withColumn("mov_avg", round(avg(col("value")).over(w), 6))
        .select(col("user_id"), col("event_id"), col("mov_avg"))
    }),

    // ---- set operations (U1/U2 relational forms) ----
    "q08_set_ops" -> ((s, d) => {
      val custNations = t(s, d, "customer").select(col("c_nationkey").as("nk")).distinct()
      val suppNations = t(s, d, "supplier").select(col("s_nationkey").as("nk")).distinct()
      custNations.except(suppNations).withColumn("tag", lit("cust_only"))
        .unionByName(custNations.intersect(suppNations).withColumn("tag", lit("both")))
    }),

    // ---- grouping sets / distinct ----
    "q09_rollup" -> ((s, d) => {
      t(s, d, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"))
    }),

    "q10_distinct_agg" -> ((s, d) => {
      t(s, d, "customer")
        .groupBy(col("c_mktsegment"))
        .agg(countDistinct(col("c_nationkey")).as("n_nations"),
          count(lit(1)).as("n_cust"))
    }),

    // ---- scalar funcs: json / datetime (F8, F11-adjacent) ----
    "q12_json_extract" -> ((s, d) => {
      t(s, d, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
    }),

    "q13_date_trunc" -> ((s, d) => {
      t(s, d, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"))
    }),

    // ---- tiles / cells over the pages table (R1/R2 assignment math) ----
    "q14_tile_assign" -> ((s, d) => {
      pages(s, d).select(col("page_id"),
        gf.tile_x(col("lon"), lit(15)).as("tx"),
        gf.tile_y(col("lat"), lit(15)).as("ty"))
    }),

    "q15_cell_xy" -> ((s, d) => {
      val cell = gf.cell_id(col("lon"), col("lat"), lit(15))
      pages(s, d).select(col("page_id"),
        gf.cell_x(cell).as("cx"),
        gf.cell_y(cell).as("cy"))
    }),

    // ---- PIP against an axis-aligned polygon (P7 with a SQL oracle) ----
    "q16_pip_rect" -> ((s, d) => {
      pages(s, d)
        .filter(expr(
          """st_contains(make_polygon(array(
            |  struct(116.0d AS x, 39.5d AS y), struct(117.0d AS x, 39.5d AS y),
            |  struct(117.0d AS x, 40.5d AS y), struct(116.0d AS x, 40.5d AS y))),
            | lon, lat)""".stripMargin))
        .select(col("page_id"), col("url"))
    }),

    // ---- event-time tumbling window over warc_ts (T-suite batch form) ----
    "q17_tumbling_window" -> ((s, d) => {
      pages(s, d)
        .groupBy(window(col("warc_ts"), "1 hour").getField("start").as("wstart"), col("lang"))
        .agg(count(lit(1)).as("n"))
    }),

    "q18_cube" -> ((s, d) => {
      t(s, d, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"))
    }),

    // ---- built-in session windows (beside q19's manual gap windows) ----
    "q58_session_window" -> ((s, d) => {
      // the BUILT-IN session_window aggregation — same 30-minute gap
      // semantics as q19's lag/sum composition, but via the native
      // session-window operator (merge-on-overlap; streaming-capable)
      t(s, d, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"))
    }),

    // ---- as-of join over the events stream table ----
    "q57_asof_join" -> ((s, d) => {
      // AS-OF JOIN: latest event of the same user STRICTLY BEFORE each
      // query row's timestamp. Composed scale-first: instead of an
      // O(queries x events) theta-join + per-pair top-1, the tagged
      // streams are unioned and `last(..., ignoreNulls)` runs over a
      // (user, time)-ordered window — ONE shuffle on user_id and a linear
      // scan, the shape that survives 10^12 events. (user, ts) is deduped
      // first so the as-of target is unique and deterministic.
      val dedup = t(s, d, "events")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("event_id"), max(col("value")).as("value"))
      // the matched event travels as ONE nullable struct: taking last()
      // of id and value SEPARATELY would let a genuinely-NULL value fall
      // through to an older event's value (ignoreNulls skips it) and
      // pair prev_event_id with the wrong prev_value
      val qs = dedup.filter(col("event_id") % 20 === 0)
        .select(col("user_id"), col("ts"), col("event_id"), lit(1).as("is_q"),
          lit(null).cast("struct<e_id:bigint,e_value:double>").as("ev"))
      val es = dedup
        .select(col("user_id"), col("ts"), col("event_id"), lit(0).as("is_q"),
          struct(col("event_id").as("e_id"), col("value").as("e_value")).as("ev"))
      // at equal ts the query row sorts BEFORE its event twin (is_q desc),
      // and the frame ends at -1 — that is exactly "strictly before"
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("is_q").desc, col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      qs.unionByName(es)
        .withColumn("prev", last(col("ev"), ignoreNulls = true).over(w))
        .filter(col("is_q") === 1 && col("prev").isNotNull)
        .select(col("event_id").as("query_event_id"),
          col("prev.e_id").as("prev_event_id"),
          col("prev.e_value").as("prev_value"))
    }),

    // ---- gap sessionization over the events stream table ----
    "q19_sessionize" -> ((s, d) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, d, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            expr("unix_micros(CAST(ts AS TIMESTAMP)) - unix_micros(CAST(prev_ts AS TIMESTAMP))")
              > 1800000000L, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_sess")).over(byUser))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("t_start"), max(col("ts")).as("t_end"))
    }),

    // ---- text pipeline: dedup / stats / quality (training-data ops) ----
    "q20_dedup_exact" -> ((s, d) => {
      t(s, d, "documents")
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
        .select(col("keep_id"), col("n_dups"))
    }),

    "q21_token_stats" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"),
          length(col("text")).cast("long").as("n_chars"))
    }),

    "q22_quality_score" -> ((s, d) => {
      val nTokens = size(split(trim(col("text")), "\\s+")).cast("long")
      val nChars = length(col("text")).cast("long")
      val nSpaces = (length(col("text")) - length(regexp_replace(col("text"), " ", ""))).cast("long")
      t(s, d, "documents")
        .select(col("doc_id"), nTokens.as("n_tokens"), nChars.as("n_chars"),
          round((nChars - nSpaces).cast("double") / nTokens.cast("double"), 6).as("avg_token_len"),
          (nTokens >= 20 && nTokens <= 1000).as("is_quality"))
    }),

    "q28_bpe_tokens" -> ((s, d) => {
      // BPE-ish pre-tokenizer (GPT-2-style regex, ASCII form): contractions,
      // space-prefixed words / numbers / punctuation runs, whitespace runs —
      // the token counter a training-data pipeline budgets with
      val pat = "'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9'\\s]+|\\s+"
      t(s, d, "documents").select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_ws_tokens"),
        size(regexp_extract_all(col("text"), lit(pat), lit(0))).cast("long").as("n_bpe_tokens"))
    }),

    "q29_stopword_ratio" -> ((s, d) => {
      val stop = Seq("the", "a", "and", "of", "to", "in", "is", "it", "for", "on")
      val toks = split(trim(col("text")), "\\s+")
      val nStop = size(filter(toks, tk => tk.isInCollection(stop))).cast("long")
      t(s, d, "documents").select(col("doc_id"),
        nStop.as("n_stop"),
        round(nStop.cast("double") / size(toks).cast("double"), 6).as("stop_ratio"))
    }),

    // ---- training-data curation: repetition / sampling / gating /
    // per-domain stats (the Gopher/C4-style rule family) ----
    "q52_repetition" -> ((s, d) => {
      // Gopher-style repetition signals: top-bigram fraction + distinct-
      // token ratio. Bigram counting is RELATIONAL (explode -> groupBy):
      // partial aggregation collapses each doc's bigrams map-side, so the
      // shuffle carries one row per (doc, distinct bigram) — no per-doc
      // driver work, scales to any doc length
      val toks = t(s, d, "documents")
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
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
    }),

    "q53_stratified_sample" -> ((s, d) => {
      // deterministic language-balanced sampling: a content-hash bucket
      // (md5 -> 60-bit int -> mod 1000) gates each doc against its
      // language's quota — reproducible at any parallelism, no RNG state,
      // and the dominant language is downsampled 4x
      val bucket = conv(substring(md5(col("text")), 1, 15), 16, 10)
        .cast("long") % 1000
      t(s, d, "documents")
        .filter(bucket < when(col("lang") === "en", lit(250)).otherwise(lit(1000)))
        .select(col("doc_id"), col("lang"))
    }),

    "q54_quality_gate" -> ((s, d) => {
      // C4/Gopher-style rule-chain filter: token-count band, minimum
      // stopword ratio, minimum distinct-token ratio — the composed
      // keep/drop gate a curation pipeline runs before training
      val stop = Seq("the", "a", "and", "of", "to", "in", "is", "it", "for", "on")
      val toks = split(trim(col("text")), "\\s+")
      val nToks = size(toks)
      val scored = t(s, d, "documents").select(col("doc_id"),
        nToks.cast("long").as("n_toks"),
        round(size(filter(toks, tk => tk.isInCollection(stop))).cast("double") /
          nToks.cast("double"), 6).as("stop_ratio"),
        round(size(array_distinct(toks)).cast("double") /
          nToks.cast("double"), 6).as("distinct_ratio"))
      scored.filter(col("n_toks") >= 20 && col("n_toks") <= 1000 &&
        col("stop_ratio") >= 0.01 && col("distinct_ratio") >= 0.3)
    }),

    "q55_source_stats" -> ((s, d) => {
      // per-domain (source) corpus stats — doc counts, token budget,
      // average length; avg derived from an EXACT integer sum so the
      // value is identical at any partitioning (no float-order drift)
      t(s, d, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(trim(col("text")), "\\s+")).cast("long")).as("total_tokens"),
          sum(length(col("text")).cast("long")).as("sum_chars"))
        .select(col("source"), col("n_docs"), col("total_tokens"),
          round(col("sum_chars").cast("double") / col("n_docs").cast("double"), 6)
            .as("avg_chars"))
    }),

    "q56_host_stats" -> ((s, d) => {
      // per-host page stats over the Common-Crawl-style table: counts +
      // language diversity per domain — the crawl-side analog of q55.
      // Host extraction uses the SAME regex as the DuckDB oracle (on
      // authority-with-userinfo/port or exotic schemes, parse_url and a
      // naive regex disagree — the two sides must share one definition)
      pages(s, d)
        .groupBy(regexp_extract(col("url"), "^[a-z]+://([^/]+)", 1).as("host"))
        .agg(count(lit(1)).as("n_pages"),
          countDistinct(col("lang")).as("n_langs"),
          sum(length(col("text")).cast("long")).as("sum_chars"))
    }),

    // ---- embeddings: exact cosine near-dup pairs (brute force = the
    // correctness anchor; q31's LSH buckets are the 10^12-row scale path) ----
    "q32_embed_dup_pairs" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      // r6: the BNLJ stream side inherits the scan's partitioning — ONE
      // task for a single-row-group parquet, serializing every pairwise
      // kernel eval; spread it across the session's cores (round-robin,
      // row-level map => result-invariant)
      val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
        .repartition(s.sparkContext.defaultParallelism)
      val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
      a.join(broadcast(b), col("vec_a") < col("vec_b"))
        .filter(gf.cosine_sim(col("ea"), col("eb")) >= 0.451)
        .select(col("vec_a"), col("vec_b"))
    }),

    // ---- text pipeline: hash-based ----
    "q23_fingerprint_dedup" -> ((s, d) => {
      // fingerprint(text) = rolling hash of the whitespace-token sequence,
      // so grouping by it == grouping by the normalized token string
      // (modulo 64-bit collisions — none at these scales, ExprSpec-pinned);
      // that equivalence is what the DuckDB oracle checks
      t(s, d, "documents")
        .groupBy(gf.fingerprint(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
        .select(col("keep_id"), col("n_dups"))
    }),

    "q24_langid" -> ((s, d) => {
      // n-gram heuristic language id: score against tiny per-language
      // stopword profiles, predict argmax, report confusion counts. The
      // prediction expression lives in pipeline.LangId (ONE definition,
      // shared with the q73 crawl-to-corpus pipeline); see its scaladoc
      // for the lambda-let single-tokenization discipline.
      t(s, d, "documents")
        .select(col("lang"), graft.pipeline.LangId.predict(col("text")).as("pred_lang"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
    }),

    "q77_trigram_langid" -> ((s, d) => {
      // char-trigram Naive-Bayes language id (the production-shaped
      // upgrade of q24's stopword heuristic): model constants baked in
      // the JVM, scores summed in document order on both engines — exact
      // compare, no quantum (see pipeline.TrigramLangId)
      t(s, d, "documents")
        .select(col("lang"),
          graft.pipeline.TrigramLangId.predict(col("text")).as("pred_lang"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
    }),

    "q80_url_canonical" -> ((s, d) => {
      import s.implicits._
      // crawl-side URL canonicalization over the planted messy corpus,
      // plus the dedup grouping it exists for (canonical -> url count);
      // pipeline.Urls holds the ONE rule set + the generated SQL twin
      val urls = graft.sources.Storage.localize(UrlCorpus.toDF("url_id", "url"))
      urls.select(col("url_id"), col("url"),
        graft.pipeline.Urls.canonicalize(col("url")).as("canon"))
    }),

    "q88_text_normalize" -> ((s, d) => {
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
    }),

    "q82_cms_heavy_hitters" -> ((s, d) => {
      // count-min sketch over page hosts (pipeline.Sketch): counter table
      // + per-host min-estimate, joined against the exact counts so the
      // one-sided guarantee (never under-estimates) is ASSERTED per key
      // in the graded output, not just claimed
      val hosts = pages(s, d).select(
        regexp_extract(col("url"), "^[a-z]+://([^/]+)", 1).as("k"))
      val counters = graft.pipeline.Sketch.countMin(hosts, col("k"))
      val exact = hosts.groupBy(col("k")).agg(count(lit(1)).as("exact_n"))
      graft.pipeline.Sketch.cmsEstimates(counters, exact.select(col("k")))
        .join(exact, Seq("k"))
        .select(col("k").as("host"), col("exact_n"), col("cms_est"),
          (col("cms_est") >= col("exact_n")).as("never_under"))
    }),

    "q107_cms_merge" -> ((s, d) => {
      // CMS MERGEABILITY driver-certified (the q97 pattern for the
      // frequency sketch): rows sharded 4 ways by URL hash, one
      // depth x width counter table per shard, union = counter-wise SUM
      // (Sketch.cmsMerge) — exact-additive, so the merged table must be
      // cell-identical to the sketch built directly on all rows
      // (n_counter_mismatch = 0 graded), and estimates from the MERGED
      // sketch keep the one-sided guarantee per key (never_under).
      import graft.pipeline.Sketch
      val hosts = pages(s, d).select(col("url"),
        regexp_extract(col("url"), "^[a-z]+://([^/]+)", 1).as("k"))
      val byShard = Sketch.countMinBy(hosts,
        pmod(gf.hash_text(col("url")), lit(4L)), col("k"))
      val merged = Sketch.cmsMerge(byShard)
      val direct = Sketch.countMin(hosts.select(col("k")), col("k"))
      val mis = merged.select(col("j"), col("bucket"), col("cnt").as("ca"))
        .join(direct.select(col("j"), col("bucket"), col("cnt").as("cb")),
          Seq("j", "bucket"), "full")
        .select(when(coalesce(col("ca"), lit(0L)) === coalesce(col("cb"), lit(0L)), 0L)
          .otherwise(1L).as("bad"))
        .agg(coalesce(sum(col("bad")), lit(0L)).as("n_counter_mismatch"))
      val exact = hosts.groupBy(col("k")).agg(count(lit(1)).as("exact_n"))
      Sketch.cmsEstimates(merged, exact.select(col("k")))
        .join(exact, Seq("k"))
        .select(col("k").as("host"), col("exact_n"), col("cms_est"),
          (col("cms_est") >= col("exact_n")).as("never_under"))
        .crossJoin(mis)
    }),

    "q83_hll_distinct" -> ((s, d) => {
      // HyperLogLog host cardinality (pipeline.Sketch): 64 registers from
      // one groupBy; estimate arithmetic exact cross-engine (integer
      // harmonic numerator, one rounding + one division) — output carries
      // the true distinct count for the accuracy story
      val hosts = pages(s, d).select(
        regexp_extract(col("url"), "^[a-z]+://([^/]+)", 1).as("k"))
      val est = graft.pipeline.Sketch.hllEstimate(
        graft.pipeline.Sketch.hllRegisters(hosts, col("k")))
      est.crossJoin(hosts.agg(countDistinct(col("k")).as("exact_distinct")))
    }),

    "q97_hll_merge" -> ((s, d) => {
      // HLL MERGEABILITY driver-certified: rows sharded 4 ways by URL
      // hash (so the same host deliberately lands in multiple shards),
      // one sketch per shard, union = register-wise max (Sketch
      // .hllMerge). The merged sketch must be IDENTICAL to the sketch
      // built directly over all rows — graded as n_register_mismatch = 0
      // on every row: the distributive-aggregate property that lets 1000
      // executors each hold O(m) state over their slice of 100 TB and
      // combine in any reduce tree with no re-read. grp = -1 is the
      // merged row; its estimate is the global q83 estimate.
      import graft.pipeline.Sketch
      val hosts = pages(s, d).select(col("url"),
        regexp_extract(col("url"), "^[a-z]+://([^/]+)", 1).as("k"))
      val regsBy = Sketch.hllRegistersBy(hosts,
        pmod(gf.hash_text(col("url")), lit(4L)), col("k"))
      val mergedRegs = Sketch.hllMerge(regsBy)
      val direct = Sketch.hllRegisters(hosts.select(col("k")), col("k"))
      val mis = mergedRegs.select(col("idx"), col("m").as("ma"))
        .join(direct.select(col("idx"), col("m").as("mb")), Seq("idx"), "full")
        .select(when(coalesce(col("ma"), lit(0)) === coalesce(col("mb"), lit(0)), 0L)
          .otherwise(1L).as("bad"))
        .agg(coalesce(sum(col("bad")), lit(0L)).as("n_register_mismatch"))
      val all = regsBy.unionByName(
        mergedRegs.withColumn("grp", lit(-1L)).select(col("grp"), col("idx"), col("m")))
      Sketch.hllEstimateBy(all).crossJoin(mis)
    }),

    "q100_bloom_semijoin" -> ((s, d) => {
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
          regexp_extract(col("url"), "^[a-z]+://([^/]+)", 1).as("host")),
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
    }),

    "q101_substring_dedup" -> ((s, d) => {
      // exact-substring dedup (the suffix-array-style repeated-sequence
      // stage, word-level): 8-gram spans occurring >= 2x anywhere in the
      // corpus, merged per doc into maximal overlap/adjacent word ranges
      // (pipeline.Dedup.duplicatedSpans) — the cut list a curation pass
      // applies before training. 47 docs carry duplicated spans at
      // sf0.01 (the near-dup fixture docs plus self-repetition).
      graft.pipeline.Dedup.duplicatedSpans(t(s, d, "documents"))
    }),

    "q102_kmv_quantiles" -> ((s, d) => {
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
    }),

    "q103_incremental_sketch" -> ((s, d) => {
      // INCREMENTAL sketch maintenance across snapshot commits: HLL
      // registers persisted at v1, plus registers over ONLY the CDC
      // increment (Snapshots.diff v1->v2 inserts), merge into registers
      // IDENTICAL to a sketch built directly on v2 — a 100-TB table's
      // cardinality summary is maintainable from new files only, never
      // re-reading old rows. Grades the q97 pattern: per-source
      // estimates (grp 1 = v1, 2 = increment, 3 = v2 direct, 4 = v1 +
      // increment merged) + n_register_mismatch = 0 between 3 and 4.
      import graft.pipeline.Sketch
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
      val mis = rMerged.select(col("idx"), col("m").as("ma"))
        .join(rDirect.select(col("idx"), col("m").as("mb")), Seq("idx"), "full")
        .select(when(coalesce(col("ma"), lit(0)) === coalesce(col("mb"), lit(0)), 0L)
          .otherwise(1L).as("bad"))
        .agg(coalesce(sum(col("bad")), lit(0L)).as("n_register_mismatch"))
      Sketch.hllEstimateBy(
          r1.unionByName(rInc).unionByName(rDirect).unionByName(rMerged))
        .crossJoin(mis)
    }),

    "q104_weighted_sample" -> ((s, d) => {
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
    }),

    "q108_range_partition" -> ((s, d) => {
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
    }),

    "q109_cdc_chunks" -> ((s, d) => {
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
    }),

    "q112_cdc_delta" -> ((s, d) => {
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
    }),

    "q79_trigram_fluency" -> ((s, d) => {
      // per-doc fluency/quality: best-language mean trigram log-prob
      // (near the unseen floor = gibberish) + the predicted language —
      // the perplexity-style scoring column a curation pass thresholds
      // on. Both columns bit-exact cross-engine (kernel fold + one
      // division; no libm at query time)
      t(s, d, "documents").select(col("doc_id"),
        graft.pipeline.TrigramLangId.predict(col("text")).as("pred_lang"),
        graft.pipeline.TrigramLangId.fluency(col("text")).as("fluency"))
    }),

    "q25_minhash_pairs" -> ((s, d) => {
      // MinHash + LSH banding near-dup pairs: shingle -> 64-slot signature
      // -> 16 bands of 4 -> band-key equi-join -> exact jaccard >= 0.5
      // (the shared pipeline.Dedup funnel)
      graft.pipeline.Dedup.verifiedPairs(t(s, d, "documents"))
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
    }),

    "q119_cohort_retention" -> ((s, d) => {
      // weekly cohort retention: users grouped by the ISO week of their
      // FIRST signup; retention week k = exact integer microsecond
      // arithmetic (floor((ts - s0) / 1 week) — no date libs, no tz
      // drift), distinct-active counts per (cohort, k) and the integer
      // retained percent. Two user-keyed aggregations; co-partitioned
      // on a user-bucketed 100-TB event table like q118.
      val ev = t(s, d, "events")
      val su = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("s0"))
      val cohorts = su.select(col("user_id"), col("s0"),
        date_trunc("week", col("s0")).as("cohort_week"))
      val sizes = cohorts.groupBy(col("cohort_week"))
        .agg(countDistinct(col("user_id")).as("cohort_size"))
      val act = ev.join(cohorts, Seq("user_id"))
        .filter(col("ts") >= col("s0"))
        .select(col("cohort_week"), col("user_id"),
          floor((unix_micros(col("ts").cast("timestamp")) -
            unix_micros(col("s0").cast("timestamp"))) / lit(604800000000L))
            .cast("long").as("k"))
        .groupBy(col("cohort_week"), col("k"))
        .agg(countDistinct(col("user_id")).as("n_active"))
      act.join(sizes, Seq("cohort_week"))
        .select(col("cohort_week"), col("k"), col("n_active"), col("cohort_size"),
          floor(lit(100L) * col("n_active") / col("cohort_size")).cast("long")
            .as("ret_pct"))
    }),

    "q118_funnel" -> ((s, d) => {
      // ordered conversion funnel (the match_recognize-shaped sequence
      // analytic): per user the first view, the first click STRICTLY
      // AFTER that view and within its 24h conversion window, the first
      // purchase likewise after that click —
      // three user-keyed conditional aggregations chained by joins, so
      // a user-bucketed 100-TB event table runs every stage
      // co-partitioned with zero extra exchanges. Stage reached and the
      // exact conversion latency (microseconds, integer) are graded.
      val ev = t(s, d, "events")
      val users = ev.select(col("user_id")).distinct()
      val t1 = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val t2 = ev.filter(col("event_type") === "click").join(t1, Seq("user_id"))
        .filter(col("ts") > col("t1") &&
          col("ts") <= col("t1") + expr("INTERVAL 24 HOURS"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val t3 = ev.filter(col("event_type") === "purchase").join(t2, Seq("user_id"))
        .filter(col("ts") > col("t2") &&
          col("ts") <= col("t2") + expr("INTERVAL 24 HOURS"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      users.join(t1, Seq("user_id"), "left").join(t2, Seq("user_id"), "left")
        .join(t3, Seq("user_id"), "left")
        .select(col("user_id"), col("t1"), col("t2"), col("t3"),
          when(col("t3").isNotNull, 3).when(col("t2").isNotNull, 2)
            .when(col("t1").isNotNull, 1).otherwise(0).as("stage"),
          when(col("t3").isNotNull,
            unix_micros(col("t3").cast("timestamp")) -
              unix_micros(col("t1").cast("timestamp"))).as("conv_us"))
    }),

    "q116_adaptive_gate" -> ((s, d) => {
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
    }),

    "q117_simhash_estimate" -> ((s, d) => {
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
          explode(filter(split(trim(col("text")), "\\s+"), tk => tk =!= "")).as("tok"))
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
    }),

    "q114_bpe_train" -> ((s, d) => {
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
    }),

    "q115_bpe_tokenize" -> ((s, d) => {
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
    }),

    "q122_vocab_growth" -> ((s, d) => {
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
          explode(filter(split(trim(col("text")), "\\s+"), tk => tk =!= "")).as("w"))
        .groupBy(col("w")).agg(min(col("doc_id")).as("fd"))
      firstSeen.select(col("fd"), explode(typedLit(thresholds)).as("prefix_docs"))
        .where(col("fd") < col("prefix_docs"))
        .groupBy(col("prefix_docs")).agg(count(lit(1)).as("vocab"))
    }),

    "q120_band_skew_audit" -> ((s, d) => {
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
    }),

    "q113_contamination_matrix" -> ((s, d) => {
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
    }),

    "q111_minhash_estimate" -> ((s, d) => {
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
    }),

    "q76_minhash_utf8" -> ((s, d) => {
      import s.implicits._
      // the q25 pipeline over a MULTI-BYTE corpus (r3 verdict item #7):
      // proves the engine's FNV/minhash path and the DuckDB replay agree
      // on real UTF-8 bytes, not just the ASCII ord()==byte shortcut —
      // the oracle folds encode()'d hex pairs (fnvSqlBytes)
      val corpus = graft.sources.Storage.localize(Utf8Corpus.toDF("doc_id", "text"))
      graft.pipeline.Dedup.verifiedPairs(corpus)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
    }),

    "q78_neardup_components" -> ((s, d) => {
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
    }),

    "q110_incremental_components" -> ((s, d) => {
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
    }),

    "q105_best_of_cluster" -> ((s, d) => {
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
    }),

    "q86_leakage_safe_split" -> ((s, d) => {
      // train/val/test assignment keyed on the near-dup COMPONENT (q78's
      // graph), so near-duplicates can never straddle the train/eval
      // boundary; singletons are their own component
      val docs = t(s, d, "documents")
      // r6: shared verified-pair front half (see q78)
      val pairs = graft.pipeline.Dedup.verifiedPairs(docs)
      graft.pipeline.Dedup.leakageSafeSplit(docs, pairs)
    }),

    "q87_incremental_dedup" -> ((s, d) => {
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
    }),

    // ---- scalable embedding near-dup retention (r4 verdict top item):
    // the minhash funnel's shape over an embedding column — LSH-bucket
    // candidates -> exact-cosine verify ON CANDIDATES ONLY -> connected-
    // component retention. The corpus is the embeddings table plus
    // deterministic near-duplicate copies (one perturbed component each)
    // derived IN BOTH ENGINES from the same arithmetic, so near-dup pairs
    // exist to retain against (the raw fixture's max pairwise cosine is
    // 0.513, far below any near-dup threshold). No all-pairs stage
    // anywhere; q32 stays the labeled brute anchor. ----
    "q89_embedding_dedup" -> ((s, d) => {
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
    }),

    // ---- corpus-TRAINED n-gram LM quality filter (r4 verdict item 2):
    // train a char-trigram add-1 LM on the 80% split (exact integer counts
    // via one groupBy per table), publish it (localize -> broadcast), then
    // score the held-out 20% — per-doc position-ordered fold of
    // ln((n3+1)/(n2+V)), ONE final division, quantized at 1e-6 with the
    // boundary margin pinned in LangModelSpec. The KenLM-style perplexity
    // gate a real curation pipeline runs, as one train->score dataflow ----
    "q90_lm_quality" -> ((s, d) => {
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
    }),

    "q63_minhash_dedup" -> ((s, d) => {
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
    }),

    "q70_decontamination" -> ((s, d) => {
      // test-set decontamination: flag every training doc sharing >= 1
      // hashed word 5-gram with the eval set — the step a pretraining
      // pipeline runs so benchmark text never leaks into training data.
      // The eval fixture is a deterministic 10-token slice of every 25th
      // doc (both engines derive it identically). Shape: inverted-index
      // equi-join on the gram hash with the tiny eval side BROADCAST —
      // the training side streams map-side; never an all-pairs stage.
      val docs = t(s, d, "documents")
      // eval tokens = NON-EMPTY \s+ tokens of the trimmed text — the
      // exact TextOps.tokens definition (Java split drops trailing
      // empties, TextOps drops the leading one; Spark's split keeps
      // both), so the slice is whitespace-robust, not space-only
      val evalToks = filter(split(trim(col("text")), "\\s+"), tk => tk =!= "")
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
    }),

    "q68_chunking" -> ((s, d) => {
      // token-window chunking for training: windows of 64 tokens at
      // stride 48 (16-token overlap), final partial window kept — the
      // split a pretraining tokenizer pipeline feeds from. Pure map-side
      // array math (sequence + slice inside one projection); at 10^12
      // docs this is a single scan with no shuffle. A start s > 0 adds
      // new tokens only while the PREVIOUS window stopped short of the
      // end (prev covered up to s + 16), so starts stop at n - 17 — a
      // trailing subset window would be a pure duplicate training sample
      // (12% of chunks on the fixture before this guard).
      val tk = split(trim(col("text")), "\\s+")
      t(s, d, "documents")
        .select(col("doc_id"), tk.as("tk"))
        .select(col("doc_id"),
          posexplode(transform(
            sequence(lit(0), greatest(size(col("tk")) - 17, lit(0)), lit(48)),
            st => slice(col("tk"), st + 1, lit(64)))).as(Seq("chunk_idx", "chunk")))
        .select(col("doc_id"), col("chunk_idx"),
          size(col("chunk")).as("n_tokens"),
          md5(concat_ws(" ", col("chunk"))).as("chunk_md5"))
    }),

    "q123_packing_certificate" -> ((s, d) => {
      // the q82-pattern certificate for token packing: per (shard,
      // batch) the utilization percent AND the <=1-doc-overshoot
      // guarantee asserted IN the graded output — a batch closes when
      // the running sum crosses the budget, so (total - last doc's
      // tokens) < budget must hold on every row; the driver now checks
      // the packing contract itself, not just the assignment.
      val docs = t(s, d, "documents")
      val base = graft.pipeline.Packing.tokenBatches(docs, Q123TokenBudget, Q123Shards)
      val toks = docs.select(col("doc_id").as("last_doc"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("last_toks"))
      base.join(toks, Seq("last_doc"))
        .select(col("shard"), col("batch_id"), col("n_docs"), col("total_tokens"),
          floor(lit(100L) * col("total_tokens") / lit(Q123TokenBudget)).cast("long")
            .as("util_pct"),
          (col("total_tokens") - col("last_toks") < lit(Q123TokenBudget))
            .as("overshoot_ok"))
    }),

    "q69_token_packing" -> ((s, d) => {
      // Packing.tokenBatches (the parameterized operator — shard count
      // defaults to spark.sql.shuffle.partitions in the library; the
      // driver query pins Q69Shards because the static oracle SQL must
      // interpolate the SAME constant, and the driver's session conf
      // varies with SPARK_GRAFT_CPUS). PackingSpec pins the sequential
      // replica + <=1-doc overshoot invariant at two other shard counts.
      graft.pipeline.Packing.tokenBatches(t(s, d, "documents"),
        Q69TokenBudget, Q69Shards)
    }),

    // ---- training shards MATERIALIZED (r4 verdict item 3): q69 assigns
    // docs to token-budget batches; q91 emits the artifact — per
    // (shard, batch) one binary blob of big-endian uint16 token ids from
    // a corpus-trained capped vocab (UNK=0 beyond rank 24, exercised:
    // the fixture has 31 distinct tokens). Graded by blob md5 + byte
    // count (q34's md5-block pattern); ShardsSpec adds an independent
    // byte-level replica and the resumable sink's preempt/resume runs ----
    "q91_training_shards" -> ((s, d) => {
      graft.pipeline.Shards
        .batchBlobs(t(s, d, "documents"), Q69TokenBudget, Q69Shards, Q91MaxVocab)
        .select(col("shard"), col("batch_id"), col("n_docs"), col("total_tokens"),
          length(col("blob")).cast("long").as("n_bytes"),
          md5(hex(col("blob")).cast("binary")).as("blob_md5"))
    }),

    "q64_percentiles" -> ((s, d) => {
      // exact linear-interpolation percentiles of document length per
      // language — the distribution profile a curation pass reports.
      // Exact `percentile` (not approx_percentile) so the oracle's
      // quantile_cont is the same mathematical function; rounded to a
      // 1e-6 quantum in case the two engines' interpolation arithmetic
      // differs in the last ulp.
      val len = length(col("text"))
      def p(q: Double, name: String) =
        round(expr(s"percentile(length(text), ${q}D)"), 6).as(name)
      t(s, d, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), min(len).cast("long").as("min_len"),
          p(0.25, "p25"), p(0.5, "p50"), p(0.9, "p90"), p(0.99, "p99"),
          max(len).cast("long").as("max_len"))
    }),

    "q65_curation_pipeline" -> ((s, d) => {
      // The END-TO-END curation pass a training-data pipeline runs, as one
      // dataflow: quality gate (q54's rule chain) -> exact dedup (first id
      // per identical text) -> first-wins near-dup retention (q63's rule,
      // bands computed over the survivors) -> language-stratified sampling
      // (q53's content-hash quota). Output: the per-source funnel. Every
      // stage keys on doc/text/band hashes — no all-pairs, no driver
      // state; the funnel aggregation is one map-side-partial groupBy.
      val stop = Seq("the", "a", "and", "of", "to", "in", "is", "it", "for", "on")
      val toks = split(trim(col("text")), "\\s+")
      val nToks = size(toks)
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
      val gated = docs
        .filter(nToks >= 20 && nToks <= 1000 &&
          size(filter(toks, tk => tk.isInCollection(stop))).cast("double") /
            nToks.cast("double") >= 0.01 &&
          size(array_distinct(toks)).cast("double") / nToks.cast("double") >= 0.3)
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
      val bucket = conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long") % 1000
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
    }),

    "q67_interval_join" -> ((s, d) => {
      // point-in-interval join WITHOUT a nested-loop plan: overlapping
      // "hot window" intervals (busiest 12 hours ± padding, so one event
      // can land in several) bucketed to 30-min keys and equi-joined —
      // see pipeline.IntervalJoin for the plan argument. The limit(12)
      // is fully ordered (count desc, hour) => deterministic.
      val ev = t(s, d, "events")
      val intervals = ev
        .groupBy(date_trunc("hour", col("ts")).as("interval_id"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("interval_id")).limit(12)
        .select(col("interval_id"),
          (col("interval_id") - expr("INTERVAL 30 MINUTES")).as("w_start"),
          (col("interval_id") + expr("INTERVAL 90 MINUTES")).as("w_end"))
      graft.pipeline.IntervalJoin
        .pointInInterval(ev.select(col("event_id"), col("ts"), col("user_id")),
          "ts", intervals, "w_start", "w_end", bucketMicros = 30L * 60 * 1000000L)
        .groupBy(col("interval_id"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
    }),

    "q66_pii_scrub" -> ((s, d) => {
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
    }),

    "q26_simhash_pairs" -> ((s, d) => {
      // SimHash near-dup: 64-bit simhash, band on 4x16-bit chunks, verify
      // hamming distance <= 8
      val docs = t(s, d, "documents").select(col("doc_id"),
        gf.simhash(gf.word_shingles(col("text"), lit(1))).as("sh"))
      val banded = docs.select(col("doc_id"), col("sh"), explode(array(
        (0 until 4).map(i => concat(lit(i), lit(":"),
          (shiftright(col("sh"), i * 16).bitwiseAND(lit(0xffffL))))): _*)).as("chunk"))
      val a = banded.as("a"); val b = banded.as("b")
      val pairs = a.join(b, col("a.chunk") === col("b.chunk") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      pairs
        .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
        .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
        .withColumn("hamming", gf.hamming_dist(col("sh_a"), col("sh_b")))
        .filter(col("hamming") <= 8)
        .select(col("doc_a"), col("doc_b"), col("hamming"))
    }),

    "q27_ngram_jaccard" -> ((s, d) => {
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
        explode(filter(col("grams"), (g, i) => i % 16 === 0)).as("g"))
      val rare = inv.groupBy(col("g")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2 && col("df") <= 10)
      val keyed = inv.join(rare.select(col("g")), Seq("g"))
      val a = keyed.as("a"); val b = keyed.as("b")
      val pairs = a.join(b, col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      pairs
        .join(docs.select(col("doc_id").as("doc_a"), col("grams").as("ga")), Seq("doc_a"))
        .join(docs.select(col("doc_id").as("doc_b"), col("grams").as("gb")), Seq("doc_b"))
        .withColumn("jaccard", gf.sorted_jaccard(col("ga"), col("gb")))
        .filter(col("jaccard") >= 0.6)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
    }),

    // ---- near-dup VERIFY-stage anchors: the exact-verification kernels
    // of q25/q26/q27 (jaccard merge-walk, hamming) run brute-force over a
    // bounded probe slice (doc_id < 100 one side) with full DuckDB oracles.
    // q25-q27 themselves are ALSO fully oracled (FNV/splitmix64 replayed
    // in HUGEINT SQL), so these anchors now serve as the thresholdless
    // full-similarity-table fixtures and recall baselines ----
    "q37_shingle_jaccard" -> ((s, d) => {
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
        .repartition(s.sparkContext.defaultParallelism) // r6: q32's BNLJ single-task fix
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
      a.join(broadcast(b), col("doc_a") < col("doc_b"))
        .filter(col("n_a") + col("n_b") > 0)
        .select(col("doc_a"), col("doc_b"), jaccard.as("jaccard"))
    }),

    "q38_chargram_jaccard" -> ((s, d) => {
      // q27's verify stage: the sorted-long-array merge-walk jaccard over
      // hashed char 5-grams. The oracle computes jaccard over the DISTINCT
      // GRAM STRINGS — equal values because the 64-bit gram hash is
      // injective on these inputs (a collision would show as a hash
      // mismatch, which is the point of the anchor)
      val docs = t(s, d, "documents").select(col("doc_id"),
        gf.hashed_char_shingles(col("text"), lit(5)).as("grams"))
      val a = docs.filter(col("doc_id") < 100)
        .select(col("doc_id").as("doc_a"), col("grams").as("ga"))
        .repartition(s.sparkContext.defaultParallelism) // r6: q32's BNLJ single-task fix
      val b = docs.select(col("doc_id").as("doc_b"), col("grams").as("gb"))
      a.join(broadcast(b), col("doc_a") < col("doc_b"))
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
    }),

    "q39_md5_hamming" -> ((s, d) => {
      // q26's verify stage: hamming_dist over 60-bit keys derived from
      // md5(text) identically on both sides (15 hex chars -> int), so the
      // custom popcount-xor expression itself is oracle-checked
      val h = conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long")
      val docs = t(s, d, "documents").select(col("doc_id"), h.as("h"))
      val a = docs.filter(col("doc_id") < 100)
        .select(col("doc_id").as("doc_a"), col("h").as("ha"))
        .repartition(s.sparkContext.defaultParallelism) // r6: q32's BNLJ single-task fix
      val b = docs.select(col("doc_id").as("doc_b"), col("h").as("hb"))
      a.join(broadcast(b), col("doc_a") < col("doc_b"))
        .withColumn("hamming", gf.hamming_dist(col("ha"), col("hb")))
        .filter(col("hamming") <= 22)
        .select(col("doc_a"), col("doc_b"), col("hamming"))
    }),

    // ---- embeddings: ANN (brute-force oracle path + LSH scale path) ----
    "q30_knn_brute" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      graft.pipeline.Ann.bruteTopK(emb,
          emb.filter(col("vec_id") < 8)
            .select(col("vec_id").as("query_id"), col("embedding").as("qvec")),
          k = 10)
        .select(col("query_id"), col("rank"), col("vec_id"))
    }),

    "q31_ann_lsh" -> ((s, d) => {
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
    }),

    // ---- ANN recall as a GRADED surface (r4 verdict item 8): the LSH
    // funnel scored against an exact brute anchor per query point, run
    // over the q89 dup corpus where TRUE near neighbors exist (on the
    // raw fixture the brute "top-10" are cosine~0.4 strangers LSH is not
    // built to find — measured recall 0-0.2, a vacuous bound). Graded
    // columns: recall@10 (exact rational) plus the asserted guarantee
    // (q82's pattern): the funnel's top-1 IS the true nearest neighbor
    // — the planted >=0.996-cosine dup — for EVERY query point. ----
    "q93_ann_recall" -> ((s, d) => {
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
    }),

    "q62_ann_ivf_kmeans" -> ((s, d) => {
      // IVF with a TRAINED quantizer: 2 k-means iterations over the
      // id-sample seed (exact quantized-mean accumulation — centroids
      // bit-identical at any parallelism; DuckDB replays both iterations)
      val emb = t(s, d, "embeddings")
      val queriesDf = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      graft.pipeline.Ann.ivfTopK(emb, queriesDf, k = 10, nLists = 32, nProbe = 4,
          trainIters = 2)
        .select(col("query_id"), col("rank"), col("vec_id"))
    }),

    "q71_embed_quantize" -> ((s, d) => {
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
    }),

    "q36_ann_ivf" -> ((s, d) => {
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
    }),

    // ---- multimodal binary columns (stub decode; scalatest-covered) ----
    "q33_media_features" -> ((s, d) => {
      import graft.pipeline.Multimodal
      Multimodal.decodeFeatures(Multimodal.withMedia(t(s, d, "documents")))
        .select(col("doc_id"), col("media_type"),
          round(element_at(col("feature"), 1).cast("double"), 6).as("f0"))
    }),

    "q34_frame_sample" -> ((s, d) => {
      import graft.pipeline.Multimodal
      // frame_hex pins the actual frame BYTES to the oracle (each sampled
      // frame is one md5-derived block of the synthetic payload, so DuckDB
      // reproduces it as upper(md5(text || ':' || frame_idx)))
      Multimodal.sampleFrames(Multimodal.withMedia(t(s, d, "documents")), everyN = 2)
        .select(col("doc_id"), col("frame_idx"), length(col("frame_bytes")).as("n_bytes"),
          hex(col("frame_bytes")).as("frame_hex"))
    }),

    // ---- S3: REAL binary-file scan over the reference's raster resources
    // (fixed read-only path, deterministic 11-file set) with PNG header
    // dims decoded by expression math; DuckDB oracles it via read_blob ----
    "q51_binary_scan" -> ((s, d) => {
      import graft.pipeline.Multimodal
      // one-level glob, matching the oracle's read_blob('.../*/*.png')
      // file set exactly (the reference layout is icons/ + textures/)
      Multimodal.readBinaryDir(s, Multimodal.DefaultResourcesDir + "/*")
        .select(col("file_name"),
          col("media_meta.n_bytes").cast("long").as("n_bytes"),
          col("media_meta.width").as("width"),
          col("media_meta.height").as("height"),
          md5(hex(col("media"))).as("payload_md5"))
    }),

    "q35_media_meta" -> ((s, d) => {
      import graft.pipeline.Multimodal
      Multimodal.withMedia(t(s, d, "documents"))
        .select(col("doc_id"), col("media_type"),
          col("media_meta.width").as("width"), col("media_meta.height").as("height"),
          col("media_meta.sample_rate").as("sample_rate"),
          col("media_meta.n_frames").as("n_frames"),
          col("media_meta.n_bytes").as("n_bytes"))
    }),

    // ---- geo pipeline (J4/J1/W3/A1/F4/R1/R2/J5/J6 — scalatest-covered) ----
    "q40_course_assign" -> ((s, d) => {
      val b = boundsDf(s)
      SpatialJoin.assignPages(pages(s, d), b)
        .select(col("url"), col("text"), col("clubId"), col("courseId"), col("holeNumber"))
    }),

    "q41_pages_in_any" -> ((s, d) => {
      val b = boundsDf(s)
      SpatialJoin.pagesInAnyCourse(pages(s, d), b)
        .select(col("url"), col("lon"), col("lat"))
    }),

    "q42_pages_outside_all" -> ((s, d) => {
      val b = boundsDf(s)
      SpatialJoin.pagesOutsideAllCourses(pages(s, d), b)
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
    }),

    // ---- the 100-TB join shape driven end-to-end (r3 verdict item #1):
    // same containment semantics as q40 but through the salted sort-merge
    // path that takes over when the cover outgrows broadcast (forced
    // here by a zero broadcast budget), with the salt factor
    // auto-derived from the cell-histogram pre-pass. The
    // oracle is q40's independent ray-cast — a green row certifies the
    // salt/replicate/SMJ machinery produces byte-identical pairs ----
    "q72_course_assign_smj" -> ((s, d) => {
      val b = boundsDf(s)
      SpatialJoin.assignPages(pages(s, d), b, budget = 0L)
        .select(col("url"), col("text"), col("clubId"), col("courseId"), col("holeNumber"))
    }),

    // ---- the flagship join over MULTI-PIECE boundaries (r4 verdict
    // stretch item 9): the dim is every standard course plus the
    // archipelago course whose hole 1 boundary is TWO disjoint pieces
    // (the case the reference crashes on, plot_courses.py:318). Same
    // cover + flat-PIP machinery as q40 — the (NaN,NaN)-separated
    // multi-piece flat encoding — oracled by an independent per-piece
    // ray cast with the containsStrict rule (on ANY piece's edge ->
    // out; inside any piece -> in). Single-piece holes produce
    // bit-identical boundaries to q40's dim (MultiPieceSpec pins it). ----
    "q94_course_assign_multi" -> ((s, d) => {
      val bM = dimCache.computeIfAbsent((s, "boundsMulti"), _ =>
        graft.sources.Storage.localize(
          CourseEngine.boundariesMulti(Courses.itemsDfWithIslands(s, NCourses))))
      SpatialJoin.assignPages(pages(s, d), bM)
        .select(col("url"), col("clubId"), col("courseId"), col("holeNumber"))
    }),

    "q95_tile_png" -> ((s, d) => {
      // The raster ARTIFACT sink (r4 VERDICT missing-item 2): one real
      // RGBA PNG per (hole, z17 tile) — opaque pixels are the tile's 8x8
      // covered samples (q46's oracled mask bits), fully transparent
      // elsewhere, the reference's `savefig(..., transparent=True)`
      // analog (plot_courses.py:309-316) in the bounded-size slippy-tile
      // form a map stack serves at 100 TB (fixed 332 bytes/artifact, no
      // per-hole unbounded raster). Fill RGB is a sink parameter (the
      // reference fills with texture images; pixel-texture parity is out
      // of scope per SURVEY §1.2) — q95 uses the catalog's water_blue so
      // the color rides the S2 XML path. The file bytes are graded
      // END-TO-END: STORED-deflate PNG encoding is deterministic, so the
      // DuckDB oracle rebuilds every byte (CRC-32 table generated in SQL
      // from the polynomial, Adler-32/CRC-32 as list folds) from its own
      // independently ray-cast masks, and both sides md5 the shared hex.
      CourseEngine.tileMasks(boundsDf(s), zoom = 17)
        .select(col("clubId"), col("courseId"), col("holeNumber"),
          col("z"), col("x"), col("y"),
          gf.png_encode(
            expr("transform(sequence(0, 63), b -> (shiftright(mask, b) & 1) = 1)"),
            lit(8), lit(Q95Rgb)).as("png"))
        .select(col("clubId"), col("courseId"), col("holeNumber"),
          col("z"), col("x"), col("y"),
          length(col("png")).as("n_bytes"),
          md5(hex(col("png"))).as("png_md5"))
    }),

    "q99_pq_adc" -> ((s, d) => {
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
    }),

    "q98_bm25_topk" -> ((s, d) => {
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
      val toks = filter(split(trim(col("text")), "\\s+"), tk => tk =!= "")
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
    }),

    "q96_components_star" -> ((s, d) => {
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
    }),

    "q43_clip_join" -> ((s, d) => {
      // clip_area is quantized to a fixed 1e-10 deg^2 grid (~1 m^2 — 4-5
      // significant digits at these hole sizes) and sub-quantum rows are
      // dropped on BOTH sides: the engine (Greiner-Hormann true boundaries
      // / triangulated fallback) and the DuckDB oracle (signed fan
      // decomposition x S-H triangle clipping) compute the SAME exact real
      // area by different float decompositions, agreeing to ~1e-17..1e-16
      // in the boundary-local frame. The quantum is chosen so every
      // candidate sits far from a rounding boundary relative to that
      // disagreement (measured: min distance 6.5e-4 quanta = 6.5e-14 at
      // 1e-10, vs only 8.3e-17 at the old 1e-12 grid — same order as the
      // disagreement, i.e. one re-roll from a red hash); the margin is
      // PINNED by PipelineSpec's boundary-distance guard.
      val items = itemsDf(s)
      CourseEngine.clippedPolygons(items, CourseEngine.boundaries(items))
        .select(col("clubId"), col("courseId"), col("holeNumber"), col("itemSeq"),
          col("itemType"),
          floor(col("clip_area") * lit(1e10) + lit(0.5)).cast("long").as("clip_area_e10"))
        .filter(col("clip_area_e10") >= 1)
    }),

    "q44_drawlist" -> ((s, d) => {
      val items = itemsDf(s)
      CourseEngine.drawList(items, CourseEngine.boundaries(items))
        .select(col("clubId"), col("courseId"), col("holeNumber"), col("draw_seq"),
          col("zorder"), col("itemType"), col("category"))
    }),

    "q45_viewports" -> ((s, d) => {
      // fig/aspect pass through cos(), where cross-engine libm parity is
      // NOT guaranteed (measured: 1/763 cos calls differs by 1 ULP vs
      // DuckDB) — rounded to 1e-6 the ULP drift is ~9 orders of magnitude
      // inside the quantum, so the driver can hash-compare the values.
      // Envelope coords and marker_px are exact doubles, left raw. The
      // raw-viewport operator keeps its full-precision scalatest pin.
      CourseEngine.viewports(boundsDf(s))
        .select(col("clubId"), col("courseId"), col("holeNumber"),
          col("west"), col("south"), col("east"), col("north"),
          round(col("fig_w_in"), 6).as("fig_w_in"),
          round(col("fig_h_in"), 6).as("fig_h_in"),
          round(col("aspect"), 6).as("aspect"),
          col("marker_px"))
    }),

    "q46_tile_masks" -> ((s, d) => {
      CourseEngine.tileMasks(boundsDf(s), zoom = 17)
    }),

    "q47_tile_reverse" -> ((s, d) => {
      SpatialJoin.tileReverseIndex(CourseEngine.tileMasks(boundsDf(s), zoom = 17))
    }),

    "q48_markers" -> ((s, d) => {
      val items = itemsDf(s)
      CourseEngine.markers(items, CourseEngine.boundaries(items))
    }),

    "q81_tile_pyramid" -> ((s, d) => {
      // serving-side pyramid: leaf z17 masks rolled up to z13 in one
      // explode + one groupBy; sum_coverage is exact (1/64 dyadics)
      CourseEngine.tilePyramid(CourseEngine.tileMasks(boundsDf(s), zoom = 17),
        zoom = 17, minZoom = 13)
    }),

    "q49_knn_courses" -> ((s, d) => {
      // output is (page, neighbor, rank) — the haversine VALUE is excluded
      // (libm sin/asin ULP parity across engines isn't guaranteed; the
      // ORDERING agrees, which is what rank checks — same policy as q36).
      // The probe slice is a DETERMINISTIC filter, not limit(n): an
      // unordered limit feeding a graded output is partition-order-
      // dependent the moment the table outgrows n
      SpatialJoin.knnCourses(pages(s, d).filter(col("page_id") < 2000),
          boundsDf(s), k = 3)
        .select(col("url"), col("lon"), col("lat"),
          col("clubId"), col("courseId"), col("holeNumber"), col("rank"))
    }),

    "q75_knn_boundary" -> ((s, d) => {
      // kNN under the boundary metric (nearest exterior-shell segment, r3
      // verdict item #6) — rank-only output, same libm-ULP policy and
      // deterministic probe slice as q49; the oracle brute-forces the
      // identical clamped-projection segment distance over the literal
      // rings (PipelineSpec pins the no-near-ties margin that makes the
      // rank compare sound)
      SpatialJoin.knnCoursesBoundary(pages(s, d).filter(col("page_id") < 2000),
          boundsDf(s), k = 3)
        .select(col("url"), col("lon"), col("lat"),
          col("clubId"), col("courseId"), col("holeNumber"), col("rank"))
    }),

    "q50_priority_order" -> ((s, d) => {
      CourseEngine.priorityOrder(boundsDf(s), Q50Priority)
        .select(col("clubId"), col("courseId"), col("holeNumber"), col("prio"))
        .limit(50)
    }),

    // ---- S1: the JSONL course-layout scan driven end-to-end (write the
    // reference-shaped fixture, read it back through the explicit-schema
    // scan, flatten, aggregate per hole; DuckDB re-reads the same files
    // with its own JSON reader) ----
    "q59_jsonl_scan" -> ((s, d) => {
      val path = graft.data.Fixtures.jsonlDir(s, NCourses)
      val xs = transform(col("shape"), p => p("x"))
      val ys = transform(col("shape"), p => p("y"))
      Courses.itemsFromLayouts(Courses.readLayouts(s, path))
        .groupBy(col("clubId"), col("courseId"), col("holeNumber"))
        .agg(count(lit(1)).as("n_items"),
          sum(size(col("shape")).cast("long")).as("n_points"),
          min(array_min(xs)).as("min_x"), max(array_max(xs)).as("max_x"),
          min(array_min(ys)).as("min_y"), max(array_max(ys)).as("max_y"))
    }),

    // ---- WARC ingest driven end-to-end: parse the fixture segment and
    // fingerprint every payload; the oracle slices the RAW FILE BYTES at
    // serializer-derived offsets (a CDX-style index), so each record
    // boundary the parser found is checked against an independent read ----
    "q60_warc_scan" -> ((s, d) => {
      val dir = graft.data.Fixtures.warcDir()
      graft.sources.Warc.read(s, dir).toDF()
        .select(col("warcType").as("warc_type"), col("targetUri").as("url"),
          col("recordId").as("record_id"),
          length(col("payload")).cast("long").as("n_bytes"),
          md5(hex(col("payload"))).as("payload_md5"))
    }),

    // ---- crawl -> corpus driven end-to-end from the wire format (r3
    // verdict item #3): WARC response records -> HTTP body bytes
    // (Warc.toPages) -> expression-only HTML text extraction
    // (TextExtract.fromHtml) -> q54 gate metrics + q24 langid, one
    // dataflow. The oracle re-derives EVERYTHING (body slice, header
    // strip, extraction, gate, prediction) from the raw segment bytes at
    // serializer-derived offsets ----
    "q73_crawl_to_corpus" -> ((s, d) => {
      val dir = graft.data.Fixtures.htmlWarcDir()
      val p = graft.sources.Warc.toPages(graft.sources.Warc.read(s, dir))
      // localize the extracted tiny dim: five downstream expressions
      // reference `text`, and CollapseProject would otherwise inline the
      // regex-chain extraction once per reference (CLAUDE.md Catalyst
      // rule; at corpus scale this materialization point is the corpus
      // table the extraction stage writes anyway)
      val extracted = graft.sources.Storage.localize(
        p.select(col("url"),
          graft.pipeline.TextExtract.fromHtml(col("html").cast("string")).as("text")))
      val stop = Seq("the", "a", "and", "of", "to", "in", "is", "it", "for", "on")
      val toks = split(trim(col("text")), "\\s+")
      val nToks = size(toks)
      extracted.select(
          col("url"),
          md5(col("text")).as("text_md5"),
          nToks.cast("long").as("n_toks"),
          round(size(filter(toks, tk => tk.isInCollection(stop))).cast("double") /
            nToks.cast("double"), 6).as("stop_ratio"),
          round(size(array_distinct(toks)).cast("double") /
            nToks.cast("double"), 6).as("distinct_ratio"),
          graft.pipeline.LangId.predict(col("text")).as("pred_lang"))
        .withColumn("passed", col("n_toks") >= 20 && col("n_toks") <= 1000 &&
          col("stop_ratio") >= 0.01 && col("distinct_ratio") >= 0.3)
    }),

    // ---- the stateful STREAMING operators given a CORRECTNESS surface
    // (r3 verdict item #4): NearDup.kept — banded FMGWS first-wins claims
    // chained into a windowed finalizing aggregation — actually EXECUTES
    // here (AvailableNow over a deterministic file stream), and its
    // emitted result is returned as the batch frame. The oracle is the
    // proven batch twin's SQL (q63's band replay, kept-docs form): green
    // means the streaming operators' output — not a batch stand-in —
    // matches DuckDB ----
    "q74_streaming_neardup" -> ((s, d) => {
      val dir = graft.data.Fixtures.streamDocsDir(s, d)
      val stream = s.readStream
        .schema(s.read.parquet(dir).schema)
        .parquet(dir)
      // NOTE: with disableChainedStateCheck, Spark still prints the chained
      // stateful-operator AnalysisException text as a stderr WARN-with-stack
      // at stream start — it LOOKS like `[error] ...AnalysisException` in
      // sbt output but the query runs and passes (the check is the thing
      // being deliberately disabled; see NearDup.kept's contract doc).
      val batches = drainStream(
        graft.streaming.NearDup
          .kept(stream, watermark = "10 seconds", ttlMillis = 1L << 62,
            disableChainedStateCheck = true)
          .select(col("doc_id").cast("long"), col("n_bands").cast("long")),
        outputMode = "append", skipNoDataBatches = false)
      val nDataBatches = batches.count(_.nonEmpty)
      // single-file fixture => every input row (sentinel included) arrived
      // in ONE source micro-batch, so the sentinel's watermark advance can
      // never drop a real doc as late (r4 ADVICE item). The chained FMGWS
      // emits results a batch AFTER input (timeout/watermark finalization),
      // so what is observable here is that at most one downstream batch
      // carried data; zero data batches would also be a broken stream.
      require(nDataBatches == 1,
        s"q74 expected exactly 1 data-carrying micro-batch, saw $nDataBatches — " +
          "the stream fixture is no longer a single file or the file source split it; " +
          "a sentinel in an earlier batch than a real doc silently drops rows (see Fixtures.streamDocsDir)")
      import scala.jdk.CollectionConverters._
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      val rows = batches.flatten.filter(_.getLong(0) != graft.data.Fixtures.StreamSentinelId)
      s.createDataFrame(rows.asJava,
        StructType(Seq(StructField("doc_id", LongType), StructField("n_bands", LongType))))
    }),

    // ---- second streaming CORRECTNESS row (r4 verdict item 4): the
    // watermarked STREAM-STREAM interval join (pages x crawl-budget
    // grants) EXECUTES under AvailableNow and its own emitted rows are
    // the graded frame — the state-eviction-bounded join becomes
    // driver-certified, like q74 did for the stateful dedup. Single-file
    // fixtures per side => one micro-batch => the batch twin (a plain
    // interval join, the oracle) is exactly the expected output. ----
    "q92_streaming_budget_join" -> ((s, d) => {
      val (pagesDir, grantsDir) = graft.data.Fixtures.budgetStreamDirs(s, d)
      def src(dir: String) = s.readStream
        .schema(s.read.parquet(dir).schema).parquet(dir)
      // r6: the no-data micro-batch after the single data batch only
      // EVICTS join state (inner-join matches emit in the data batch
      // itself); skipping it drops a full state-store init/commit cycle
      // per partition with identical emitted rows
      val batches = drainStream(
        graft.streaming.PageStream
          .pagesWithBudget(src(pagesDir), src(grantsDir))
          .select(col("url"), expr("unix_micros(warc_ts)").as("ts_us"),
            col("host"), col("grant_id")),
        outputMode = "append", skipNoDataBatches = true)
      val nDataBatches = batches.count(_.nonEmpty)
      require(nDataBatches == 1,
        s"q92 expected exactly 1 data-carrying micro-batch, saw $nDataBatches — " +
          "the stream fixtures are no longer single files; a multi-batch run can drop " +
          "late rows and diverge from the batch-twin oracle (see Fixtures.budgetStreamDirs)")
      import scala.jdk.CollectionConverters._
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      s.createDataFrame(batches.flatten.asJava,
        StructType(Seq(StructField("url", StringType), StructField("ts_us", LongType),
          StructField("host", StringType), StructField("grant_id", LongType))))
    }),

    // ---- third streaming CORRECTNESS row: SKETCHES ON A STREAM. The HLL
    // register build runs as a streaming complete-mode aggregation (state
    // = exactly the m registers — the O(m)-state summary an ingest
    // pipeline maintains continuously) under AvailableNow; the final
    // emitted register table is the graded frame and must be IDENTICAL
    // to the batch sketch over the same rows (n_register_mismatch = 0,
    // computed in-engine vs the batch twin; register values replayed by
    // the oracle from raw text). ----
    "q106_streaming_sketch" -> ((s, d) => {
      import graft.pipeline.Sketch
      val dir = graft.data.Fixtures.streamDocsDir(s, d)
      val stream = s.readStream.schema(s.read.parquet(dir).schema).parquet(dir)
        .where(col("doc_id") =!= lit(graft.data.Fixtures.StreamSentinelId))
      // r6: complete mode re-emits the whole register table every
      // trigger — the no-data batch after the single data batch emits
      // the SAME rows the data batch did (no watermark in play), so
      // skipping it changes nothing but the wasted store cycle; only the
      // final emission is graded
      val batches = drainStream(
        Sketch.hllRegisters(stream, col("text"))
          .select(col("idx").cast("long"), col("m").cast("int")),
        outputMode = "complete", skipNoDataBatches = true)
      import scala.jdk.CollectionConverters._
      import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
      val streamed = s.createDataFrame(
        batches.lastOption.getOrElse(Array.empty[org.apache.spark.sql.Row]).toSeq.asJava,
        StructType(Seq(StructField("idx", LongType), StructField("m", IntegerType))))
      val direct = Sketch.hllRegisters(t(s, d, "documents"), col("text"))
      val mis = streamed.select(col("idx"), col("m").as("ma"))
        .join(direct.select(col("idx"), col("m").as("mb")), Seq("idx"), "full")
        .select(when(coalesce(col("ma"), lit(0)) === coalesce(col("mb"), lit(0)), 0L)
          .otherwise(1L).as("bad"))
        .agg(coalesce(sum(col("bad")), lit(0L)).as("n_register_mismatch"))
      streamed.crossJoin(mis)
    }),

    "q84_bottomk_sample" -> ((s, d) => {
      // deterministic uniform sample: 100 docs with the smallest content
      // hash (RNG-free, mergeable, identical at any partitioning —
      // pipeline.Sample). The orderBy is TOTAL (hash, then doc_id), so
      // the limit is deterministic (the q49 limit rule)
      graft.pipeline.Sample.bottomK(
        t(s, d, "documents").select(col("doc_id"), col("text")),
        col("text"), col("doc_id"), 100)
        .select(col("doc_id"), col("h"))
    }),

    // ---- MERGE INTO + CDC driven end-to-end: v1 = nation, v2 = merge
    // of 5 updated comments + 1 new key (overwrite snapshot); the diff
    // between versions is the changelog, re-derived by the oracle from
    // the nation table alone ----
    "q85_snapshot_merge_diff" -> ((s, d) => {
      val dir = graft.data.Fixtures.mergeTable(s, d)
      graft.sources.Snapshots.diff(s, dir, 1L, 2L)
        .select(col("op"), col("n_nationkey").cast("long").as("n_nationkey"),
          col("n_name"), col("n_regionkey").cast("long").as("n_regionkey"))
    }),

    // ---- snapshot time-travel driven end-to-end: rebuild a two-commit
    // table (full nation, then a fast-append of the <10 slice) and read
    // BOTH versions; the oracle recomputes each version's expected live
    // set from the nation table itself ----
    "q121_compaction" -> ((s, d) => {
      // snapshot-table COMPACTION: five append commits fragment the live
      // set into small files; compact rewrites the current rows as one
      // overwrite commit. Graded: the data is IDENTICAL before and after
      // (both versions re-read via time travel and reduced to the same
      // aggregates the oracle derives from the logical table), proving
      // compaction changes layout, never content — and that pre-compact
      // versions stay readable. File-count reduction and history
      // integrity are pinned in StorageSpec (physical layout is not a
      // cross-engine-gradable value).
      // r6: the table is rebuilt from scratch on EVERY run (6 commits +
      // 2 time-travel reads of real files — filesystem-bound by design);
      // its location is immaterial to the graded aggregates, so use the
      // fastest local scratch (tmpfs when present)
      val dir = graft.data.Fixtures.fastScratchDir("graft_q121_")
      val nation = t(s, d, "nation")
      (0 until 5).foreach { i =>
        graft.sources.Snapshots.commit(
          nation.filter(pmod(col("n_nationkey"), lit(5)) === i).repartition(2), dir)
      }
      val compacted = graft.sources.Snapshots.compact(s, dir, targetFiles = 2)
      def at(v: Long) = graft.sources.Snapshots.readVersionAsOf(s, dir, v)
        .groupBy().agg(count(lit(1)).as("n_rows"),
          sum(col("n_nationkey").cast("long")).as("sum_keys"))
        .withColumn("version", lit(v))
      at(5L).unionByName(at(compacted))
        .select(col("version"), col("n_rows"), col("sum_keys"))
    }),

    "q61_snapshots" -> ((s, d) => {
      val dir = graft.data.Fixtures.snapshotTable(s, d)
      def at(v: Long) = graft.sources.Snapshots.readVersionAsOf(s, dir, v)
        .groupBy().agg(count(lit(1)).as("n_rows"),
          sum(col("n_nationkey").cast("long")).as("sum_keys"))
        .withColumn("version", lit(v))
      at(1L).unionByName(at(2L))
        .select(col("version"), col("n_rows"), col("sum_keys"))
    })
  )

  // =========================================================================
  // DuckDB oracle SQL — identical column names + value-exact expressions.
  // =========================================================================
  private def pagesCte: String = s"WITH pages AS (${Pages.sqlView(Amp)})"

  /** q92's shared time base as a SQL literal. */
  private def BudgetBaseUsSql: String = graft.data.Fixtures.BudgetBaseUs.toString

  /** The boundary dim recomputed in PURE JVM (no Spark) — the same kernel
    * calls, in the same order, as `CourseEngine.boundaries` (gaussian
    * smooth -> close -> polygonize guards, first HoleBoundary per hole) —
    * so the flagship-family oracles get the polygons as data and
    * DuckDB re-derives the containment INDEPENDENTLY of the cover index.
    * Bit-equality with the engine's boundary column is pinned in
    * PipelineSpec. */
  private[graft] lazy val oracleBounds: Seq[(String, String, Int, Array[Double])] =
    Courses.courses(NCourses).flatMap { c =>
      c.holes.zipWithIndex.flatMap { case (h, pos) =>
        h.gpsItems.find(_.itemType == "HoleBoundary").flatMap { item =>
          val flat = item.shape.iterator
            .flatMap(p => Iterator(p.longitude, p.latitude)).toArray
          val smoothed = graft.geom.Geom.gaussianSmooth(flat, 1.0)
          val closed = graft.geom.Geom.closeRing(smoothed)
          // the pipeline's make_polygon receives the ALREADY-closed ring
          // (closed_ring runs first), so both of its null guards reduce to
          // "fewer than 3 open vertices" — checked here in that form;
          // PipelineSpec pins bit-equality with the engine's boundary dim
          if (graft.geom.Geom.nPts(smoothed) < 3 ||
              graft.geom.Geom.nPts(closed) - 1 < 3) None
          else Some((c.clubId, c.courseId, pos + 1, closed))
        }
      }
    }

  /** The MULTI-PIECE boundary dim recomputed in pure JVM — the same
    * kernel calls as `CourseEngine.boundariesMulti` (every HoleBoundary
    * item cleaned like [[oracleBounds]], degenerate pieces dropped), one
    * entry per (hole, piece). MultiPieceSpec pins bit-equality with the
    * engine dim. */
  private[graft] lazy val oracleBoundsMulti: Seq[(String, String, Int, Int, Array[Double])] =
    Courses.coursesWithIslands(NCourses).flatMap { c =>
      c.holes.zipWithIndex.flatMap { case (h, pos) =>
        h.gpsItems.filter(_.itemType == "HoleBoundary").zipWithIndex.flatMap {
          case (item, pi) =>
            val flat = item.shape.iterator
              .flatMap(p => Iterator(p.longitude, p.latitude)).toArray
            val smoothed = graft.geom.Geom.gaussianSmooth(flat, 1.0)
            val closed = graft.geom.Geom.closeRing(smoothed)
            if (graft.geom.Geom.nPts(smoothed) < 3 ||
                graft.geom.Geom.nPts(closed) - 1 < 3) None
            else Some((c.clubId, c.courseId, pos + 1, pi, closed))
        }
      }
    }

  /** Double -> DuckDB DOUBLE literal: a bare decimal literal is typed
    * DECIMAL and scale-unification across VALUES rows rounds it (observed
    * 1-ULP drift); an exponent suffix forces DOUBLE, and Double.toString's
    * shortest-roundtrip digits then parse back to the identical bits. */
  private def dlit(d: Double): String = {
    val s = d.toString
    if (s.contains("E") || s.contains("e")) s else s + "E0"
  }

  /** q75's point-to-segment distance, replayed textually over the closed
    * `ring` ([x,y] pairs, first == last): planar clamped projection of
    * the point onto each segment, then the q49 haversine shape to the
    * clamped closest point — the EXACT operation order of
    * `SpatialJoin.st_distance_to_shell_m`'s per-segment lambda. Only the
    * ORDERING of these values is graded (rank output), per the
    * cross-engine libm policy. */
  private def segDistSql(px: String, py: String, ring: String): String = {
    val ax = s"$ring[i][1]"; val ay = s"$ring[i][2]"
    val bx = s"$ring[i+1][1]"; val by = s"$ring[i+1][2]"
    val dx = s"($bx - $ax)"; val dy = s"($by - $ay)"
    val d2 = s"($dx * $dx + $dy * $dy)"
    val tRaw = s"((($px - $ax) * $dx + ($py - $ay) * $dy) / $d2)"
    val t = s"(CASE WHEN $d2 = 0.0 THEN 0.0 ELSE least(1.0, greatest(0.0, $tRaw)) END)"
    val cx = s"($ax + $t * $dx)"; val cy = s"($ay + $t * $dy)"
    s"""2.0 * 6371008.8 * asin(least(1.0, sqrt(
       |        sin((radians($cy) - radians($py)) / 2) * sin((radians($cy) - radians($py)) / 2) +
       |        cos(radians($py)) * cos(radians($cy)) *
       |        sin(radians($cx - $px) / 2) * sin(radians($cx - $px) / 2))))""".stripMargin
  }

  /** W2 priority fixture — ONE definition feeds both the q50 query and
    * its oracle CASE (hand-copied literals drift). */
  private val Q50Priority = Seq(
    ("club-0001", "course-0001", 1), ("club-0001", "course-0001", 2),
    ("club-0003", "course-0003", 5), ("club-0002", "course-0002", 9),
    ("club-0000", "course-0000", 3))

  /** Marker positions recomputed in pure JVM (single-point marker-type
    * gpsItems), `(clubId, courseId, holeNumber, itemSeq, itemType, x, y)`
    * — the DuckDB side re-derives the strict containment decision itself. */
  private[graft] lazy val oracleMarkers: Seq[(String, String, Int, Int, String, Double, Double)] =
    Courses.courses(NCourses).flatMap { c =>
      c.holes.zipWithIndex.flatMap { case (h, pos) =>
        h.gpsItems.zipWithIndex.collect {
          case (item, seq) if Courses.markerTypes.contains(item.itemType) &&
            item.shape.length == 1 =>
            (c.clubId, c.courseId, pos + 1, seq, item.itemType,
              item.shape.head.longitude, item.shape.head.latitude)
        }
      }
    }

  private lazy val catalogByType: Map[String, Catalog.Item] =
    Catalog.items.map(i => i.itemType -> i).toMap

  /** Translate a flat ring by (-dx, -dy) with the EXACT float ops the
    * engine's boundary-local projection performs (`x + (-dx)`). */
  private def translateRing(r: Array[Double], dx: Double, dy: Double): Array[Double] = {
    val out = new Array[Double](r.length)
    var i = 0
    while (i < r.length) {
      out(i) = if (i % 2 == 0) r(i) + (-dx) else r(i) + (-dy)
      i += 1
    }
    out
  }

  /**
   * q43/q44 clip candidates recomputed in pure JVM: for every
   * polygon-category non-boundary gpsItem the engine's exact pre-geometry
   * gating chain is replayed with the SAME kernel calls
   * (`CourseEngine.clippedPolygons`'s P6 size filter, make_polygon guards,
   * `GeoOps.stIntersection`'s per-ring validity gates, the
   * envelope quick-reject) on rings translated to the boundary-local
   * frame — so what reaches DuckDB is exactly the set of pairs whose
   * survival hinges on GEOMETRY (does the intersection have positive
   * area?), which the oracle then decides independently.
   * `(clubId, courseId, holeNumber, itemSeq, itemType, zorder,
   *   itemRingOpen, boundaryRingOpen)`; rings open (closing dup dropped),
   * translated by the boundary ring's first vertex.
   */
  private[graft] lazy val oracleClipCands
      : Seq[(String, String, Int, Int, String, Int, Array[Double], Array[Double])] = {
    import graft.geom.Geom
    val boundsByKey = oracleBounds.map { case (cl, co, h, f) => (cl, co, h) -> f }.toMap
    Courses.courses(NCourses).flatMap { c =>
      c.holes.zipWithIndex.flatMap { case (hole, pos) =>
        boundsByKey.get((c.clubId, c.courseId, pos + 1)).toSeq.flatMap { bClosed =>
          val b0x = bClosed(0); val b0y = bClosed(1)
          val bT = translateRing(bClosed, b0x, b0y)
          hole.gpsItems.zipWithIndex.flatMap { case (item, seq) =>
            val cat = catalogByType.get(item.itemType)
            if (item.itemType == "HoleBoundary" || !cat.exists(_.category == "polygon") ||
                item.shape.length <= 2) None
            else {
              val flat = item.shape.iterator
                .flatMap(p => Iterator(p.longitude, p.latitude)).toArray
              // the engine's make_polygon(closed_ring(gaussian_smooth(...)))
              val smoothed = Geom.gaussianSmooth(flat, 1.0)
              val closed1 = Geom.closeRing(smoothed)
              if (Geom.nPts(closed1) < 3 || Geom.nPts(Geom.closeRing(closed1)) - 1 < 3) None
              else {
                val iT = translateRing(Geom.closeRing(closed1), b0x, b0y)
                // stIntersection's validity gates, then the envelope
                // quick-reject shared by both intersection paths
                if (!Geom.isRingValid(iT) || !Geom.isRingValid(bT)) None
                else {
                  val ei = Geom.envelope(Geom.dropClosingDup(iT))
                  val eb = Geom.envelope(Geom.dropClosingDup(bT))
                  if (ei(2) < eb(0) || eb(2) < ei(0) || ei(3) < eb(1) || eb(3) < ei(1)) None
                  else Some((c.clubId, c.courseId, pos + 1, seq, item.itemType,
                    cat.get.zorder, Geom.dropClosingDup(iT), Geom.dropClosingDup(bT)))
                }
              }
            }
          }
        }
      }
    }
  }

  /** Line-category items (raw coords, flat) for the q44 vertex-clip replay:
    * `(clubId, courseId, holeNumber, itemSeq, itemType, zorder, pts)`. */
  private[graft] lazy val oracleLines: Seq[(String, String, Int, Int, String, Int, Array[Double])] =
    Courses.courses(NCourses).flatMap { c =>
      c.holes.zipWithIndex.flatMap { case (h, pos) =>
        h.gpsItems.zipWithIndex.collect {
          case (item, seq) if catalogByType.get(item.itemType).exists(_.category == "line") =>
            (c.clubId, c.courseId, pos + 1, seq, item.itemType, catalogByType(item.itemType).zorder,
              item.shape.iterator.flatMap(p => Iterator(p.longitude, p.latitude)).toArray)
        }
      }
    }

  /** The flagship-family oracle inputs, one frame per CTE of the same
    * name, built with `createDataFrame` from the pure-JVM Seqs above and
    * an explicit schema — never through an engine plan, so the oracles
    * stay independent of it. `Fixtures.ensureAll` writes each to parquet
    * (bit-exact doubles) and the oracles read it back ([[inputCte]]).
    * Rings and point lists are `DOUBLE[][]` `[x, y]` lists, closed or open
    * exactly as the Seq holds them:
    *  - `bounds`/`boundsm`: [[oracleBounds]]/[[oracleBoundsMulti]] with
    *    their envelopes;
    *  - `ivals`: the [[oracleClipCands]] item rings (boundary-local frame);
    *  - `tbounds`: one translated open boundary ring per hole that has clip
    *    candidates, so it is not repeated per item;
    *  - `lvals`: [[oracleLines]]; `markers`: [[oracleMarkers]]. */
  private[graft] def oracleInputFrames(spark: SparkSession): Seq[(String, DataFrame)] = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    def pts(flat: Array[Double]): Seq[Seq[Double]] = flat.grouped(2).map(_.toSeq).toSeq
    def env(flat: Array[Double]): Seq[Double] = graft.geom.Geom.envelope(flat).toSeq
    def frame(ddl: String, rows: Seq[Seq[Any]]): DataFrame =
      spark.createDataFrame(rows.map(Row.fromSeq).asJava,
        org.apache.spark.sql.types.StructType.fromDDL(ddl))
    val key = "clubId STRING, courseId STRING, holeNumber INT"
    val envelope = "minx DOUBLE, miny DOUBLE, maxx DOUBLE, maxy DOUBLE"
    val ring = "ARRAY<ARRAY<DOUBLE>>"
    Seq(
      "bounds" -> frame(s"$key, $envelope, ring $ring",
        oracleBounds.map { case (cl, co, h, f) => Seq(cl, co, h) ++ env(f) :+ pts(f) }),
      "boundsm" -> frame(s"$key, piece INT, $envelope, ring $ring",
        oracleBoundsMulti.map { case (cl, co, h, pi, f) => Seq(cl, co, h, pi) ++ env(f) :+ pts(f) }),
      "ivals" -> frame(s"$key, itemSeq INT, itemType STRING, zorder INT, iring $ring",
        oracleClipCands.map { case (cl, co, h, seq, it, z, iring, _) => Seq(cl, co, h, seq, it, z, pts(iring)) }),
      "tbounds" -> frame(s"$key, bring $ring",
        oracleClipCands.groupBy(c => (c._1, c._2, c._3)).toSeq.sortBy(_._1)
          .map { case ((cl, co, h), cs) => Seq(cl, co, h, pts(cs.head._8)) }),
      "lvals" -> frame(s"$key, itemSeq INT, itemType STRING, zorder INT, pts $ring",
        oracleLines.map { case (cl, co, h, seq, it, z, f) => Seq(cl, co, h, seq, it, z, pts(f)) }),
      "markers" -> frame(s"$key, itemSeq INT, itemType STRING, x DOUBLE, y DOUBLE",
        oracleMarkers.map(_.productIterator.toSeq)))
  }

  /** The CTE `name` over its [[oracleInputFrames]] file. `materialized`
    * where an oracle reads the CTE more than once (q44's `bounds`), or
    * where the parallel scan of a materialized CTE beats the one-thread
    * scan of a one-row-group file for the lambda-heavy pipeline it drives
    * (q43's clip candidates, the tile masks). Not everywhere: DuckDB
    * estimates a materialized scan at one row, which flips q75's cross
    * product onto its slow side (measured 185 s against 65 s). */
  private def inputCte(name: String, materialized: Boolean = false): String =
    s"$name AS ${if (materialized) "MATERIALIZED " else ""}" +
      s"(SELECT * FROM read_parquet('${graft.data.Fixtures.oracleInputDir(name)}/*.parquet'))"

  /** q60's CDX-style payload index as VALUES literals — offsets come from
    * the fixture SERIALIZER ([[graft.data.Fixtures.warcPayloadIndex]]),
    * never from the parser under test. */
  private lazy val oracleWarcIndexValues: String =
    graft.data.Fixtures.warcPayloadIndex().map { case (r, off, len) =>
      s"('${r.warcType}','${r.targetUri}','${r.recordId}',$off,$len)"
    }.mkString(",")

  /** The near-dup pair graph + its recursive transitive closure `r(a,b)`
    * — shared by the q78 components oracle and the q86 split oracle
    * (single definition, like minhashBandCtes itself). Must be spliced
    * after a `WITH RECURSIVE`. */
  /** BPE training replay (q114/q115): `rounds` merge rounds as chained
    * CTEs — per round a lead-window pair count over s{r-1}, the 1-row
    * argmax b{r} (total DESC, s1, s2), match islands, even-offset
    * selection (== greedy left-to-right), and the rewritten s{r}. */
  private def bpeRoundCtes(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""wtoks AS (SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'),
         |    t -> t <> '')) AS word FROM documents),
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

  private def neardupClosureCtes: String =
    s"""${minhashBandCtes()},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM keys a JOIN keys b ON a.bk = b.bk AND a.doc_id < b.doc_id),
       |feat AS (SELECT doc_id, list_distinct(list(s)) AS sh, count(DISTINCT s) AS n
       |         FROM sh GROUP BY doc_id),
       |pairs AS (
       |  SELECT doc_a, doc_b FROM cand
       |  JOIN feat fa ON fa.doc_id = doc_a JOIN feat fb ON fb.doc_id = doc_b
       |  WHERE CAST(len(list_intersect(fa.sh, fb.sh)) AS DOUBLE) /
       |      (fa.n + fb.n - len(list_intersect(fa.sh, fb.sh))) >= 0.5),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |r(a, b) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
       |  UNION
       |  SELECT e.a, r.b FROM edges e JOIN r ON e.b = r.a)""".stripMargin

  /** q73's crawl-segment payload index (responses only — the records
    * `Warc.toPages` keeps), serializer-derived like q60's. */
  private lazy val oracleCrawlIndexValues: String =
    graft.data.Fixtures.warcPayloadIndex(graft.data.Fixtures.htmlCrawlRecords())
      .filter(_._1.warcType == "response")
      .map { case (r, off, len) => s"('${r.targetUri}',$off,$len)" }.mkString(",")

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

  // ---- FNV-1a 64 + splitmix64 replayed in SQL, so DuckDB re-derives every
  // hash-derived CANDIDATE (q25 minhash band keys, q26 simhash chunks, q27
  // sampled rare grams) from the raw text — the only constants shared with
  // the engine are the published FNV/splitmix64 parameters. Arithmetic runs
  // in the unsigned-64 domain as HUGEINT in [0, 2^64); products are split
  // 32/32 so no intermediate exceeds HUGEINT's 127-bit positive range. ----

  private val Wrap64 = "18446744073709551616::HUGEINT"

  /** (a * b) mod 2^64, both operands in [0, 2^64). */
  private def mulmod64(a: String, b: String): String =
    s"(((($a) % 4294967296) * ($b) + (((($a) // 4294967296) * ($b)) % 4294967296) * 4294967296) % $Wrap64)"

  /** `TextOps.mix64` (splitmix64 finalizer); >>> k is `// 2^k` unsigned. */
  private def mix64Sql(z: String): String = {
    val s1 = s"((($z) + 11400714819323198485::HUGEINT) % $Wrap64)"
    val s2 = mulmod64(s"xor($s1, $s1 // 1073741824)", "13787848793156543929::HUGEINT")
    val s3 = mulmod64(s"xor($s2, $s2 // 134217728)", "10723151780598845931::HUGEINT")
    s"xor($s3, $s3 // 2147483648)"
  }

  /** `TextOps.hashText` over an ASCII string expression (documents.text is
    * ASCII by construction, so `ord` per char == the UTF-8 byte the engine
    * folds; [[fnvSqlBytes]] is the byte-true form for non-ASCII corpora). */
  private def fnvSql(col: String): String =
    mix64Sql(
      s"""list_reduce(list_prepend(14695981039346656037::HUGEINT,
         |        list_transform(range(1, length($col)+1), i -> ord(substring($col, i, 1)))),
         |      (h, c) -> ${mulmod64("xor(h, CAST(c AS HUGEINT))", "1099511628211::HUGEINT")})""".stripMargin)

  /** `TextOps.hashText` over ARBITRARY UTF-8 text: folds the REAL encoded
    * bytes (encode() -> hex digit pairs), not per-character ord — the
    * non-ASCII-safe replay the r3 verdict asked for (q76 proves it over a
    * multi-byte corpus; on ASCII input it equals [[fnvSql]] exactly). */
  private def fnvSqlBytes(col: String): String =
    mix64Sql(
      s"""list_reduce(list_prepend(14695981039346656037::HUGEINT,
         |        list_transform(range(0, CAST(octet_length(encode($col)) AS BIGINT)),
         |          i -> CAST(strpos('0123456789ABCDEF', substring(hex(encode($col)), CAST(2*i+1 AS BIGINT), 1)) - 1 AS HUGEINT) * 16
         |             + CAST(strpos('0123456789ABCDEF', substring(hex(encode($col)), CAST(2*i+2 AS BIGINT), 1)) - 1 AS HUGEINT))),
         |      (h, c) -> ${mulmod64("xor(h, c)", "1099511628211::HUGEINT")})""".stripMargin)

  /** q25's per-slot remix keys `mix64(seed + j)` (seed 7, k = 64) as
    * `(j, kj)` VALUES — data-independent constants, like q31's weights. */
  private lazy val oracleMinhashSlotValues: String =
    (0 until 64).map { j =>
      s"($j, ${java.lang.Long.toUnsignedString(graft.expr.TextOps.mix64(7L + j))}::HUGEINT)"
    }.mkString(",")

  /** The full MinHash banding replay as a CTE chain ending in
    * `keys(doc_id, bk)` — raw text → word 3-shingles → FNV/mix64 shingle
    * hashes → 64 min-slots → 16 FNV band keys. Shared by the q25 pair
    * oracle, the q63 first-wins dedup oracle, and (over the gated
    * survivor set) the q65 pipeline oracle. `src` must expose
    * `(doc_id, text)`. */
  private def minhashBandCtes(src: String = "documents",
                              byteTrueFnv: Boolean = false): String =
    s"""toks AS (
       |  -- list_filter mirrors TextOps.tokens, which drops empty tokens
       |  -- produced by leading/trailing NON-SPACE whitespace (SQL trim
       |  -- strips spaces only) — same divergence q70 fixed for '\\n'-padded
       |  -- corpora; len(tk) gates below therefore count REAL tokens
       |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'),
       |    t -> t <> '') AS tk FROM $src),
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

  /** DuckDB Sutherland–Hodgman half-plane clip of point-list column `p`
    * by the directed edge `e1 -> e2` (inside = left); `e1`/`e2` are SQL
    * `[x,y]` expressions. Mirrors the textbook emit rule (entering edges
    * emit the crossing then the vertex; leaving edges emit the crossing). */
  private def hpClip(p: String, e1: String, e2: String): String = {
    def side(q: String): String =
      s"(($e2[1] - $e1[1]) * ($q[2] - $e1[2]) - ($e2[2] - $e1[2]) * ($q[1] - $e1[1]))"
    val c = s"$p[k]"
    val pv = s"$p[CASE WHEN k = 1 THEN len($p) ELSE k - 1 END]"
    val sc = side(c)
    val sp = side(pv)
    val t = s"($sp / ($sp - $sc))"
    val ip = s"[$pv[1] + $t * ($c[1] - $pv[1]), $pv[2] + $t * ($c[2] - $pv[2])]"
    s"""flatten(list_transform(generate_series(1, len($p)), k ->
       |      CASE WHEN $sc >= 0 AND $sp < 0 THEN [$ip, $c]
       |           WHEN $sc >= 0 THEN [$c]
       |           WHEN $sp >= 0 THEN [$ip]
       |           ELSE CAST([] AS DOUBLE[][]) END))""".stripMargin
  }

  /** Strict point-in-ring SQL (on-edge excluded), `ring` an OPEN
    * `[[x,y],...]` list column — the open-ring form of [[pipHitsCtes]]'
    * ray cast (same fused on-segment + even-odd shape). */
  private def pipExpr(qx: String, qy: String, ring: String): String = {
    val prs = s"list_zip(list_prepend($ring[len($ring)], $ring[1:len($ring)-1]), $ring)"
    s"""(len(list_filter($prs, pr ->
       |      (pr[2][1] - pr[1][1]) * ($qy - pr[1][2]) - (pr[2][2] - pr[1][2]) * ($qx - pr[1][1]) = 0
       |      AND $qx >= least(pr[1][1], pr[2][1]) AND $qx <= greatest(pr[1][1], pr[2][1])
       |      AND $qy >= least(pr[1][2], pr[2][2]) AND $qy <= greatest(pr[1][2], pr[2][2]))) = 0
       |    AND len(list_filter($prs, pr ->
       |      ((pr[2][2] > $qy) != (pr[1][2] > $qy))
       |      AND $qx < (pr[1][1] - pr[2][1]) * ($qy - pr[2][2]) / (pr[1][2] - pr[2][2]) + pr[2][1])) % 2 = 1)""".stripMargin
  }

  /** Shared CTE prefix for q43/q44: the clip candidates and their
    * (item edge x boundary edge) pair expansion. */
  private def clipCandsCtes: String =
    s"""${inputCte("tbounds", materialized = true)},
       |${inputCte("ivals", materialized = true)},
       |cands AS (
       |  SELECT * FROM ivals JOIN tbounds USING (clubId, courseId, holeNumber)),
       |pairs AS (
       |  SELECT clubId, courseId, holeNumber, itemSeq, itemType,
       |    iring[i] AS a1, iring[CASE WHEN i = len(iring) THEN 1 ELSE i + 1 END] AS a2,
       |    bring[j] AS b1, bring[CASE WHEN j = len(bring) THEN 1 ELSE j + 1 END] AS b2
       |  FROM cands,
       |    unnest(generate_series(1, len(iring))) AS gi(i),
       |    unnest(generate_series(1, len(bring))) AS gj(j))""".stripMargin

  /** Shared CTEs for the raster-family oracles: enumerate each boundary's
    * covering z-17 tiles (same tile formulas the q14 oracle pinned), build
    * each tile's 8x8 sample grid ONCE (DuckDB lacks sinh; `(e^x-e^-x)/2`
    * substitutes — it feeds covers DECISIONS, not output values, and the
    * full 5443-mask set was verified bit-identical), ray-cast every sample
    * with the engine's exact st_covers semantics, and pack the 64-bit
    * mask via HUGEINT (DuckDB's BIGINT `<<` overflows at bit 63). */
  private def tileMaskedCtes: String = {
    val n = s"${1L << 17}.0"
    val inner = s"pi() * (1.0 - 2.0 * (CAST(ty AS DOUBLE) + (CAST(i AS DOUBLE) + 0.5) / 8.0) / $n)"
    val latS = s"degrees(atan((exp($inner) - exp(-($inner))) / 2.0))"
    val lonS = s"(CAST(tx AS DOUBLE) + (CAST(j AS DOUBLE) + 0.5) / 8.0) / $n * 360.0 - 180.0"
    s"""${inputCte("bounds", materialized = true)},
       |tiles AS (
       |  SELECT *,
       |    CAST(floor((minx + 180.0) / 360.0 * $n) AS BIGINT) AS tx0,
       |    CAST(floor((maxx + 180.0) / 360.0 * $n) AS BIGINT) AS tx1,
       |    CAST(floor((1.0 - ln(tan(radians(maxy)) + 1.0 / cos(radians(maxy))) / pi()) / 2.0 * $n) AS BIGINT) AS ty0,
       |    CAST(floor((1.0 - ln(tan(radians(miny)) + 1.0 / cos(radians(miny))) / pi()) / 2.0 * $n) AS BIGINT) AS ty1
       |  FROM bounds),
       |grid AS (
       |  SELECT t.clubId, t.courseId, t.holeNumber, gx.tx, gy.ty,
       |    list_zip(list_prepend(t.ring[len(t.ring)], t.ring[1:len(t.ring)-1]), t.ring) AS prs,
       |    flatten(list_transform(generate_series(0, 7), i ->
       |      list_transform(generate_series(0, 7), j ->
       |        [$lonS, $latS, CAST(i * 8 + j AS DOUBLE)]))) AS samples
       |  FROM tiles t, unnest(generate_series(tx0, tx1)) gx(tx), unnest(generate_series(ty0, ty1)) gy(ty)),
       |bits AS (
       |  SELECT clubId, courseId, holeNumber, tx, ty,
       |    list_transform(samples, s ->
       |      CASE WHEN (
       |        len(list_filter(prs, pr ->
       |          (pr[2][1] - pr[1][1]) * (s[2] - pr[1][2]) - (pr[2][2] - pr[1][2]) * (s[1] - pr[1][1]) = 0
       |          AND s[1] >= least(pr[1][1], pr[2][1]) AND s[1] <= greatest(pr[1][1], pr[2][1])
       |          AND s[2] >= least(pr[1][2], pr[2][2]) AND s[2] <= greatest(pr[1][2], pr[2][2]))) > 0
       |        OR
       |        len(list_filter(prs, pr ->
       |          ((pr[2][2] > s[2]) != (pr[1][2] > s[2]))
       |          AND s[1] < (pr[1][1] - pr[2][1]) * (s[2] - pr[2][2]) / (pr[1][2] - pr[2][2]) + pr[2][1])) % 2 = 1
       |      ) THEN (CAST(1 AS HUGEINT) << CAST(s[3] AS INT)) ELSE CAST(0 AS HUGEINT) END) AS bitvals
       |  FROM grid),
       |masked AS (
       |  SELECT clubId, courseId, holeNumber, CAST(17 AS INT) AS z, tx AS x, ty AS y,
       |    list_reduce(list_transform(generate_series(0, 16), k ->
       |      CAST(((tx >> (16 - k)) & 1) + 2 * ((ty >> (16 - k)) & 1) AS VARCHAR)),
       |      (a, b) -> a || b) AS qk,
       |    CAST(CASE WHEN mh >= CAST('9223372036854775808' AS HUGEINT)
       |      THEN mh - CAST('18446744073709551616' AS HUGEINT) ELSE mh END AS BIGINT) AS mask,
       |    CAST(n_set AS DOUBLE) / 64.0 AS coverage
       |  FROM (SELECT *, list_reduce(list_prepend(CAST(0 AS HUGEINT), bitvals), (a, b) -> a | b) AS mh,
       |          len(list_filter(bitvals, b -> b != 0)) AS n_set FROM bits)
       |  WHERE mh != 0)""".stripMargin
  }

  /** The multi-piece containment replay: per-piece envelope prefilter,
    * per-piece on-edge + even-odd ray cast (the same list arithmetic as
    * [[pipHitsCtes]]), then the containsStrict rule aggregated per
    * (page, hole): on ANY piece's edge -> excluded, inside any piece ->
    * hit. Ends in `hitsm(url, lon, lat, clubId, courseId, holeNumber)`. */
  private def pipHitsMultiCtes: String =
    s"""${inputCte("boundsm")},
       |candm AS (
       |  SELECT p.url, p.lon, p.lat, b.clubId, b.courseId, b.holeNumber, b.piece,
       |    list_zip(list_prepend(b.ring[len(b.ring)], b.ring[1:len(b.ring)-1]), b.ring) AS prs
       |  FROM pages p JOIN boundsm b
       |    ON p.lon >= b.minx AND p.lon <= b.maxx AND p.lat >= b.miny AND p.lat <= b.maxy
       |),
       |relm AS (
       |  SELECT url, lon, lat, clubId, courseId, holeNumber, piece,
       |    (len(list_filter(prs, pr ->
       |      (pr[2][1] - pr[1][1]) * (lat - pr[1][2]) - (pr[2][2] - pr[1][2]) * (lon - pr[1][1]) = 0
       |      AND lon >= least(pr[1][1], pr[2][1]) AND lon <= greatest(pr[1][1], pr[2][1])
       |      AND lat >= least(pr[1][2], pr[2][2]) AND lat <= greatest(pr[1][2], pr[2][2]))) > 0) AS onedge,
       |    (len(list_filter(prs, pr ->
       |      ((pr[2][2] > lat) != (pr[1][2] > lat))
       |      AND lon < (pr[1][1] - pr[2][1]) * (lat - pr[2][2]) / (pr[1][2] - pr[2][2]) + pr[2][1])) % 2 = 1) AS inside
       |  FROM candm
       |),
       |hitsm AS (
       |  SELECT url, lon, lat, clubId, courseId, holeNumber
       |  FROM relm GROUP BY url, lon, lat, clubId, courseId, holeNumber
       |  HAVING sum(CASE WHEN onedge THEN 1 ELSE 0 END) = 0
       |     AND sum(CASE WHEN inside THEN 1 ELSE 0 END) > 0
       |)""".stripMargin

  /** Shared CTE tail: strict shapely-`contains` ray cast in DuckDB SQL —
    * the EXACT expression shapes of `GeoOps.stContainsFlat` (fused
    * on-edge exclusion + even-odd crossing over (prev, cur) edge pairs of
    * the closed ring, wraparound edge included), evaluated on the oracle
    * boundary coordinates. `pr[1]` = prev vertex, `pr[2]` = cur vertex;
    * the inclusive envelope pre-join only ADDS candidates (a strictly
    * interior point is never outside the envelope). */
  private def pipHitsCtes: String =
    s"""${inputCte("bounds")},
       |cand AS (
       |  SELECT p.*, b.clubId, b.courseId, b.holeNumber,
       |    list_zip(list_prepend(b.ring[len(b.ring)], b.ring[1:len(b.ring)-1]), b.ring) AS prs
       |  FROM pages p JOIN bounds b
       |    ON p.lon >= b.minx AND p.lon <= b.maxx AND p.lat >= b.miny AND p.lat <= b.maxy
       |),
       |hits AS (
       |  SELECT * FROM cand
       |  WHERE len(list_filter(prs, pr ->
       |      (pr[2][1] - pr[1][1]) * (lat - pr[1][2]) - (pr[2][2] - pr[1][2]) * (lon - pr[1][1]) = 0
       |      AND lon >= least(pr[1][1], pr[2][1]) AND lon <= greatest(pr[1][1], pr[2][1])
       |      AND lat >= least(pr[1][2], pr[2][2]) AND lat <= greatest(pr[1][2], pr[2][2]))) = 0
       |    AND len(list_filter(prs, pr ->
       |      ((pr[2][2] > lat) != (pr[1][2] > lat))
       |      AND lon < (pr[1][1] - pr[2][1]) * (lat - pr[2][2]) / (pr[1][2] - pr[2][2]) + pr[2][1])) % 2 = 1
       |)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS n_rows
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_extendedprice * (1.0 - l_discount) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
        |  AND l_quantity > 30""".stripMargin,

    "q03_join_agg" ->
      """SELECT r_name, n_name,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,

    "q04_semi_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin,

    "q05_anti_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin,

    "q06_window_topk" ->
      """SELECT o_custkey, o_orderkey, rnk FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders) WHERE rnk <= 2""".stripMargin,

    "q07_sort_limit" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""".stripMargin,

    "q08_set_ops" ->
      """SELECT nk, 'cust_only' AS tag FROM (
        |  SELECT DISTINCT c_nationkey AS nk FROM customer
        |  EXCEPT SELECT DISTINCT s_nationkey AS nk FROM supplier)
        |UNION ALL
        |SELECT nk, 'both' AS tag FROM (
        |  SELECT DISTINCT c_nationkey AS nk FROM customer
        |  INTERSECT SELECT DISTINCT s_nationkey AS nk FROM supplier)""".stripMargin,

    "q09_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""".stripMargin,

    "q10_distinct_agg" ->
      """SELECT c_mktsegment, count(DISTINCT c_nationkey) AS n_nations, count(*) AS n_cust
        |FROM customer GROUP BY c_mktsegment""".stripMargin,

    "q11_moving_avg" ->
      """SELECT user_id, event_id,
        |  round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 4 PRECEDING AND 4 FOLLOWING), 6) AS mov_avg
        |FROM events""".stripMargin,

    "q12_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events""".stripMargin,

    "q13_date_trunc" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1""".stripMargin,

    "q14_tile_assign" -> (pagesCte +
      """
        |SELECT page_id,
        |  CAST(floor((lon + 180.0) / 360.0 * 32768.0) AS BIGINT) AS tx,
        |  CAST(floor((1.0 - ln(tan(radians(lat)) + 1.0 / cos(radians(lat))) / pi()) / 2.0 * 32768.0) AS BIGINT) AS ty
        |FROM pages""".stripMargin),

    "q15_cell_xy" -> (pagesCte +
      """
        |SELECT page_id,
        |  CAST(floor((lon + 180.0) / 360.0 * 32768.0) AS BIGINT) AS cx,
        |  CAST(floor((90.0 - lat) / 180.0 * 32768.0) AS BIGINT) AS cy
        |FROM pages""".stripMargin),

    "q16_pip_rect" -> (pagesCte +
      """
        |SELECT page_id, url FROM pages
        |WHERE lon > 116.0 AND lon < 117.0 AND lat > 39.5 AND lat < 40.5""".stripMargin),

    "q17_tumbling_window" -> (pagesCte +
      """
        |SELECT date_trunc('hour', warc_ts) AS wstart, lang, count(*) AS n
        |FROM pages GROUP BY 1, 2""".stripMargin),

    "q18_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin,

    "q19_sessionize" ->
      """SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  count(*) AS n_events, min(ts) AS t_start, max(ts) AS t_end
        |FROM (
        |  SELECT user_id, ts, event_id,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
        |  FROM (
        |    SELECT user_id, ts, event_id,
        |      CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
        |        THEN 1 ELSE 0 END AS new_sess
        |    FROM (
        |      SELECT user_id, ts, event_id,
        |        lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |      FROM events)))
        |GROUP BY user_id, session_id""".stripMargin,

    "q20_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY text""".stripMargin,

    // session_window replay: session = maximal run of events whose gap to
    // the previous is <= 30 min. Spark MERGES ADJACENT windows — next
    // start == current end, i.e. diff == gap, still merges — so a new
    // session starts only at diff STRICTLY > gap (pinned empirically by
    // StreamingSpec's adversarial-timestamp property fuzz, which caught
    // the >= form this replay originally used); session_end = last + gap
    "q58_session_window" ->
      """SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end, count(*) AS n_events
        |FROM (
        |  SELECT user_id, ts,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
        |  FROM (
        |    SELECT user_id, ts, event_id,
        |      CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
        |        THEN 1 ELSE 0 END AS new_sess
        |    FROM (
        |      SELECT user_id, ts, event_id,
        |        lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |      FROM events)))
        |GROUP BY user_id, session_id""".stripMargin,

    // DuckDB's native ASOF JOIN is the oracle for the composed
    // union+window as-of; strict inequality via q.ts > e.ts
    "q57_asof_join" ->
      """WITH dedup AS (
        |  SELECT user_id, ts, max(event_id) AS event_id, max(value) AS value
        |  FROM events GROUP BY user_id, ts),
        |q AS (SELECT user_id, ts, event_id FROM dedup WHERE event_id % 20 = 0)
        |SELECT q.event_id AS query_event_id, e.event_id AS prev_event_id,
        |  e.value AS prev_value
        |FROM q ASOF JOIN dedup e ON q.user_id = e.user_id AND q.ts > e.ts""".stripMargin,

    "q21_token_stats" ->
      """SELECT doc_id,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents""".stripMargin,

    "q22_quality_score" ->
      """SELECT doc_id, n_tokens, n_chars,
        |  round(CAST(n_chars - n_spaces AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS avg_token_len,
        |  (n_tokens >= 20 AND n_tokens <= 1000) AS is_quality
        |FROM (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS n_spaces
        |  FROM documents)""".stripMargin,

    "q28_bpe_tokens" ->
      """SELECT doc_id,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9''\s]+|\s+')) AS BIGINT) AS n_bpe_tokens
        |FROM documents""".stripMargin,

    "q29_stopword_ratio" ->
      """SELECT doc_id, n_stop,
        |  round(CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS stop_ratio
        |FROM (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |      t -> t IN ('the','a','and','of','to','in','is','it','for','on'))) AS BIGINT) AS n_stop,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents)""".stripMargin,

    "q32_embed_dup_pairs" ->
      """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.451""".stripMargin,

    "q35_media_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN (doc_id % 4 + 1) * 64 END AS INT) AS width,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN (doc_id % 3 + 1) * 64 END AS INT) AS height,
        |  CAST(CASE WHEN doc_id % 3 = 1 THEN 16000 END AS INT) AS sample_rate,
        |  CAST(CASE WHEN doc_id % 3 = 2 THEN 16 END AS INT) AS n_frames,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 64 WHEN doc_id % 3 = 1 THEN 128 ELSE 256 END AS INT) AS n_bytes
        |FROM documents""".stripMargin,

    "q30_knn_brute" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 8)
        |SELECT query_id, rank, vec_id FROM (
        |  SELECT q.query_id, e.vec_id,
        |    row_number() OVER (PARTITION BY q.query_id
        |      ORDER BY list_cosine_similarity(e.embedding, q.qvec) DESC, e.vec_id) AS rank
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id)
        |WHERE rank <= 10""".stripMargin,

    // fingerprint(text) groups by the whitespace-normalized token sequence
    "q23_fingerprint_dedup" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents
        |GROUP BY array_to_string(string_split_regex(trim(text), '\s+'), ' ')""".stripMargin,

    // profile score = #profile words present in toks (array_intersect is
    // distinct and profiles are distinct); CASE chain = first-max-wins
    // same chain through DuckDB's utf8proc NFC — decomposed VALUES
    // literals survive the JSON round-trip byte-exactly
    "q88_text_normalize" ->
      s"""WITH docs AS (SELECT * FROM (VALUES $oracleNormCorpusValues) d(doc_id, text)),
         |n AS (SELECT doc_id, text,
         |  trim(regexp_replace(lower(nfc_normalize(text)), '\\s+', ' ', 'g')) AS norm
         |  FROM docs)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id, norm,
         |  CAST(octet_length(encode(text)) AS INT) AS bytes_before,
         |  CAST(octet_length(encode(norm)) AS INT) AS bytes_after,
         |  (norm <> text) AS changed
         |FROM n""".stripMargin,

    // the full sketch replayed: every slot hash (FNV + splitmix64 over
    // HUGEINT), every counter cell, every min-estimate re-derived
    "q82_cms_heavy_hitters" -> (pagesCte + s""",
      |hosts AS (SELECT regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS k FROM pages),
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
      |FROM exact JOIN est ON est.k = exact.k""".stripMargin),

    // CMS merge replayed both ways: per-shard counters summed vs the
    // direct table (exact-additive identity -> mismatch recomputed in
    // SQL), estimates from the MERGED counters
    "q107_cms_merge" -> (pagesCte + s""",
      |hosts AS (SELECT url, regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS k FROM pages),
      |hh AS (SELECT k, CAST(${fnvSql("url")} % 4 AS BIGINT) AS grp, ${fnvSql("k")} AS h FROM hosts),
      |b AS (SELECT k, grp, j,
      |    CAST(${mix64Sql("xor(h, CAST(j AS HUGEINT))")} % 1024 AS BIGINT) AS bucket
      |  FROM hh CROSS JOIN unnest([0,1,2,3]) AS t(j)),
      |byshard AS (SELECT grp, j, bucket, count(*) AS cnt FROM b GROUP BY grp, j, bucket),
      |merged AS (SELECT j, bucket, sum(cnt) AS cnt FROM byshard GROUP BY j, bucket),
      |direct AS (SELECT j, bucket, count(*) AS cnt FROM b GROUP BY j, bucket),
      |mis AS (SELECT CAST(coalesce(sum(
      |    CASE WHEN coalesce(a.cnt, 0) = coalesce(d.cnt, 0) THEN 0 ELSE 1 END), 0) AS BIGINT)
      |    AS n_counter_mismatch
      |  FROM merged a FULL JOIN direct d USING (j, bucket)),
      |ks AS (SELECT DISTINCT k, j, bucket FROM b),
      |est AS (SELECT ks.k, min(c.cnt) AS cms_est
      |        FROM ks JOIN merged c USING (j, bucket) GROUP BY ks.k),
      |exact AS (SELECT k, count(*) AS exact_n FROM hosts GROUP BY k)
      |SELECT exact.k AS host, exact_n, CAST(cms_est AS BIGINT) AS cms_est,
      |  (cms_est >= exact_n) AS never_under,
      |  (SELECT n_counter_mismatch FROM mis) AS n_counter_mismatch
      |FROM exact JOIN est ON est.k = exact.k""".stripMargin),

    // HLL replayed end-to-end: register indexes/ranks from the same
    // hash (leading zeros via 64 - len(bin(w)) in the unsigned domain),
    // integer harmonic numerator in HUGEINT, the identical scale
    // constant divided in DOUBLE
    "q83_hll_distinct" -> (pagesCte + s""",
      |hosts AS (SELECT regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS k FROM pages),
      |hh AS (SELECT ${fnvSql("k")} AS h FROM hosts),
      |rr AS (
      |  SELECT CAST(h // 288230376151711744 AS BIGINT) AS idx,
      |    CASE WHEN (h * 64) % $Wrap64 = 0 THEN ${graft.pipeline.Sketch.HllMaxRank}
      |         ELSE CAST(65 - length(bin((h * 64) % $Wrap64)) AS INT) END AS rank
      |  FROM hh),
      |regs AS (SELECT idx, max(rank) AS m FROM rr GROUP BY idx),
      |allreg AS (SELECT t.range AS idx FROM range(0, ${graft.pipeline.Sketch.HllM}) t),
      |jm AS (SELECT coalesce(m, 0) AS m FROM allreg LEFT JOIN regs USING (idx)),
      |agg AS (SELECT
      |    sum(CAST(CAST(1 AS BIGINT) << (${graft.pipeline.Sketch.HllMaxRank} - m) AS HUGEINT)) AS num,
      |    sum(CASE WHEN m > 0 THEN 1 ELSE 0 END) AS occupied FROM jm)
      |SELECT ${dlit(graft.pipeline.Sketch.HllNumeratorScale)} / CAST(num AS DOUBLE) AS hll_estimate,
      |  CASE WHEN ${dlit(graft.pipeline.Sketch.HllNumeratorScale)} / CAST(num AS DOUBLE)
      |         <= ${dlit(2.5 * graft.pipeline.Sketch.HllM)} AND (64 - occupied) > 0
      |       THEN round(64.0 * ln(64.0 / CAST(64 - occupied AS DOUBLE)), 6)
      |       ELSE round(${dlit(graft.pipeline.Sketch.HllNumeratorScale)} / CAST(num AS DOUBLE), 6)
      |  END AS hll_corrected,
      |  CAST(occupied AS BIGINT) AS occupied,
      |  (SELECT count(DISTINCT k) FROM hosts) AS exact_distinct
      |FROM agg""".stripMargin),

    // sketch-merge replay: per-shard registers, register-wise max union,
    // identity vs the direct sketch as a graded count, then q83's exact
    // estimate arithmetic per (shard ∪ merged) row
    "q97_hll_merge" -> (pagesCte + s""",
      |hosts AS (SELECT url, regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS k FROM pages),
      |hh AS (SELECT CAST(${fnvSql("url")} % 4 AS BIGINT) AS grp, ${fnvSql("k")} AS h FROM hosts),
      |rr AS (SELECT grp,
      |    CAST(h // 288230376151711744 AS BIGINT) AS idx,
      |    CASE WHEN (h * 64) % $Wrap64 = 0 THEN ${graft.pipeline.Sketch.HllMaxRank}
      |         ELSE CAST(65 - length(bin((h * 64) % $Wrap64)) AS INT) END AS rank
      |  FROM hh),
      |regsby AS (SELECT grp, idx, max(rank) AS m FROM rr GROUP BY grp, idx),
      |merged AS (SELECT CAST(-1 AS BIGINT) AS grp, idx, max(m) AS m FROM regsby GROUP BY idx),
      |direct AS (SELECT idx, max(rank) AS m FROM rr GROUP BY idx),
      |mis AS (SELECT CAST(coalesce(sum(
      |    CASE WHEN coalesce(a.m, 0) = coalesce(b.m, 0) THEN 0 ELSE 1 END), 0) AS BIGINT)
      |    AS n_register_mismatch
      |  FROM merged a FULL JOIN direct b USING (idx)),
      |allregs AS (SELECT * FROM regsby UNION ALL SELECT * FROM merged),
      |grid AS (SELECT g.grp, t.range AS idx
      |  FROM (SELECT DISTINCT grp FROM allregs) g, range(0, ${graft.pipeline.Sketch.HllM}) t),
      |jm AS (SELECT grid.grp, coalesce(ar.m, 0) AS m
      |  FROM grid LEFT JOIN allregs ar ON ar.grp = grid.grp AND ar.idx = grid.idx),
      |agg AS (SELECT grp,
      |    sum(CAST(CAST(1 AS BIGINT) << (${graft.pipeline.Sketch.HllMaxRank} - m) AS HUGEINT)) AS num,
      |    sum(CASE WHEN m > 0 THEN 1 ELSE 0 END) AS occupied FROM jm GROUP BY grp)
      |SELECT grp,
      |  ${dlit(graft.pipeline.Sketch.HllNumeratorScale)} / CAST(num AS DOUBLE) AS hll_estimate,
      |  CASE WHEN ${dlit(graft.pipeline.Sketch.HllNumeratorScale)} / CAST(num AS DOUBLE)
      |         <= ${dlit(2.5 * graft.pipeline.Sketch.HllM)} AND (64 - occupied) > 0
      |       THEN round(64.0 * ln(64.0 / CAST(64 - occupied AS DOUBLE)), 6)
      |       ELSE round(${dlit(graft.pipeline.Sketch.HllNumeratorScale)} / CAST(num AS DOUBLE), 6)
      |  END AS hll_corrected,
      |  CAST(occupied AS BIGINT) AS occupied,
      |  (SELECT n_register_mismatch FROM mis) AS n_register_mismatch
      |FROM agg""".stripMargin),

    // bloom membership replayed as "every probe idx IN the distinct
    // build-idx set" — structurally different SQL from the engine's
    // word/bit table, identical semantics (bit (idx>>6, idx&63) is set
    // iff some build key produced exactly idx); blocklist = q84's
    // sign-adjusted bottom-k ordering over url hashes
    "q100_bloom_semijoin" -> (pagesCte + s""",
      |bh AS (SELECT url, ${fnvSql("url")} AS hu FROM pages),
      |block AS (SELECT url, hu FROM (
      |    SELECT url, hu, CAST(CASE WHEN hu >= 9223372036854775808::HUGEINT
      |      THEN hu - $Wrap64 ELSE hu END AS BIGINT) AS hs FROM bh)
      |  ORDER BY hs, url LIMIT 256),
      |bset AS (SELECT DISTINCT CAST(${mix64Sql("xor(hu, CAST(j AS HUGEINT))")} % 2048 AS BIGINT) AS idx
      |  FROM block, (VALUES (0), (1), (2)) jj(j)),
      |probe AS (SELECT url, regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
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
      |FROM tested GROUP BY host""".stripMargin),

    // duplicated 8-gram spans: q70's tokenization parity forms, gram hash
    // = fnv over the joined shingle string, gaps-and-islands merge
    // (lag == running max because span starts sort ascending per doc)
    "q101_substring_dedup" ->
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'),
         |    t -> t <> '') AS tk FROM documents),
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
         |      FROM isl GROUP BY doc_id, island)""".stripMargin,

    // KMV quantile sketch replay: sample membership by sign-adjusted
    // mix64 order (the q84 rule), merge = bottom-k of per-shard
    // bottom-ks, estimates as order statistics, ranks exact-integer
    "q102_kmv_quantiles" ->
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
         |JOIN mis ON mis.lang = e.lang""".stripMargin,

    // incremental-sketch replay: v1/increment/v2 row sets re-derived from
    // nation (the q61 snapshot fixture rule), registers + estimates via
    // the q97 machinery, merged = register-max of grp 1 and 2
    "q103_incremental_sketch" -> (s"""
      |WITH allrows AS (
      |  SELECT n_name AS k, 1 AS grp FROM nation
      |  UNION ALL SELECT n_name, 2 FROM nation WHERE n_nationkey < 10
      |  UNION ALL SELECT n_name, 3 FROM nation
      |  UNION ALL SELECT n_name, 3 FROM nation WHERE n_nationkey < 10),
      |hh AS (SELECT CAST(grp AS BIGINT) AS grp, ${fnvSql("k")} AS h FROM allrows),
      |rr AS (SELECT grp,
      |    CAST(h // 288230376151711744 AS BIGINT) AS idx,
      |    CASE WHEN (h * 64) % $Wrap64 = 0 THEN ${graft.pipeline.Sketch.HllMaxRank}
      |         ELSE CAST(65 - length(bin((h * 64) % $Wrap64)) AS INT) END AS rank
      |  FROM hh),
      |regsby AS (SELECT grp, idx, max(rank) AS m FROM rr GROUP BY grp, idx),
      |merged AS (SELECT CAST(4 AS BIGINT) AS grp, idx, max(m) AS m
      |  FROM regsby WHERE grp IN (1, 2) GROUP BY idx),
      |direct AS (SELECT idx, m FROM regsby WHERE grp = 3),
      |mis AS (SELECT CAST(coalesce(sum(
      |    CASE WHEN coalesce(a.m, 0) = coalesce(b.m, 0) THEN 0 ELSE 1 END), 0) AS BIGINT)
      |    AS n_register_mismatch
      |  FROM merged a FULL JOIN direct b USING (idx)),
      |allregs AS (SELECT * FROM regsby UNION ALL SELECT * FROM merged),
      |grid AS (SELECT g.grp, t.range AS idx
      |  FROM (SELECT DISTINCT grp FROM allregs) g, range(0, ${graft.pipeline.Sketch.HllM}) t),
      |jm AS (SELECT grid.grp, coalesce(ar.m, 0) AS m
      |  FROM grid LEFT JOIN allregs ar ON ar.grp = grid.grp AND ar.idx = grid.idx),
      |agg AS (SELECT grp,
      |    sum(CAST(CAST(1 AS BIGINT) << (${graft.pipeline.Sketch.HllMaxRank} - m) AS HUGEINT)) AS num,
      |    sum(CASE WHEN m > 0 THEN 1 ELSE 0 END) AS occupied FROM jm GROUP BY grp)
      |SELECT grp,
      |  ${dlit(graft.pipeline.Sketch.HllNumeratorScale)} / CAST(num AS DOUBLE) AS hll_estimate,
      |  CASE WHEN ${dlit(graft.pipeline.Sketch.HllNumeratorScale)} / CAST(num AS DOUBLE)
      |         <= ${dlit(2.5 * graft.pipeline.Sketch.HllM)} AND (64 - occupied) > 0
      |       THEN round(64.0 * ln(64.0 / CAST(64 - occupied AS DOUBLE)), 6)
      |       ELSE round(${dlit(graft.pipeline.Sketch.HllNumeratorScale)} / CAST(num AS DOUBLE), 6)
      |  END AS hll_corrected,
      |  CAST(occupied AS BIGINT) AS occupied,
      |  (SELECT n_register_mismatch FROM mis) AS n_register_mismatch
      |FROM agg""".stripMargin),

    // weighted sample replay: per-copy draws via generate_series(0, w-1),
    // min over SIGN-ADJUSTED priorities (the q84 signed-order rule),
    // weights from the same literal lang map
    "q104_weighted_sample" ->
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
         |ORDER BY priority, doc_id LIMIT 150""".stripMargin,

    // CDC replay: the rolling Gear hash re-derived POSITION-LOCALLY —
    // h_i as the explicit 64-term windowed sum (gear(b_j) << (i-j) mod
    // 2^64, products split 32/32), cuts where the top 6 bits vanish,
    // chunk spans via a lag window over the bounds, chunk hashes via
    // the shared FNV replay over the substring
    "q109_cdc_chunks" ->
      s"""WITH ${cdcChunkCtes("documents", Seq("doc_id"))},
         |counts AS (SELECT chash, count(*) AS cnt FROM cchunks GROUP BY chash)
         |SELECT doc_id, count(*) AS n_chunks,
         |  CAST(sum(clen) AS BIGINT) AS total_bytes,
         |  CAST(sum(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
         |  CAST(sum(CASE WHEN cnt >= 2 THEN clen ELSE 0 END) AS BIGINT) AS dup_bytes
         |FROM cchunks JOIN counts USING (chash) GROUP BY doc_id""".stripMargin,

    // delta replay: v2 derived by the identical midpoint-insert
    // expression, both versions chunked by the same windowed-sum
    // machinery (ver carried through the CTEs), multiset reuse/churn
    // via a per-(doc, hash) full join
    "q112_cdc_delta" ->
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
         |FROM j GROUP BY doc_id""".stripMargin,

    // range-sort replay: the value-independent sample re-drawn by
    // sign-adjusted mix64 order, boundaries as order statistics of the
    // sample at ranks i*k/B, bucket = count of boundaries lexicographically
    // <= (v, id), then the same per-bucket stats + mono certificate
    "q108_range_partition" ->
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
         |FROM agg""".stripMargin,

    // streaming-sketch replay: the register table re-derived from raw
    // text (q83/q97 machinery); the engine's streamed registers must
    // match it value-for-value and report zero mismatch vs its own
    // batch twin
    "q106_streaming_sketch" ->
      s"""WITH hh AS (SELECT ${fnvSql("text")} AS h FROM documents),
         |rr AS (SELECT
         |    CAST(h // 288230376151711744 AS BIGINT) AS idx,
         |    CASE WHEN (h * 64) % $Wrap64 = 0 THEN ${graft.pipeline.Sketch.HllMaxRank}
         |         ELSE CAST(65 - length(bin((h * 64) % $Wrap64)) AS INT) END AS rank
         |  FROM hh)
         |SELECT idx, CAST(max(rank) AS INT) AS m,
         |  CAST(0 AS BIGINT) AS n_register_mismatch
         |FROM rr GROUP BY idx""".stripMargin,

    // the same canonicalization chain generated from Urls' constants
    "q80_url_canonical" ->
      s"""WITH urls AS (SELECT * FROM (VALUES $oracleUrlCorpusValues) u(url_id, url))
         |SELECT CAST(url_id AS BIGINT) AS url_id, url,
         |  ${graft.pipeline.Urls.canonicalizeSql("url")} AS canon
         |FROM urls""".stripMargin,

    // fluency = greatest(score folds) / (len-2), every double re-derived
    "q79_trigram_fluency" ->
      s"""WITH scored AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS len,
        |    ${graft.pipeline.TrigramLangId.scoreSql("text")}
        |  FROM documents)
        |SELECT doc_id,
        |  ${graft.pipeline.TrigramLangId.predCaseSql} AS pred_lang,
        |  CASE WHEN len < 3 THEN 0.0E0
        |       ELSE greatest(s1, s2, s3, s4) / (len - 2) END AS fluency
        |FROM scored""".stripMargin,

    // trigram NB: the model's log-prob maps emitted as literals, scores
    // re-summed in the same document order -> bit-identical doubles
    "q77_trigram_langid" ->
      s"""WITH scored AS (
        |  SELECT lang,
        |    ${graft.pipeline.TrigramLangId.scoreSql("text")}
        |  FROM documents)
        |SELECT lang,
        |  ${graft.pipeline.TrigramLangId.predCaseSql} AS pred_lang,
        |  count(*) AS n
        |FROM scored GROUP BY lang, pred_lang""".stripMargin,

    // scores + first-max CASE generated from pipeline.LangId's profile
    // constants — the same single definition the engine predicts with
    "q24_langid" ->
      s"""WITH scored AS (
        |  SELECT lang,
        |    ${graft.pipeline.LangId.scoreSql("text")}
        |  FROM documents)
        |SELECT lang,
        |  ${graft.pipeline.LangId.predCaseSql} AS pred_lang,
        |  count(*) AS n
        |FROM scored GROUP BY lang, pred_lang""".stripMargin,

    // StubDecoder dim-0 rolling hash replayed exactly: payload bytes are
    // md5 blocks of text, dim 0 folds bytes at i % 8 = 0 through
    // acc*1000003 + b + 1 (mod 2^64, via HUGEINT); f0 = (acc & 0xffffff)
    // / 2^24 is exactly representable in float32 AND float64, so the
    // engine's float feature equals the oracle's double bit-for-bit
    "q33_media_features" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
        |    CASE WHEN doc_id % 3 = 0 THEN 4 WHEN doc_id % 3 = 1 THEN 8 ELSE 16 END AS nb,
        |    text
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, media_type,
        |    list_reduce(
        |      list_prepend(CAST(0 AS HUGEINT),
        |        list_transform(generate_series(0, nb * 16 - 8, 8), i ->
        |          CAST(strpos('0123456789abcdef', substring(md5(text || ':' || CAST(i // 16 AS BIGINT)), (i % 16) * 2 + 1, 1)) - 1 AS HUGEINT) * 16
        |          + CAST(strpos('0123456789abcdef', substring(md5(text || ':' || CAST(i // 16 AS BIGINT)), (i % 16) * 2 + 2, 1)) - 1 AS HUGEINT))),
        |      (acc, b) -> (acc * 1000003 + b + 1) % CAST('18446744073709551616' AS HUGEINT)) AS v
        |  FROM m)
        |SELECT doc_id, media_type,
        |  round(CAST(v % 16777216 AS DOUBLE) / 16777216.0, 6) AS f0
        |FROM f""".stripMargin,

    // sampled video frame = one 16-byte md5 block of the synthetic payload
    "q34_frame_sample" ->
      """SELECT doc_id, frame_idx, CAST(16 AS INT) AS n_bytes,
        |  upper(md5(text || ':' || frame_idx)) AS frame_hex
        |FROM documents, unnest([0,2,4,6,8,10,12,14]) AS t(frame_idx)
        |WHERE doc_id % 3 = 2""".stripMargin,

    // full LSH-ANN replay: hyperplane weights are emitted as constants
    // (see oracleHyperplaneValues); DuckDB re-derives every dot sign,
    // bucket, candidate pair, exact cosine (engine accumulation order →
    // bit-identical sims) and rank
    "q31_ann_lsh" ->
      s"""WITH ${lshTop10Ctes()}
         |SELECT query_id, rank, vec_id, round(sim, 6) AS sim
         |FROM lshtop""".stripMargin,

    // recall of the LSH funnel vs an exact brute anchor AS GRADED COLUMNS
    // (the q82 pattern: the quality guarantee is asserted inside the
    // output) — over the dup corpus, where true near neighbors exist.
    // recall@10 is a rational n_hit/10 (exact in both engines); the
    // brute ranking replays the engine's exact double fold (cosSqlExpr,
    // not float32 list_cosine_similarity — the doubled corpus has
    // near-tied stranger ranks a float32 replay could flip).
    "q93_ann_recall" ->
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
         |FROM hits h JOIN top1 t USING (query_id) JOIN l1 USING (query_id)""".stripMargin,

    // trained-quantizer IVF, FULLY replayed: the id-sample seed, BOTH
    // k-means iterations (exact-cosine argmax assignment + quantized-mean
    // centroid update — both engines compute bit-identical centroids by
    // construction), the probes, and the final ranks
    "q62_ann_ivf_kmeans" ->
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
         |WHERE rank <= 10""".stripMargin,

    // per-dim scales re-derived (exact max agg), the same round/clamp
    // quantize, double reconstruction, and the engine's float-cast +
    // index-ordered cosine replayed
    "q71_embed_quantize" ->
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
         |FROM rr""".stripMargin,

    // full IVF replay: md5-ordered centroid sample, argmax list assignment
    // (ties to the smallest list_id), nProbe=4 probes, exact rank within
    "q36_ann_ivf" ->
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
        |WHERE rank <= 10""".stripMargin,

    // MinHash + LSH, FULLY replayed from raw text: word 3-shingles, the
    // FNV/splitmix64 shingle hash, all 64 min-slots (remix keys emitted as
    // constants), FNV band keys over the little-endian signature bytes,
    // the band equi-join, and the exact distinct-shingle jaccard verify —
    // every candidate the banding admits is independently re-derived
    "q25_minhash_pairs" ->
      s"""WITH ${minhashBandCtes()},
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM keys a JOIN keys b ON a.bk = b.bk AND a.doc_id < b.doc_id),
         |feat AS (SELECT doc_id, list_distinct(list(s)) AS sh, count(DISTINCT s) AS n
         |         FROM sh GROUP BY doc_id)
         |SELECT doc_a, doc_b, round(CAST(len(list_intersect(fa.sh, fb.sh)) AS DOUBLE) /
         |    (fa.n + fb.n - len(list_intersect(fa.sh, fb.sh))), 6) AS jaccard
         |FROM pairs JOIN feat fa ON fa.doc_id = doc_a JOIN feat fb ON fb.doc_id = doc_b
         |WHERE CAST(len(list_intersect(fa.sh, fb.sh)) AS DOUBLE) /
         |    (fa.n + fb.n - len(list_intersect(fa.sh, fb.sh))) >= 0.5""".stripMargin,

    // cohort replay: identical week-truncation and exact integer
    // microsecond week arithmetic
    "q119_cohort_retention" ->
      s"""WITH su AS (SELECT user_id, min(ts) AS s0 FROM events
         |  WHERE event_type = 'signup' GROUP BY user_id),
         |cohorts AS (SELECT user_id, s0, date_trunc('week', s0) AS cohort_week FROM su),
         |sizes AS (SELECT cohort_week, count(DISTINCT user_id) AS cohort_size
         |  FROM cohorts GROUP BY cohort_week),
         |act AS (SELECT c.cohort_week,
         |    CAST((epoch_us(e.ts) - epoch_us(c.s0)) // 604800000000 AS BIGINT) AS k,
         |    count(DISTINCT e.user_id) AS n_active
         |  FROM events e JOIN cohorts c ON c.user_id = e.user_id
         |  WHERE e.ts >= c.s0 GROUP BY 1, 2)
         |SELECT a.cohort_week, a.k, a.n_active, s.cohort_size,
         |  CAST((100 * a.n_active) // s.cohort_size AS BIGINT) AS ret_pct
         |FROM act a JOIN sizes s ON s.cohort_week = a.cohort_week""".stripMargin,

    // funnel replay: identical chained conditional-min semantics, exact
    // integer conversion latency via epoch_us
    "q118_funnel" ->
      s"""WITH t1 AS (SELECT user_id, min(ts) AS t1 FROM events
         |  WHERE event_type = 'view' GROUP BY user_id),
         |t2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
         |  JOIN t1 ON t1.user_id = e.user_id
         |  WHERE e.event_type = 'click' AND e.ts > t1.t1
         |    AND e.ts <= t1.t1 + INTERVAL 24 HOUR GROUP BY e.user_id),
         |t3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
         |  JOIN t2 ON t2.user_id = e.user_id
         |  WHERE e.event_type = 'purchase' AND e.ts > t2.t2
         |    AND e.ts <= t2.t2 + INTERVAL 24 HOUR GROUP BY e.user_id)
         |SELECT u.user_id, t1.t1, t2.t2, t3.t3,
         |  CAST(CASE WHEN t3.t3 IS NOT NULL THEN 3 WHEN t2.t2 IS NOT NULL THEN 2
         |       WHEN t1.t1 IS NOT NULL THEN 1 ELSE 0 END AS INT) AS stage,
         |  CASE WHEN t3.t3 IS NOT NULL THEN epoch_us(t3.t3) - epoch_us(t1.t1) END AS conv_us
         |FROM (SELECT DISTINCT user_id FROM events) u
         |LEFT JOIN t1 ON t1.user_id = u.user_id
         |LEFT JOIN t2 ON t2.user_id = u.user_id
         |LEFT JOIN t3 ON t3.user_id = u.user_id""".stripMargin,

    // adaptive-gate replay: the q79 bit-exact fluency fold, per-language
    // rank/count windows, and the integer-exact 4*rank > n decision
    "q116_adaptive_gate" ->
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
         |FROM r""".stripMargin,

    // simhash-estimate replay: q26's majority-vote signature CTEs (all
    // candidates, no hamming cut), bit agreement as the dyadic fraction,
    // exact cosine from token-count vectors (integer dot/norms, one
    // division, IEEE sqrt)
    "q117_simhash_estimate" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS s FROM documents),
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
         |    SELECT doc_id, unnest(list_filter(string_split_regex(trim(text), '\\s+'),
         |      t -> t <> '')) AS tok FROM documents) GROUP BY doc_id, tok),
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
         |LEFT JOIN dt d ON d.doc_a = p.doc_a AND d.doc_b = p.doc_b""".stripMargin,

    // BPE replay: the full six-round trainer re-run in SQL; the graded
    // frame is the ordered merge table the rounds produce
    "q114_bpe_train" ->
      s"""WITH ${bpeRoundCtes(6)}
         |SELECT * FROM (
         |  ${(1 to 6).map(r =>
              s"SELECT $r AS merge_rank, s1, s2, CAST(total AS BIGINT) AS total FROM b$r")
              .mkString("\n  UNION ALL ")})""".stripMargin,

    // tokenizer application replay: the same trainer CTEs, final state
    // s6 aggregated with the q91 order-sensitive concat pair
    "q115_bpe_tokenize" ->
      s"""WITH ${bpeRoundCtes(6)},
         |top AS (SELECT word, n FROM vocab ORDER BY n DESC, word LIMIT 20)
         |SELECT t.word, CAST(t.n AS BIGINT) AS n,
         |  string_agg(s.sym, '|' ORDER BY s.pos) AS toks
         |FROM top t JOIN s6 s ON s.word = t.word
         |GROUP BY t.word, t.n""".stripMargin,

    // vocab-growth replay: identical tokenization, first-occurrence
    // min, the same ceil(nd*i/5) thresholds, per-threshold counts
    "q122_vocab_growth" ->
      s"""WITH tok AS (SELECT doc_id,
         |    unnest(list_filter(string_split_regex(trim(text), '\\s+'),
         |      t -> t <> '')) AS w FROM documents),
         |fs AS (SELECT w, min(doc_id) AS fd FROM tok GROUP BY w),
         |n AS (SELECT max(doc_id) + 1 AS nd FROM documents),
         |th AS (SELECT CAST(ceil(nd * u.i / 5.0) AS BIGINT) AS prefix_docs
         |  FROM n, unnest([1,2,3,4,5]) AS u(i))
         |SELECT th.prefix_docs, count(*) AS vocab
         |FROM th JOIN fs ON fs.fd < th.prefix_docs
         |GROUP BY th.prefix_docs""".stripMargin,

    // band-skew replay: the shared band-key CTEs, per-key sizes, the
    // size histogram, integer pair arithmetic
    "q120_band_skew_audit" ->
      s"""WITH ${minhashBandCtes()},
         |sz AS (SELECT bk, count(*) AS s FROM keys GROUP BY bk),
         |hist AS (SELECT s, count(*) AS n_bands FROM sz GROUP BY s)
         |SELECT s, n_bands,
         |  CAST((s * (s - 1)) // 2 AS BIGINT) AS pairs_per_band,
         |  CAST(n_bands * ((s * (s - 1)) // 2) AS BIGINT) AS total_pairs
         |FROM hist""".stripMargin,

    // contamination replay: the q25 candidate+verify CTEs with a source
    // join; pair orientation normalized by least/greatest on the source
    "q113_contamination_matrix" ->
      s"""WITH ${minhashBandCtes()},
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM keys a JOIN keys b ON a.bk = b.bk AND a.doc_id < b.doc_id),
         |feat AS (SELECT doc_id, list_distinct(list(s)) AS sh, count(DISTINCT s) AS n
         |         FROM sh GROUP BY doc_id),
         |pairs AS (
         |  SELECT doc_a, doc_b FROM cand
         |  JOIN feat fa ON fa.doc_id = doc_a JOIN feat fb ON fb.doc_id = doc_b
         |  WHERE CAST(len(list_intersect(fa.sh, fb.sh)) AS DOUBLE) /
         |      (fa.n + fb.n - len(list_intersect(fa.sh, fb.sh))) >= 0.5),
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
         |FROM ps GROUP BY src_a, src_b""".stripMargin,

    // sketch-estimate replay: per-slot signature agreement from the same
    // sig CTE the band keys derive from (slot minima already
    // sign-adjusted), exact jaccard as the q25 rational, error as the
    // identical double ops (n/64 is dyadic-exact; one division each)
    "q111_minhash_estimate" ->
      s"""WITH ${minhashBandCtes()},
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM keys a JOIN keys b ON a.bk = b.bk AND a.doc_id < b.doc_id),
         |agree AS (
         |  SELECT c.doc_a, c.doc_b,
         |    sum(CASE WHEN sa.g = sb.g THEN 1 ELSE 0 END) AS n_agree
         |  FROM cand c
         |  JOIN sig sa ON sa.doc_id = c.doc_a
         |  JOIN sig sb ON sb.doc_id = c.doc_b AND sb.j = sa.j
         |  GROUP BY c.doc_a, c.doc_b),
         |feat AS (SELECT doc_id, list_distinct(list(s)) AS sh, count(DISTINCT s) AS n
         |         FROM sh GROUP BY doc_id)
         |SELECT g.doc_a, g.doc_b, CAST(g.n_agree AS BIGINT) AS n_agree,
         |  round(CAST(g.n_agree AS DOUBLE) / 64.0E0, 6) AS est_jaccard,
         |  round(CAST(len(list_intersect(fa.sh, fb.sh)) AS DOUBLE) /
         |    (fa.n + fb.n - len(list_intersect(fa.sh, fb.sh))), 6) AS exact_jaccard,
         |  round(abs(CAST(g.n_agree AS DOUBLE) / 64.0E0 -
         |    CAST(len(list_intersect(fa.sh, fb.sh)) AS DOUBLE) /
         |    (fa.n + fb.n - len(list_intersect(fa.sh, fb.sh)))), 6) AS est_err
         |FROM agree g JOIN feat fa ON fa.doc_id = g.doc_a
         |JOIN feat fb ON fb.doc_id = g.doc_b""".stripMargin,

    // SimHash, FULLY replayed: per-token FNV hash, the 64 majority-vote
    // bits, the 4x16-bit chunk band keys (arith-shift + mask == unsigned
    // extract, q26's engine form), the chunk equi-join, and the hamming
    // verify over the recomputed 64-bit signatures
    "q26_simhash_pairs" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS s FROM documents),
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
         |WHERE bit_count(CAST(xor(sa.u, sb.u) AS UBIGINT)) <= 8""".stripMargin,

    // hashed char-5-gram near-dup, FULLY replayed: per-gram FNV/mix64 over
    // char code units, the SIGNED-long sort order the engine's sorted-
    // distinct arrays use (every 16th position samples the index side),
    // the 2<=df<=10 rare-gram filter, the inverted-index join, and the
    // distinct-gram jaccard verify
    "q27_ngram_jaccard" ->
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
         |WHERE CAST(ni AS DOUBLE) / (fa.n + fb.n - ni) >= 0.6""".stripMargin,

    // first-wins retention over the SAME fully-replayed band keys as q25:
    // kept iff the doc is the min-id claimant of every band it occupies
    "q63_minhash_dedup" ->
      s"""WITH ${minhashBandCtes()},
         |own AS (SELECT bk, min(doc_id) AS owner FROM keys GROUP BY bk)
         |SELECT k.doc_id,
         |  (min(CASE WHEN o.owner = k.doc_id THEN 1 ELSE 0 END) = 1) AS kept
         |FROM keys k JOIN own o USING (bk)
         |GROUP BY k.doc_id""".stripMargin,

    // the shard blobs replayed byte-for-byte from the documents table:
    // trained vocab ranks (count desc, token), the UNK cap, every doc's
    // position-ordered uint16 hex encoding, q69's shard/batch assignment,
    // and the doc_id-ordered per-batch concat — md5 compared over the
    // SAME hex text both engines build (blob = unhex of it)
    "q91_training_shards" ->
      s"""WITH toks AS (
         |  SELECT d.doc_id, g.i AS pos, d.tk[g.i] AS tok
         |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
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
         |    list_reduce(list_transform(
         |      string_split(substring(md5(CAST(doc_id AS VARCHAR)), 1, 15), ''),
         |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
         |      (acc, x) -> acc * 16 + x) % $Q69Shards AS shard
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
         |FROM b""".stripMargin,

    // the trained LM replayed END TO END from the documents table: the
    // train-split trigram counts (exact integers), context sums, vocab
    // size, every held-out trigram's smoothed conditional, the
    // position-ordered log-prob fold, and both graded decisions (1e-6
    // quantum + the -1.08 gate, margins pinned in LangModelSpec)
    "q90_lm_quality" ->
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
        |FROM agg a, v""".stripMargin,

    // the full embedding funnel replayed from raw embeddings: the
    // perturbed-copy corpus (same float32-of-float64 arithmetic), every
    // hyperplane dot sign (shared published constants, ordered float64
    // folds), bucket-collision candidates, the exact-cosine verify
    // decision (bit-identical fold on both sides of 0.95), and the
    // recursive component closure with singleton fill-in
    "q89_embedding_dedup" ->
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
         |FROM corpus c LEFT JOIN comp m USING (vec_id)""".stripMargin,

    // the q25 replay over the multi-byte corpus, with the BYTE-TRUE FNV
    // (encode()'d hex pairs — exact UTF-8 bytes, any width)
    "q76_minhash_utf8" ->
      s"""WITH docs AS (SELECT * FROM (VALUES $oracleUtf8CorpusValues) d(doc_id, text)),
         |${minhashBandCtes("docs", byteTrueFnv = true)},
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM keys a JOIN keys b ON a.bk = b.bk AND a.doc_id < b.doc_id),
         |feat AS (SELECT doc_id, list_distinct(list(s)) AS sh, count(DISTINCT s) AS n
         |         FROM sh GROUP BY doc_id)
         |SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b,
         |  round(CAST(len(list_intersect(fa.sh, fb.sh)) AS DOUBLE) /
         |    (fa.n + fb.n - len(list_intersect(fa.sh, fb.sh))), 6) AS jaccard
         |FROM pairs JOIN feat fa ON fa.doc_id = doc_a JOIN feat fb ON fb.doc_id = doc_b
         |WHERE CAST(len(list_intersect(fa.sh, fb.sh)) AS DOUBLE) /
         |    (fa.n + fb.n - len(list_intersect(fa.sh, fb.sh))) >= 0.5""".stripMargin,

    // components of the SAME pair graph, closed independently: recursive
    // transitive closure from each node, component = min reachable id
    "q78_neardup_components" ->
      s"""WITH RECURSIVE $neardupClosureCtes
         |SELECT CAST(a AS BIGINT) AS doc_id, CAST(min(b) AS BIGINT) AS component,
         |  (a = min(b)) AS kept
         |FROM r GROUP BY a""".stripMargin,

    // the incremental certificate: the DIRECT closure over the full
    // verified pair graph — the engine's label-edge merge must reproduce
    // it doc for doc (is_new derives the same arrival split)
    "q110_incremental_components" ->
      s"""WITH RECURSIVE $neardupClosureCtes
         |SELECT CAST(a AS BIGINT) AS doc_id, CAST(min(b) AS BIGINT) AS component,
         |  (a = min(b)) AS kept,
         |  a > (SELECT max(doc_id) // 2 FROM documents) AS is_new
         |FROM r GROUP BY a""".stripMargin,

    // q78's component closure + q79's bit-exact fluency, ranked per
    // component by (fluency DESC, doc_id) — the same window both engines
    // evaluate over bit-identical doubles
    "q105_best_of_cluster" ->
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
         |SELECT doc_id, component, fluency, rn = 1 AS kept FROM ranked""".stripMargin,

    // full PQ replay: four per-subspace trainers (shared md5 id-sample,
    // dot-argmax, quantized means), codes, query ADC tables, subspace-
    // ordered fold, exact-dot brute ranks and recall@10
    "q99_pq_adc" ->
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
         |WHERE r.rank <= 10""".stripMargin,

    // BM25 replay: identical tokenization (the q70 parity forms),
    // identical rational arithmetic shapes, query-term-order fold
    // (list_reduce over list(c ORDER BY qpos)), row_number tiebreak
    "q98_bm25_topk" ->
      """WITH tokd AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS tk
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
        |WHERE rn <= 10""".stripMargin,

    // high-diameter star-contraction components: the identical id-derived
    // edge set (stride-7 chains + %101 bridges) closed by a recursive CTE
    "q96_components_star" ->
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
        |FROM r GROUP BY a""".stripMargin,

    // the same closure, then the split bucket = SIGNED pmod replay of
    // mix64(component) (pmod of a negative long is NOT unsigned mod 100)
    "q86_leakage_safe_split" ->
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
         |FROM bkt""".stripMargin,

    // the GLOBAL first-wins rule restricted to the increment — the
    // independent derivation that certifies the band-state shortcut
    "q87_incremental_dedup" ->
      s"""WITH ${minhashBandCtes()},
         |own AS (SELECT bk, min(doc_id) AS owner FROM keys GROUP BY bk)
         |SELECT k.doc_id,
         |  (min(CASE WHEN o.owner = k.doc_id THEN 1 ELSE 0 END) = 1) AS kept
         |FROM keys k JOIN own o USING (bk)
         |WHERE k.doc_id >= $Q87Boundary
         |GROUP BY k.doc_id""".stripMargin,

    // the streaming query's oracle is the BATCH twin (q63's band replay)
    // in kept-docs form: retained ids + their band count — the stream's
    // greedy "claimed by any earlier doc" rule equals min-id ownership
    // when arrival order follows doc_id, which the fixture guarantees
    "q74_streaming_neardup" ->
      s"""WITH ${minhashBandCtes()},
         |own AS (SELECT bk, min(doc_id) AS owner FROM keys GROUP BY bk)
         |SELECT k.doc_id, count(*) AS n_bands
         |FROM keys k JOIN own o USING (bk)
         |GROUP BY k.doc_id
         |HAVING min(CASE WHEN o.owner = k.doc_id THEN 1 ELSE 0 END) = 1""".stripMargin,

    // the stream-stream join's oracle is its BATCH TWIN: both fixture
    // tables re-derived from scratch (pages from documents, grants from
    // generate_series — same arithmetic as Fixtures.budgetStreamDirs),
    // joined with the plain interval predicate; valid because the
    // single-micro-batch run can drop nothing as late
    "q92_streaming_budget_join" ->
      s"""WITH p AS (
         |  SELECT 'https://host' || (doc_id % 20) || '.example.com/p/' || doc_id AS url,
         |         'host' || (doc_id % 20) || '.example.com' AS host,
         |         CAST($BudgetBaseUsSql + doc_id * 37000000 AS BIGINT) AS ts_us
         |  FROM documents),
         |b AS (
         |  SELECT CAST(g.i AS BIGINT) AS grant_id,
         |         'host' || (g.i // 10) || '.example.com' AS host,
         |         CAST($BudgetBaseUsSql + ((g.i // 10) * 97 + (g.i % 10) * 533) * 1000000 AS BIGINT) AS issued_us
         |  FROM unnest(generate_series(0, 199)) AS g(i))
         |SELECT p.url, p.ts_us, p.host, b.grant_id
         |FROM p JOIN b ON p.host = b.host
         |  AND p.ts_us >= b.issued_us
         |  AND p.ts_us < b.issued_us + 3600000000""".stripMargin,

    // the oracle runs the PLAIN range-predicate join DuckDB optimizes
    // natively — an implementation-independent restatement of q67
    "q67_interval_join" ->
      """WITH hours AS (
        |  SELECT date_trunc('hour', ts) AS interval_id, count(*) AS n
        |  FROM events GROUP BY 1 ORDER BY n DESC, interval_id LIMIT 12),
        |iv AS (
        |  SELECT interval_id, interval_id - INTERVAL 30 MINUTE AS ws,
        |    interval_id + INTERVAL 90 MINUTE AS we FROM hours)
        |SELECT interval_id, count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users
        |FROM events e JOIN iv ON e.ts >= iv.ws AND e.ts < iv.we
        |GROUP BY interval_id""".stripMargin,

    // identical RE2-safe regexes, identical deterministic PII synthesis
    "q66_pii_scrub" ->
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
         |FROM withpii""".stripMargin,

    // TextOps.hashedWordShingles replayed: per-token FNV/mix64 hash, then
    // the rolling h*31+tokHash combine over 5 tokens (mod 2^64), mix64'd;
    // same every-25th-doc 10-token eval slice, same inverted-index join.
    // Tokens are filtered to NON-EMPTY (TextOps.tokens semantics): trim
    // strips only spaces, so '\n'/'\t'-padded text would otherwise leave
    // empty boundary tokens here that the engine never hashes
    "q70_decontamination" ->
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'),
         |    t -> t <> '') AS tk FROM documents),
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
         |FROM toks t LEFT JOIN hits h ON h.doc_id = t.doc_id""".stripMargin,

    // same windows: starts 0,48,96,... over the token list, width 64,
    // DuckDB's 1-based inclusive list slice == Spark's slice(arr, st+1, 64)
    "q68_chunking" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents),
        |ch AS (
        |  SELECT doc_id, g.i AS start_i,
        |    tk[g.i + 1 : least(g.i + 64, len(tk))] AS chunk,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY g.i) - 1 AS chunk_idx
        |  FROM tk, unnest(generate_series(0, greatest(len(tk) - 17, 0), 48)) AS g(i))
        |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
        |  CAST(len(chunk) AS INT) AS n_tokens,
        |  md5(array_to_string(chunk, ' ')) AS chunk_md5
        |FROM ch""".stripMargin,

    // exclusive-prefix batch assignment replayed with the same md5 shard
    // packing certificate replay: q69's CTEs + a join back for the last
    // doc's token count, identical integer arithmetic
    "q123_packing_certificate" ->
      s"""WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_toks,
        |    list_reduce(list_transform(
        |      string_split(substring(md5(CAST(doc_id AS VARCHAR)), 1, 15), ''),
        |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
        |      (acc, d) -> acc * 16 + d) % $Q123Shards AS shard
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
        |FROM agg a JOIN t ON t.doc_id = a.last_doc""".stripMargin,

    "q69_token_packing" ->
      s"""WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_toks,
        |    list_reduce(list_transform(
        |      string_split(substring(md5(CAST(doc_id AS VARCHAR)), 1, 15), ''),
        |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
        |      (acc, d) -> acc * 16 + d) % $Q69Shards AS shard
        |  FROM documents),
        |b AS (
        |  SELECT shard, doc_id, n_toks,
        |    CAST((sum(n_toks) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) - n_toks) // $Q69TokenBudget AS BIGINT) AS batch_id
        |  FROM t)
        |SELECT shard, batch_id, count(*) AS n_docs,
        |  CAST(sum(n_toks) AS BIGINT) AS total_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM b GROUP BY shard, batch_id""".stripMargin,

    "q64_percentiles" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(min(length(text)) AS BIGINT) AS min_len,
        |  round(quantile_cont(length(text), 0.25), 6) AS p25,
        |  round(quantile_cont(length(text), 0.5), 6) AS p50,
        |  round(quantile_cont(length(text), 0.9), 6) AS p90,
        |  round(quantile_cont(length(text), 0.99), 6) AS p99,
        |  CAST(max(length(text)) AS BIGINT) AS max_len
        |FROM documents GROUP BY lang""".stripMargin,

    // the whole curation funnel replayed stage by stage: the q54 gate
    // predicate, first-id-per-text exact dedup, the q63 first-wins rule
    // over the survivor set's REPLAYED band keys, and the q53 sampling
    // quota — then the same per-source funnel counts
    "q65_curation_pipeline" ->
      s"""WITH gated AS (
         |  SELECT doc_id, text, lang, source FROM (
         |    SELECT doc_id, text, lang, source,
         |      len(string_split_regex(trim(text), '\\s+')) AS n_toks,
         |      CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
         |        t -> t IN ('the','a','and','of','to','in','is','it','for','on'))) AS DOUBLE)
         |        / len(string_split_regex(trim(text), '\\s+')) AS stop_ratio,
         |      CAST(len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS DOUBLE)
         |        / len(string_split_regex(trim(text), '\\s+')) AS distinct_ratio
         |    FROM documents)
         |  WHERE n_toks >= 20 AND n_toks <= 1000
         |    AND stop_ratio >= 0.01 AND distinct_ratio >= 0.3),
         |exact AS (
         |  SELECT doc_id, text, lang, source FROM (
         |    SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
         |    FROM gated) WHERE rn = 1),
         |${minhashBandCtes("exact")},
         |own AS (SELECT bk, min(doc_id) AS owner FROM keys GROUP BY bk),
         |near AS (
         |  SELECT e.doc_id, e.text, e.lang, e.source FROM exact e JOIN (
         |    SELECT k.doc_id FROM keys k JOIN own o USING (bk)
         |    GROUP BY k.doc_id
         |    HAVING min(CASE WHEN o.owner = k.doc_id THEN 1 ELSE 0 END) = 1) kk
         |  ON kk.doc_id = e.doc_id),
         |sampled AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, lang,
         |      list_reduce(list_transform(string_split(substring(md5(text), 1, 15), ''),
         |        c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
         |        (acc, d) -> acc * 16 + d) % 1000 AS bucket
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
         |GROUP BY d.source""".stripMargin,

    "q37_shingle_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
        |      i -> array_to_string(toks[i:i+2], ' '))) AS sh
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents)
        |  WHERE doc_id < 1000
        |)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |    CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE), 6) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE a.doc_id < 100 AND len(a.sh) + len(b.sh) > 0""".stripMargin,

    "q38_chargram_jaccard" ->
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
        |WHERE jaccard >= 0.4""".stripMargin,

    // the signature geometry operator, independently re-derived: the clip
    // area of every surviving (item, boundary) pair is recomputed in DuckDB
    // by a SIGNED FAN DECOMPOSITION — each ring is the signed sum of fan
    // triangles from the local-frame origin, so area(A∩B) = Σ_ij s_i t_j
    // area(T_i ∩ U_j), each T∩U a convex triangle pair clipped by
    // Sutherland–Hodgman and measured by shoelace. No triangulation,
    // piece structure, or clip algorithm is shared with the engine's
    // Greiner–Hormann path — only the exact real value, compared on a
    // 1e-10 quantum both sides round to (see the q43 query comment).
    "q43_clip_join" -> ("WITH " + clipCandsCtes + s""",
      |tris AS (
      |  SELECT clubId, courseId, holeNumber, itemSeq, itemType,
      |    CASE WHEN ((a1[1] * a2[2] - a1[2] * a2[1]) > 0) = ((b1[1] * b2[2] - b1[2] * b2[1]) > 0)
      |      THEN 1.0 ELSE -1.0 END AS sgn,
      |    CASE WHEN (a1[1] * a2[2] - a1[2] * a2[1]) > 0 THEN [[0.0, 0.0], a1, a2]
      |      ELSE [[0.0, 0.0], a2, a1] END AS t,
      |    CASE WHEN (b1[1] * b2[2] - b1[2] * b2[1]) > 0 THEN b1 ELSE b2 END AS u1,
      |    CASE WHEN (b1[1] * b2[2] - b1[2] * b2[1]) > 0 THEN b2 ELSE b1 END AS u2
      |  FROM pairs
      |  WHERE (a1[1] * a2[2] - a1[2] * a2[1]) != 0 AND (b1[1] * b2[2] - b1[2] * b2[1]) != 0),
      |c1 AS (SELECT *, ${hpClip("t", "[0.0, 0.0]", "u1")} AS p1 FROM tris),
      |c2 AS (SELECT *, ${hpClip("p1", "u1", "u2")} AS p2 FROM c1),
      |c3 AS (SELECT *, ${hpClip("p2", "u2", "[0.0, 0.0]")} AS p3 FROM c2),
      |contrib AS (
      |  SELECT clubId, courseId, holeNumber, itemSeq, itemType,
      |    CASE WHEN len(p3) < 3 THEN 0.0 ELSE sgn * 0.5 * list_reduce(
      |      list_prepend(0.0, list_transform(generate_series(1, len(p3)), k ->
      |        p3[CASE WHEN k = 1 THEN len(p3) ELSE k - 1 END][1] * p3[k][2]
      |        - p3[k][1] * p3[CASE WHEN k = 1 THEN len(p3) ELSE k - 1 END][2])),
      |      (acc, v) -> acc + v) END AS da
      |  FROM c3)
      |SELECT clubId, courseId, holeNumber, itemSeq, itemType,
      |  CAST(floor(sum(da) * 1e10 + 0.5) AS BIGINT) AS clip_area_e10
      |FROM contrib
      |GROUP BY clubId, courseId, holeNumber, itemSeq, itemType
      |HAVING CAST(floor(sum(da) * 1e10 + 0.5) AS BIGINT) >= 1""".stripMargin),

    // the full draw list re-derived: boundary rows from the oracle dim;
    // polygon rows kept iff the item/boundary interiors truly intersect
    // (any proper edge crossing, or one ring's first vertex strictly
    // inside the other — the general-position equivalence of "clip
    // non-empty"); line rows by per-vertex strict ray cast with >= 2
    // survivors; marker rows by the q48 containment test; then the same
    // (zorder, itemType, itemSeq) painter's order
    "q44_drawlist" -> ("WITH " + clipCandsCtes + s""",
      |crossed AS (
      |  SELECT clubId, courseId, holeNumber, itemSeq, bool_or(
      |    (((b2[1] - b1[1]) * (a1[2] - b1[2]) - (b2[2] - b1[2]) * (a1[1] - b1[1])) *
      |     ((b2[1] - b1[1]) * (a2[2] - b1[2]) - (b2[2] - b1[2]) * (a2[1] - b1[1])) < 0)
      |    AND
      |    (((a2[1] - a1[1]) * (b1[2] - a1[2]) - (a2[2] - a1[2]) * (b1[1] - a1[1])) *
      |     ((a2[1] - a1[1]) * (b2[2] - a1[2]) - (a2[2] - a1[2]) * (b2[1] - a1[1])) < 0)
      |  ) AS any_cross
      |  FROM pairs GROUP BY clubId, courseId, holeNumber, itemSeq),
      |contained AS (
      |  SELECT clubId, courseId, holeNumber, itemSeq,
      |    (${pipExpr("iring[1][1]", "iring[1][2]", "bring")})
      |    OR (${pipExpr("bring[1][1]", "bring[1][2]", "iring")}) AS inside
      |  FROM cands),
      |polys AS (
      |  SELECT c.clubId, c.courseId, c.holeNumber, c.itemSeq, c.itemType, c.zorder,
      |    'polygon' AS category
      |  FROM cands c
      |  JOIN crossed x USING (clubId, courseId, holeNumber, itemSeq)
      |  JOIN contained n USING (clubId, courseId, holeNumber, itemSeq)
      |  WHERE x.any_cross OR n.inside),
      |${inputCte("bounds", materialized = true)},
      |${inputCte("lvals")},
      |lpts AS (
      |  SELECT l.clubId, l.courseId, l.holeNumber, l.itemSeq, l.itemType, l.zorder,
      |    gq.q AS q,
      |    list_zip(list_prepend(b.ring[len(b.ring)], b.ring[1:len(b.ring)-1]), b.ring) AS prs
      |  FROM lvals l, bounds b, unnest(l.pts) AS gq(q)
      |  WHERE l.clubId = b.clubId AND l.courseId = b.courseId AND l.holeNumber = b.holeNumber),
      |lines AS (
      |  SELECT clubId, courseId, holeNumber, itemSeq, itemType, zorder, 'line' AS category
      |  FROM lpts
      |  WHERE len(list_filter(prs, pr ->
      |      (pr[2][1] - pr[1][1]) * (q[2] - pr[1][2]) - (pr[2][2] - pr[1][2]) * (q[1] - pr[1][1]) = 0
      |      AND q[1] >= least(pr[1][1], pr[2][1]) AND q[1] <= greatest(pr[1][1], pr[2][1])
      |      AND q[2] >= least(pr[1][2], pr[2][2]) AND q[2] <= greatest(pr[1][2], pr[2][2]))) = 0
      |    AND len(list_filter(prs, pr ->
      |      ((pr[2][2] > q[2]) != (pr[1][2] > q[2]))
      |      AND q[1] < (pr[1][1] - pr[2][1]) * (q[2] - pr[2][2]) / (pr[1][2] - pr[2][2]) + pr[2][1])) % 2 = 1
      |  GROUP BY clubId, courseId, holeNumber, itemSeq, itemType, zorder
      |  HAVING count(*) >= 2),
      |${inputCte("markers")},
      |mcand AS (
      |  SELECT m.*,
      |    list_zip(list_prepend(b.ring[len(b.ring)], b.ring[1:len(b.ring)-1]), b.ring) AS prs
      |  FROM markers m JOIN bounds b USING (clubId, courseId, holeNumber)),
      |marks AS (
      |  SELECT clubId, courseId, holeNumber, itemSeq, itemType,
      |    ${Catalog.items.filter(_.category == "marker").map(_.zorder).distinct.head} AS zorder,
      |    'marker' AS category
      |  FROM mcand
      |  WHERE len(list_filter(prs, pr ->
      |      (pr[2][1] - pr[1][1]) * (y - pr[1][2]) - (pr[2][2] - pr[1][2]) * (x - pr[1][1]) = 0
      |      AND x >= least(pr[1][1], pr[2][1]) AND x <= greatest(pr[1][1], pr[2][1])
      |      AND y >= least(pr[1][2], pr[2][2]) AND y <= greatest(pr[1][2], pr[2][2]))) = 0
      |    AND len(list_filter(prs, pr ->
      |      ((pr[2][2] > y) != (pr[1][2] > y))
      |      AND x < (pr[1][1] - pr[2][1]) * (y - pr[2][2]) / (pr[1][2] - pr[2][2]) + pr[2][1])) % 2 = 1),
      |allrows AS (
      |  SELECT clubId, courseId, holeNumber, -1 AS itemSeq, 'HoleBoundary' AS itemType,
      |    0 AS zorder, 'polygon' AS category FROM bounds
      |  UNION ALL SELECT * FROM polys
      |  UNION ALL SELECT * FROM lines
      |  UNION ALL SELECT * FROM marks)
      |SELECT clubId, courseId, holeNumber,
      |  row_number() OVER (PARTITION BY clubId, courseId, holeNumber
      |    ORDER BY zorder, itemType, itemSeq) AS draw_seq,
      |  zorder, itemType, category
      |FROM allrows""".stripMargin),

    // the flagship family, independently re-derived: DuckDB ray-casts the
    // oracle boundary polygons with the engine's exact strict semantics,
    // with NO cover index involved — a cover bug (missing cell, wrong
    // full flag, broken parent math) shows up here as a row/hash mismatch
    "q40_course_assign" -> (pagesCte + ",\n" + pipHitsCtes + "\n" +
      "SELECT url, text, clubId, courseId, holeNumber FROM hits"),

    // q72 must equal q40 row-for-row (same containment relation, different
    // physical join) — same independent ray-cast oracle
    "q94_course_assign_multi" -> (pagesCte + ",\n" + pipHitsMultiCtes + "\n" +
      "SELECT url, clubId, courseId, holeNumber FROM hitsm"),

    "q72_course_assign_smj" -> (pagesCte + ",\n" + pipHitsCtes + "\n" +
      "SELECT url, text, clubId, courseId, holeNumber FROM hits"),

    "q41_pages_in_any" -> (pagesCte + ",\n" + pipHitsCtes + "\n" +
      "SELECT url, lon, lat FROM pages WHERE url IN (SELECT url FROM hits)"),

    "q42_pages_outside_all" -> (pagesCte + ",\n" + pipHitsCtes + "\n" +
      "SELECT lang, count(*) AS n FROM pages WHERE url NOT IN (SELECT url FROM hits) GROUP BY lang"),

    // viewport math replayed on the oracle envelope bounds with the
    // engine's exact operation order; the two cos()-dependent columns and
    // fig_h are compared on the 1e-6 quantum (see the q45 query comment)
    "q45_viewports" ->
      s"""WITH ${inputCte("bounds")}
         |SELECT clubId, courseId, holeNumber,
         |  minx AS west, miny AS south, maxx AS east, maxy AS north,
         |  round((maxx - minx) * 111000.0 * cos(radians((miny + maxy) / 2.0)) / 0.2 / 300.0, 6) AS fig_w_in,
         |  round((maxy - miny) * 111000.0 / 0.2 / 300.0, 6) AS fig_h_in,
         |  round(1.0 / cos(radians((miny + maxy) / 2.0)), 6) AS aspect,
         |  15.0 AS marker_px
         |FROM bounds""".stripMargin,

    // raster family: DuckDB re-derives every tile's 64-bit coverage mask
    // and the inverted tile index from the oracle polygons — the engine's
    // whole rasterize pipeline cross-checked by an independent ray caster
    "q46_tile_masks" -> ("WITH " + tileMaskedCtes + "\n" +
      "SELECT clubId, courseId, holeNumber, z, x, y, qk, mask, coverage FROM masked"),

    // full PNG-file byte replay: every byte of each 332-byte artifact is a
    // pure function of the (independently ray-cast) mask bits — raw RGBA
    // scanlines, one STORED deflate block, Adler-32 and CRC-32 as list
    // folds with the CRC table generated IN SQL from poly 0xEDB88320.
    // Unsigned bit tests go through HUGEINT (CLAUDE.md hash-replay rules);
    // md5 over the shared uppercase hex (the q51 pattern).
    "q95_tile_png" -> {
      val (r, g, b) = ((Q95Rgb >> 16) & 255, (Q95Rgb >> 8) & 255, Q95Rgb & 255)
      "WITH " + tileMaskedCtes + s""",
        |crctab AS (
        |  SELECT list(ent ORDER BY n) AS tab FROM (
        |    SELECT n, list_reduce(list_prepend(CAST(n AS BIGINT), [0,0,0,0,0,0,0,0]),
        |      (c, kk) -> CASE WHEN c & 1 = 1 THEN xor(3988292384, c >> 1) ELSE c >> 1 END) AS ent
        |    FROM unnest(generate_series(0, 255)) AS tt(n))),
        |ihdrc AS (
        |  SELECT xor(list_reduce(list_prepend(CAST(4294967295 AS BIGINT),
        |      [CAST(73 AS BIGINT),72,68,82,0,0,0,8,0,0,0,8,8,6,0,0,0]),
        |    (c, bb) -> xor(tab[CAST(xor(c, bb) & 255 AS INT) + 1], c >> 8)), 4294967295) AS hcrc
        |  FROM crctab),
        |pxu AS (
        |  SELECT clubId, courseId, holeNumber, z, x, y, CASE WHEN mask < 0
        |    THEN CAST(mask AS HUGEINT) + CAST('18446744073709551616' AS HUGEINT)
        |    ELSE CAST(mask AS HUGEINT) END AS mh FROM masked),
        |rawsc AS (
        |  SELECT clubId, courseId, holeNumber, z, x, y,
        |    flatten(list_transform(generate_series(0, 7), i ->
        |      list_prepend(CAST(0 AS BIGINT), flatten(list_transform(generate_series(0, 7), j ->
        |        CASE WHEN (mh & (CAST(1 AS HUGEINT) << CAST(i * 8 + j AS INT))) != 0
        |          THEN [CAST($r AS BIGINT), $g, $b, 255]
        |          ELSE [CAST(0 AS BIGINT), 0, 0, 0] END))))) AS rawb
        |  FROM pxu),
        |idatb AS (
        |  SELECT clubId, courseId, holeNumber, z, x, y,
        |    [CAST(73 AS BIGINT), 68, 65, 84, 120, 1, 1, 8, 1, 247, 254] || rawb ||
        |    [ab[2] // 256, ab[2] % 256, ab[1] // 256, ab[1] % 256] AS ibytes
        |  FROM (SELECT *, list_reduce(list_prepend([CAST(1 AS BIGINT), CAST(0 AS BIGINT)],
        |      list_transform(rawb, bb -> [bb, CAST(0 AS BIGINT)])),
        |      (acc, e) -> [(acc[1] + e[1]) % 65521, (acc[2] + acc[1] + e[1]) % 65521]) AS ab
        |    FROM rawsc)),
        |pngb AS (
        |  SELECT clubId, courseId, holeNumber, z, x, y,
        |    [CAST(137 AS BIGINT), 80, 78, 71, 13, 10, 26, 10, 0, 0, 0, 13,
        |     73, 72, 68, 82, 0, 0, 0, 8, 0, 0, 0, 8, 8, 6, 0, 0, 0] ||
        |    [hcrc // 16777216 % 256, hcrc // 65536 % 256, hcrc // 256 % 256, hcrc % 256] ||
        |    [CAST(0 AS BIGINT), 0, 1, 19] || ibytes ||
        |    [icrc // 16777216 % 256, icrc // 65536 % 256, icrc // 256 % 256, icrc % 256] ||
        |    [CAST(0 AS BIGINT), 0, 0, 0, 73, 69, 78, 68, 174, 66, 96, 130] AS pbytes
        |  FROM (SELECT *, xor(list_reduce(list_prepend(CAST(4294967295 AS BIGINT), ibytes),
        |      (c, bb) -> xor(tab[CAST(xor(c, bb) & 255 AS INT) + 1], c >> 8)), 4294967295) AS icrc
        |    FROM idatb, crctab), ihdrc)
        |SELECT clubId, courseId, holeNumber, z, x, y,
        |  CAST(len(pbytes) AS INT) AS n_bytes,
        |  md5(list_reduce(list_transform(pbytes, bb -> lpad(hex(bb), 2, '0')),
        |    (a, s) -> a || s)) AS png_md5
        |FROM pngb""".stripMargin
    },

    // pyramid re-derived from the same independent ray-cast masks:
    // parent = integer shift, counts + exact dyadic coverage sums
    "q81_tile_pyramid" -> ("WITH " + tileMaskedCtes + s"""
        |SELECT CAST(z - d AS INT) AS z,
        |  CAST(x // CAST(power(2, d) AS BIGINT) AS BIGINT) AS x,
        |  CAST(y // CAST(power(2, d) AS BIGINT) AS BIGINT) AS y,
        |  count(*) AS n_entries,
        |  count(DISTINCT clubId || '/' || courseId || '/' || holeNumber) AS n_features,
        |  sum(coverage) AS sum_coverage
        |FROM masked CROSS JOIN unnest([0,1,2,3,4]) AS lev(d)
        |GROUP BY 1, 2, 3""".stripMargin),

    "q47_tile_reverse" -> ("WITH " + tileMaskedCtes +
      """
        |SELECT z, x, y, qk,
        |  array_to_string(list_sort(list(clubId || '/' || courseId || '/' || holeNumber)), ',') AS features,
        |  max(coverage) AS max_coverage, count(*) AS n_features
        |FROM masked GROUP BY z, x, y, qk""".stripMargin),

    // kNN re-derived brute-force in DuckDB: envelope-center centroids from
    // the oracle polygons, SQL haversine ordering, per-page top-3 —
    // verified rank-exact (no near-ties at this scale; the certificate/
    // ring-expansion machinery on the engine side must agree with plain
    // brute force, which is the operator's exactness contract)
    "q49_knn_courses" -> (pagesCte + s""",
      |${inputCte("bounds")},
      |cents AS (
      |  SELECT clubId, courseId, holeNumber,
      |    (minx + maxx) / 2 AS clon, (miny + maxy) / 2 AS clat
      |  FROM bounds),
      |scored AS (
      |  SELECT p.url, p.lon, p.lat, c.clubId, c.courseId, c.holeNumber,
      |    row_number() OVER (PARTITION BY p.url ORDER BY
      |      2.0 * 6371008.8 * asin(least(1.0, sqrt(
      |        sin((radians(c.clat) - radians(p.lat)) / 2) * sin((radians(c.clat) - radians(p.lat)) / 2) +
      |        cos(radians(p.lat)) * cos(radians(c.clat)) *
      |        sin(radians(c.clon - p.lon) / 2) * sin(radians(c.clon - p.lon) / 2)))),
      |      c.clubId, c.courseId, c.holeNumber) AS rank
      |  FROM pages p CROSS JOIN cents c WHERE p.page_id < 2000)
      |SELECT url, lon, lat, clubId, courseId, holeNumber, rank FROM scored WHERE rank <= 3""".stripMargin),

    // boundary-metric kNN brute-forced over the oracle closed rings:
    // per (page, hole), min clamped-projection segment distance, ranked
    "q75_knn_boundary" -> (pagesCte + s""",
      |${inputCte("bounds")},
      |scored AS (
      |  SELECT p.url, p.lon, p.lat, b.clubId, b.courseId, b.holeNumber,
      |    row_number() OVER (PARTITION BY p.url ORDER BY
      |      list_aggregate(list_transform(range(1, len(b.ring)), i ->
      |        ${segDistSql("p.lon", "p.lat", "b.ring")}), 'min'),
      |      b.clubId, b.courseId, b.holeNumber) AS rank
      |  FROM pages p CROSS JOIN bounds b WHERE p.page_id < 2000)
      |SELECT url, lon, lat, clubId, courseId, holeNumber, rank FROM scored WHERE rank <= 3""".stripMargin),

    // markers: same independent ray cast, probing the planted marker
    // points instead of pages (the generator plants one inside + one far
    // outside per hole; the strict filter must keep at most the inside one)
    "q48_markers" ->
      s"""WITH ${inputCte("bounds")},
         |${inputCte("markers")},
         |cand AS (
         |  SELECT m.*, list_zip(list_prepend(b.ring[len(b.ring)], b.ring[1:len(b.ring)-1]), b.ring) AS prs
         |  FROM markers m JOIN bounds b USING (clubId, courseId, holeNumber)
         |)
         |SELECT clubId, courseId, holeNumber, itemSeq, itemType,
         |  CAST(${graft.pipeline.Catalog.items.filter(_.category == "marker").map(_.zorder).distinct.head} AS INT) AS zorder,
         |  x, y, ${dlit(graft.geom.Geom.MarkerSizeM / graft.geom.Geom.MetersPerPixel / 200.0)} AS marker_zoom
         |FROM cand
         |WHERE len(list_filter(prs, pr ->
         |    (pr[2][1] - pr[1][1]) * (y - pr[1][2]) - (pr[2][2] - pr[1][2]) * (x - pr[1][1]) = 0
         |    AND x >= least(pr[1][1], pr[2][1]) AND x <= greatest(pr[1][1], pr[2][1])
         |    AND y >= least(pr[1][2], pr[2][2]) AND y <= greatest(pr[1][2], pr[2][2]))) = 0
         |  AND len(list_filter(prs, pr ->
         |    ((pr[2][2] > y) != (pr[1][2] > y))
         |    AND x < (pr[1][1] - pr[2][1]) * (y - pr[2][2]) / (pr[1][2] - pr[2][2]) + pr[2][1])) % 2 = 1""".stripMargin,

    // priority reorder over the oracle hole keys: DuckDB recomputes the
    // CASE priorities (generated from the SAME Q50Priority the query
    // uses), the total order, and the limit
    "q50_priority_order" ->
      s"""WITH ${inputCte("bounds")}
         |SELECT clubId, courseId, holeNumber, prio FROM (
         |  SELECT clubId, courseId, holeNumber,
         |    CAST(CASE
         |${Q50Priority.zipWithIndex.map { case ((cl, co, h), i) =>
             s"      WHEN clubId = '$cl' AND courseId = '$co' AND holeNumber = $h THEN $i"
           }.mkString("\n")}
         |      ELSE ${Int.MaxValue} END AS INT) AS prio
         |  FROM bounds)
         |ORDER BY prio, clubId, courseId, holeNumber LIMIT 50""".stripMargin,

    // read_blob = DuckDB's binaryFile; PNG IHDR width/height parsed from
    // the hex string (bytes 17-20 / 21-24 big-endian); payload pinned by
    // md5 over the full hex dump (DuckDB's md5 only takes VARCHAR)
    "q51_binary_scan" ->
      """SELECT regexp_extract(filename, '[^/]+$') AS file_name,
        |  CAST(size AS BIGINT) AS n_bytes,
        |  CAST(list_reduce(list_transform(string_split(substring(hex(content), 33, 8), ''),
        |    c -> CAST(strpos('0123456789ABCDEF', c) - 1 AS BIGINT)), (a, d) -> a * 16 + d) AS INT) AS width,
        |  CAST(list_reduce(list_transform(string_split(substring(hex(content), 41, 8), ''),
        |    c -> CAST(strpos('0123456789ABCDEF', c) - 1 AS BIGINT)), (a, d) -> a * 16 + d) AS INT) AS height,
        |  md5(hex(content)) AS payload_md5
        |FROM read_blob('/root/reference/resources/*/*.png')""".stripMargin,

    "q56_host_stats" -> (pagesCte +
      """
        |SELECT regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
        |  count(*) AS n_pages,
        |  count(DISTINCT lang) AS n_langs,
        |  CAST(sum(CAST(length(text) AS BIGINT)) AS BIGINT) AS sum_chars
        |FROM pages GROUP BY 1""".stripMargin),

    "q52_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
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
        |FROM top t JOIN toks tk USING (doc_id)""".stripMargin,

    "q53_stratified_sample" ->
      """WITH h AS (
        |  SELECT doc_id, lang,
        |    list_reduce(list_transform(string_split(substring(md5(text), 1, 15), ''),
        |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
        |      (acc, d) -> acc * 16 + d) % 1000 AS bucket
        |  FROM documents)
        |SELECT doc_id, lang FROM h
        |WHERE bucket < CASE WHEN lang = 'en' THEN 250 ELSE 1000 END""".stripMargin,

    "q54_quality_gate" ->
      """SELECT * FROM (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_toks,
        |    round(CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |      t -> t IN ('the','a','and','of','to','in','is','it','for','on'))) AS DOUBLE)
        |      / len(string_split_regex(trim(text), '\s+')), 6) AS stop_ratio,
        |    round(CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS DOUBLE)
        |      / len(string_split_regex(trim(text), '\s+')), 6) AS distinct_ratio
        |  FROM documents)
        |WHERE n_toks >= 20 AND n_toks <= 1000
        |  AND stop_ratio >= 0.01 AND distinct_ratio >= 0.3""".stripMargin,

    "q55_source_stats" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)) AS BIGINT) AS total_tokens,
        |  round(CAST(sum(CAST(length(text) AS BIGINT)) AS DOUBLE) / count(*), 6) AS avg_chars
        |FROM documents GROUP BY source""".stripMargin,

    // S1 JSONL scan: DuckDB's own JSON reader over the same fixture files
    "q59_jsonl_scan" ->
      s"""WITH t AS (
         |  SELECT * FROM read_json('${graft.data.Fixtures.Root}/layouts_jsonl_$NCourses/*.json')),
         |h AS (
         |  SELECT clubId, courseId, g.hn AS holeNumber, t.holes[g.hn] AS hole
         |  FROM t, unnest(generate_series(1, len(t.holes))) AS g(hn))
         |SELECT clubId, courseId, CAST(holeNumber AS INT) AS holeNumber,
         |  CAST(len(hole.gpsItems) AS BIGINT) AS n_items,
         |  CAST(list_reduce(list_prepend(0, list_transform(hole.gpsItems,
         |    it -> len(it.shape))), (a, b) -> a + b) AS BIGINT) AS n_points,
         |  list_aggregate(flatten(list_transform(hole.gpsItems,
         |    it -> list_transform(it.shape, p -> p.longitude))), 'min') AS min_x,
         |  list_aggregate(flatten(list_transform(hole.gpsItems,
         |    it -> list_transform(it.shape, p -> p.longitude))), 'max') AS max_x,
         |  list_aggregate(flatten(list_transform(hole.gpsItems,
         |    it -> list_transform(it.shape, p -> p.latitude))), 'min') AS min_y,
         |  list_aggregate(flatten(list_transform(hole.gpsItems,
         |    it -> list_transform(it.shape, p -> p.latitude))), 'max') AS max_y
         |FROM h""".stripMargin,

    // WARC ingest: slice the raw file bytes at the serializer-derived
    // offsets and fingerprint — every parser-found record boundary is
    // cross-checked against an independent byte read
    "q60_warc_scan" ->
      s"""WITH idx AS (
         |  SELECT * FROM (VALUES $oracleWarcIndexValues)
         |    AS i(warc_type, url, record_id, payload_off, len_b)),
         |blob AS (
         |  SELECT content FROM read_blob('${graft.data.Fixtures.Root}/warc/seg-00000.warc'))
         |SELECT warc_type, url, record_id, CAST(len_b AS BIGINT) AS n_bytes,
         |  md5(substring(hex(b.content), payload_off * 2 + 1, len_b * 2)) AS payload_md5
         |FROM idx, blob b""".stripMargin,

    // crawl -> corpus replayed from the raw segment bytes: the file is
    // pure ASCII so decode() + CHARACTER offsets == the serializer's BYTE
    // offsets; body = payload past the first CRLFCRLF (the fixture's
    // bodies are '\n'-newline-only, so that terminator is unique); the
    // extraction chain is GENERATED from TextExtract's pattern constants
    // and the langid CASE from LangId's profiles — single definition,
    // both engines
    "q73_crawl_to_corpus" ->
      s"""WITH idx AS (
         |  SELECT * FROM (VALUES $oracleCrawlIndexValues) AS i(url, payload_off, len_b)),
         |raw AS (
         |  SELECT decode(content) AS f
         |  FROM read_blob('${graft.data.Fixtures.Root}/crawl/crawl-00000.warc')),
         |pay AS (SELECT url, substring(f, payload_off + 1, len_b) AS payload FROM idx, raw),
         |bod AS (
         |  SELECT url, substring(payload,
         |    strpos(payload, chr(13)||chr(10)||chr(13)||chr(10)) + 4) AS body FROM pay),
         |ext AS (SELECT url, ${graft.pipeline.TextExtract.fromHtmlSql("body")} AS text FROM bod),
         |scored AS (
         |  SELECT url, text,
         |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_toks,
         |    round(CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
         |      t -> t IN ('the','a','and','of','to','in','is','it','for','on'))) AS DOUBLE)
         |      / len(string_split_regex(trim(text), '\\s+')), 6) AS stop_ratio,
         |    round(CAST(len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS DOUBLE)
         |      / len(string_split_regex(trim(text), '\\s+')), 6) AS distinct_ratio,
         |    ${graft.pipeline.LangId.scoreSql("text")}
         |  FROM ext)
         |SELECT url, md5(text) AS text_md5, n_toks, stop_ratio, distinct_ratio,
         |  (n_toks >= 20 AND n_toks <= 1000 AND stop_ratio >= 0.01
         |    AND distinct_ratio >= 0.3) AS passed,
         |  ${graft.pipeline.LangId.predCaseSql} AS pred_lang
         |FROM scored""".stripMargin,

    // the signed-order rule (CLAUDE.md): the engine sorts the hash as a
    // SIGNED long, so the replay maps the unsigned HUGEINT back before
    // ordering AND emits the same signed value
    "q84_bottomk_sample" ->
      s"""WITH h AS (SELECT doc_id, ${fnvSql("text")} AS hu FROM documents),
         |s AS (SELECT doc_id,
         |  CAST(CASE WHEN hu >= 9223372036854775808::HUGEINT
         |       THEN hu - $Wrap64 ELSE hu END AS BIGINT) AS h FROM h)
         |SELECT doc_id, h FROM s ORDER BY h, doc_id LIMIT 100""".stripMargin,

    // the merge changelog re-derived from nation: updates appear as
    // delete+insert pairs, the new key as a bare insert
    "q85_snapshot_merge_diff" ->
      """SELECT 'insert' AS op, CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |  'updated-' || n_nationkey AS n_name,
        |  CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation WHERE n_nationkey < 5
        |UNION ALL
        |SELECT 'insert', 99, 'ZZTOP', 0
        |UNION ALL
        |SELECT 'delete', CAST(n_nationkey AS BIGINT), n_name,
        |  CAST(n_regionkey AS BIGINT)
        |FROM nation WHERE n_nationkey < 5""".stripMargin,

    // snapshot time-travel: each version's live set recomputed from the
    // source table (v1 = full nation; v2 = v1 + the appended <10 slice)
    // compaction replay: version 5 (all five appends) and version 6
    // (the compacted overwrite) are both the WHOLE logical table — the
    // identity the operator must preserve
    "q121_compaction" ->
      """SELECT CAST(5 AS BIGINT) AS version, count(*) AS n_rows,
        |  CAST(sum(n_nationkey) AS BIGINT) AS sum_keys FROM nation
        |UNION ALL
        |SELECT CAST(6 AS BIGINT), count(*), CAST(sum(n_nationkey) AS BIGINT)
        |FROM nation""".stripMargin,

    "q61_snapshots" ->
      """SELECT CAST(1 AS BIGINT) AS version, count(*) AS n_rows,
        |  CAST(sum(n_nationkey) AS BIGINT) AS sum_keys FROM nation
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), count(*), CAST(sum(n_nationkey) AS BIGINT) FROM (
        |  SELECT n_nationkey FROM nation
        |  UNION ALL SELECT n_nationkey FROM nation WHERE n_nationkey < 10)""".stripMargin,

    "q39_md5_hamming" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    list_reduce(list_transform(string_split(substring(md5(text), 1, 15), ''),
        |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
        |      (acc, d) -> acc * 16 + d) AS h
        |  FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.h, b.h)) AS INT) AS hamming
        |FROM h a JOIN h b ON a.doc_id < b.doc_id
        |WHERE a.doc_id < 100 AND bit_count(xor(a.h, b.h)) <= 22""".stripMargin
  )
}
