package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import Common._
import graft.pipeline.Quality

/**
 * Relational queries (TPC-H style scans, joins, aggregates, windows and
 * the event-table analytics), each beside its DuckDB oracle.
 */
private[graft] object RelationalQueries {

  val queries: Seq[Query] = Seq(
    // ---- scans / aggregations (S1-analog, A1-A5 relational forms) ----
    Query("q01_pricing_summary", (s, d) => {
      t(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-01"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base"),
          sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("n_rows"))
    }, () =>
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS n_rows
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin),

    Query("q02_filter_project", (s, d) => {
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-01-01") && col("l_shipdate") < lit("1996-01-01") &&
          col("l_quantity") > 30)
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
    }, () =>
      """SELECT l_orderkey, l_linenumber,
        |  l_extendedprice * (1.0 - l_discount) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
        |  AND l_quantity > 30""".stripMargin),

    // ---- joins (J2/J3 relational forms) ----
    Query("q03_join_agg", (s, d) => {
      val c = t(s, d, "customer"); val n = t(s, d, "nation"); val r = t(s, d, "region")
      val o = t(s, d, "orders")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(dec(col("o_totalprice"))).cast("double").as("revenue"),
          count(lit(1)).as("n_orders"))
    }, () =>
      """SELECT r_name, n_name,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin),

    Query("q04_semi_join", (s, d) => {
      val c = t(s, d, "customer"); val o = t(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_mktsegment"))
    }, () =>
      """SELECT c_custkey, c_mktsegment FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin),

    Query("q05_anti_join", (s, d) => {
      val c = t(s, d, "customer"); val o = t(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_mktsegment"))
    }, () =>
      """SELECT c_custkey, c_mktsegment FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin),

    // ---- windows / sorts / limits (W1-W4) ----
    Query("q06_window_topk", (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, d, "orders")
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 2)
        .select(col("o_custkey"), col("o_orderkey"), col("rnk"))
    }, () =>
      """SELECT o_custkey, o_orderkey, rnk FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders) WHERE rnk <= 2""".stripMargin),

    Query("q07_sort_limit", (s, d) => {
      t(s, d, "lineitem")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(100)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    }, () =>
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""".stripMargin),

    Query("q11_moving_avg", (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(-4, 4)
      t(s, d, "events")
        .withColumn("mov_avg", round(avg(col("value")).over(w), 6))
        .select(col("user_id"), col("event_id"), col("mov_avg"))
    }, () =>
      """SELECT user_id, event_id,
        |  round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 4 PRECEDING AND 4 FOLLOWING), 6) AS mov_avg
        |FROM events""".stripMargin),

    // ---- set operations (U1/U2 relational forms) ----
    Query("q08_set_ops", (s, d) => {
      val custNations = t(s, d, "customer").select(col("c_nationkey").as("nk")).distinct()
      val suppNations = t(s, d, "supplier").select(col("s_nationkey").as("nk")).distinct()
      custNations.except(suppNations).withColumn("tag", lit("cust_only"))
        .unionByName(custNations.intersect(suppNations).withColumn("tag", lit("both")))
    }, () =>
      """SELECT nk, 'cust_only' AS tag FROM (
        |  SELECT DISTINCT c_nationkey AS nk FROM customer
        |  EXCEPT SELECT DISTINCT s_nationkey AS nk FROM supplier)
        |UNION ALL
        |SELECT nk, 'both' AS tag FROM (
        |  SELECT DISTINCT c_nationkey AS nk FROM customer
        |  INTERSECT SELECT DISTINCT s_nationkey AS nk FROM supplier)""".stripMargin),

    // ---- grouping sets / distinct ----
    Query("q09_rollup", (s, d) => {
      t(s, d, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"))
    }, () =>
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""".stripMargin),

    Query("q10_distinct_agg", (s, d) => {
      t(s, d, "customer")
        .groupBy(col("c_mktsegment"))
        .agg(countDistinct(col("c_nationkey")).as("n_nations"),
          count(lit(1)).as("n_cust"))
    }, () =>
      """SELECT c_mktsegment, count(DISTINCT c_nationkey) AS n_nations, count(*) AS n_cust
        |FROM customer GROUP BY c_mktsegment""".stripMargin),

    // ---- scalar funcs: json / datetime (F8, F11-adjacent) ----
    Query("q12_json_extract", (s, d) => {
      t(s, d, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
    }, () =>
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events""".stripMargin),

    Query("q13_date_trunc", (s, d) => {
      t(s, d, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"))
    }, () =>
      """SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1""".stripMargin),

    // ---- event-time tumbling window over warc_ts (T-suite batch form) ----
    Query("q17_tumbling_window", (s, d) => {
      pages(s, d)
        .groupBy(window(col("warc_ts"), "1 hour").getField("start").as("wstart"), col("lang"))
        .agg(count(lit(1)).as("n"))
    }, () => (pagesCte +
      """
        |SELECT date_trunc('hour', warc_ts) AS wstart, lang, count(*) AS n
        |FROM pages GROUP BY 1, 2""".stripMargin)),

    Query("q18_cube", (s, d) => {
      t(s, d, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"))
    }, () =>
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin),

    // ---- built-in session windows (beside q19's manual gap windows) ----
    Query("q58_session_window", (s, d) => {
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
    },
    // session_window replay: session = maximal run of events whose gap to
    // the previous is <= 30 min. Spark MERGES ADJACENT windows — next
    // start == current end, i.e. diff == gap, still merges — so a new
    // session starts only at diff STRICTLY > gap (pinned empirically by
    // StreamingSpec's adversarial-timestamp property fuzz, which caught
    // the >= form this replay originally used); session_end = last + gap
    () =>
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
        |GROUP BY user_id, session_id""".stripMargin),

    // ---- as-of join over the events stream table ----
    Query("q57_asof_join", (s, d) => {
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
    },
    // DuckDB's native ASOF JOIN is the oracle for the composed
    // union+window as-of; strict inequality via q.ts > e.ts
    () =>
      """WITH dedup AS (
        |  SELECT user_id, ts, max(event_id) AS event_id, max(value) AS value
        |  FROM events GROUP BY user_id, ts),
        |q AS (SELECT user_id, ts, event_id FROM dedup WHERE event_id % 20 = 0)
        |SELECT q.event_id AS query_event_id, e.event_id AS prev_event_id,
        |  e.value AS prev_value
        |FROM q ASOF JOIN dedup e ON q.user_id = e.user_id AND q.ts > e.ts""".stripMargin),

    // ---- gap sessionization over the events stream table ----
    Query("q19_sessionize", (s, d) => {
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
    }, () =>
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
        |GROUP BY user_id, session_id""".stripMargin),

    Query("q55_source_stats", (s, d) => {
      // per-domain (source) corpus stats — doc counts, token budget,
      // average length; avg derived from an EXACT integer sum so the
      // value is identical at any partitioning (no float-order drift)
      t(s, d, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(Quality.tokens(col("text"))).cast("long")).as("total_tokens"),
          sum(length(col("text")).cast("long")).as("sum_chars"))
        .select(col("source"), col("n_docs"), col("total_tokens"),
          round(col("sum_chars").cast("double") / col("n_docs").cast("double"), 6)
            .as("avg_chars"))
    }, () =>
      s"""SELECT source, count(*) AS n_docs,
        |  CAST(sum(CAST(len(${Quality.tokensSql("text")}) AS BIGINT)) AS BIGINT) AS total_tokens,
        |  round(CAST(sum(CAST(length(text) AS BIGINT)) AS DOUBLE) / count(*), 6) AS avg_chars
        |FROM documents GROUP BY source""".stripMargin),

    Query("q56_host_stats", (s, d) => {
      // per-host page stats over the Common-Crawl-style table: counts +
      // language diversity per domain — the crawl-side analog of q55.
      // Host extraction uses the SAME regex as the DuckDB oracle (on
      // authority-with-userinfo/port or exotic schemes, parse_url and a
      // naive regex disagree — the two sides must share one definition)
      pages(s, d)
        .groupBy(graft.pipeline.Urls.host(col("url")).as("host"))
        .agg(count(lit(1)).as("n_pages"),
          countDistinct(col("lang")).as("n_langs"),
          sum(length(col("text")).cast("long")).as("sum_chars"))
    }, () => (pagesCte +
      s"""
        |SELECT ${graft.pipeline.Urls.hostSql("url")} AS host,
        |  count(*) AS n_pages,
        |  count(DISTINCT lang) AS n_langs,
        |  CAST(sum(CAST(length(text) AS BIGINT)) AS BIGINT) AS sum_chars
        |FROM pages GROUP BY 1""".stripMargin)),

    Query("q119_cohort_retention", (s, d) => {
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
    },
    // cohort replay: identical week-truncation and exact integer
    // microsecond week arithmetic
    () =>
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
         |FROM act a JOIN sizes s ON s.cohort_week = a.cohort_week""".stripMargin),

    Query("q118_funnel", (s, d) => {
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
    },
    // funnel replay: identical chained conditional-min semantics, exact
    // integer conversion latency via epoch_us
    () =>
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
         |LEFT JOIN t3 ON t3.user_id = u.user_id""".stripMargin),

    Query("q64_percentiles", (s, d) => {
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
    }, () =>
      """SELECT lang, count(*) AS n_docs,
        |  CAST(min(length(text)) AS BIGINT) AS min_len,
        |  round(quantile_cont(length(text), 0.25), 6) AS p25,
        |  round(quantile_cont(length(text), 0.5), 6) AS p50,
        |  round(quantile_cont(length(text), 0.9), 6) AS p90,
        |  round(quantile_cont(length(text), 0.99), 6) AS p99,
        |  CAST(max(length(text)) AS BIGINT) AS max_len
        |FROM documents GROUP BY lang""".stripMargin),

    Query("q67_interval_join", (s, d) => {
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
    },
    // the oracle runs the PLAIN range-predicate join DuckDB optimizes
    // natively — an implementation-independent restatement of q67
    () =>
      """WITH hours AS (
        |  SELECT date_trunc('hour', ts) AS interval_id, count(*) AS n
        |  FROM events GROUP BY 1 ORDER BY n DESC, interval_id LIMIT 12),
        |iv AS (
        |  SELECT interval_id, interval_id - INTERVAL 30 MINUTE AS ws,
        |    interval_id + INTERVAL 90 MINUTE AS we FROM hours)
        |SELECT interval_id, count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users
        |FROM events e JOIN iv ON e.ts >= iv.ws AND e.ts < iv.we
        |GROUP BY interval_id""".stripMargin)
  )

  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))
}
