package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry
import graft.data.{Courses, Pages}
import graft.pipeline.{CourseEngine, SpatialJoin}

/** Structured-Streaming engine surface: incremental spatial join with
  * exactly-once stop/resume (T1+T2), progress events (T1 consumer side),
  * watermarked event-time windows. */
class StreamingSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark = graft.expr.SparkTestSession.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val bounds = graft.sources.Storage.localize(
    CourseEngine.boundaries(Courses.itemsDf(spark, SparkEntry.NCourses)))
  private lazy val cover = graft.sources.Storage.localize(SpatialJoin.coverDfFlat(bounds))
  private lazy val allPages = Pages.pages(spark, sfDir, SparkEntry.Amp).cache()

  test("streaming assign: stop, add input, resume from checkpoint — exactly-once") {
    val base = tempDir("graft-stream").toString
    val (in, out, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
    Files.createDirectories(java.nio.file.Paths.get(in))

    val expectedTotal = SpatialJoin.assignPagesFlat(allPages, cover, bounds).count()
    assert(expectedTotal > 0)

    // chunk 1 arrives; run to drain, then the query stops (T2 analog)
    allPages.filter($"page_id" % 2 === 0).write.mode("append").parquet(in)
    val log = new PageStream.ProgressLog()
    val metrics = new PageStream.MetricsSink(spark, s"$base/_metrics")
    spark.streams.addListener(log)
    spark.streams.addListener(metrics)
    try {
      val q1 = PageStream.assignQuery(PageStream.pagesStream(spark, in), cover, bounds, out, ckpt)
      q1.awaitTermination()
      val afterChunk1 = spark.read.parquet(out).count()
      assert(afterChunk1 > 0 && afterChunk1 < expectedTotal)

      // chunk 2 arrives while "down"; restart with the SAME checkpoint
      allPages.filter($"page_id" % 2 === 1).write.mode("append").parquet(in)
      val q2 = PageStream.assignQuery(PageStream.pagesStream(spark, in), cover, bounds, out, ckpt)
      q2.awaitTermination()

      val result = spark.read.parquet(out)
      // exactly-once: total matches the batch run, zero duplicates
      assert(result.count() === expectedTotal)
      assert(result.select($"url", $"clubId", $"courseId", $"holeNumber")
        .distinct().count() === expectedTotal)

      // byte-identity invariant holds through the streaming path too
      val src = allPages.select($"url", $"text")
      assert(result.select($"url", $"text").distinct()
        .join(src, Seq("url", "text"), "left_anti").count() === 0)

      // progress events observed (the "Generated image:" analog)
      val seen = log.events.toArray(Array.empty[PageStream.Progress])
      assert(seen.nonEmpty)
      assert(seen.map(_.numInputRows).sum === allPages.count())

      // durable _metrics lineage rows agree with the in-memory events (S6),
      // and the preview-limit consumer reads at most n of them (T3).
      // The log is ONE appended jsonl file regardless of batch count (the
      // small-files-per-micro-batch anti-pattern is the thing under test)
      assert(new java.io.File(s"$base/_metrics").listFiles().count(_.isFile) === 1)
      val m = spark.read.schema(PageStream.metricsSchema).json(s"$base/_metrics")
      assert(m.count() === seen.length)
      assert(m.agg(sum($"num_input_rows")).head().getLong(0) === allPages.count())
      assert(PageStream.recentBatches(spark, s"$base/_metrics", 2).count() <= 2)
    } finally {
      spark.streams.removeListener(log)
      spark.streams.removeListener(metrics)
    }
  }

  test("streaming exact dedup: in-horizon duplicates dropped, state watermark-bounded") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, String)]
    val df = in.toDF().toDF("warc_ts", "text")
    val q = PageStream.dedupStream(df, "10 minutes")
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")
      def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
      in.addData((ts(0), "alpha"), (ts(1), "alpha"), (ts(2), "beta"))
      q.processAllAvailable()
      // a duplicate arriving later but within the horizon is still dropped
      in.addData((ts(5), "alpha"), (ts(6), "gamma"))
      q.processAllAvailable()
      val texts = spark.table("dedup_out").collect().map(_.getString(1)).sorted.toSeq
      assert(texts == Seq("alpha", "beta", "gamma"))
    } finally q.stop()
  }

  test("stateful sessionization: gap-close and timeout-close, exactly once") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, java.sql.Timestamp)]
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2025-01-01 $h%02d:$m%02d:00")
    val out = Sessionize.sessions(
      ms.toDF().toDF("user_id", "ts"), gapSec = 1800, watermark = "1 hour")
    val q = out.writeStream.format("memory").queryName("sess").outputMode("append").start()
    try {
      // one open session for user 1
      ms.addData((1L, ts(10, 0)), (1L, ts(10, 10)))
      q.processAllAvailable()
      assert(spark.table("sess").count() === 0) // nothing final yet
      // a later event: gap detected, but the session only becomes FINAL
      // once the watermark passes its end + gap (out-of-order safety)
      ms.addData((1L, ts(12, 0)))
      q.processAllAvailable()
      // an OUT-OF-ORDER but on-time event lands in a later micro-batch,
      // BEFORE the open 12:00 session and > gap after 10:10: it must
      // become its own session, not merge into either neighbor
      ms.addData((1L, ts(11, 15)))
      q.processAllAvailable()
      // watermark is now 11:00 (12:00 - 1h); next trigger closes session 1
      ms.addData((2L, ts(20, 0)))
      q.processAllAvailable()
      // (the post-batch no-data trigger may already have fired timeouts
      // for everything behind the 19:00 watermark)
      val s1 = spark.table("sess").as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)]
        .collect().toSet
      assert(s1.contains((1L, ts(10, 0), ts(10, 10), 2L)))
      // watermark 19:00 closes user 1's remaining sessions by timeout
      ms.addData((2L, ts(20, 30)))
      q.processAllAvailable()
      val s2 = spark.table("sess").as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)]
        .collect().toSet
      assert(s2.contains((1L, ts(11, 15), ts(11, 15), 1L)))
      assert(s2.contains((1L, ts(12, 0), ts(12, 0), 1L)))
      assert(s2.size === 3) // no duplicates, no merges, user 2 still open
    } finally q.stop()
  }

  test("streamed sessions are a prefix of the batch sessionization (q19 parity)") {
    val events = spark.read.parquet(s"$sfDir/events.parquet")
    // batch oracle: the q19 definition
    val batch = graft.SparkEntry.queries("q19_sessionize")(spark, sfDir)
      .select($"user_id", $"t_start", $"t_end", $"n_events")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)].collect().toSet
    // stream the same rows through the stateful operator; AvailableNow
    // drains the input, so only watermark-closed sessions emit — a strict
    // subset of the batch result, never a contradiction of it
    val base = tempDir("graft-sess").toString
    events.select($"user_id", $"ts").write.parquet(s"$base/in")
    val stream = spark.readStream
      .schema("user_id LONG, ts TIMESTAMP_NTZ")
      .parquet(s"$base/in")
    val q = Sessionize.sessions(stream, gapSec = 1800, watermark = "1 minute")
      .writeStream.format("memory").queryName("sess_par").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("sess_par")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)].collect().toSet
    assert(streamed.nonEmpty)
    val contradictions = streamed -- batch
    assert(contradictions.isEmpty, s"streamed sessions not in batch: ${contradictions.take(3)}")
  }

  test("built-in session_window streaming: closed sessions match the batch q58 set") {
    val events = spark.read.parquet(s"$sfDir/events.parquet")
    val batch = SparkEntry.queries("q58_session_window")(spark, sfDir)
      .selectExpr("user_id", "unix_micros(CAST(session_start AS TIMESTAMP)) AS s",
        "unix_micros(CAST(session_end AS TIMESTAMP)) AS e", "n_events")
      .as[(Long, Long, Long, Long)].collect().toSet
    val base = tempDir("graft-sessb").toString
    events.select($"user_id", $"ts").write.parquet(s"$base/in")
    val stream = spark.readStream.schema(events.select($"user_id", $"ts").schema)
      .parquet(s"$base/in")
    val q = Sessionize.sessionsBuiltin(stream, gap = "30 minutes", watermark = "1 minute")
      .selectExpr("user_id", "unix_micros(CAST(session_start AS TIMESTAMP)) AS s",
        "unix_micros(CAST(session_end AS TIMESTAMP)) AS e", "n_events")
      .writeStream.format("memory").queryName("sessb").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("sessb")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(streamed.nonEmpty, "no sessions finalized — watermark never advanced")
    val contradictions = streamed -- batch
    assert(contradictions.isEmpty,
      s"streamed built-in sessions not in batch q58: ${contradictions.take(3)}")
  }

  test("streaming minhash dedup: retained set equals the batch first-wins rule") {
    import graft.{functions => gf}
    gf.registerAll(spark)
    // docs ordered by doc_id in event time (1s apart) + a far-future
    // sentinel whose sole job is to push the final watermark past every
    // real doc's window so stage 2 finalizes them all
    val base = java.sql.Timestamp.valueOf("2025-03-01 00:00:00").getTime
    val sentinelId = 999999L
    // sf0.01 (not this spec's sf0.001): the smallest corpus whose planted
    // near-dups actually band-collide, so the parity check is non-vacuous
    val dedupCorpus = "/root/testdata/sf0.01/documents.parquet"
    val docs = spark.read.parquet(dedupCorpus)
      .select($"doc_id", $"text")
      .unionByName(Seq((sentinelId, "sentinel far future doc")).toDF("doc_id", "text"))
      .select($"doc_id", expr(s"timestamp_millis($base + doc_id * 1000)").as("ts"), $"text")
    // batch expected: the SHARED Dedup scheme over the SAME augmented
    // input — the single-definition invariant means this replica can
    // never drift from what the stream under test computes
    val expected = graft.pipeline.Dedup
      .firstWinsKept(graft.pipeline.Dedup.banded(docs, "doc_id"))
      .filter($"kept" && $"doc_id" =!= sentinelId)
      .select($"doc_id").as[Long].collect().toSet
    val dir = tempDir("graft-neardup").toString
    docs.write.parquet(s"$dir/in")
    val stream = spark.readStream.schema(docs.schema).parquet(s"$dir/in")
    // ttl must outlive the whole doc_id range (500s) for stream == batch
    val q = NearDup.kept(stream, watermark = "10 seconds", ttlMillis = 86400000L,
        disableChainedStateCheck = true)
      .writeStream.format("memory").queryName("neardup").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("neardup")
      .filter($"doc_id" =!= sentinelId).select($"doc_id").as[Long].collect().toSet
    assert(streamed.nonEmpty, "no retained docs finalized — watermark never advanced")
    assert(streamed == expected,
      s"stream/batch retention drift: onlyBatch=${(expected -- streamed).take(5)} " +
        s"onlyStream=${(streamed -- expected).take(5)}")
    // every emitted doc carries all 16 band claims
    val nb = spark.table("neardup").select($"n_bands").as[Long].collect()
    assert(nb.forall(_ == 16L), s"partial band groups emitted: ${nb.distinct.toSeq}")
  }

  test("stream-stream join: page x budget-grant matches equal the batch join") {
    val pages = allPages.select($"url", $"warc_ts")
    val (tMin, tMax) = pages.agg(min($"warc_ts"), max($"warc_ts"))
      .as[(java.sql.Timestamp, java.sql.Timestamp)].collect().head
    // deterministic grants: every distinct host x 3 issue times across the
    // crawl span (the middle one offset so some pages fall outside validFor)
    val span = tMax.getTime - tMin.getTime
    val grants = pages
      .select(regexp_extract($"url", "^[a-z]+://([^/]+)", 1).as("host")).distinct()
      .crossJoin(Seq(0L, span / 2 + 1234567L, span).toDF("off"))
      .select($"host", concat($"host", lit("#"), $"off").as("grant_id"),
        expr(s"timestamp_millis(${tMin.getTime} + off)").as("issued_ts"))
    val expected = pages
      .select(regexp_extract($"url", "^[a-z]+://([^/]+)", 1).as("p_host"),
        $"url", $"warc_ts")
      .join(grants, $"p_host" === $"host" && $"warc_ts" >= $"issued_ts" &&
        $"warc_ts" < $"issued_ts" + expr("INTERVAL 1 HOUR"))
      .select($"url", $"grant_id").as[(String, String)].collect().toSet
    assert(expected.nonEmpty, "fixture produced no batch matches")
    val base = tempDir("graft-ssj").toString
    pages.write.parquet(s"$base/pages")
    grants.write.parquet(s"$base/grants")
    val q = PageStream.pagesWithBudget(
        spark.readStream.schema(pages.schema).parquet(s"$base/pages"),
        spark.readStream.schema(grants.schema).parquet(s"$base/grants"),
        watermark = "2 hours", validFor = "1 hour")
      .writeStream.format("memory").queryName("ssjoin").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("ssjoin")
      .select($"url", $"grant_id").as[(String, String)].collect().toSet
    assert(streamed == expected,
      s"stream/batch join drift: onlyBatch=${(expected -- streamed).take(3)} " +
        s"onlyStream=${(streamed -- expected).take(3)}")
  }

  test("near-dup band state ages out: an expired band can be re-claimed") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2025-05-01 00:00:00").getTime
    def ts(offsetMin: Long) = new java.sql.Timestamp(t0 + offsetMin * 60000L)
    val dupText = "alpha beta gamma delta epsilon zeta eta theta " * 3
    val ms = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = NearDup.bandClaims(
        ms.toDF().toDF("doc_id", "ts", "text"),
        watermark = "10 seconds", ttlMillis = 3600000L) // ttl 1h
      .toDF()
      .writeStream.format("memory").queryName("bandclaims").outputMode("append").start()
    try {
      // doc 1 claims its bands
      ms.addData((1L, ts(0), dupText)); q.processAllAvailable()
      // two filler batches push the watermark past doc 1's ttl; their
      // band keys receive no data next batch, so doc 1's bands TIME OUT
      // (a key that receives data is called with its state intact —
      // timeouts fire only for silent keys once the watermark passes)
      ms.addData((90L, ts(180), "filler one unrelated text"))
      q.processAllAvailable()
      ms.addData((91L, ts(181), "filler two other text"))
      q.processAllAvailable()
      // doc 2: same text, 4h later — bands expired, so it re-claims them
      ms.addData((2L, ts(240), dupText)); q.processAllAvailable()
      // doc 3: same text 1min after doc 2 — doc 2 now holds the bands
      ms.addData((3L, ts(241), dupText)); q.processAllAvailable()
      val claims = spark.table("bandclaims")
        .select($"doc_id", $"first").as[(Long, Boolean)].collect()
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      assert(claims(1L).length == 16 && claims(1L).forall(identity),
        "doc 1 must claim all 16 bands first")
      assert(claims(2L).length == 16 && claims(2L).forall(identity),
        s"doc 2 must re-claim expired bands, got ${claims(2L).count(identity)}/16 first")
      assert(claims(3L).length == 16 && !claims(3L).exists(identity),
        s"doc 3 must find every band held by doc 2, got ${claims(3L).count(identity)} first")
    } finally q.stop()
  }

  test("session_window matches hand-derived gap semantics on adversarial timestamps") {
    // property fuzz for the q58 oracle's semantics-by-hand replay (r2
    // verdict #7): duplicate timestamps, exact-gap boundaries, gap±1us,
    // cross-midnight bases — the pure-Scala fold must equal Spark's
    // operator exactly. THIS TEST FOUND THE EDGE: Spark merges ADJACENT
    // windows (next start == current end, i.e. diff == gap), so a new
    // session starts only at diff > gap — the q58 oracle originally
    // replayed >= and was corrected to match (real microsecond data never
    // lands on the exact boundary, which is why it was green anyway)
    val gapUs = 1800L * 1000000L
    val rnd = new scala.util.Random(23)
    (0 until 25).foreach { iter =>
      val deltas = Seq(0L, 1L, gapUs - 1L, gapUs, gapUs + 1L)
      val rows = (0 until 3).flatMap { u =>
        var t = java.sql.Timestamp.valueOf("2025-01-01 23:40:00").getTime * 1000L + u
        (0 until 5 + rnd.nextInt(15)).map { _ =>
          t += (if (rnd.nextBoolean()) deltas(rnd.nextInt(deltas.length))
                else math.abs(rnd.nextLong()) % (2 * gapUs))
          (u.toLong, t)
        }
      }
      val expected = rows.groupBy(_._1).flatMap { case (u, es) =>
        val ts = es.map(_._2).sorted
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
        var s = ts.head; var e = ts.head; var n = 1L
        ts.tail.foreach { t =>
          if (t - e > gapUs) { out += ((s, e, n)); s = t; e = t; n = 1L }
          else { e = t; n += 1L }
        }
        out += ((s, e, n))
        out.map { case (start, end, cnt) => (u, start, end + gapUs, cnt) }
      }.toSet
      val got = rows.toDF("user_id", "us")
        .select($"user_id", expr("timestamp_micros(us)").as("ts"))
        .groupBy($"user_id", session_window($"ts", "30 minutes"))
        .agg(count(lit(1)).as("n"))
        .selectExpr("user_id", "unix_micros(session_window.start)",
          "unix_micros(session_window.end)", "n")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got == expected,
        s"iter $iter: onlyExpected=${(expected -- got).take(2)} onlyGot=${(got -- expected).take(2)}")
    }
  }

  test("windowed counts: watermark finalizes windows and drops late rows") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String)]
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2025-01-01 $h%02d:$m%02d:00")
    val counts = PageStream.windowedCounts(
      ms.toDF().toDF("warc_ts", "lang"), watermark = "1 hour", width = "1 hour")
    val q = counts.writeStream.format("memory").queryName("wc").outputMode("append").start()
    try {
      ms.addData((ts(10, 0), "en"), (ts(10, 15), "en"), (ts(10, 20), "de"))
      q.processAllAvailable()
      // advance event time to 12:30 -> watermark 11:30 -> hour 10 finalizes
      ms.addData((ts(12, 30), "en"))
      q.processAllAvailable()
      // this 10:xx row is behind the watermark: dropped, not re-emitted
      ms.addData((ts(10, 30), "en"))
      q.processAllAvailable()
      // advance to 14:00 -> watermark 13:00 -> hour 12 finalizes too
      ms.addData((ts(14, 0), "fr"))
      q.processAllAvailable()
      val rows = spark.table("wc")
        .select(date_format($"wstart", "HH").as("h"), $"lang", $"n")
        .as[(String, String, Long)].collect().toSet
      assert(rows.contains(("10", "en", 2L))) // late row NOT counted
      assert(rows.contains(("10", "de", 1L)))
      assert(rows.contains(("12", "en", 1L)))
      assert(!rows.exists(_._1 == "14"))      // hour 14 not finalized yet
    } finally q.stop()
  }
}
