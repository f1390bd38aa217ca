package graft.data

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession
import graft.sources.Warc
import graft.sources.Storage.deleteRecursively

/**
 * Deterministic on-disk fixtures for the driver-visible SOURCE queries
 * (q59 JSONL scan, q60 WARC ingest, q61 snapshot time-travel) and the
 * flagship-family oracle inputs. Content is
 * a pure function of the seed; each builder writes once per JVM (memoized)
 * into a PROCESS-SCOPED root, so concurrent driver runs (e.g. the two
 * Verify processes of the partitioning-invariance check) can never race on
 * a shared path, a stale directory from an earlier round can't leak in,
 * and repeated bench runs don't re-pay fixture I/O inside timed sections.
 */
object Fixtures {

  /** Absolute per-process root: the oracle SQL strings are built in the
    * same JVM that writes the fixtures, so they embed this exact path —
    * and the driver's DuckDB pass reads oracle_sql.json afterwards, so
    * the files must simply outlive the run (they do; /tmp). NOTE for
    * targeted re-dumps (SPARK_GRAFT_ONLY): oracle_sql.json always carries
    * THIS process's path, so source-query dumps from an earlier process
    * will no longer match — include q59/q60 in the filter, or pin
    * SPARK_GRAFT_FIXTURE_ROOT to reuse a fixed directory. */
  val Root = sys.env.getOrElse("SPARK_GRAFT_FIXTURE_ROOT",
    s"/tmp/graft_fixtures_${ProcessHandle.current().pid()}")

  /** Build-once-per-JVM memo (builders are called from every
    * `SparkEntry.queries` evaluation, including 3x-repeated bench runs).
    * computeIfAbsent BLOCKS concurrent losers until the winner's build
    * completes — a non-blocking flag would hand a second thread the path
    * of a half-written fixture. */
  private val built = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  private def once(key: String)(build: => Unit): Unit =
    built.computeIfAbsent(key, _ => { build; java.lang.Boolean.TRUE })

  // -------------------------------------------------------------------
  // q59 — reference-shaped JSONL course layouts (S1's real input format,
  // plot_courses.py:327-339; the file itself is absent from the reference
  // repo, .MISSING_LARGE_BLOBS:1)
  // -------------------------------------------------------------------
  def jsonlDir(spark: SparkSession, nCourses: Int): String = {
    // dir scoped by nCourses (like snapshotTable's sfDir scoping): two
    // course counts in one JVM must not clobber each other's files
    val dir = s"$Root/layouts_jsonl_$nCourses"
    once(dir) { Courses.writeJsonl(spark, dir, nCourses) }
    dir
  }

  /** Build every fixture the oracle SQL references — Verify calls this
    * UNCONDITIONALLY (even under SPARK_GRAFT_ONLY) because it rewrites
    * oracle_sql.json in full with THIS process's fixture paths; a
    * targeted re-dump that skipped q59/q60 would otherwise emit oracle
    * SQL naming files that were never written. */
  def ensureAll(spark: SparkSession, sfDir: String, nCourses: Int): Unit = {
    import scala.concurrent.{Await, Future, duration}
    // the oracle inputs share nothing with the source fixtures; their six
    // small latency-bound write jobs overlap the source fixtures' jobs
    // instead of adding ~3 s after them
    val inputs = Future(oracleInputs(spark))(scala.concurrent.ExecutionContext.global)
    jsonlDir(spark, nCourses)
    warcDir()
    htmlWarcDir()
    snapshotTable(spark, sfDir)
    Await.result(inputs, duration.Duration.Inf)
  }

  /** Directory of one flagship-family oracle input (a parquet dataset
    * named after the oracle CTE that reads it). */
  def oracleInputDir(name: String): String = s"$oracleInputsRoot/$name"
  private def oracleInputsRoot = s"$Root/oracle_inputs"

  /** Writes every `GeoQueries.oracleInputFrames` frame as ONE parquet file
    * (the pure-JVM rows in Seq order), once per JVM. */
  private def oracleInputs(spark: SparkSession): Unit = {
    once(oracleInputsRoot) {
      deleteRecursively(Paths.get(oracleInputsRoot))
      graft.queries.GeoQueries.oracleInputFrames(spark).foreach { case (name, df) =>
        df.coalesce(1).write.parquet(oracleInputDir(name))
      }
    }
  }

  // -------------------------------------------------------------------
  // q60 — WARC segment with adversarial payloads (embedded CRLFCRLF,
  // non-UTF8 bytes, zero-padded sizes): only a Content-Length parser
  // recovers the exact payload bytes the offset index points at.
  // -------------------------------------------------------------------
  def warcRecords(n: Int = 24, seed: Long = 7L): Seq[Warc.WarcRecord] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val payload = new Array[Byte](8 + rnd.nextInt(160))
      rnd.nextBytes(payload)
      // plant the record separator inside the payload — a delimiter-based
      // parser mis-splits here and every downstream offset shifts
      payload(0) = '\r'; payload(1) = '\n'; payload(2) = '\r'; payload(3) = '\n'
      Warc.WarcRecord(
        if (i % 4 == 0) "request" else "response",
        s"https://w$i.example.org/p$i",
        f"2025-04-${i % 9 + 1}%02dT${i % 10}%02d:00:00Z",
        s"<urn:uuid:w$i>", "application/octet-stream", payload)
    }
  }

  // -------------------------------------------------------------------
  // q73 — HTML crawl segment: `application/http` response records whose
  // payloads are full HTTP messages with ASCII HTML bodies in the LangId
  // profile languages. script/style blocks carry ENGLISH-stopword poison,
  // so a text-extraction bug (tags surviving, blocks not dropped) flips
  // non-English predictions and fails the driver compare — the fixture
  // actively tests the extractor, not just the parser.
  // -------------------------------------------------------------------

  /** Per-language filler vocabularies (no overlap with other languages'
    * stopword profiles, so prediction signal is unambiguous). */
  private val crawlFillers = Map(
    "en" -> Seq("golf", "course", "green", "fairway", "club", "hole", "page", "crawl", "data", "engine"),
    "es" -> Seq("campo", "verde", "calle", "palo", "hoyo", "pagina", "datos", "motor", "juego", "cesped"),
    "de" -> Seq("platz", "gruen", "bahn", "schlaeger", "loch", "seite", "daten", "spiel", "rasen", "karte"),
    "fr" -> Seq("parcours", "vert", "allee", "baton", "trou", "donnees", "moteur", "jeu", "gazon", "carte"))

  def htmlCrawlRecords(n: Int = 20, seed: Long = 11L): Seq[Warc.WarcRecord] = {
    val rnd = new scala.util.Random(seed)
    val langSeq = Seq("en", "es", "de", "fr", "und")
    (0 until n).map { i =>
      val lang = langSeq(i % langSeq.size)
      val stop = graft.pipeline.LangId.Profiles.toMap
        .getOrElse(lang, Seq("zzz", "qqq", "xxw", "vvk", "jjq"))
      val fill = crawlFillers.getOrElse(lang, Seq("zork", "blip", "quux", "fnord", "gronk"))
      val nTok =
        if (i == 7) 8 // below the q54 gate's 20-token floor
        else if (i == 11) 60 // repetitive -> distinct_ratio gate fail
        else 40 + rnd.nextInt(160)
      val words =
        if (i == 11) Seq.fill(60)("spam")
        else (0 until nTok).map { j =>
          // numeric suffixes keep filler tokens diverse enough that an
          // ENGLISH doc of typical length passes the distinct_ratio gate
          // (the all-"spam" doc and the 8-token doc are the fail cases)
          if (j % 3 == 0) stop(rnd.nextInt(stop.size))
          else fill(rnd.nextInt(fill.size)) + rnd.nextInt(40)
        }
      val paras = words.grouped(12).zipWithIndex.map { case (p, k) =>
        val s = p.mkString(" ")
        // entities the extractor must decode (&amp; LAST-decode rule)
        val dec =
          if (k % 4 == 1) s + " &amp; extra"
          else if (k % 4 == 2) s + " it&#39;s &quot;quoted&quot; &amp;lt;kept"
          else s
        s"""<p class="t$k">$dec</p>"""
      }.mkString("\n")
      // '\n'-only newlines in the body: the FIRST CRLFCRLF in the payload
      // is the HTTP header terminator on both the engine and oracle side
      val html =
        s"""<html><head><title>page $i</title>
           |<style type="text/css"> body { color: red } /* the and of to a */ </style>
           |<script> var poison = "the and of to a the and of to a"; </script>
           |</head><body>
           |<h1>${fill.head} ${stop.head}</h1>
           |$paras
           |</body></html>""".stripMargin
      val http = "HTTP/1.1 200 OK\r\nServer: graft-fixture\r\n" +
        "Content-Type: text/html; charset=utf-8\r\n\r\n"
      Warc.WarcRecord(
        if (i % 7 == 6) "request" else "response", // some filtered by toPages
        s"https://crawl$i.example.org/page$i",
        f"2025-05-${i % 9 + 1}%02dT${i % 10}%02d:30:00Z",
        s"<urn:uuid:c$i>", "application/http; msgtype=response",
        (http + html).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
  }

  /** Writes the HTML crawl segment; returns its directory. */
  def htmlWarcDir(): String = {
    val dir = java.nio.file.Paths.get(Root, "crawl")
    once(dir.toString) {
      deleteRecursively(dir)
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.write(dir.resolve("crawl-00000.warc"),
        Warc.writeWarc(htmlCrawlRecords()))
    }
    dir.toString
  }

  /** Writes the uncompressed fixture segment; returns its directory.
    * Idempotent byte-for-byte (pure function of the seed). */
  def warcDir(): String = {
    val dir = java.nio.file.Paths.get(Root, "warc")
    once(dir.toString) {
      // clear first: Warc.read globs *.warc*, so a stale extra segment
      // would be parsed while the oracle reads only seg-00000.warc at
      // fixed offsets (the per-process Root makes this a fresh dir in
      // practice; the delete is belt-and-braces)
      deleteRecursively(dir)
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.write(dir.resolve("seg-00000.warc"),
        Warc.writeWarc(warcRecords()))
    }
    dir.toString
  }

  /** CDX-style payload index of the fixture segment: for each record, its
    * payload's BYTE OFFSET within the file and length — derived from the
    * serializer, NOT the parser, so an oracle slicing the raw file at
    * these offsets independently checks every record boundary the parser
    * found. (Common Crawl's CDX index stores exactly this triple.) */
  def warcPayloadIndex(records: Seq[Warc.WarcRecord] = warcRecords())
      : Seq[(Warc.WarcRecord, Long, Int)] = {
    var off = 0L
    records.map { r =>
      val head = Warc.recordHeader(r)
      val payloadOff = off + head.length
      off = payloadOff + r.payload.length + 4 // trailing CRLF CRLF
      (r, payloadOff, r.payload.length)
    }
  }

  // -------------------------------------------------------------------
  // q74 — the streaming-dedup input: documents with event times that
  // follow doc_id (1s apart), plus ONE far-future sentinel whose sole job
  // is to advance the final watermark past every real doc's window so the
  // chained stateful aggregation finalizes them all under AvailableNow.
  // The sentinel is engine-side only (filtered from the output; the
  // oracle replays the batch twin over the plain documents table) — it
  // can never change a real doc's retention: its id sorts after every
  // real id, so it loses every band it shares.
  // -------------------------------------------------------------------
  val StreamSentinelId = 999999999L

  def streamDocsDir(spark: SparkSession, sfDir: String): String = {
    import org.apache.spark.sql.functions.{col, expr}
    val dir = s"$Root/stream_docs_${sfDir.replaceAll("[^A-Za-z0-9.]", "_")}"
    once(dir) {
      deleteRecursively(Paths.get(dir))
      import spark.implicits._
      val base = java.sql.Timestamp.valueOf("2025-03-01 00:00:00").getTime
      // ONE part file, deliberately: q74's correctness needs the far-future
      // sentinel to share (or follow) every real doc's micro-batch — if the
      // file source ever split a multi-file fixture with the sentinel's
      // file in an EARLIER batch, the watermark would advance past every
      // later real doc and the chained windowed aggregation would drop
      // them as late rows (r4 ADVICE item). A single file makes the
      // AvailableNow run exactly one micro-batch whatever
      // maxFilesPerTrigger defaults to; q74 asserts that invariant.
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .unionByName(Seq((StreamSentinelId, "sentinel far future doc"))
          .toDF("doc_id", "text"))
        .select(col("doc_id"),
          expr(s"timestamp_millis(${base}L + doc_id * 1000)").as("ts"), col("text"))
        .coalesce(1)
        .write.parquet(dir)
    }
    dir
  }

  // -------------------------------------------------------------------
  // q92 — the stream-stream budget-join inputs: a pages stream (url +
  // event time derived from documents) and a crawl-budget grants stream
  // (20 hosts x 10 grants, deterministic issue times). Each side is ONE
  // parquet file — the q74 single-micro-batch rule: an inner stream-
  // stream join emits matches as both sides arrive, and a single batch
  // means the watermark can never drop a row as late, so the batch twin
  // (a plain interval join, the q92 oracle) is exactly the expected
  // output.
  // -------------------------------------------------------------------
  /** 2025-03-01T00:00:00Z in epoch micros — shared by the fixture builder
    * and the q92 oracle SQL (one constant, both sides). */
  val BudgetBaseUs: Long =
    java.time.Instant.parse("2025-03-01T00:00:00Z").getEpochSecond * 1000000L

  def budgetStreamDirs(spark: SparkSession, sfDir: String): (String, String) = {
    import org.apache.spark.sql.functions._
    val tag = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    val pagesDir = s"$Root/budget_pages_$tag"
    val grantsDir = s"$Root/budget_grants_$tag"
    once(pagesDir) {
      deleteRecursively(Paths.get(pagesDir))
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"))
        .select(
          concat(lit("https://host"), (col("doc_id") % 20).cast("string"),
            lit(".example.com/p/"), col("doc_id").cast("string")).as("url"),
          expr(s"timestamp_micros($BudgetBaseUs + doc_id * 37000000)").as("warc_ts"))
        .coalesce(1).write.parquet(pagesDir)
    }
    once(grantsDir) {
      deleteRecursively(Paths.get(grantsDir))
      spark.range(0, 200)
        .select(
          concat(lit("host"), (col("id") / 10).cast("long").cast("string"),
            lit(".example.com")).as("host"),
          col("id").as("grant_id"),
          expr(s"timestamp_micros($BudgetBaseUs + " +
            s"((id div 10) * 97 + (id % 10) * 533) * 1000000)").as("issued_ts"))
        .coalesce(1).write.parquet(grantsDir)
    }
    (pagesDir, grantsDir)
  }

  // -------------------------------------------------------------------
  // q89 — the embedding near-dup corpus: the embeddings table plus
  // deterministic near-duplicate copies (ONE perturbed component each).
  // The raw fixture's max pairwise cosine is 0.513 — far below any
  // near-dup threshold — so retention would be vacuous without planted
  // dups. The perturbation (float32 of float64 + delta) is replayed
  // verbatim by the q89 DuckDB oracle; a pure frame transform, no disk.
  // -------------------------------------------------------------------
  def embDupCorpus(spark: SparkSession, sfDir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.{Column, DataFrame}
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    // NOTE: `pos` is materialized in its own select BEFORE the id gets
    // re-aliased — Spark 4's lateral-column-alias resolution would
    // otherwise bind a `vec_id` reference inside the transform lambda to
    // the NEW `vec_id + offset` alias in the same select list, silently
    // perturbing position (id+offset) % 64 (found by the q89 oracle
    // disagreeing on exactly two borderline pairs).
    def dup(base: DataFrame, offset: Long, pos: Column, delta: Double) =
      base.select(col("vec_id"), col("embedding"), pos.cast("long").as("__pos"))
        .select((col("vec_id") + offset).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            when(i.cast("long") === col("__pos"),
              (x.cast("double") + lit(delta)).cast("float"))
              .otherwise(x)).as("embedding"))
    emb
      .unionByName(dup(emb, 1000L, col("vec_id") % 64, 0.05))
      .unionByName(dup(emb.filter(col("vec_id") < 100),
        2000L, (col("vec_id") * 7 + 13) % 64, 0.07))
  }

  // -------------------------------------------------------------------
  // q61 — snapshot table rebuilt from scratch each call: two commits
  // (full nation, then an appended filtered slice), so VERSION AS OF 1
  // and 2 read provably different live sets.
  // -------------------------------------------------------------------
  def snapshotTable(spark: SparkSession, sfDir: String): String = {
    import org.apache.spark.sql.functions.col
    // dir scoped by scale: a JVM driving multiple scales must not serve
    // (or clobber) one scale's table for another — the q61 oracle never
    // references this path, so it can vary freely
    val dir = s"$Root/snap_nation_${sfDir.replaceAll("[^A-Za-z0-9.]", "_")}"
    once(s"$dir#$sfDir") {
      deleteRecursively(Paths.get(dir))
      val nation = spark.read.parquet(s"$sfDir/nation.parquet")
      val v1 = graft.sources.Snapshots.commit(nation, dir)
      val v2 = graft.sources.Snapshots.commit(
        nation.filter(col("n_nationkey") < 10), dir) // fast-append
      require(v1 == 1L && v2 == 2L, s"fresh table must commit v1,v2 — got $v1,$v2")
    }
    dir
  }

  // -------------------------------------------------------------------
  // q85 — merge/CDC table: v1 = full nation; v2 = MERGE of 5 updated
  // comments + 1 brand-new key, committed as an overwrite snapshot. The
  // diff between the versions is then fully derivable from the nation
  // table alone (which is how the oracle re-derives it).
  // -------------------------------------------------------------------
  def mergeTable(spark: SparkSession, sfDir: String): String = {
    import org.apache.spark.sql.functions._
    val dir = s"$Root/merge_nation_${sfDir.replaceAll("[^A-Za-z0-9.]", "_")}"
    once(s"$dir#$sfDir") {
      deleteRecursively(Paths.get(dir))
      val nation = spark.read.parquet(s"$sfDir/nation.parquet")
      val v1 = graft.sources.Snapshots.commit(nation, dir)
      // the new row's key types follow the table's own schema so the
      // union can never widen silently (nation is 3 columns here:
      // key/name/regionkey — the update rewrites n_name)
      val newRow = nation.limit(1).select(
        lit(99).cast(nation.schema("n_nationkey").dataType).as("n_nationkey"),
        lit("ZZTOP").as("n_name"),
        lit(0).cast(nation.schema("n_regionkey").dataType).as("n_regionkey"))
      val updates = nation.filter(col("n_nationkey") < 5)
        .withColumn("n_name",
          concat(lit("updated-"), col("n_nationkey").cast("string")))
        .unionByName(newRow)
      val v2 = graft.sources.Snapshots.merge(spark, dir, updates, "n_nationkey")
      require(v1 == 1L && v2 == 2L, s"fresh merge table must commit v1,v2 — got $v1,$v2")
    }
    dir
  }

  /** Scratch checkpoint root for the streaming CORRECTNESS rows (q74/
    * q92/q106): Spark's implicit temp checkpoint lands in java.io.tmpdir
    * (a real disk here), and a micro-batch commit cycle writes many tiny
    * files (offset/commit logs + one HDFS-backed state-store delta per
    * store per partition per batch) — pure I/O latency on the critical
    * path of every batch. Place the checkpoint on a RAM-backed tmpfs
    * when one exists: checkpoint location is recovery metadata, not
    * dataflow — emitted rows are identical. A real deployment needs a
    * RELIABLE dir instead (driver loss = stream loss on tmpfs), so the
    * location stays overridable via SPARK_GRAFT_STREAM_CKPT; local runs
    * default to the fastest local scratch. Callers delete the returned
    * dir after the stream drains ([[dropCheckpointDir]]). */
  def fastCheckpointDir(): String =
    fastScratchDir("graft_ckpt_", sys.env.get("SPARK_GRAFT_STREAM_CKPT"))

  /** A fresh scratch directory on the fastest local filesystem: tmpfs
    * (/dev/shm) when present and writable, else java.io.tmpdir. For
    * run-scoped scratch whose LOCATION is immaterial to results
    * (streaming checkpoints, q121's rebuilt-per-run snapshot table).
    * An `overrideBase` (SPARK_GRAFT_STREAM_CKPT) is created when missing.
    * Every returned dir is also deleted at JVM exit ([[scratchAtExit]]),
    * so scratch a caller cannot drop eagerly (q121's table, read lazily
    * by the DataFrame it returns) never outlives the process. */
  def fastScratchDir(prefix: String, overrideBase: Option[String] = None): String = {
    val base = overrideBase
      .map { b =>
        val p = java.nio.file.Paths.get(b)
        try { if (!java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(p); p }
        catch { case e: java.io.IOException =>
          throw new IllegalArgumentException(
            s"SPARK_GRAFT_STREAM_CKPT=$b: cannot create the scratch base directory ($e)", e) }
      }
      .getOrElse {
        val shm = java.nio.file.Paths.get("/dev/shm")
        if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm)) shm
        else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
      }
    val dir = java.nio.file.Files.createTempDirectory(base, prefix).toString
    scratchAtExit.add(dir)
    dir
  }

  /** Scratch dirs handed out by [[fastScratchDir]]; one JVM shutdown hook
    * deletes whatever of them still exists. */
  private[data] lazy val scratchAtExit: java.util.Set[String] = {
    val dirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      dirs.forEach(d => dropCheckpointDir(d)), "graft-scratch-cleanup"))
    dirs
  }

  /** Best-effort cleanup of a [[fastCheckpointDir]] after the stream
    * drains (an explicit checkpointLocation is never auto-deleted the
    * way Spark's implicit temp checkpoint is); what cannot be deleted
    * stays. */
  def dropCheckpointDir(dir: String): Unit = {
    try deleteRecursively(Paths.get(dir)) catch {
      case _: java.io.IOException | _: java.io.UncheckedIOException =>
    }
    scratchAtExit.remove(dir)
  }
}
