package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** WARC ingestion: length-delimited parse, byte-exact payloads (the
  * input_hint invariant), pages-shape adapter. */
class WarcSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark = graft.expr.SparkTestSession.spark
  import spark.implicits._

  // payload deliberately contains CRLF CRLF — the record separator — plus
  // non-UTF8 bytes: only a Content-Length parser survives this
  private val trickyPayload: Array[Byte] =
    "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<html>x</html>".getBytes(UTF_8) ++
      Array[Byte](0, -1, 13, 10, 13, 10, 42)

  private val fixtures = Seq(
    Warc.WarcRecord("warcinfo", "", "2025-03-01T00:00:00Z", "<urn:uuid:0>",
      "application/warc-fields", "robots: classic\r\n".getBytes(UTF_8)),
    Warc.WarcRecord("response", "https://a.example.org/p1", "2025-03-01T01:02:03Z",
      "<urn:uuid:1>", "application/http;msgtype=response", trickyPayload),
    Warc.WarcRecord("request", "https://a.example.org/p1", "2025-03-01T01:02:03Z",
      "<urn:uuid:2>", "application/http;msgtype=request", "GET /p1".getBytes(UTF_8)),
    Warc.WarcRecord("response", "https://b.example.org/p2", "2025-03-01T02:00:00Z",
      "<urn:uuid:3>", "application/http;msgtype=response", "plain text page".getBytes(UTF_8)))

  test("round-trip: write -> parseAll preserves every field and payload byte") {
    val parsed = Warc.parseAll(Warc.writeWarc(fixtures)).toSeq
    assert(parsed.length === fixtures.length)
    parsed.zip(fixtures).foreach { case (p, f) =>
      assert(p.warcType === f.warcType && p.targetUri === f.targetUri &&
        p.warcDate === f.warcDate && p.recordId === f.recordId &&
        p.contentType === f.contentType)
      assert(p.payload.toSeq === f.payload.toSeq, "payload bytes must be exact")
    }
  }

  test("round-trip fuzz: 200 random record sets with adversarial payloads") {
    val rnd = new scala.util.Random(17)
    (0 until 200).foreach { _ =>
      val recs = (0 until 1 + rnd.nextInt(5)).map { i =>
        val n = rnd.nextInt(200)
        val payload = new Array[Byte](n)
        rnd.nextBytes(payload)
        // salt with CRLF runs so separator-confusion would surface
        if (n >= 4 && rnd.nextBoolean()) {
          val at = rnd.nextInt(n - 3)
          payload(at) = '\r'; payload(at + 1) = '\n'
          payload(at + 2) = '\r'; payload(at + 3) = '\n'
        }
        Warc.WarcRecord(
          if (rnd.nextBoolean()) "response" else "request",
          s"https://f$i.example.org/${rnd.nextInt(1000)}",
          "2025-03-01T00:00:00Z", s"<urn:uuid:$i>", "application/http", payload)
      }
      val parsed = Warc.parseAll(Warc.writeWarc(recs)).toSeq
      assert(parsed.length == recs.length)
      parsed.zip(recs).foreach { case (p, f) =>
        assert(p.targetUri == f.targetUri && p.payload.toSeq == f.payload.toSeq)
      }
    }
  }

  test("truncated payload fails loudly instead of yielding fewer records") {
    val bytes = Warc.writeWarc(fixtures)
    intercept[IllegalArgumentException] {
      Warc.parseAll(java.util.Arrays.copyOf(bytes, bytes.length - 30)).toSeq
    }
  }

  test("Dataset read + pages adapter: responses only, byte-identical html") {
    val dir = tempDir("graft-warc")
    Files.write(dir.resolve("seg-00000.warc"), Warc.writeWarc(fixtures))
    // a second segment as .warc.gz with PER-RECORD gzip members (Common
    // Crawl's convention): TWO members, so the multi-member concatenation
    // behavior the reader depends on is actually exercised — a
    // decompressor stopping at the first member would drop a record
    val gz = new java.io.ByteArrayOutputStream()
    Seq(fixtures(3),
      Warc.WarcRecord("response", "https://c.example.org/p3", "2025-03-01T03:00:00Z",
        "<urn:uuid:4>", "application/http;msgtype=response",
        "third page".getBytes(UTF_8))).foreach { r =>
      val one = new java.util.zip.GZIPOutputStream(gz)
      one.write(Warc.writeWarc(Seq(r))); one.finish()
    }
    Files.write(dir.resolve("seg-00001.warc.gz"), gz.toByteArray)
    val records = Warc.read(spark, dir.toString)
    assert(records.count() === fixtures.length + 2)
    val pages = Warc.toPages(records)
    assert(pages.columns.toSeq === Seq("url", "warc_ts", "html", "text", "lang"))
    val rows = pages.collect()
    assert(rows.length === 4) // responses only (2 + 2 from the gz segment)
    assert(rows.exists(_.getString(0) == "https://c.example.org/p3"),
      "second gzip member's record must survive (multi-member stream)")
    val p1 = rows.find(_.getString(0) == "https://a.example.org/p1").get
    // html = the byte-exact HTTP BODY: the status line + header block up
    // to the FIRST CRLFCRLF is stripped (r2 advice — a "html" column that
    // still carries response headers poisons every text operator); the
    // tricky tail (raw non-UTF8 bytes + embedded CRLFCRLF) must survive
    val body = trickyPayload.drop(
      trickyPayload.toSeq.indexOfSlice(Seq[Byte](13, 10, 13, 10)) + 4)
    assert(p1.getAs[Array[Byte]](2).toSeq === body.toSeq,
      "html must carry the exact HTTP body bytes through the pipeline")
    // a response payload WITHOUT a header terminator passes through raw
    val p2 = rows.find(_.getString(0) == "https://b.example.org/p2").get
    assert(p2.getAs[Array[Byte]](2).toSeq === "plain text page".getBytes(UTF_8).toSeq)
    assert(p1.getTimestamp(1) === java.sql.Timestamp.from(
      java.time.Instant.parse("2025-03-01T01:02:03Z")))
  }
}
