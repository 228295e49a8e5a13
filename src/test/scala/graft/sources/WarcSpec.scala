package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.functions._

import graft.{SparkSpec, TempDirs}

class WarcSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  /** Build one WARC/1.0 record: named headers + Content-Length computed
    * from the block's UTF-8 BYTE length (the spec's unit), terminated by
    * the standard two CRLF pairs. */
  private def record(warcType: String, uri: String, block: String,
                     date: String = "2026-08-13T00:00:00Z"): String = {
    val bytes = block.getBytes(UTF_8).length
    s"WARC/1.0\r\n" +
      s"WARC-Type: $warcType\r\n" +
      s"WARC-Date: $date\r\n" +
      s"WARC-Record-ID: <urn:uuid:$warcType-${uri.hashCode}>\r\n" +
      (if (uri.nonEmpty) s"WARC-Target-URI: $uri\r\n" else "") +
      s"Content-Type: application/http; msgtype=$warcType\r\n" +
      s"Content-Length: $bytes\r\n" +
      s"\r\n$block\r\n\r\n"
  }

  private val httpHtml =
    "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n" +
      "<html><body><p>plain ascii page</p></body></html>"

  // multibyte body: UTF-8 byte length != char length, so a char-based
  // Content-Length slice would drag the next record's headers in
  private val httpUnicode =
    "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n" +
      "<html><body>héllo wörld ünïcode — café</body></html>"

  private def writeWarc(dir: Path, name: String, content: String,
                        gzip: Boolean = false): Unit = {
    val f = dir.resolve(name)
    if (gzip) {
      val out = new GZIPOutputStream(Files.newOutputStream(f))
      try out.write(content.getBytes(UTF_8)) finally out.close()
    } else Files.write(f, content.getBytes(UTF_8))
  }

  private val corpus =
    record("warcinfo", "", "software: graft-test\r\nformat: WARC File Format 1.0") +
      record("request", "http://example.com/a",
        "GET /a HTTP/1.1\r\nHost: example.com\r\n\r\n") +
      record("response", "http://example.com/a", httpHtml) +
      record("response", "http://example.com/café", httpUnicode,
        date = "2026-08-13T01:02:03Z")

  test("read parses every record type with headers, typed date, and exact blocks") {
    val dir = tempDir("graft_warc")
    writeWarc(dir, "seg-00000.warc", corpus)
    val df = Warc.read(spark, dir.toString).cache()
    assert(df.count() == 4)
    assert(df.groupBy("warc_type").count().as[(String, Long)].collect().toMap ==
      Map("warcinfo" -> 1L, "request" -> 1L, "response" -> 2L))
    // typed timestamp, parsed in UTC
    val dates = df.filter($"warc_type" === "response")
      .select(date_format($"warc_date", "yyyy-MM-dd HH:mm:ss")).as[String].collect().sorted
    assert(dates.sameElements(Array("2026-08-13 00:00:00", "2026-08-13 01:02:03")))
    // content_length is the typed byte count from the header
    val lens = df.select($"content_length").as[Long].collect()
    assert(lens.forall(_ > 0) && lens.length == 4)
    // blocks are sliced exactly: no record bleeds into the next
    val blocks = df.filter($"warc_type" === "response").select($"block").as[String].collect()
    assert(blocks.toSet == Set(httpHtml, httpUnicode))
    assert(blocks.forall(!_.contains("WARC-Type")), "no header bleed between records")
  }

  test("content-length slicing is byte-based: multibyte bodies survive exactly") {
    val dir = tempDir("graft_warc_mb")
    writeWarc(dir, "seg.warc", corpus)
    val uni = Warc.read(spark, dir.toString)
      .filter($"target_uri" === "http://example.com/café")
      .select($"block").as[String].head()
    assert(uni == httpUnicode, "byte-sliced block must equal the original string")
  }

  test("responses() yields the document-pipeline shape with HTTP bodies stripped") {
    val dir = tempDir("graft_warc_resp")
    writeWarc(dir, "seg.warc", corpus)
    val resp = Warc.responses(spark, dir.toString).cache()
    assert(resp.columns.toSeq == Seq("target_uri", "warc_date", "content_type", "html"))
    assert(resp.count() == 2)
    val htmls = resp.select($"html").as[String].collect().toSet
    assert(htmls == Set(
      "<html><body><p>plain ascii page</p></body></html>",
      "<html><body>héllo wörld ünïcode — café</body></html>"))
    // composes with the ingest front half from TextFunctions
    val text = resp.select(graft.functions.TextFunctions.extractHtmlText($"html").as("t"))
      .as[String].collect().toSet
    assert(text.exists(_.contains("plain ascii page")), text.mkString("|"))
  }

  test("httpBody passes non-HTTP blocks (warcinfo, metadata) through whole") {
    val dir = tempDir("graft_warc_info")
    writeWarc(dir, "seg.warc", corpus)
    val info = Warc.read(spark, dir.toString)
      .filter($"warc_type" === "warcinfo")
      .select(Warc.httpBody($"block")).as[String].head()
    assert(info == "software: graft-test\r\nformat: WARC File Format 1.0")
  }

  test("gzip members read transparently; multi-file dirs parallelize per file") {
    val dir = tempDir("graft_warc_gz")
    writeWarc(dir, "seg-00000.warc.gz", corpus, gzip = true)
    writeWarc(dir, "seg-00001.warc.gz",
      record("response", "http://example.org/b", httpHtml), gzip = true)
    val df = Warc.read(spark, dir.toString)
    assert(df.count() == 5)
    assert(Warc.responses(spark, dir.toString).count() == 3)
  }
}
