package graft

import graft.io.Warc
import graft.io.Warc.WarcRecord

/** WARC (ISO 28500): golden record bytes are hand-laid-out from the spec,
  * independent of the builder, so a symmetric build/parse bug cannot pass;
  * corruption pins the strict-throw vs explicit-salvage contract.
  */
class WarcSpec extends SparkTestBase {

  private def rec(id: Long, body: String) = WarcRecord("response",
    s"<urn:graft:doc:$id>", "2026-01-01T00:00:00Z",
    Some(s"http://corpus.test/doc/$id"), body.getBytes("UTF-8"))

  test("golden record: hand-built spec layout parses; builder emits the same bytes") {
    val hand = ("WARC/1.0\r\n" +
      "WARC-Type: response\r\n" +
      "WARC-Record-ID: <urn:graft:doc:7>\r\n" +
      "WARC-Date: 2026-01-01T00:00:00Z\r\n" +
      "WARC-Target-URI: http://corpus.test/doc/7\r\n" +
      "Content-Length: 5\r\n" +
      "\r\n" +
      "hello" +
      "\r\n\r\n").getBytes("US-ASCII")
    val parsed = Warc.parseAll(hand)
    assert(parsed == Seq(rec(7, "hello")).map(r =>
      r.copy(content = r.content)) || {
      // Array equality is reference-based; compare fields explicitly
      val p = parsed.head
      parsed.size == 1 && p.warcType == "response" &&
        p.recordId == "<urn:graft:doc:7>" &&
        p.date == "2026-01-01T00:00:00Z" &&
        p.targetUri.contains("http://corpus.test/doc/7") &&
        new String(p.content, "UTF-8") == "hello"
    })
    assert(Warc.recordBytes(rec(7, "hello")).sameElements(hand),
      "builder must emit the exact spec layout")
  }

  test("multi-record stream parses in order; header names are case-insensitive") {
    val bytes = Warc.recordBytes(rec(1, "aaa")) ++
      Warc.recordBytes(rec(2, "bb")) ++
      ("warc/1.0" // version line is case-sensitive, headers are not
        .toUpperCase + "\r\n" +
        "warc-type: metadata\r\n" +
        "WARC-RECORD-ID: <urn:x:3>\r\n" +
        "warc-date: 2026-01-02T00:00:00Z\r\n" +
        "CONTENT-LENGTH: 2\r\n\r\nxy\r\n\r\n").getBytes("US-ASCII")
    val got = Warc.parseAll(bytes)
    assert(got.map(_.recordId) ==
      Seq("<urn:graft:doc:1>", "<urn:graft:doc:2>", "<urn:x:3>"))
    assert(got(2).warcType == "metadata" && got(2).targetUri.isEmpty)
    assert(new String(got(1).content, "UTF-8") == "bb")
  }

  test("corruption: strict throws, lenient salvages records before the fault") {
    val good = Warc.recordBytes(rec(1, "aaa")) ++ Warc.recordBytes(rec(2, "bb"))
    // truncated mid-content of record 2
    val cut = java.util.Arrays.copyOf(good, good.length - 5)
    intercept[IllegalArgumentException](Warc.parseAll(cut))
    val salvaged = Warc.parseAll(cut, strict = false)
    assert(salvaged.map(_.recordId) == Seq("<urn:graft:doc:1>"))
    // bad version line
    val badVer = good.clone(); badVer(5) = '9'.toByte
    intercept[IllegalArgumentException](Warc.parseAll(badVer))
    assert(Warc.parseAll(badVer, strict = false).isEmpty)
    // missing Content-Length
    val noLen = ("WARC/1.0\r\nWARC-Type: x\r\nWARC-Record-ID: <a>\r\n" +
      "WARC-Date: d\r\n\r\nbody\r\n\r\n").getBytes("US-ASCII")
    intercept[IllegalArgumentException](Warc.parseAll(noLen))
    // missing terminator after content
    val noTerm = ("WARC/1.0\r\nWARC-Type: x\r\nWARC-Record-ID: <a>\r\n" +
      "WARC-Date: d\r\nContent-Length: 4\r\n\r\nbodyXXXX").getBytes("US-ASCII")
    intercept[IllegalArgumentException](Warc.parseAll(noTerm))
    // hostile lengths: negative, and 2^62 (which would overflow the
    // truncation arithmetic if checked after the addition)
    for (bad <- Seq("-5", "4611686018427387904")) {
      val h = (s"WARC/1.0\r\nWARC-Type: x\r\nWARC-Record-ID: <a>\r\n" +
        s"WARC-Date: d\r\nContent-Length: $bad\r\n\r\nbody\r\n\r\n")
        .getBytes("US-ASCII")
      intercept[IllegalArgumentException](Warc.parseAll(h))
      assert(Warc.parseAll(h, strict = false).isEmpty)
    }
  }

  test("httpBody splits an HTTP payload; payload without CRLFCRLF yields None") {
    val http = "HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\nthe body"
      .getBytes("US-ASCII")
    assert(Warc.httpBody(http).map(new String(_, "US-ASCII"))
      .contains("the body"))
    assert(Warc.httpBody("no split here".getBytes).isEmpty)
    // body may itself contain CRLFCRLF — only the FIRST split counts
    val nested = "H: v\r\n\r\npart1\r\n\r\npart2".getBytes("US-ASCII")
    assert(Warc.httpBody(nested).map(new String(_, "US-ASCII"))
      .contains("part1\r\n\r\npart2"))
  }

  test("httpHeader: case-insensitive lookup, status line never matches, params kept") {
    val http = ("HTTP/1.1 200 OK\r\ncontent-type: text/html; charset=utf-8\r\n" +
      "X-Thing: a:b \r\n\r\nbody").getBytes("US-ASCII")
    assert(Warc.httpHeader(http, "Content-Type").contains("text/html; charset=utf-8"))
    assert(Warc.httpHeader(http, "x-thing").contains("a:b")) // value trimmed
    assert(Warc.httpHeader(http, "Missing").isEmpty)
    assert(Warc.httpHeader("no split".getBytes, "Content-Type").isEmpty)
    // "HTTP/1.1 200 OK" must not answer a lookup for a header named HTTP/1.1
    val weird = "A: 1\r\nHTTP/1.1: fake\r\n\r\nx".getBytes("US-ASCII")
    assert(Warc.httpHeader(weird, "HTTP/1.1").contains("fake"))
  }

  test("distributed write/read: gzip members, warcinfo leaders, task-per-file") {
    import spark.implicits._
    val path = graft.io.IoScratch.dir + "/warc_spec"
    val ds = (1L to 50L).map(i => rec(i, s"body-$i")).toDS()
      .repartition(4)
    Warc.write(ds, path)
    val files = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".warc.gz"))
    assert(files.length >= 1 && files.length <= 4)
    val back = Warc.read(spark, path + "/*.warc.gz")
    val types = back.groupBy("warc_type").count()
      .as[(String, Long)].collect().toMap
    assert(types("response") == 50L)
    assert(types("warcinfo") == files.length.toLong,
      "every part file leads with one warcinfo record")
    val bodies = back.filter($"warc_type" === "response")
      .select("record_id", "content").as[(String, Array[Byte])]
      .collect().map { case (id, c) => id -> new String(c, "UTF-8") }.toMap
    assert(bodies("<urn:graft:doc:17>") == "body-17")
    // strict read of a corrupt tail fails the task; lenient salvages
    val f = files.minBy(_.getName)
    val raw = java.nio.file.Files.readAllBytes(f.toPath)
    // cut into the last member's deflate data (a 3-byte trim only clips
    // the gzip trailer and loses nothing)
    java.nio.file.Files.write(f.toPath,
      java.util.Arrays.copyOf(raw, raw.length - 40))
    intercept[org.apache.spark.SparkException] {
      Warc.read(spark, path + "/*.warc.gz").count()
    }
    val lenient = Warc.read(spark, path + "/*.warc.gz", strict = false)
    assert(lenient.count() < (50L + files.length) &&
      lenient.filter($"warc_type" === "response").count() >= 1)
  }

  test("directory read skips _- and .-prefixed metadata files beside the archives") {
    import spark.implicits._
    val path = graft.io.IoScratch.dir + "/warc_landing"
    Warc.write((1L to 10L).map(i => rec(i, s"body-$i")).toDS().repartition(2), path)
    // metadata a committer or the local checksum FS leaves in a landing
    // directory: non-empty, and not WARC — a strict parse would throw
    java.nio.file.Files.write(java.nio.file.Paths.get(path, ".x.crc"),
      "crc-bytes".getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(path, "_committed"),
      "{\"added\":[]}".getBytes("UTF-8"))
    val back = Warc.read(spark, path)
    assert(back.filter($"warc_type" === "response").count() == 10L)
    assert(back.select("file").as[String].collect()
      .forall(_.endsWith(".warc.gz")))
  }

  test("mediaText: a planted corrupt PDF flows through the batch dispatch as empty text, no throw") {
    import spark.implicits._
    def http(ctype: String, body: Array[Byte]): Array[Byte] =
      (s"HTTP/1.1 200 OK\r\nContent-Type: $ctype\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n").getBytes("US-ASCII") ++ body
    val goodPdf = graft.io.Pdf.build("survives the archive")
    val modernPdf = graft.io.Pdf.build("xref stream leg", xrefStream = true)
    val corrupt = java.util.Arrays.copyOf(goodPdf, goodPdf.length - 30) // truncated tail
    val recs = Seq(
      1L -> http("text/html; charset=utf-8", "<html><body>page</body></html>".getBytes("UTF-8")),
      2L -> http("application/pdf", goodPdf),
      3L -> http("application/pdf", corrupt),
      4L -> http("application/pdf", modernPdf))
      .map { case (id, payload) => WarcRecord("response", s"<urn:graft:doc:$id>",
        "2026-01-01T00:00:00Z", Some(s"http://corpus.test/doc/$id"), payload) }
    val path = graft.io.IoScratch.dir + "/warc_spec_media"
    Warc.write(recs.toDS(), path)
    // the batch capstone's parse leg: one Dataset map through mediaText —
    // the corrupt document must land as ("pdf", "") for the gate to drop,
    // never kill the task (the production extract-or-empty convention)
    val got = Warc.read(spark, path + "/*.warc.gz")
      .filter($"warc_type" === "response")
      .select($"record_id", $"content").as[(String, Array[Byte])]
      .map { case (id, content) =>
        val (kind, text) = Warc.mediaText(content, pdfLineSep = "")
        (id, kind, text)
      }.collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got("<urn:graft:doc:1>") == ("html", "<html><body>page</body></html>"))
    assert(got("<urn:graft:doc:2>") == ("pdf", "survives the archive"))
    assert(got("<urn:graft:doc:3>") == ("pdf", ""), "corrupt PDF -> empty text")
    assert(got("<urn:graft:doc:4>") == ("pdf", "xref stream leg"))
    // default line separator keeps the layout line structure
    val (_, kept) = Warc.mediaText(http("application/pdf",
      graft.io.Pdf.build("x" * 70)))
    assert(kept == "x" * 60 + "\n" + "x" * 10)
  }
}
