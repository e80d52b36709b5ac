package graft.io

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** WARC 1.0 (ISO 28500) — the web-crawl archive format an LLM data
  * pipeline actually ingests (Common-Crawl-style corpora ship as
  * `.warc.gz`). Implemented from the public spec:
  *
  *  - a record is `WARC/1.0\r\n`, header lines `Name: value\r\n`
  *    (names case-insensitive), a blank line, exactly `Content-Length`
  *    payload bytes, then `\r\n\r\n`;
  *  - the `.warc.gz` form concatenates ONE GZIP MEMBER PER RECORD (the
  *    spec's recommendation, so readers can resync at member boundaries);
  *    `GZIPInputStream` consumes concatenated members transparently;
  *  - `response` records carry an HTTP message as payload — headers,
  *    blank line, body — so [[httpBody]] splits at the first CRLFCRLF.
  *
  * Scale contract: WARC is not block-splittable without an external
  * index, so the distributed reader is ONE TASK PER FILE over a
  * `binaryFile` scan (crawl archives are many ~1 GB files — file-grain
  * parallelism is the format's own contract; the same task-per-unit shape
  * as [[DiscoChunk]]'s reader). Corrupt tails: `strict = true` (default)
  * throws; `strict = false` salvages every record before the corruption
  * point — at 100 TB a truncated download must not kill the job, but
  * silent salvage must be the operator's explicit choice.
  */
object Warc {

  case class WarcRecord(warcType: String, recordId: String, date: String,
                        targetUri: Option[String], content: Array[Byte])

  private val Crlf = "\r\n".getBytes("US-ASCII")

  /** The HTTP 200 `response` record of document `id` from `source`: the
    * payload is the status line, `Content-Type`, `Content-Length`, a blank
    * line and `body`; the record id is `<urn:graft:doc:id>` and the target
    * URI `http://source.test/doc/id`, the layout [[roundTrip]] parses back.
    */
  def httpResponse(id: Long, source: String, contentType: String,
                   body: Array[Byte]): WarcRecord = {
    val http = (s"HTTP/1.1 200 OK\r\nContent-Type: $contentType\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n").getBytes("US-ASCII") ++ body
    WarcRecord("response", s"<urn:graft:doc:$id>", "2026-01-01T00:00:00Z",
      Some(s"http://$source.test/doc/$id"), http)
  }

  /** Serialize one record (returns the exact on-wire bytes). */
  def recordBytes(r: WarcRecord): Array[Byte] = {
    val sb = new StringBuilder
    sb.append("WARC/1.0\r\n")
    sb.append(s"WARC-Type: ${r.warcType}\r\n")
    sb.append(s"WARC-Record-ID: ${r.recordId}\r\n")
    sb.append(s"WARC-Date: ${r.date}\r\n")
    r.targetUri.foreach(u => sb.append(s"WARC-Target-URI: $u\r\n"))
    sb.append(s"Content-Length: ${r.content.length}\r\n")
    sb.append("\r\n")
    val head = sb.toString.getBytes("US-ASCII")
    val out = new Array[Byte](head.length + r.content.length + 4)
    System.arraycopy(head, 0, out, 0, head.length)
    System.arraycopy(r.content, 0, out, head.length, r.content.length)
    System.arraycopy(Crlf, 0, out, head.length + r.content.length, 2)
    System.arraycopy(Crlf, 0, out, head.length + r.content.length + 2, 2)
    out
  }

  /** One gzip member per record — the spec's `.warc.gz` layout. */
  def gzipMember(recordBytes: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(recordBytes); gz.finish(); gz.close()
    bos.toByteArray
  }

  /** Parse a (decompressed) WARC byte stream. `strict = false` returns
    * the records before the first malformed/truncated one instead of
    * throwing.
    */
  def parseAll(b: Array[Byte], strict: Boolean = true): Seq[WarcRecord] = {
    val out = ArrayBuffer.empty[WarcRecord]
    var i = 0
    def fail(msg: String): Seq[WarcRecord] =
      if (strict) throw new IllegalArgumentException(s"warc: $msg at $i")
      else return out.toSeq
    while (i < b.length) {
      val headEnd = indexOfCrlfCrlf(b, i)
      if (headEnd < 0) return fail("unterminated header block")
      val head = new String(b, i, headEnd - i, "US-ASCII")
      val lines = head.split("\r\n")
      if (lines.isEmpty || lines(0) != "WARC/1.0")
        return fail(s"bad version line '${lines.headOption.getOrElse("")}'")
      val headers = lines.drop(1).map { ln =>
        val c = ln.indexOf(':')
        if (c < 0) return fail(s"malformed header '$ln'")
        ln.take(c).trim.toLowerCase -> ln.drop(c + 1).trim
      }.toMap
      val len = headers.get("content-length").flatMap(_.toLongOption)
        .getOrElse(return fail("missing Content-Length"))
      // negative and absurd lengths are validated BEFORE the arithmetic
      // below: a hostile 2^62 length would overflow cStart + len to a
      // negative long and sail past the truncation check
      if (len < 0 || len > Int.MaxValue - 8)
        return fail(s"invalid Content-Length $len")
      val cStart = headEnd + 4
      if (cStart + len + 4 > b.length) return fail("truncated content")
      val content = java.util.Arrays.copyOfRange(b, cStart, (cStart + len).toInt)
      val tail = cStart + len.toInt
      if (b(tail) != '\r' || b(tail + 1) != '\n' ||
        b(tail + 2) != '\r' || b(tail + 3) != '\n')
        return fail("missing record terminator")
      out += WarcRecord(
        headers.getOrElse("warc-type", return fail("missing WARC-Type")),
        headers.getOrElse("warc-record-id", return fail("missing WARC-Record-ID")),
        headers.getOrElse("warc-date", return fail("missing WARC-Date")),
        headers.get("warc-target-uri"), content)
      i = tail + 4
    }
    out.toSeq
  }

  private def indexOfCrlfCrlf(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i + 3 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n' && b(i + 2) == '\r' && b(i + 3) == '\n')
        return i
      i += 1
    }
    -1
  }

  /** The body of an HTTP message payload (after the first CRLFCRLF);
    * None when no header/body split exists.
    */
  def httpBody(content: Array[Byte]): Option[Array[Byte]] = {
    val i = indexOfCrlfCrlf(content, 0)
    if (i < 0) None
    else Some(java.util.Arrays.copyOfRange(content, i + 4, content.length))
  }

  /** One HTTP header value from a message payload (case-insensitive
    * name, first occurrence, value trimmed; parameters like `; charset=`
    * are the caller's to split). None when the header block has no such
    * line — the dispatch key a mixed-media WARC read routes on.
    */
  def httpHeader(content: Array[Byte], name: String): Option[String] = {
    val end = indexOfCrlfCrlf(content, 0)
    if (end < 0) return None
    val head = new String(content, 0, end, java.nio.charset.StandardCharsets.ISO_8859_1)
    val want = name.toLowerCase + ":"
    head.split("\r\n").iterator.drop(1) // drop the status line
      .find(_.toLowerCase.startsWith(want))
      .map(_.substring(want.length).trim)
  }

  /** PRODUCTION mixed-media dispatch for one HTTP response payload — the
    * reusable batch half of the streaming
    * [[graft.streaming.Streams.warcIngest]] convention: route on the
    * parsed Content-Type, `application/pdf` through the [[Pdf]] text
    * walk, everything else read as UTF-8 markup/plain text. A malformed
    * or out-of-scope PDF yields EMPTY text for the quality gate to drop —
    * extraction failure on a real crawl is a data condition, never a
    * task-killing throw (fixture queries that GUARANTEE parseability pin
    * extraction success themselves). `pdfLineSep` joins the extracted
    * PDF lines: "" for the fixture-builder contract (mid-word line
    * chunking concatenates back), "\n" for real documents (pdftotext
    * keeps line structure and normalize collapses it downstream).
    * Returns (kind, text).
    */
  def mediaText(content: Array[Byte], pdfLineSep: String = "\n"): (String, String) = {
    val ctype = httpHeader(content, "Content-Type")
      .getOrElse("").takeWhile(_ != ';').trim
    val body = httpBody(content).getOrElse(Array.emptyByteArray)
    if (ctype == "application/pdf")
      ("pdf", Pdf.extractText(body)
        .map(_.replace("\n", pdfLineSep)).getOrElse(""))
    else ("html", new String(body, java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Decompress concatenated gzip members. A truncated/corrupt member
    * throws in strict mode; lenient mode keeps everything decompressed
    * before the fault (parseAll's lenient pass then drops any trailing
    * partial record).
    */
  private def gunzipAll(b: Array[Byte], strict: Boolean): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    try {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(b))
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
      in.close()
    } catch {
      case e: java.io.IOException =>
        if (strict) throw new IllegalArgumentException(
          s"warc: corrupt gzip stream: ${e.getMessage}")
    }
    bos.toByteArray
  }

  /** Distributed WARC writer: one `part-<pid>.warc.gz` per partition,
    * each beginning with the standard `warcinfo` record, one gzip member
    * per record. Deletes the target first — overwrite semantics, the
    * stale-files-beside-new-ones lesson.
    *
    * Streams the partition iterator record-by-record through the Hadoop
    * `FileSystem` API (the DiscoChunk/parquet-sink path): peak executor
    * memory is ONE record + gzip buffers, never the partition — at
    * 100 TB a WARC partition is GBs of payloads, and `path` may be any
    * filesystem the cluster's Hadoop conf resolves (HDFS, S3A, local).
    * The warcinfo header is written lazily on the first record so empty
    * partitions produce no file, matching the old behavior.
    */
  def write(ds: org.apache.spark.sql.Dataset[WarcRecord], path: String): Unit = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      ds.sparkSession.sparkContext.hadoopConfiguration)
    val base = new org.apache.hadoop.fs.Path(path)
    val bfs = base.getFileSystem(conf.value)
    bfs.delete(base, true)
    bfs.mkdirs(base)
    ds.foreachPartition { (it: Iterator[WarcRecord]) =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var out: org.apache.hadoop.fs.FSDataOutputStream = null
      try {
        it.foreach { r =>
          if (out == null) { // first record: open + warcinfo header
            val fs = new org.apache.hadoop.fs.Path(path)
              .getFileSystem(conf.value)
            out = fs.create(new org.apache.hadoop.fs.Path(path,
              f"part-$pid%05d.warc.gz"), true)
            val info = WarcRecord("warcinfo", s"<urn:graft:warcinfo:$pid>",
              "2026-01-01T00:00:00Z", None,
              "software: graft\r\nformat: WARC File Format 1.0\r\n"
                .getBytes("US-ASCII"))
            out.write(gzipMember(recordBytes(info)))
          }
          out.write(gzipMember(recordBytes(r)))
        }
      } finally if (out != null) out.close()
    }
  }

  /** Decode one archive file's bytes to records: gunzip when the path
    * says so, then the record parse. The shared task-body of the batch
    * [[read]] and the streaming landing-directory ingest.
    */
  def decodeFile(path: String, bytes: Array[Byte],
                 strict: Boolean = true): Seq[WarcRecord] = {
    val raw = if (path.endsWith(".gz")) gunzipAll(bytes, strict) else bytes
    parseAll(raw, strict)
  }

  /** Distributed read: task-per-file binary scan → parsed records.
    * Output: (file, warc_type, record_id, date, target_uri, content).
    */
  def read(spark: SparkSession, glob: String,
           strict: Boolean = true): DataFrame = {
    import spark.implicits._
    // Task-per-file, EXPLICITLY: gzip members are unsplittable, so the
    // unit of decode parallelism is the archive file. The previous
    // `binaryFile` scan bin-packed small files by open-cost (~32 files
    // per 128 MB split), which serialized the expensive record decode +
    // downstream media parse onto 1-2 tasks exactly when archives are
    // small — the measured wall of every corpus_run WARC leg. Listing
    // the glob and pinning one task per file keeps decode parallelism =
    // file count at every scale; each task streams its OWN file through
    // the Hadoop FS API, so no payload byte ever enters a shuffle (only
    // the path strings are repartitioned).
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(glob)
    val fs = p.getFileSystem(conf.value)
    // a DIRECTORY match expands to its contained files (the binaryFile
    // source accepted a bare directory path; round 18 restores that —
    // ADVICE r17), skipping `_`- and `.`-prefixed names as the binaryFile
    // PathFilter does (_SUCCESS, _committed markers, .crc checksums), and
    // the driver listing's FileStatus lengths ride into the tasks so no
    // task re-stats its file
    def visible(st: org.apache.hadoop.fs.FileStatus) = st.isFile &&
      !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith(".")
    val files = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
      .flatMap {
        case st if st.isFile => Seq(st)
        case st => fs.listStatus(st.getPath).toSeq.filter(visible)
      }
      .map(st => (st.getPath.toString, st.getLen))
      .sortBy(_._1)
    require(files.nonEmpty, s"warc: no files match $glob")
    // one task per file while the file count is near the core count
    // (gzip members are unsplittable — the file IS the decode unit), but
    // CAPPED for very large counts: a million small archives get
    // ~files/8 tasks of a few files each instead of a million task
    // launches (ADVICE r17; the open-cost analog of §6 split packing)
    val parts = math.min(files.size,
      math.max(spark.sparkContext.defaultParallelism, files.size / 8)).max(1)
    spark.createDataset(files)
      .repartition(parts)
      .flatMap { case (path, len) =>
        val fp = new org.apache.hadoop.fs.Path(path)
        val pfs = fp.getFileSystem(conf.value)
        require(len <= Int.MaxValue, s"warc: $path exceeds 2 GB")
        val bytes = new Array[Byte](len.toInt)
        val in = pfs.open(fp)
        try org.apache.hadoop.io.IOUtils.readFully(in, bytes, 0, bytes.length)
        finally in.close()
        decodeFile(path, bytes, strict).map(r =>
          (path, r.warcType, r.recordId, r.date, r.targetUri.orNull, r.content))
      }
      .toDF("file", "warc_type", "record_id", "date", "target_uri", "content")
  }

  /** The crawl round trip: [[write]] `recs` under `path`, [[read]] it
    * back and keep the `response` records as (doc_id, source, content),
    * with doc_id and source parsed from the target URI that
    * [[httpResponse]] writes.
    */
  def roundTrip(recs: Dataset[WarcRecord], path: String): DataFrame = {
    write(recs, path)
    read(recs.sparkSession, path + "/*.warc.gz")
      .filter(col("warc_type") === "response")
      .select(
        regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
          .cast("long").as("doc_id"),
        regexp_extract(col("target_uri"), "^http://([^./]+)\\.test/", 1)
          .as("source"),
        col("content"))
  }

  /** [[roundTrip]]'s responses with their HTTP bodies decoded as UTF-8:
    * (doc_id, source, text_raw).
    */
  def httpText(responses: DataFrame): DataFrame = {
    val spark = responses.sparkSession
    import spark.implicits._
    responses.as[(Long, String, Array[Byte])]
      .map { case (id, src, content) =>
        (id, src, new String(httpBody(content).getOrElse(Array.emptyByteArray), "UTF-8"))
      }
      .toDF("doc_id", "source", "text_raw")
  }
}
