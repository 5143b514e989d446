package graft.sources

import java.io.{ByteArrayInputStream, InputStream}
import java.nio.charset.Charset
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Locale
import java.util.zip.GZIPInputStream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WARC / WET web-archive ingestion (ISO 28500; the Common Crawl
  * container layout). Beyond the reference's format family
  * (`DbCsvImportWorker.java` etc. stop at tabular files) — added
  * because a training-data pipeline's raw input IS this format — and
  * therefore pinned against the analytic oracle replay (q325) instead
  * of a reference behavior.
  *
  * Format model (WARC 1.0):
  *  - a file is a sequence of records; Common Crawl compresses each
  *    record as its OWN gzip member, so a `.warc.gz` is concatenated
  *    gzip — `GZIPInputStream` consumes member boundaries natively,
  *    and the same code path reads single-member and uncompressed
  *    files (magic sniff).
  *  - a record is `WARC/1.x` CRLF, header lines (`Name: value`, no
  *    continuation lines in practice), a blank line, exactly
  *    `Content-Length` payload bytes, then two CRLFs.
  *  - `WARC-Type: response` records carry an HTTP response as payload:
  *    status line, headers, blank line, body. The body is decoded per
  *    the HTTP `Content-Type` charset parameter (default UTF-8;
  *    unknown charsets fall back to UTF-8 rather than throw) after
  *    undoing `Transfer-Encoding: chunked` when declared.
  *  - `conversion` records (the WET layout) and every other type carry
  *    their payload directly; charset comes from the WARC-level
  *    `Content-Type`, default UTF-8.
  *
  * Tolerance: header lines without a colon are skipped; a record with
  * a missing or unparsable `Content-Length` ends the file scan (the
  * remainder cannot be framed — fail-soft, surfacing what parsed);
  * truncated payloads yield the bytes present; stray CRLF/garbage
  * between records is skipped up to the next `WARC/` magic.
  *
  * Scale model: one archive file per task via `binaryFile` (the
  * workbook-source pattern — Common Crawl ships ~1 GB shards in the
  * tens of thousands, so file-level parallelism is the natural 100 TB
  * partitioning); within a task the parse is streaming and
  * record-at-a-time, memory bounded by one record, not one file.
  */
object WarcSource {

  /** One parsed WARC record. `http_status`/`http_content_type` are
    * null for non-HTTP records; `charset` is the lower-cased charset
    * the body was decoded with; `payload_len` is the raw (still
    * transfer-encoded) payload byte count.
    */
  case class WarcRecord(warc_type: String, target_uri: String,
                        warc_date: String, content_type: String,
                        http_status: Option[Int], http_content_type: String,
                        charset: String, body: String, payload_len: Long)

  private val GzipMagic0 = 0x1f.toByte
  private val GzipMagic1 = 0x8b.toByte

  /** Parse every record of one archive (gzip sniffed, concatenated
    * members supported).
    */
  def parseAll(bytes: Array[Byte]): Vector[WarcRecord] = {
    val raw = new ByteArrayInputStream(bytes)
    val in: InputStream =
      if (bytes.length >= 2 && bytes(0) == GzipMagic0 && bytes(1) == GzipMagic1)
        new GZIPInputStream(raw)
      else raw
    val out = Vector.newBuilder[WarcRecord]
    var rec = nextRecord(in)
    while (rec.isDefined) {
      out += rec.get
      rec = nextRecord(in)
    }
    out.result()
  }

  // ---- framing ------------------------------------------------------

  /** Read one `\n`-terminated line as ISO-8859-1 (header bytes are
    * ASCII; 8859-1 is the lossless byte-transparent view), stripping
    * the terminator and a trailing `\r`. None at EOF.
    */
  private def readLine(in: InputStream): Option[String] = {
    val sb = new java.lang.StringBuilder
    var c = in.read()
    if (c < 0) return None
    while (c >= 0 && c != '\n') { sb.append(c.toChar); c = in.read() }
    var len = sb.length()
    if (len > 0 && sb.charAt(len - 1) == '\r') sb.setLength(len - 1)
    Some(sb.toString)
  }

  private def nextRecord(in: InputStream): Option[WarcRecord] = {
    // skip inter-record padding / garbage up to the next WARC/ magic
    var line = readLine(in)
    while (line.isDefined && !line.get.startsWith("WARC/")) line = readLine(in)
    if (line.isEmpty) return None
    // header block
    val headers = scala.collection.mutable.Map.empty[String, String]
    var h = readLine(in)
    while (h.isDefined && h.get.nonEmpty) {
      val s = h.get
      val colon = s.indexOf(':')
      if (colon > 0) {
        val k = s.substring(0, colon).trim.toLowerCase(Locale.ROOT)
        if (!headers.contains(k)) headers(k) = s.substring(colon + 1).trim
      }
      h = readLine(in)
    }
    if (h.isEmpty) return None // EOF inside headers
    val len = headers.get("content-length").flatMap(v => v.toIntOption)
    if (len.isEmpty) return None // unframeable: fail-soft
    val payload = in.readNBytes(len.get) // shorter at a truncated tail
    Some(buildRecord(headers.toMap, payload))
  }

  // ---- payload interpretation --------------------------------------

  private def buildRecord(headers: Map[String, String],
                          payload: Array[Byte]): WarcRecord = {
    val wtype = headers.getOrElse("warc-type", "")
    val uri = headers.getOrElse("warc-target-uri", null)
    val date = headers.getOrElse("warc-date", null)
    val ctype = headers.getOrElse("content-type", "")
    val isHttpResponse = wtype == "response" &&
      ctype.toLowerCase(Locale.ROOT).startsWith("application/http")
    if (isHttpResponse) {
      val (status, httpHeaders, bodyBytes) = parseHttp(payload)
      val httpCt = httpHeaders.getOrElse("content-type", null)
      val decoded =
        if (httpHeaders.getOrElse("transfer-encoding", "")
              .toLowerCase(Locale.ROOT).contains("chunked")) dechunk(bodyBytes)
        else bodyBytes
      val cs = charsetOf(httpCt)
      WarcRecord(wtype, uri, date, ctype, status, httpCt, cs._2,
        new String(decoded, cs._1), payload.length.toLong)
    } else {
      val cs = charsetOf(ctype)
      WarcRecord(wtype, uri, date, ctype, None, null, cs._2,
        new String(payload, cs._1), payload.length.toLong)
    }
  }

  /** Split an HTTP message payload at the first blank line; parse the
    * status code and a first-wins lower-cased header map. A payload
    * with no blank line is all-headers, empty body.
    */
  private def parseHttp(payload: Array[Byte])
      : (Option[Int], Map[String, String], Array[Byte]) = {
    val split = headerEnd(payload)
    val head = new String(payload, 0, split._1, UTF_8)
    val body = java.util.Arrays.copyOfRange(payload, split._2, payload.length)
    val lines = head.split("\r?\n")
    val status =
      if (lines.nonEmpty && lines(0).startsWith("HTTP/")) {
        val parts = lines(0).split(" ", 3)
        if (parts.length >= 2) parts(1).toIntOption else None
      } else None
    val hs = scala.collection.mutable.Map.empty[String, String]
    lines.iterator.drop(1).foreach { s =>
      val colon = s.indexOf(':')
      if (colon > 0) {
        val k = s.substring(0, colon).trim.toLowerCase(Locale.ROOT)
        if (!hs.contains(k)) hs(k) = s.substring(colon + 1).trim
      }
    }
    (status, hs.toMap, body)
  }

  /** (end of header bytes, start of body bytes) at the first CRLFCRLF
    * or LFLF; (len, len) when absent.
    */
  private def headerEnd(b: Array[Byte]): (Int, Int) = {
    var i = 0
    while (i < b.length) {
      if (b(i) == '\n') {
        if (i + 1 < b.length && b(i + 1) == '\n') return (i, i + 2)
        if (i + 2 < b.length && b(i + 1) == '\r' && b(i + 2) == '\n')
          return (i, i + 3)
      }
      i += 1
    }
    (b.length, b.length)
  }

  /** Undo HTTP/1.1 chunked transfer encoding: `hexsize CRLF bytes
    * CRLF`* `0 CRLF CRLF`. Chunk extensions (`;…`) are stripped; a
    * malformed size line ends decoding with the bytes recovered so
    * far; trailers are ignored.
    */
  private[sources] def dechunk(body: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(body.length)
    var i = 0
    var done = false
    while (!done && i < body.length) {
      var j = i
      while (j < body.length && body(j) != '\n') j += 1
      if (j >= body.length) done = true
      else {
        var line = new String(body, i, j - i, UTF_8).trim
        val semi = line.indexOf(';')
        if (semi >= 0) line = line.substring(0, semi).trim
        val size = try Integer.parseInt(line, 16)
        catch { case _: NumberFormatException => -1 }
        if (size <= 0) done = true // terminal chunk or malformed
        else {
          val start = j + 1
          val end = math.min(start + size, body.length)
          out.write(body, start, end - start)
          i = end
          // skip the CRLF after the chunk data
          if (i < body.length && body(i) == '\r') i += 1
          if (i < body.length && body(i) == '\n') i += 1
        }
      }
    }
    out.toByteArray
  }

  /** (decoder, reported name) from a Content-Type's `charset`
    * parameter — quotes stripped, case-folded; absent or unsupported
    * charsets report and use utf-8.
    */
  private def charsetOf(contentType: String): (Charset, String) = {
    val declared = Option(contentType).flatMap { ct =>
      val m = "(?i)charset\\s*=\\s*\"?([A-Za-z0-9_.:+-]+)\"?".r
        .findFirstMatchIn(ct)
      m.map(_.group(1).toLowerCase(Locale.ROOT))
    }
    declared match {
      case Some(name) =>
        try ((Charset.forName(name), name))
        catch { case _: Exception => (UTF_8, "utf-8") }
      case None => (UTF_8, "utf-8")
    }
  }

  // ---- Spark faces --------------------------------------------------

  /** File face: one row per WARC record across every matched archive
    * (one file per task), with the source path.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val files = BinaryFiles.read(spark, path)
      .select(col("path"), col("content")).as[(String, Array[Byte])]
    files.flatMap { case (p, bytes) => parseAll(bytes).map(r => (p, r)) }
      .toDF("path", "rec")
      .select(col("path"), col("rec.warc_type").as("warc_type"),
        col("rec.target_uri").as("target_uri"),
        col("rec.warc_date").as("warc_date"),
        col("rec.content_type").as("content_type"),
        col("rec.http_status").as("http_status"),
        col("rec.http_content_type").as("http_content_type"),
        col("rec.charset").as("charset"), col("rec.body").as("body"),
        col("rec.payload_len").as("payload_len"))
  }
}
