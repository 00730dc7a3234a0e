package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** WARC (ISO 28500) record reader — the arrival format of every web
  * crawl (Common Crawl ships ~100 TB of exactly these files), and so
  * the true first operator of a crawl-fed training-data pipeline:
  * before URL canonicalization, before HTML extraction, the bytes are
  * concatenated WARC records.
  *
  * Spark-first shape: one WARC file is one opaque binary blob row
  * (`spark.read.format("binaryFile")` at real scale — each file is an
  * independent unit, so the scan parallelizes per file with zero
  * shuffle), and record extraction is a `mapPartitions` flatMap — the
  * same posture as the media codecs (multimodal/Media.scala): byte-
  * walking a container is genuinely imperative per-row work no Catalyst
  * expression expresses, and it stays map-side, so the first Exchange
  * in a crawl pipeline remains whatever the DOWNSTREAM dedup/groupBy
  * needs. Fan-out is bounded by records-per-file (Common Crawl caps
  * files at 1 GiB), never corpus-shaped.
  *
  * Supported on the byte level, all pure JDK:
  *   - WARC/1.0 and WARC/1.1 headers (case-insensitive names);
  *   - gzip packaging, both whole-file and the per-record-member
  *     concatenation Common Crawl uses (`GZIPInputStream` consumes
  *     successive members natively);
  *   - HTTP payload split for `application/http` response/request
  *     records: status line, Content-Type header, body.
  *
  * Strict mode throws on the first malformed record; lenient mode
  * (the crawl default — truncated tail records are routine in real
  * dumps) keeps every record parsed BEFORE the corruption point of a
  * blob and drops the rest of that blob, because a WARC stream cannot
  * be resynchronized reliably past a bad Content-Length.
  */
object Warc {

  /** One WARC file (or gzip member sequence) as an opaque payload. */
  final case class WarcBlob(file_id: Long, payload: Array[Byte])

  /** One parsed record. `http_status` is -1 and `http_content_type`
    * null when the payload is not an HTTP response (warcinfo, request);
    * `target_uri` is null when the record carries no WARC-Target-URI.
    */
  final case class WarcRecord(
      file_id: Long,
      record_index: Int,
      warc_type: String,
      record_id: String,
      target_uri: String,
      warc_date: String,
      content_length: Long,
      http_status: Int,
      http_content_type: String,
      body: String)

  final class WarcFormatException(msg: String) extends RuntimeException(msg)

  private def isGzip(b: Array[Byte]): Boolean =
    b.length >= 2 && b(0) == 0x1f.toByte && b(1) == 0x8b.toByte

  /** Inflate all gzip members (a concatenated-member stream inflates to
    * the concatenation of its members' contents).
    */
  private[sources] def gunzipAll(b: Array[Byte]): Array[Byte] = {
    val in = new GZIPInputStream(new ByteArrayInputStream(b))
    try in.readAllBytes()
    finally in.close()
  }

  private[sources] def gzip(b: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new GZIPOutputStream(bos)
    out.write(b); out.close()
    bos.toByteArray
  }

  private def indexOfCrlfCrlf(b: Array[Byte], from: Int, until: Int): Int = {
    var i = from
    while (i + 3 < until) {
      if (b(i) == '\r' && b(i + 1) == '\n' && b(i + 2) == '\r' && b(i + 3) == '\n') return i
      i += 1
    }
    -1
  }

  private def headerMap(block: String): Map[String, String] =
    block.split("\r\n").iterator.drop(1).flatMap { line =>
      val c = line.indexOf(':')
      if (c < 0) None else Some(line.substring(0, c).trim.toLowerCase -> line.substring(c + 1).trim)
    }.toMap

  /** Parse records until the stream ends or a record is malformed.
    * Returns the records parsed so far plus the error that stopped the
    * walk, if any — the caller decides strict/lenient semantics.
    */
  private[sources] def parseAvailable(
      fileId: Long, raw: Array[Byte]): (Vector[WarcRecord], Option[String]) = {
    val bytes =
      if (isGzip(raw)) {
        try gunzipAll(raw)
        catch { case e: Exception => return (Vector.empty, Some(s"gzip: ${e.getMessage}")) }
      } else raw
    var out = Vector.empty[WarcRecord]
    var i = 0
    var idx = 0
    while (i < bytes.length) {
      val hEnd = indexOfCrlfCrlf(bytes, i, bytes.length)
      if (hEnd < 0) return (out, Some(s"record $idx: unterminated header block"))
      val header = new String(bytes, i, hEnd - i, ISO_8859_1)
      if (!header.startsWith("WARC/1."))
        return (out, Some(s"record $idx: bad version line '${header.takeWhile(_ != '\r').take(20)}'"))
      val h = headerMap(header)
      val lenOpt = h.get("content-length").flatMap(_.toLongOption)
      if (lenOpt.isEmpty) return (out, Some(s"record $idx: missing Content-Length"))
      val len = lenOpt.get
      val pStart = hEnd + 4
      // a negative Content-Length parses ("-5".toLongOption) and would
      // slide pEnd before pStart — treat it as malformed, not truncated,
      // so the lenient path drops the record instead of crashing the task
      if (len < 0)
        return (out, Some(s"record $idx: negative Content-Length $len"))
      if (pStart + len + 4 > bytes.length)
        return (out, Some(s"record $idx: payload truncated (need ${len + 4} bytes past header)"))
      val pEnd = (pStart + len).toInt
      if (!(bytes(pEnd) == '\r' && bytes(pEnd + 1) == '\n' &&
          bytes(pEnd + 2) == '\r' && bytes(pEnd + 3) == '\n'))
        return (out, Some(s"record $idx: missing record trailer CRLFCRLF"))
      val payload = java.util.Arrays.copyOfRange(bytes, pStart, pEnd)
      val wtype = h.getOrElse("warc-type", "unknown")
      val isHttp = h.get("content-type").exists(_.startsWith("application/http"))
      val (status, ctype, body) =
        if (isHttp) parseHttp(payload, wtype) else (-1, null: String, new String(payload, UTF_8))
      out :+= WarcRecord(fileId, idx, wtype,
        h.getOrElse("warc-record-id", null),
        h.getOrElse("warc-target-uri", null),
        h.getOrElse("warc-date", null),
        len, status, ctype, body)
      i = pEnd + 4
      idx += 1
    }
    (out, None)
  }

  /** Split an `application/http` payload into (status, content-type,
    * body). Requests have no status line → -1; a payload without the
    * header/body separator is all headers, empty body.
    */
  private def parseHttp(payload: Array[Byte], wtype: String): (Int, String, String) = {
    val sep = indexOfCrlfCrlf(payload, 0, payload.length)
    val (head, body) =
      if (sep < 0) (new String(payload, ISO_8859_1), "")
      else (new String(payload, 0, sep, ISO_8859_1),
        new String(payload, sep + 4, payload.length - sep - 4, UTF_8))
    val lines = head.split("\r\n")
    val status =
      if (wtype == "response" && lines.nonEmpty && lines(0).startsWith("HTTP/"))
        lines(0).split(" ").lift(1).flatMap(_.toIntOption).getOrElse(-1)
      else -1
    val ctype = lines.iterator.drop(1)
      .map(_.split(":", 2))
      .collectFirst { case Array(k, v) if k.trim.equalsIgnoreCase("content-type") => v.trim }
      .orNull
    (status, ctype, body)
  }

  /** Explode blobs into records. Partition-parallel, no shuffle; each
    * input row fans out to its own record count only.
    */
  def extractRecords(blobs: Dataset[WarcBlob], spark: SparkSession,
      lenient: Boolean = false): Dataset[WarcRecord] = {
    import spark.implicits._
    blobs.mapPartitions { it =>
      it.flatMap { blob =>
        val (records, err) = parseAvailable(blob.file_id, blob.payload)
        err match {
          case Some(msg) if !lenient =>
            throw new WarcFormatException(s"file ${blob.file_id}: $msg")
          case _ => records
        }
      }
    }
  }

  /** Deterministic WARC fixtures from the documents table, `docsPerFile`
    * docs per file in doc_id order. Per file: one warcinfo record, then
    * per doc a response record (HTTP 200, or 404 every 13th doc; body =
    * the document text) preceded by a request record every 5th doc.
    * Packaging rotates to cover every decode path: file_id % 4 == 0 →
    * whole-file gzip, % 4 == 2 → per-record gzip members concatenated
    * (the Common Crawl layout), odd → plain. Every file with
    * file_id % 10 == 7 truncates mid-payload of its LAST record — the
    * lenient path must keep the earlier records and drop exactly that
    * one (these files are odd, hence always plain: gzip truncation is a
    * whole-blob drop and is spec-locked instead, WarcSpec).
    */
  def syntheticWarcFiles(documents: DataFrame, spark: SparkSession,
      docsPerFile: Int = 16): Dataset[WarcBlob] = {
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .groupByKey(_._1 / docsPerFile)
      .mapGroups { (fileId, it) =>
        val docs = it.toSeq.sortBy(_._1)
        val records = new scala.collection.mutable.ArrayBuffer[Array[Byte]]
        records += buildRecord(
          Seq("WARC-Type" -> "warcinfo",
            "WARC-Record-ID" -> s"<urn:graft:f$fileId:info>",
            "WARC-Date" -> "2026-01-01T00:00:00Z",
            "Content-Type" -> "application/warc-fields"),
          "software: graft\r\n".getBytes(UTF_8))
        docs.foreach { case (id, text) =>
          val uri = s"http://example.com/doc/$id"
          if (id % 5 == 0)
            records += buildRecord(
              Seq("WARC-Type" -> "request",
                "WARC-Record-ID" -> s"<urn:graft:d$id:req>",
                "WARC-Date" -> "2026-01-01T00:00:00Z",
                "WARC-Target-URI" -> uri,
                "Content-Type" -> "application/http;msgtype=request"),
              s"GET /doc/$id HTTP/1.1\r\nHost: example.com\r\n\r\n".getBytes(UTF_8))
          val statusLine = if (id % 13 == 0) "HTTP/1.1 404 Not Found" else "HTTP/1.1 200 OK"
          records += buildRecord(
            Seq("WARC-Type" -> "response",
              "WARC-Record-ID" -> s"<urn:graft:d$id:resp>",
              "WARC-Date" -> "2026-01-01T00:00:00Z",
              "WARC-Target-URI" -> uri,
              "Content-Type" -> "application/http;msgtype=response"),
            (statusLine + "\r\nContent-Type: text/html; charset=utf-8\r\n\r\n").getBytes(UTF_8) ++
              text.getBytes(UTF_8))
        }
        val assembled =
          if (fileId % 10 == 7) {
            // cut mid-payload of the last record: header survives, the
            // declared Content-Length outruns the bytes
            val whole = records.toArray.flatten
            val lastLen = records.last.length
            java.util.Arrays.copyOf(whole, whole.length - lastLen + lastLen / 2)
          } else if (fileId % 4 == 0) gzip(records.toArray.flatten)
          else if (fileId % 4 == 2) records.toArray.map(gzip).flatten
          else records.toArray.flatten
        WarcBlob(fileId, assembled)
      }
  }

  private def buildRecord(headers: Seq[(String, String)], payload: Array[Byte]): Array[Byte] = {
    val head = new StringBuilder("WARC/1.0\r\n")
    headers.foreach { case (k, v) => head.append(k).append(": ").append(v).append("\r\n") }
    head.append("Content-Length: ").append(payload.length).append("\r\n\r\n")
    head.toString.getBytes(ISO_8859_1) ++ payload ++ "\r\n\r\n".getBytes(ISO_8859_1)
  }
}
