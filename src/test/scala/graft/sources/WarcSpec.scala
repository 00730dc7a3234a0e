package graft.sources

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

import graft.SparkSpec
import graft.sources.Warc.{WarcBlob, WarcRecord}

class WarcSpec extends SparkSpec {
  import spark.implicits._

  private def record(wtype: String, uri: Option[String], payload: String,
      extra: Seq[(String, String)] = Nil): Array[Byte] = {
    val p = payload.getBytes(UTF_8)
    val head = new StringBuilder("WARC/1.0\r\n")
    head.append("WARC-Type: ").append(wtype).append("\r\n")
    head.append("WARC-Record-ID: <urn:test:1>\r\n")
    uri.foreach(u => head.append("WARC-Target-URI: ").append(u).append("\r\n"))
    extra.foreach { case (k, v) => head.append(k).append(": ").append(v).append("\r\n") }
    head.append("Content-Length: ").append(p.length).append("\r\n\r\n")
    head.toString.getBytes(ISO_8859_1) ++ p ++ "\r\n\r\n".getBytes(ISO_8859_1)
  }

  private val httpResponse = record("response", Some("http://x/1"),
    "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<html>hi</html>",
    Seq("Content-Type" -> "application/http;msgtype=response"))

  private def parse(blob: WarcBlob, lenient: Boolean = false): Seq[WarcRecord] =
    Warc.extractRecords(Seq(blob).toDS(), spark, lenient).collect().toSeq

  behavior of "Warc.extractRecords"

  it should "parse WARC and HTTP layers of a response record" in {
    val rs = parse(WarcBlob(1L, httpResponse))
    rs should have size 1
    val r = rs.head
    r.warc_type shouldBe "response"
    r.target_uri shouldBe "http://x/1"
    r.http_status shouldBe 200
    r.http_content_type shouldBe "text/html"
    r.body shouldBe "<html>hi</html>"
    r.content_length shouldBe httpResponse.length - // total minus WARC header+trailer
      new String(httpResponse, ISO_8859_1).indexOf("\r\n\r\n") - 4 - 4
  }

  it should "produce identical records for plain, whole-file-gzip, and per-record-member packaging" in {
    val two = httpResponse ++ record("request", Some("http://x/1"),
      "GET /1 HTTP/1.1\r\nHost: x\r\n\r\n",
      Seq("Content-Type" -> "application/http;msgtype=request"))
    val plain = parse(WarcBlob(1L, two))
    val whole = parse(WarcBlob(1L, Warc.gzip(two)))
    val members = parse(WarcBlob(1L,
      Warc.gzip(httpResponse) ++ Warc.gzip(record("request", Some("http://x/1"),
        "GET /1 HTTP/1.1\r\nHost: x\r\n\r\n",
        Seq("Content-Type" -> "application/http;msgtype=request")))))
    whole shouldBe plain
    members shouldBe plain
    plain.map(_.warc_type) shouldBe Seq("response", "request")
    plain(1).http_status shouldBe -1 // requests carry no status line
  }

  it should "accept case-insensitive header names" in {
    val mixed = new String(httpResponse, ISO_8859_1)
      .replace("Content-Length", "CONTENT-length")
      .replace("WARC-Type", "warc-type").getBytes(ISO_8859_1)
    parse(WarcBlob(1L, mixed)).head.warc_type shouldBe "response"
  }

  it should "throw in strict mode on a truncated payload, naming the file and record" in {
    val cut = java.util.Arrays.copyOf(httpResponse, httpResponse.length - 10)
    val e = intercept[org.apache.spark.SparkException] {
      parse(WarcBlob(42L, cut))
    }
    e.getMessage should include("file 42")
  }

  it should "keep records before the corruption point in lenient mode" in {
    val blob = httpResponse ++ java.util.Arrays.copyOf(httpResponse, httpResponse.length / 2)
    val rs = parse(WarcBlob(1L, blob), lenient = true)
    rs should have size 1
    rs.head.http_status shouldBe 200
  }

  it should "drop a gzip-truncated blob entirely in lenient mode (no resync possible)" in {
    val gz = Warc.gzip(httpResponse)
    val rs = parse(WarcBlob(1L, java.util.Arrays.copyOf(gz, gz.length / 2)), lenient = true)
    rs shouldBe empty
  }

  it should "reject a missing Content-Length rather than guessing" in {
    val noLen = new String(httpResponse, ISO_8859_1)
      .replace("Content-Length", "X-Length").getBytes(ISO_8859_1)
    parse(WarcBlob(1L, noLen), lenient = true) shouldBe empty
  }

  it should "drop a negative Content-Length record in lenient mode instead of crashing" in {
    // "-N".toLongOption parses — without an explicit len < 0 check the
    // payload-end index lands before the payload start and the array
    // access throws OUTSIDE the lenient path, killing the whole task
    val neg = new String(httpResponse, ISO_8859_1)
      .replaceAll("Content-Length: \\d+", "Content-Length: -5").getBytes(ISO_8859_1)
    parse(WarcBlob(1L, neg), lenient = true) shouldBe empty
    // and records BEFORE the corrupt one survive
    val rs = parse(WarcBlob(1L, httpResponse ++ neg), lenient = true)
    rs should have size 1
  }

  it should "add no Exchange: extraction is partition-local" in {
    val plan = Warc.extractRecords(Seq(WarcBlob(1L, httpResponse)).toDS(), spark)
      .queryExecution.executedPlan.toString
    plan should not include "Exchange"
  }

  behavior of "Warc.syntheticWarcFiles"

  it should "emit one warcinfo plus interleaved request/response per file, in doc order" in {
    val docs = spark.range(0, 16).selectExpr("id AS doc_id", "concat('text ', id) AS text")
    val blobs = Warc.syntheticWarcFiles(docs, spark).collect()
    blobs should have size 1
    val rs = Warc.extractRecords(Seq(blobs.head).toDS(), spark).collect().sortBy(_.record_index)
    rs.head.warc_type shouldBe "warcinfo"
    // 16 responses + requests for ids 0,5,10,15
    rs.count(_.warc_type == "response") shouldBe 16
    rs.count(_.warc_type == "request") shouldBe 4
    rs.filter(_.warc_type == "response").map(_.body) shouldBe
      (0 until 16).map(i => s"text $i")
  }
}
