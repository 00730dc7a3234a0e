package graft.multimodal

import graft.SparkSpec

class MatroskaSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .limit(60)
    .cache()

  "syntheticMkvs + extractMkvMeta" should "round-trip the planted metadata" in {
    val rows = Matroska.syntheticMkvs(docs).as[MediaRow].repartition(3)
    val metas = Matroska.extractMkvMeta(rows, spark, lenient = true)
      .collect().map(m => m.doc_id -> m).toMap

    // every 9th payload is truncated and must be DROPPED in lenient mode
    val ids = docs.select("doc_id").as[Long].collect()
    metas.keySet shouldBe ids.filter(_ % 9 != 0).toSet

    ids.filter(_ % 9 != 0).foreach { id =>
      val m = metas(id)
      m.duration_ms shouldBe 250L * (1 + id % 8) * (1 + id % 4)
      m.timescale_ns shouldBe 1000000L * (1 + id % 4)
      m.n_tracks shouldBe (1 + id % 3).toInt
      m.width shouldBe 8 * (1 + id % 7).toInt
      m.height shouldBe 8 * (1 + id % 5).toInt
      m.codec shouldBe Seq("V_VP9", "V_MPEG4/ISO/AVC", "V_AV1")((id % 3).toInt)
    }
  }

  it should "parse the unknown-size Segment form" in {
    // ids ≡ 0 (mod 5) write the Segment with an all-ones size VINT
    val id = 10L // 10 % 5 == 0, 10 % 9 != 0
    val rows = Seq(id).toDF("doc_id")
    val m = Matroska.extractMkvMeta(
      Matroska.syntheticMkvs(rows).as[MediaRow], spark).head()
    m.duration_ms shouldBe 250L * (1 + id % 8) * (1 + id % 4)
    m.n_tracks shouldBe (1 + id % 3).toInt
  }

  it should "throw on malformed payloads in strict mode" in {
    val bad = Seq(MediaRow(7L, "video/x-matroska", Array[Byte](1, 2, 3))).toDS()
    val ex = intercept[org.apache.spark.SparkException] {
      Matroska.extractMkvMeta(bad, spark).collect()
    }
    ex.getMessage should include("doc 7")
  }

  "syntheticMjpegMkvs + extractMkvFrames" should
      "demux and decode planted frames across clusters and framings" in {
    val rows = Matroska.syntheticMjpegMkvs(docs).as[MediaRow].repartition(3)
    val frames = Matroska.extractMkvFrames(rows, spark, lenient = true)
      .collect().map(f => (f.doc_id, f.frame_no) -> f).toMap

    val ids = docs.select("doc_id").as[Long].collect()
    // every frame of every non-truncated payload, stride 1
    frames.keySet shouldBe ids.filter(_ % 9 != 0)
      .flatMap(id => (0 until (1 + id % 5).toInt).map(f => (id, f))).toSet

    ids.filter(_ % 9 != 0).foreach { id =>
      (0 until (1 + id % 5).toInt).foreach { f =>
        val fr = frames((id, f))
        fr.width shouldBe (1 + id % 7).toInt
        fr.height shouldBe (1 + id % 6).toInt
        math.round(fr.feature(0) * 255) shouldBe ((id + 11 * f) % 256)
        math.round(fr.feature(1) * 255) shouldBe ((id * 7 + 5 * f) % 256)
        math.round(fr.feature(2) * 255) shouldBe ((id * 13 + 3 * f) % 256)
      }
    }
  }

  it should "sample every strideth frame" in {
    val rows = Matroska.syntheticMjpegMkvs(Seq(4L).toDF("doc_id")).as[MediaRow]
    val got = Matroska.extractMkvFrames(rows, spark, frameStride = 2)
      .collect().map(_.frame_no).sorted
    got shouldBe Array(0, 2, 4) // 5 frames at id 4, stride 2
  }

  it should "name the codec when block bytes need an external decoder" in {
    // the METADATA fixture carries inter-frame codec ids but no clusters;
    // build one V_VP9 payload with a junk-bytes video block instead
    val junk = Matroska.syntheticMjpegMkvs(Seq(3L).toDF("doc_id"))
      .as[MediaRow].head()
    // corrupt every frame's PNG magic so imageio can't decode it
    val pngMagic = Array[Byte](0x89.toByte, 0x50, 0x4E, 0x47)
    val p = junk.payload.clone()
    var i = 0
    while (i < p.length - 3) {
      if (p(i) == pngMagic(0) && p(i + 1) == pngMagic(1) &&
          p(i + 2) == pngMagic(2) && p(i + 3) == pngMagic(3)) { p(i + 1) = 0 }
      i += 1
    }
    val ex = intercept[org.apache.spark.SparkException] {
      Matroska.extractMkvFrames(Seq(MediaRow(3L, "video/x-matroska", p)).toDS(),
        spark).collect()
    }
    ex.getMessage should include("needs an external codec")
    ex.getMessage should include("V_MJPEG")
  }

  it should "default TimestampScale to 1ms when Info omits it" in {
    // hand-built: EBML header + Segment(Info(Duration=4 units only))
    // 4-byte float this time — the parser accepts both widths
    def el(id: Array[Byte], body: Array[Byte]): Array[Byte] =
      id ++ Array((0x80 | body.length).toByte) ++ body
    val ebml = el(Array(0x1A.toByte, 0x45.toByte, 0xDF.toByte, 0xA3.toByte),
      Array.empty[Byte])
    val dur = el(Array(0x44.toByte, 0x89.toByte), {
      val bits = java.lang.Float.floatToIntBits(4.0f)
      Array.tabulate(4)(i => ((bits >> (8 * (3 - i))) & 0xff).toByte)
    })
    val info = el(Array(0x15.toByte, 0x49.toByte, 0xA9.toByte, 0x66.toByte), dur)
    val seg = el(Array(0x18.toByte, 0x53.toByte, 0x80.toByte, 0x67.toByte), info)
    val m = Matroska.extractMkvMeta(
      Seq(MediaRow(1L, "video/x-matroska", ebml ++ seg)).toDS(), spark).head()
    m.timescale_ns shouldBe 1000000L
    m.duration_ms shouldBe 4L // 4 units x 1e6 ns / 1e6
    m.n_tracks shouldBe 0
    m.codec shouldBe ""
  }
}
