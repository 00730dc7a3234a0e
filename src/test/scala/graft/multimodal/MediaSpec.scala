package graft.multimodal

import graft.SparkSpec
import org.apache.spark.sql.functions._
import graft.multimodal.Media.StubDecoder

class MediaSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .limit(50)
    .cache()

  "payloads" should "produce binary payloads with typed metadata" in {
    val p = Media.payloads(docs)
    p.schema("payload").dataType.typeName shouldBe "binary"
    p.select("media_type").distinct().as[String].collect().toSet shouldBe
      Set("image/png", "audio/wav", "video/mp4")
  }

  "extractFeatures" should "decode per partition with exact stub values" in {
    val rows = Media.payloads(docs).as[MediaRow].repartition(3)
    val feats = Media.extractFeatures(rows, StubDecoder, spark).cache()

    feats.count() shouldBe docs.count()
    // features match a driver-side decode of the same payload
    val sample = rows.orderBy("doc_id").head()
    val got = feats.filter(col("doc_id") === sample.doc_id).head()
    val (w, h, feat) = StubDecoder.decode(sample.media_type, sample.payload)
    got.n_bytes shouldBe sample.payload.length
    got.width shouldBe w
    got.height shouldBe h
    got.feature.toSeq shouldBe feat.toSeq
    // feature schema: 4-dim float vector
    all(feats.select(org.apache.spark.sql.functions.size(col("feature")))
      .as[Int].collect().toSeq) shouldBe 4
  }

  "ImageIoDecoder" should "decode real PNG pixels end-to-end and feed resizePlan" in {
    // build real PNGs in-memory: doc 1 is 64x48 solid red, doc 2 is
    // 300x200 solid white (exercises the downscale path), doc 3 is
    // 16x16 solid black
    def png(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val rows = Seq(
      MediaRow(1L, "image/png", png(64, 48, 0xff0000)),
      MediaRow(2L, "image/png", png(300, 200, 0xffffff)),
      MediaRow(3L, "image/png", png(16, 16, 0x000000))).toDS().repartition(2)

    val feats = Media.extractFeatures(rows, new Media.ImageIoDecoder, spark).cache()
    val byId = feats.collect().map(f => f.doc_id -> f).toMap
    // REAL pixel dimensions, not stub arithmetic
    (byId(1L).width, byId(1L).height) shouldBe (64, 48)
    (byId(2L).width, byId(2L).height) shouldBe (300, 200)
    // mean-RGB features reflect the actual pixels
    byId(1L).feature(0) shouldBe 1.0f  // solid red: R channel saturated
    byId(1L).feature(1) shouldBe 0.0f
    byId(2L).feature.take(3).toSeq shouldBe Seq(1.0f, 1.0f, 1.0f)
    byId(3L).feature.take(3).toSeq shouldBe Seq(0.0f, 0.0f, 0.0f)
    // luma = BT.601 over the channel means
    byId(1L).feature(3) shouldBe 0.299f

    // the resize plan consumes the REAL decoded dimensions
    val planned = Media.resizePlan(feats.toDF(), maxDim = 224)
      .select("doc_id", "out_width", "out_height")
      .as[(Long, Int, Int)].collect().map(r => r._1 -> r).toMap
    planned(2L)._2 shouldBe 224 // 300x200 -> width-bound downscale
    planned(2L)._3 shouldBe 150 // round(200 * 224/300) ratio preserved (ceil)
    planned(1L)._2 shouldBe 64  // under maxDim: untouched
  }

  it should "throw on undecodable image bytes, drop them in lenient mode, and stub non-images" in {
    val garbage = MediaRow(9L, "image/png", "not a png".getBytes)
    val good = MediaRow(1L, "image/png", {
      val img = new java.awt.image.BufferedImage(
        8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    })
    val decoder = new Media.ImageIoDecoder
    an[IllegalArgumentException] should be thrownBy
      decoder.decode(garbage.media_type, garbage.payload)
    // lenient extraction drops the corrupt payload instead of failing the job
    val mixed = Seq(good, garbage).toDS()
    val strict = Media.extractFeatures(mixed, decoder, spark)
    an[org.apache.spark.SparkException] should be thrownBy strict.count()
    val lenient = Media.extractFeatures(mixed, decoder, spark, lenient = true)
    lenient.collect().map(_.doc_id).toSeq shouldBe Seq(1L)
    // audio/wav now routes to the REAL WavDecoder: garbage bytes throw
    an[IllegalArgumentException] should be thrownBy
      decoder.decode("audio/wav", "RIFF....WAVE".getBytes)
    // video still routes through the declared stub (no in-JDK codec)
    val vid = "not an mp4".getBytes
    val (dw, dh, dfeat) = decoder.decode("video/mp4", vid)
    val (sw, sh, sfeat) = Media.StubDecoder.decode("video/mp4", vid)
    (dw, dh) shouldBe ((sw, sh))
    dfeat.toSeq shouldBe sfeat.toSeq
  }

  "WavDecoder" should "decode a generated PCM16 WAV with exact features" in {
    def wav(sr: Float, channels: Int, samples: Array[Short]): Array[Byte] = {
      val fmt = new javax.sound.sampled.AudioFormat(sr, 16, channels, true, false)
      val b = new Array[Byte](samples.length * 2)
      samples.indices.foreach { i =>
        b(2 * i) = (samples(i) & 0xff).toByte
        b(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      }
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(b), fmt, samples.length / channels)
      val out = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
    // 8000 Hz mono square wave at exactly half amplitude: every feature
    // is dyadic, so float equality is exact
    val sq = Array.tabulate[Short](100)(i => if (i % 2 == 0) 16384 else -16384)
    val (sr, ch, feat) = new Media.WavDecoder().decode("audio/wav", wav(8000f, 1, sq))
    sr shouldBe 8000
    ch shouldBe 1
    feat(0) shouldBe 0.0125f // duration: 100 frames / 8000 Hz
    feat(1) shouldBe 0.5f    // mean |amplitude|
    feat(2) shouldBe 0.5f    // RMS of a square wave = its amplitude
    feat(3) shouldBe 1.0f    // ZCR: sign flips every consecutive frame

    // stereo WAV through the full extractFeatures pipeline, with a
    // corrupt payload dropped in lenient mode alongside it
    val stereo = Array.tabulate[Short](200)(i => if ((i / 2) % 2 == 0) 8192 else -8192)
    val rows = Seq(
      MediaRow(1L, "audio/wav", wav(16000f, 2, stereo)),
      MediaRow(2L, "audio/wav", "not a wav at all".getBytes)).toDS()
    val feats = Media
      .extractFeatures(rows, new Media.ImageIoDecoder, spark, lenient = true)
      .collect().map(f => f.doc_id -> f).toMap
    feats.keySet shouldBe Set(1L)
    feats(1L).width shouldBe 16000 // sample rate
    feats(1L).height shouldBe 2    // channels
    feats(1L).feature(0) shouldBe 0.00625f // 100 frames / 16000 Hz
    feats(1L).feature(1) shouldBe 0.25f
    feats(1L).feature(3) shouldBe 1.0f
  }

  "syntheticPngs" should "round-trip doc-id-derived color through real PNG decode" in {
    val rows = Media.syntheticPngs(docs)
    val feats = Media
      .extractFeatures(rows, new Media.ImageIoDecoder, spark, lenient = true)
      .cache()
    val ids = docs.select("doc_id").as[Long].collect()
    // corrupt every-7th payloads are dropped, everything else decodes
    feats.count() shouldBe ids.count(_ % 7 != 0).toLong
    feats.collect().foreach { f =>
      f.width shouldBe (1 + f.doc_id % 8).toInt
      f.height shouldBe (1 + f.doc_id % 6).toInt
      math.round(f.feature(0) * 255) shouldBe (f.doc_id % 256)
      math.round(f.feature(1) * 255) shouldBe (f.doc_id * 7 % 256)
      math.round(f.feature(2) * 255) shouldBe (f.doc_id * 13 % 256)
    }
  }

  "syntheticWavs" should "round-trip doc-id-derived waveforms through real WAV decode" in {
    val rows = Media.syntheticWavs(docs)
    val feats = Media
      .extractFeatures(rows, new Media.WavDecoder(), spark, lenient = true)
      .cache()
    val ids = docs.select("doc_id").as[Long].collect()
    // corrupt every-5th payloads are dropped, everything else decodes
    feats.count() shouldBe ids.count(_ % 5 != 0).toLong
    feats.collect().foreach { f =>
      val id = f.doc_id
      val n = 64 * (1 + id % 8).toInt
      val k = (1 + id % 16).toInt
      val period = 1 << (id % 3).toInt
      f.width shouldBe 1024 // sample rate
      f.height shouldBe 1   // mono
      // dyadic construction → exact float equality, not approximate
      f.feature(0) shouldBe n.toFloat / 1024f          // duration
      f.feature(1) shouldBe k.toFloat / 32f            // mean |amplitude|
      f.feature(2) shouldBe k.toFloat / 32f            // RMS of a square wave
      // crossing count recovered exactly from the float rate
      math.round(f.feature(3).toDouble * (n - 1)) shouldBe (n / period - 1).toLong
    }
  }

  "resizePlan" should "preserve aspect ratio and never upscale" in {
    val decoded = Seq(
      (1L, 64, 48),   // downscale, width-bound
      (2L, 10, 20),   // under maxDim both ways: untouched
      (3L, 16, 32))   // exactly at maxDim: untouched
      .toDF("doc_id", "width", "height")
    val planned = Media.resizePlan(decoded, maxDim = 32)
      .select("doc_id", "scale", "out_width", "out_height")
      .as[(Long, Double, Int, Int)].collect().map(r => r._1 -> r).toMap
    planned(1L)._3 shouldBe 32 // 64 * 0.5
    planned(1L)._4 shouldBe 24 // 48 * 0.5 — ratio preserved
    planned(2L)._2 shouldBe 1.0
    planned(2L)._3 shouldBe 10
    planned(3L)._2 shouldBe 1.0
    // no output dimension ever exceeds... (ceil can add at most 1 on
    // non-exact scales; the max side is exact by construction)
    planned.values.foreach { case (_, scale, w, h) =>
      scale should be <= 1.0
      math.max(w, h) should be <= 32
    }
  }

  "MjpegAviDecoder" should "decode PNG-frame AVIs exactly, dropping truncated ones" in {
    val rows = Media.syntheticAvis(docs).repartition(3)
    val feats = Media.extractFeatures(rows, new Media.MjpegAviDecoder(), spark,
      lenient = true).cache()
    // exactly the id % 9 == 0 payloads are dropped
    val keptIds = feats.select("doc_id").as[Long].collect().toSet
    val allIds = docs.select("doc_id").as[Long].collect().toSet
    keptIds shouldBe allIds.filter(_ % 9 != 0)
    feats.collect().foreach { f =>
      f.width shouldBe (1 + f.doc_id % 8).toInt
      f.height shouldBe (1 + f.doc_id % 6).toInt
      f.feature(0) shouldBe (1 + f.doc_id % 4).toFloat  // frame count
      // lossless PNG frames: mean-RGB recovers the channel bytes exactly
      math.round(f.feature(1) * 255) shouldBe (f.doc_id % 256).toInt
      math.round(f.feature(2) * 255) shouldBe ((f.doc_id * 7) % 256).toInt
      math.round(f.feature(3) * 255) shouldBe ((f.doc_id * 13) % 256).toInt
    }
  }

  it should "decode a real JPEG-frame MJPEG container through the same path" in {
    // hand-roll an AVI whose two frames are actual JPEGs (the standard
    // MJPEG payload) — dims and frame count must survive the lossy codec
    val img = new java.awt.image.BufferedImage(6, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 4).foreach(y => (0 until 6).foreach(x => img.setRGB(x, y, 0x808080)))
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", out)
    val frame = out.toByteArray
    val pad = frame.length & 1
    val moviBody = 4 + 2 * (8 + frame.length + pad)
    val riffBody = 4 + (8 + moviBody)
    val bytes = new Array[Byte](8 + riffBody)
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def cc(s: String) = bb.put(s.getBytes("US-ASCII"))
    cc("RIFF"); bb.putInt(riffBody); cc("AVI ")
    cc("LIST"); bb.putInt(moviBody); cc("movi")
    (0 until 2).foreach { _ =>
      cc("00dc"); bb.putInt(frame.length); bb.put(frame)
      if (pad == 1) bb.put(0.toByte)
    }
    val (w, h, feat) = new Media.MjpegAviDecoder().decode("video/avi", bytes)
    (w, h) shouldBe ((6, 4))
    feat(0) shouldBe 2.0f
    // gray survives the JPEG round trip to within a couple of levels
    math.abs(math.round(feat(1) * 255) - 128) should be <= 2
  }

  it should "reject non-AVI bytes and delegate other media types" in {
    an[IllegalArgumentException] should be thrownBy
      new Media.MjpegAviDecoder().decode("video/avi", Array[Byte](1, 2, 3))
    an[IllegalArgumentException] should be thrownBy
      new Media.MjpegAviDecoder().decode("video/avi",
        "RIFFxxxxAVI somethingelse".getBytes("US-ASCII"))
    // non-AVI types fall through to the stub, not an error
    val (w, _, _) = new Media.MjpegAviDecoder().decode("video/mp4", Array[Byte](1, 2, 3))
    w shouldBe StubDecoder.decode("video/mp4", Array[Byte](1, 2, 3))._1
  }

  "extractVideoFrames" should "decode sampled frames with the right stride and drop corrupt containers" in {
    val rows = Media.syntheticAvis(docs).repartition(3)
    val frames = Media.extractVideoFrames(rows, spark, frameStride = 2,
      lenient = true).cache()
    val byDoc = frames.collect().groupBy(_.doc_id)
    byDoc.keySet shouldBe docs.select("doc_id").as[Long].collect()
      .filter(_ % 9 != 0).toSet
    byDoc.foreach { case (id, fs) =>
      val nFrames = (1 + id % 4).toInt
      fs.map(_.frame_no).sorted.toSeq shouldBe (0 until nFrames by 2)
      fs.foreach { f =>
        f.width shouldBe (1 + id % 8).toInt
        math.round(f.feature(0) * 255) shouldBe (id % 256).toInt
      }
    }
    // stride 1 yields every frame
    Media.extractVideoFrames(rows, spark, lenient = true).count() shouldBe
      byDoc.keySet.toSeq.map(id => (1 + id % 4)).sum
  }

  "parseMp4Meta" should "round-trip doc-id-derived box trees through the ISO-BMFF walker" in {
    val rows = Media.syntheticMp4s(docs)
    val metas = Media.extractMp4Meta(rows, spark, lenient = true).cache()
    val ids = docs.select("doc_id").as[Long].collect().toSet
    // every 11th payload is truncated — lenient drops exactly those
    metas.select("doc_id").as[Long].collect().toSet shouldBe ids.filter(_ % 11 != 0)
    metas.collect().foreach { m =>
      val id = m.doc_id
      m.duration_ms shouldBe 500 * (1 + id % 8)
      m.timescale shouldBe 600 * (1 + id % 3)
      m.n_tracks shouldBe (1 + id % 3)
      m.width shouldBe 16 * (1 + id % 8)
      m.height shouldBe 16 * (1 + id % 6)
      m.codec shouldBe Seq("avc1", "hvc1", "vp09", "av01")((id % 4).toInt)
    }
    // both full-box versions exercised (mvhd/tkhd v0 for even ids, v1 odd)
    ids.filter(_ % 11 != 0).map(_ % 2).size should be > 1
  }

  it should "handle 64-bit largesize boxes and reject malformed trees" in {
    // wrap a fixture's moov in a largesize box: same body, size32=1 +
    // 64-bit size — the layout real >4 GiB mdat-bearing files use
    val sample = Media.syntheticMp4s(docs.filter(col("doc_id") === 1))
      .collect().head.payload
    val ftypLen = 20
    val moov = sample.drop(ftypLen)
    def be32(x: Long) = Array(((x >> 24) & 0xff).toByte, ((x >> 16) & 0xff).toByte,
      ((x >> 8) & 0xff).toByte, (x & 0xff).toByte)
    val large = be32(1) ++ "moov".getBytes("US-ASCII") ++
      be32(0) ++ be32(moov.length + 8L) ++ moov.drop(8)
    val rebuilt = sample.take(ftypLen) ++ large
    val (ms, ts, n, w, h, codec) = Media.parseMp4Meta(rebuilt)
    ms shouldBe 500 * 2 // id 1: (1 + 1 % 8) * 500
    ts shouldBe 1200
    (n, w, h, codec) shouldBe ((2, 32, 32, "hvc1"))

    // malformed payloads throw (and therefore drop under lenient)
    an[IllegalArgumentException] should be thrownBy
      Media.parseMp4Meta("RIFFxxxxAVI LIST".getBytes("US-ASCII"))
    an[IllegalArgumentException] should be thrownBy
      Media.parseMp4Meta(sample.take(40)) // truncated mid-moov
  }

  "parseMp4Samples" should "demux exact per-sample byte ranges from the stbl tables" in {
    val rows = Media.syntheticJpegMp4s(docs).collect()
    // even ids exercise 32-bit stco, odd ids 64-bit co64 — check both
    rows.filter(r => r.doc_id % 13 != 0).take(10).foreach { r =>
      val id = r.doc_id
      val (codec, samples) = Media.parseMp4Samples(r.payload)
      codec shouldBe "jpeg"
      samples.size shouldBe (1 + id % 5).toInt
      // ranges are contiguous from the mdat body and each slice is a
      // whole PNG (signature at start, IEND at end)
      samples.head._1 shouldBe 28
      samples.sliding(2).foreach {
        case Seq((o1, l1), (o2, _)) => o2 shouldBe o1 + l1
        case _ =>
      }
      samples.foreach { case (off, len) =>
        r.payload.slice(off, off + 4).toSeq shouldBe
          Seq(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte)
        new String(r.payload.slice(off + len - 8, off + len - 4), "US-ASCII") shouldBe "IEND"
      }
    }
  }

  it should "support fixed-size stsz entries and reject covering gaps" in {
    // hand-built minimal mp4: 3 identical fixed-size samples, one chunk
    def be32(x: Long) = Array(((x >> 24) & 0xff).toByte, ((x >> 16) & 0xff).toByte,
      ((x >> 8) & 0xff).toByte, (x & 0xff).toByte)
    def box(typ: String, body: Array[Byte]) =
      be32(8L + body.length) ++ typ.getBytes("US-ASCII") ++ body
    def fullBox(typ: String, body: Array[Byte]) =
      box(typ, Array[Byte](0, 0, 0, 0) ++ body)
    val img = new java.awt.image.BufferedImage(3, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 3).foreach(x => (0 until 2).foreach(y => img.setRGB(x, y, 0x204060)))
    val png = { val o = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", o); o.toByteArray }
    val ftyp = be32(20) ++ "ftyp".getBytes("US-ASCII") ++
      "isom".getBytes("US-ASCII") ++ be32(0x200) ++ "isom".getBytes("US-ASCII")
    val mdat = box("mdat", png ++ png ++ png)
    val tkhd = fullBox("tkhd", be32(0) ++ be32(0) ++ be32(1) ++ be32(0) ++ be32(0) ++
      Array.fill[Byte](8 + 2 + 2 + 2 + 2 + 36)(0) ++ be32(3L << 16) ++ be32(2L << 16))
    val stbl = box("stbl",
      fullBox("stsd", be32(1) ++ box("jpeg", Array.fill[Byte](8)(0))) ++
        fullBox("stsz", be32(png.length.toLong) ++ be32(3)) ++ // fixed size, no table
        fullBox("stsc", be32(1) ++ be32(1) ++ be32(3) ++ be32(1)) ++
        fullBox("stco", be32(1) ++ be32(ftyp.length + 8L)))
    val trak = box("trak", tkhd ++ box("mdia", box("minf", stbl)))
    val mp4 = ftyp ++ mdat ++ box("moov", trak)
    val (codec, samples) = Media.parseMp4Samples(mp4)
    codec shouldBe "jpeg"
    samples shouldBe Vector((ftyp.length + 8, png.length),
      (ftyp.length + 8 + png.length, png.length),
      (ftyp.length + 8 + 2 * png.length, png.length))
    // stsc that starts covering at chunk 2 leaves chunk 1 uncovered
    val badStbl = box("stbl",
      fullBox("stsd", be32(1) ++ box("jpeg", Array.fill[Byte](8)(0))) ++
        fullBox("stsz", be32(png.length.toLong) ++ be32(3)) ++
        fullBox("stsc", be32(1) ++ be32(2) ++ be32(3) ++ be32(1)) ++
        fullBox("stco", be32(1) ++ be32(ftyp.length + 8L)))
    val badMp4 = ftyp ++ mdat ++ box("moov",
      box("trak", tkhd ++ box("mdia", box("minf", badStbl))))
    an[IllegalArgumentException] should be thrownBy Media.parseMp4Samples(badMp4)
    // m8's fixtures carry no sample tables at all — the walk names the gap
    val noTables = Media.syntheticMp4s(docs.filter(col("doc_id") === 1))
      .collect().head.payload
    the[IllegalArgumentException] thrownBy
      Media.parseMp4Samples(noTables) should have message
      s"payload is not a parseable mp4 (no stsz, ${noTables.length} bytes)"
  }

  "extractMp4Frames" should "decode sampled JPEG-track frames and drop corrupt containers" in {
    val rows = Media.syntheticJpegMp4s(docs).repartition(3)
    val frames = Media.extractMp4Frames(rows, spark, frameStride = 2,
      lenient = true).cache()
    val byDoc = frames.collect().groupBy(_.doc_id)
    // every 13th payload is truncated — lenient drops exactly those
    byDoc.keySet shouldBe docs.select("doc_id").as[Long].collect()
      .filter(_ % 13 != 0).toSet
    byDoc.foreach { case (id, fs) =>
      val nFrames = (1 + id % 5).toInt
      fs.map(_.frame_no).sorted.toSeq shouldBe (0 until nFrames by 2)
      fs.foreach { f =>
        f.width shouldBe (1 + id % 8).toInt
        f.height shouldBe (1 + id % 6).toInt
        // per-frame planted colors: a misread byte range decodes wrong
        math.round(f.feature(0) * 255) shouldBe ((id + 11 * f.frame_no) % 256).toInt
        math.round(f.feature(1) * 255) shouldBe ((id * 7 + 5 * f.frame_no) % 256).toInt
        math.round(f.feature(2) * 255) shouldBe ((id * 13 + 3 * f.frame_no) % 256).toInt
      }
    }
    // stride 1 yields every frame
    Media.extractMp4Frames(rows, spark, lenient = true).count() shouldBe
      byDoc.keySet.toSeq.map(id => 1 + id % 5).sum
    // inter-frame-codec fixtures (avc1…, no sample tables) throw without
    // lenient and drop with it
    val avc = Media.syntheticMp4s(docs)
    an[Exception] should be thrownBy
      Media.extractMp4Frames(avc, spark).collect()
    Media.extractMp4Frames(avc, spark, lenient = true).count() shouldBe 0
  }

  "parsePngMeta" should "walk real imageio chunks plus a spliced tEXt annotation" in {
    val rows = Media.syntheticAnnotatedPngs(docs)
    val metas = Media.extractPngMeta(rows, spark, lenient = true).cache()
    val ids = docs.select("doc_id").as[Long].collect().toSet
    // every 7th payload is truncated — lenient drops exactly those
    metas.select("doc_id").as[Long].collect().toSet shouldBe ids.filter(_ % 7 != 0)
    metas.collect().foreach { m =>
      val id = m.doc_id
      (m.width, m.height) shouldBe (((1 + id % 8).toInt, (1 + id % 6).toInt))
      (m.bit_depth, m.color_type, m.interlace) shouldBe ((8, 2, 0))
      m.text_meta shouldBe s"doc=$id"
      // encoder-dependent fields the oracle can't replay: still structural
      // facts — at least IHDR+IDAT+tEXt+IEND chunks, nonempty pixel data
      m.n_chunks should be >= 4
      m.idat_bytes should be > 0L
    }
  }

  it should "join multiple tEXt chunks and reject malformed streams" in {
    val png = Media.solidPng(3, 2, 0x102030)
    def text(kw: String, v: String): Array[Byte] = {
      val data = kw.getBytes("ISO-8859-1") ++ Array(0.toByte) ++ v.getBytes("ISO-8859-1")
      val crc = new java.util.zip.CRC32()
      crc.update("tEXt".getBytes("US-ASCII")); crc.update(data)
      def be32(x: Long) = Array(((x >> 24) & 0xff).toByte, ((x >> 16) & 0xff).toByte,
        ((x >> 8) & 0xff).toByte, (x & 0xff).toByte)
      be32(data.length.toLong) ++ "tEXt".getBytes("US-ASCII") ++ data ++ be32(crc.getValue)
    }
    val two = png.dropRight(12) ++ text("Author", "ann") ++ text("Title", "t") ++
      png.takeRight(12)
    val (w, h, d, c, _, _, _, txt) = Media.parsePngMeta(two)
    (w, h, d, c) shouldBe ((3, 2, 8, 2))
    txt shouldBe "Author=ann;Title=t"
    // malformed: bad magic, truncated chunk, missing IEND
    an[IllegalArgumentException] should be thrownBy
      Media.parsePngMeta("notapngnotapngnotapngnotapngnotapng".getBytes("US-ASCII"))
    an[IllegalArgumentException] should be thrownBy
      Media.parsePngMeta(png.dropRight(5))
    an[IllegalArgumentException] should be thrownBy
      Media.parsePngMeta(png.dropRight(12))
  }

  "parseMp4Keyframes" should
      "read stss/stts sync positions and treat a missing stss as all-sync" in {
    val rows = Media.syntheticSyncMp4s(
      Seq(1L, 5L, 7L, 11L).toDF("doc_id")).collect()
      .map(r => r.doc_id -> r.payload).toMap
    // id 1: 5 samples, sync stride 3 → samples 0 and 3; ts 0 and 3000 ms
    Media.parseMp4Keyframes(rows(1L)) shouldBe
      (("hvc1", Vector((0, 0L), (3, 3000L))))
    // id 7: 5 samples, stride 3 → 0, 3; first 3 samples last 1000 ms each
    Media.parseMp4Keyframes(rows(7L)) shouldBe
      (("av01", Vector((0, 0L), (3, 3000L))))
    // id 5: no stss → every one of its 9 samples is a keyframe, and
    // timestamps follow the two-run stts (1000 ms × 3, then 500 ms)
    val (c5, k5) = Media.parseMp4Keyframes(rows(5L))
    c5 shouldBe "hvc1"
    k5 shouldBe Vector.tabulate(9)(s =>
      (s, if (s <= 3) 1000L * s else 3000L + 500L * (s - 3)))
    // id 11: truncated payload throws (lenient extraction drops it)
    an[IllegalArgumentException] should be thrownBy
      Media.parseMp4Keyframes(rows(11L))
    // malformed stss (out-of-order entries) throws: flip the stored
    // order of id 1's two sync entries (1, 4) → (4, 1) in place
    val bad = rows(1L).clone()
    val idx = {
      // 'stss' fourcc; body = idx+4, entry_count = idx+8, entries from idx+12
      val pat = "stss".getBytes("US-ASCII")
      (0 until bad.length - 4).find(i => pat.indices.forall(j => bad(i + j) == pat(j))).get
    }
    val entry0 = bad.slice(idx + 12, idx + 16)
    System.arraycopy(bad, idx + 16, bad, idx + 12, 4)
    System.arraycopy(entry0, 0, bad, idx + 16, 4)
    an[IllegalArgumentException] should be thrownBy Media.parseMp4Keyframes(bad)
  }
}
