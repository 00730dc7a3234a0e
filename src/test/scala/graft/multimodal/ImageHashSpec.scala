package graft.multimodal

import java.awt.image.BufferedImage

import graft.SparkSpec

class ImageHashSpec extends SparkSpec {
  import spark.implicits._

  private def img(rows: Array[Array[Int]]): BufferedImage = {
    val h = rows.length
    val w = rows(0).length
    val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val v = rows(y)(x)
      out.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    out
  }

  behavior of "ImageHash.luma / resizeLuma"

  it should "recover the gray byte exactly for r=g=b pixels" in {
    for (v <- Seq(0, 1, 127, 250, 255))
      ImageHash.luma((v << 16) | (v << 8) | v) shouldBe v
  }

  it should "box-average divisible grids with floor division" in {
    val g = ImageHash.resizeLuma(
      img(Array(Array(10, 20, 30, 40), Array(50, 60, 70, 80))), 2, 1)
    g shouldBe Array(Array(35, 55))
  }

  it should "split non-divisible widths by index boxes" in {
    // 3 → 2: cell 0 owns source column 0; cell 1 owns columns 1..2
    val g = ImageHash.resizeLuma(img(Array(Array(10, 20, 30))), 2, 1)
    g shouldBe Array(Array(10, 25))
  }

  it should "repeat pixels when upscaling" in {
    ImageHash.resizeLuma(img(Array(Array(42))), 2, 2) shouldBe
      Array(Array(42, 42), Array(42, 42))
  }

  behavior of "ImageHash.dHash"

  it should "set exactly the strictly-brighter-rightward bits" in {
    // 3×2 source, 2×2 grid (resize-free): row 0 ascending → bits 0,1;
    // row 1 descending → bits 2,3 clear
    val h = ImageHash.dHash(img(Array(Array(1, 2, 3), Array(6, 5, 4))),
      gridW = 2, gridH = 2)
    h shouldBe 3L
    // ties are NOT brighter: flat image hashes to 0
    ImageHash.dHash(img(Array(Array(7, 7, 7), Array(7, 7, 7))),
      gridW = 2, gridH = 2) shouldBe 0L
  }

  it should "be invariant to uniform brightness shift" in {
    val a = Array(Array(1, 2, 3), Array(6, 5, 4))
    val b = a.map(_.map(_ + 100))
    ImageHash.dHash(img(a), 2, 2) shouldBe ImageHash.dHash(img(b), 2, 2)
  }

  behavior of "ImageHash.dhashDocs (real PNG decode)"

  it should "hash the gradient fixture to the formula and drop corrupt blobs" in {
    def expected(imgId: Long, delta: Int): Long = {
      def v(x: Int, y: Int, d: Int) =
        ((imgId * 31 + x * x * 7 + y * y * 13) % 251) +
          (if (x == 0 && y == 0) d else 0)
      var h = 0L
      for (y <- 0 until 8; x <- 0 until 8)
        if (v(x + 1, y, 0) > v(x, y, delta)) h |= 1L << (y * 8 + x)
      h
    }
    val docs = Seq(1L, 2L, 11L, 30L).toDF("doc_id")
    val rows = ImageHash.syntheticGradientPngs(docs, planted = true)
    val got = ImageHash.dhashDocs(rows, spark, lenient = true)
      .as[(Long, Long)].collect().toMap
    // 11 is truncated and dropped; 30 plants a one-pixel copy at 1000030
    got.keySet shouldBe Set(1L, 2L, 30L, 1000030L)
    got(1L) shouldBe expected(1L, 0)
    got(2L) shouldBe expected(2L, 0)
    got(30L) shouldBe expected(30L, 0)
    got(1000030L) shouldBe expected(30L, 3)
    // the planted copy is a true near-dup: at most the (0,0) bit differs
    java.lang.Long.bitCount(got(30L) ^ got(1000030L)) should be <= 1
  }

  "gradientBmp" should "decode to the identical hash as the PNG container" in {
    // same pixel formula, two containers, one decode→hash path: the
    // hand-written BMP bytes (no encoder library) must hash exactly as
    // the ImageIO-encoded PNG for every (id, delta)
    val docs = Seq(1L, 2L, 30L).toDF("doc_id")
    val png = ImageHash.dhashDocs(
      ImageHash.syntheticGradientPngs(docs), spark, lenient = true)
      .as[(Long, Long)].collect().toMap
    val bmp = ImageHash.dhashDocs(
      ImageHash.syntheticGradientBmps(docs), spark, lenient = true)
      .as[(Long, Long)].collect().toMap
    bmp shouldBe png
    // truncated BMP payloads drop whole under lenient decode
    val dropped = ImageHash.dhashDocs(
      ImageHash.syntheticGradientBmps(Seq(9L, 10L).toDF("doc_id")),
      spark, lenient = true).as[(Long, Long)].collect().toMap
    dropped.keySet shouldBe Set(10L)
  }
}
