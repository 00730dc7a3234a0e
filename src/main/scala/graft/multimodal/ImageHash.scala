package graft.multimodal

import java.awt.image.BufferedImage

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Perceptual image hashing for IMAGE near-duplicate detection — the
  * multimodal twin of the text SimHash stack: decode (real imageio) →
  * integer luma → box resize to a (gridW+1)×gridH thumbnail → 64-bit
  * difference hash (dHash: bit = "right pixel brighter than left"), then
  * hamming-banded pair generation reuses [[graft.dedup.Dedup.simhashPairs]]
  * unchanged, so the image path inherits the measured single-band /
  * block-pair banding scale guidance (SCALE.md) for free.
  *
  * Scale guidance (measured — SCALE.md "Image near-dup banding A/B at
  * 2.5M"): the end-to-end pipeline is DECODE-bound (~97% of task CPU on
  * 9×8 thumbnails; real images are far worse), so hash ONCE and persist
  * the 8-byte dHash column; pair generation re-run over stored hashes
  * is exactly the text SimHash regime, where the measured banding
  * curves (single-band to ~10M keys, block-pair banding past the
  * occupancy knee) transfer directly.
  *
  * Everything is integer arithmetic on purpose: luma is the exact
  * (299r + 587g + 114b) / 1000 integer division (r=g=b recovers the gray
  * byte exactly), the resize is index-based box averaging with floor
  * division, so the hash is bit-identical on any JVM and SQL-replayable
  * for the oracle. Hashing is map-side mapPartitions (binary codecs are
  * not expressions — the Media.scala posture); the only shuffle in the
  * whole near-dup path is the banded pair join.
  */
object ImageHash {

  /** Integer luma of a packed RGB pixel. */
  def luma(rgb: Int): Int = {
    val r = (rgb >> 16) & 0xff
    val g = (rgb >> 8) & 0xff
    val b = rgb & 0xff
    (299 * r + 587 * g + 114 * b) / 1000
  }

  /** Box-average the image's luma plane down to exactly w×h: output cell
    * (X, Y) averages the source rectangle [⌊XW/w⌋, ⌊(X+1)W/w⌋) ×
    * [⌊YH/h⌋, ⌊(Y+1)H/h⌋) with floor division — deterministic integer
    * math, no float filtering, every source pixel owned by exactly one
    * cell. Upscaling (W < w) degenerates to pixel repetition.
    */
  def resizeLuma(img: BufferedImage, w: Int, h: Int): Array[Array[Int]] = {
    require(w > 0 && h > 0, "target dims must be positive")
    val srcW = img.getWidth
    val srcH = img.getHeight
    Array.tabulate(h, w) { (yy, xx) =>
      val x0 = xx * srcW / w
      val x1 = math.max(x0 + 1, (xx + 1) * srcW / w)
      val y0 = yy * srcH / h
      val y1 = math.max(y0 + 1, (yy + 1) * srcH / h)
      var sum = 0L
      var y = y0
      while (y < y1) {
        var x = x0
        while (x < x1) { sum += luma(img.getRGB(x, y)); x += 1 }
        y += 1
      }
      (sum / ((x1 - x0).toLong * (y1 - y0))).toInt
    }
  }

  /** 64-bit difference hash: resize to (gridW+1)×gridH, set bit
    * (y·gridW + x) iff cell (x+1, y) is strictly brighter than (x, y).
    * Robust to uniform brightness shifts and to resampling differences —
    * the property that makes it a near-dup key where an exact byte hash
    * is defeated by one re-encode.
    */
  def dHash(img: BufferedImage, gridW: Int = 8, gridH: Int = 8): Long = {
    require(gridW * gridH <= 64, "dHash grid must fit in 64 bits")
    val g = resizeLuma(img, gridW + 1, gridH)
    var hash = 0L
    var y = 0
    while (y < gridH) {
      var x = 0
      while (x < gridW) {
        if (g(y)(x + 1) > g(y)(x)) hash |= 1L << (y * gridW + x)
        x += 1
      }
      y += 1
    }
    hash
  }

  /** Per-doc dHash over real decoded payloads: (doc_id, dhash). Output
    * column is named `simhash` so the frame plugs straight into the
    * Dedup hamming-pair generators. `lenient` drops undecodable blobs
    * (the Media.extractFeatures contract).
    */
  def dhashDocs(rows: Dataset[MediaRow], spark: SparkSession,
      lenient: Boolean = false): DataFrame = {
    import spark.implicits._
    rows.mapPartitions { it =>
      Codecs.ensure()
      it.flatMap { r =>
        try {
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(r.payload))
          if (img == null) throw new java.io.IOException("undecodable image")
          Iterator.single((r.doc_id, dHash(img)))
        } catch {
          case _: Exception if lenient => Iterator.empty
        }
      }
    }.toDF("doc_id", "simhash")
  }

  /** Deterministic gradient-PNG fixture: a 9×8 grayscale image whose
    * pixel (x, y) is ((imgId·31 + x²·7 + y²·13) mod 251) + `delta` at
    * (0,0) only — 9×8 means the 8×8 dHash grid needs no resize, so the
    * oracle replays the hash as pure integer SQL. Every 11th payload is
    * truncated for the lenient drop path; `planted` additionally emits a
    * one-pixel-perturbed copy (id + 1,000,000, delta 3) of every 10th
    * doc — a true NEAR-duplicate: at most the (0,0) gradient bit flips,
    * so the planted pair's hamming distance is 0 or 1.
    */
  def syntheticGradientPngs(documents: DataFrame,
      planted: Boolean = false): Dataset[MediaRow] =
    Media.fixtureRows(documents, "image/png", corruptEvery = 11,
      near = Option.when(planted)((id: Long) => gradientPng(id, 3)))(gradientPng(_, 0))

  /** One 9×8 gradient PNG (the [[syntheticGradientPngs]] pixel formula)
    * — public so stream/spec fixtures can plant exact payloads.
    */
  def gradientPng(imgId: Long, delta: Int): Array[Byte] =
    Png.encodeRgb(9, 8, (x, y) => {
      val d = if (x == 0 && y == 0) delta else 0
      val v = (((imgId * 31 + x.toLong * x * 7 + y.toLong * y * 13) % 251) + d).toInt
      (v << 16) | (v << 8) | v
    })

  /** The same 9×8 gradient as a HAND-WRITTEN 24bpp BMP (14-byte file
    * header + 40-byte BITMAPINFOHEADER + bottom-up BGR rows padded to 4
    * bytes) — no encoder library involved, so the decode path's BMP
    * branch is exercised against independently constructed bytes. Same
    * pixel formula as [[gradientPng]]: the two containers must hash
    * identically (ImageHashSpec locks it) and the m14 oracle replay
    * carries over verbatim.
    */
  def gradientBmp(imgId: Long, delta: Int): Array[Byte] = {
    val w = 9; val h = 8
    val rowBytes = ((w * 3 + 3) / 4) * 4
    val dataSize = rowBytes * h
    val fileSize = 14 + 40 + dataSize
    val b = java.nio.ByteBuffer.allocate(fileSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte)
    b.putInt(fileSize); b.putInt(0); b.putInt(54)
    b.putInt(40); b.putInt(w); b.putInt(h)
    b.putShort(1.toShort); b.putShort(24.toShort)
    b.putInt(0); b.putInt(dataSize)
    b.putInt(2835); b.putInt(2835); b.putInt(0); b.putInt(0)
    var y = h - 1
    while (y >= 0) { // bottom-up row order
      var x = 0
      while (x < w) {
        val d = if (x == 0 && y == 0) delta else 0
        val v = (((imgId * 31 + x.toLong * x * 7 + y.toLong * y * 13) % 251) + d).toInt
        b.put(v.toByte).put(v.toByte).put(v.toByte)
        x += 1
      }
      var p = w * 3
      while (p < rowBytes) { b.put(0.toByte); p += 1 }
      y -= 1
    }
    b.array()
  }

  /** BMP twin of [[syntheticGradientPngs]] (every 9th payload truncated
    * for the lenient drop path).
    */
  def syntheticGradientBmps(documents: DataFrame): Dataset[MediaRow] =
    Media.fixtureRows(documents, "image/bmp", corruptEvery = 9, keepBytes = 20)(gradientBmp(_, 0))
}
