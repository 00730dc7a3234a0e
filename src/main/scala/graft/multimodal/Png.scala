package graft.multimodal

/** Minimal deterministic truecolor PNG encoder — the one PNG writer of
  * the synthetic media fixtures and the soak's images (optimization guide
  * §1.2 "per-task work").
  *
  * The fixtures are generated INSIDE the timed query path (one encode per
  * doc or per video frame), and javax.imageio's PNG writer costs ~375 µs
  * per 9×8 image even with the memory-cache fix (BufferedImage allocation, plugin
  * lookup, ColorModel negotiation, per-scanline filtering). This encoder
  * writes the same pixels as a spec-conformant PNG — 8-bit color type 2
  * (truecolor), no interlace, filter 0 scanlines, one zlib stream
  * (stored/level-0 deflate) — in ~10 µs. Decoders (including the
  * javax.imageio read path all queries use) recover BIT-IDENTICAL pixels,
  * so every decode-derived result (dHash, mean-RGB, scene cuts) is
  * unchanged; only container bytes differ, and no oracle or spec pins
  * those (MediaSpec asserts n_chunks >= 4 / idat_bytes > 0, both of which
  * hold: IHDR+IDAT+IEND plus the spliced tEXt where used).
  *
  * The IHDR facts m12_png_meta's oracle replays — bit depth 8, color
  * type 2, interlace 0 — are exactly what this writes.
  */
object Png {

  /** Encode w×h pixels; `rgbAt(x, y)` returns packed 0xRRGGBB. */
  def encodeRgb(w: Int, h: Int, rgbAt: (Int, Int) => Int): Array[Byte] = {
    // filter-0 scanlines
    val raw = new Array[Byte](h * (1 + w * 3))
    var p = 0
    var y = 0
    while (y < h) {
      raw(p) = 0
      p += 1
      var x = 0
      while (x < w) {
        val v = rgbAt(x, y)
        raw(p) = ((v >> 16) & 0xff).toByte
        raw(p + 1) = ((v >> 8) & 0xff).toByte
        raw(p + 2) = (v & 0xff).toByte
        p += 3
        x += 1
      }
      y += 1
    }
    // zlib stream, stored blocks (level 0): 2-byte header + 5 bytes per
    // 65535-byte block + 4-byte adler32
    val defl = new java.util.zip.Deflater(0)
    defl.setInput(raw)
    defl.finish()
    val zbuf = new Array[Byte](raw.length + 16 + 5 * (raw.length / 65535 + 1))
    var zlen = 0
    while (!defl.finished()) zlen += defl.deflate(zbuf, zlen, zbuf.length - zlen)
    defl.end()

    val ihdr = java.nio.ByteBuffer.allocate(13)
    ihdr.putInt(w).putInt(h)
    ihdr.put(8.toByte)  // bit depth
    ihdr.put(2.toByte)  // color type: truecolor
    ihdr.put(0.toByte)  // compression
    ihdr.put(0.toByte)  // filter method
    ihdr.put(0.toByte)  // interlace: none
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      chunk("IHDR", ihdr.array()) ++
      chunk("IDAT", java.util.Arrays.copyOf(zbuf, zlen)) ++
      chunk("IEND", Array.emptyByteArray)
  }

  /** One PNG chunk: big-endian data length, the type, the data, and the
    * CRC-32 of type and data.
    */
  private[multimodal] def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
    val t = typ.getBytes("US-ASCII")
    val crc = new java.util.zip.CRC32()
    crc.update(t)
    crc.update(data)
    java.nio.ByteBuffer.allocate(12 + data.length)
      .putInt(data.length).put(t).put(data).putInt(crc.getValue.toInt).array()
  }
}
