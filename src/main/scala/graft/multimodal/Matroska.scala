package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Pure-JDK Matroska (mkv/webm) support — the EBML half of the
  * container story beside [[Media.parseMp4Meta]]'s ISO-BMFF half:
  * metadata parse ([[extractMkvMeta]]) plus REAL frame decode for
  * intra-frame codecs ([[extractMkvFrames]], `V_MJPEG` via the shared
  * imageio path; inter-frame codec BYTES still need an external
  * decoder). A corpus pipeline needs container metadata (duration caps,
  * resolution buckets, codec allowlists) long before any frame decode,
  * and mkv/webm is the other container family a 100 TB crawl actually
  * contains.
  *
  * EBML framing per RFC 8794: every element is
  * `VINT id, VINT size, body` where a VINT's first byte's leading-zero
  * count gives its total length, the marker bit is part of the ID but
  * STRIPPED from sizes, and an all-ones size means "unknown — extends to
  * the parent's end" (common for live-muxed Segments; supported here).
  * Element IDs used (Matroska DocType registry): EBML `0x1A45DFA3`,
  * Segment `0x18538067`, Info `0x1549A966`, TimestampScale `0x2AD7B1`
  * (default 1,000,000 ns), Duration `0x4489` (float, timestamp-scale
  * units), Tracks `0x1654AE6B`, TrackEntry `0xAE`, TrackType `0x83`
  * (1 = video), CodecID `0x86`, Video `0xE0`, PixelWidth `0xB0`,
  * PixelHeight `0xBA`.
  *
  * Like the mp4 walker: malformed payloads THROW
  * IllegalArgumentException and `lenient` extraction drops them whole;
  * the work is per-row inside `mapPartitions` (binary codecs are not
  * Catalyst expressions — the declared exception to the no-RDD-logic
  * rule), so the operator is map-side with zero shuffle and scales with
  * partitions.
  */
final case class MkvMeta(doc_id: Long, duration_ms: Long, timescale_ns: Long,
    n_tracks: Int, width: Int, height: Int, codec: String)

object Matroska {

  private val IdEbml = 0x1A45DFA3L
  private val IdSegment = 0x18538067L
  private val IdInfo = 0x1549A966L
  private val IdTimestampScale = 0x2AD7B1L
  private val IdDuration = 0x4489L
  private val IdTracks = 0x1654AE6BL
  private val IdTrackEntry = 0xAEL
  private val IdTrackType = 0x83L
  private val IdCodecId = 0x86L
  private val IdVideo = 0xE0L
  private val IdPixelWidth = 0xB0L
  private val IdPixelHeight = 0xBAL
  private val IdTrackNumber = 0xD7L
  private val IdCluster = 0x1F43B675L
  private val IdClusterTimestamp = 0xE7L
  private val IdSimpleBlock = 0xA3L
  private val IdBlockGroup = 0xA0L
  private val IdBlock = 0xA1L

  // ------------------------------------------------------------- parser

  private final class EbmlWalker(payload: Array[Byte]) {
    def bad(msg: String): Nothing = throw new IllegalArgumentException(
      s"payload is not parseable mkv ($msg, ${payload.length} bytes)")

    /** VINT at `o`: (value, total length). IDs keep the marker bit in the
      * value (the registry form above); sizes strip it, with all-ones
      * data bits → -1 = unknown size.
      */
    def vint(o: Int, isId: Boolean): (Long, Int) = {
      if (o >= payload.length) bad(s"truncated vint at $o")
      val first = payload(o) & 0xff
      if (first == 0) bad(s"invalid vint lead byte at $o")
      val n = java.lang.Integer.numberOfLeadingZeros(first) - 24 + 1
      if (o + n > payload.length) bad(s"truncated $n-byte vint at $o")
      var v = if (isId) first.toLong else first.toLong & ((1 << (8 - n)) - 1)
      var i = 1
      while (i < n) { v = (v << 8) | (payload(o + i) & 0xffL); i += 1 }
      if (!isId && v == (1L << (7 * n)) - 1) (-1L, n) // unknown size
      else (v, n)
    }

    /** (id, bodyStart, bodyEnd) of each child element in [start, stop). */
    def children(start: Int, stop: Int): Vector[(Long, Int, Int)] = {
      val out = Vector.newBuilder[(Long, Int, Int)]
      var o = start
      while (o < stop) {
        val (id, idLen) = vint(o, isId = true)
        val (size, szLen) = vint(o + idLen, isId = false)
        val body = o + idLen + szLen
        val end = if (size < 0) stop else body + size.toInt
        if (size >= 0 && end > stop) bad(f"element 0x$id%X overruns parent")
        out += ((id, body, end))
        o = end
      }
      out.result()
    }

    def uint(body: Int, end: Int): Long = {
      if (end - body > 8 || end < body) bad(s"bad uint length ${end - body}")
      var v = 0L
      var i = body
      while (i < end) { v = (v << 8) | (payload(i) & 0xffL); i += 1 }
      v
    }

    def float(body: Int, end: Int): Double = (end - body) match {
      case 4 => java.lang.Float.intBitsToFloat(uint(body, end).toInt).toDouble
      case 8 => java.lang.Double.longBitsToDouble(uint(body, end))
      case n => bad(s"bad float length $n")
    }

    def string(body: Int, end: Int): String =
      new String(payload, body, end - body, "US-ASCII")
  }

  /** Parse (duration_ms, timescale_ns, n_tracks, width, height, codec)
    * from an mkv payload. Duration rounds down in long arithmetic
    * (`units · scale_ns / 1e6` with the float unit count truncated);
    * TimestampScale defaults to 1,000,000 ns when Info omits it, per
    * spec. The first TrackType=1 entry supplies dimensions and CodecID;
    * files with no video track report (0, 0, "").
    */
  private[multimodal] def parseMkvMeta(payload: Array[Byte]): (Long, Long, Int, Int, Int, String) = {
    val w = new EbmlWalker(payload)
    if (payload.length < 4) w.bad("too short")
    val top = w.children(0, payload.length)
    if (top.isEmpty || top.head._1 != IdEbml) w.bad("no EBML header magic")
    val (_, segB, segE) = top.find(_._1 == IdSegment).getOrElse(w.bad("no Segment"))
    val seg = w.children(segB, segE)

    val (infoB, infoE) = seg.find(_._1 == IdInfo).map(x => (x._2, x._3))
      .getOrElse(w.bad("no Info"))
    val info = w.children(infoB, infoE)
    val scaleNs = info.find(_._1 == IdTimestampScale)
      .map(x => w.uint(x._2, x._3)).getOrElse(1000000L)
    if (scaleNs <= 0) w.bad("zero timestamp scale")
    val durationUnits = info.find(_._1 == IdDuration)
      .map(x => w.float(x._2, x._3)).getOrElse(0.0)
    if (durationUnits < 0 || durationUnits.isNaN) w.bad("bad duration")
    val durationMs = durationUnits.toLong * scaleNs / 1000000L

    val entries = seg.find(_._1 == IdTracks).map(x => w.children(x._2, x._3))
      .getOrElse(Vector.empty).filter(_._1 == IdTrackEntry)
    val video = entries.find { case (_, b, e) =>
      w.children(b, e).exists(c => c._1 == IdTrackType && w.uint(c._2, c._3) == 1L)
    }
    val (vw, vh, codec) = video match {
      case Some((_, b, e)) =>
        val cs = w.children(b, e)
        val codec = cs.find(_._1 == IdCodecId).map(c => w.string(c._2, c._3)).getOrElse("")
        val dims = cs.find(_._1 == IdVideo).map(v => w.children(v._2, v._3))
          .getOrElse(Vector.empty)
        val pw = dims.find(_._1 == IdPixelWidth).map(d => w.uint(d._2, d._3)).getOrElse(0L)
        val ph = dims.find(_._1 == IdPixelHeight).map(d => w.uint(d._2, d._3)).getOrElse(0L)
        (pw.toInt, ph.toInt, codec)
      case None => (0, 0, "")
    }
    (durationMs, scaleNs, entries.size, vw, vh, codec)
  }

  /** mkv metadata extraction over a blob Dataset — map-side, zero
    * shuffle; `lenient` drops malformed payloads whole (the governance
    * posture for crawled corpora), strict mode rethrows with doc id.
    */
  def extractMkvMeta(rows: Dataset[MediaRow], spark: SparkSession,
      lenient: Boolean = false): Dataset[MkvMeta] = {
    import spark.implicits._
    rows.mapPartitions { it =>
      it.flatMap { r =>
        try {
          val (ms, ts, n, vw, vh, codec) = parseMkvMeta(r.payload)
          Iterator.single(MkvMeta(r.doc_id, ms, ts, n, vw, vh, codec))
        } catch {
          case e: Exception =>
            if (lenient) Iterator.empty
            else throw new IllegalArgumentException(s"doc ${r.doc_id}: ${e.getMessage}", e)
        }
      }
    }
  }

  /** Demux the video track's frame byte ranges from an mkv payload →
    * (codec id, per-frame (offset, length) in decode order). Walks every
    * Cluster's SimpleBlocks plus Block-in-BlockGroup (the two framings
    * muxers emit), keeps only blocks whose VINT track number matches the
    * first TrackType=1 entry's TrackNumber, and rejects laced blocks
    * (lacing packs several frames per block — the fixtures never lace,
    * and a laced corpus payload should fall to `lenient` rather than
    * silently mis-split). Unknown-size Clusters are only supported as
    * the LAST top-level element (the walker's extends-to-parent-end
    * rule); live-muxed multi-cluster streams need a Cluster-id scan this
    * metadata-first library doesn't attempt.
    */
  private[multimodal] def parseMkvFrames(payload: Array[Byte]): (String, Vector[(Int, Int)]) = {
    val w = new EbmlWalker(payload)
    if (payload.length < 4) w.bad("too short")
    val top = w.children(0, payload.length)
    if (top.isEmpty || top.head._1 != IdEbml) w.bad("no EBML header magic")
    val (_, segB, segE) = top.find(_._1 == IdSegment).getOrElse(w.bad("no Segment"))
    val seg = w.children(segB, segE)

    val entries = seg.find(_._1 == IdTracks).map(x => w.children(x._2, x._3))
      .getOrElse(Vector.empty).filter(_._1 == IdTrackEntry)
    val video = entries.map { case (_, b, e) => w.children(b, e) }
      .find(_.exists(c => c._1 == IdTrackType && w.uint(c._2, c._3) == 1L))
      .getOrElse(w.bad("no video track"))
    val trackNo = video.find(_._1 == IdTrackNumber)
      .map(c => w.uint(c._2, c._3)).getOrElse(w.bad("video track has no number"))
    val codec = video.find(_._1 == IdCodecId)
      .map(c => w.string(c._2, c._3)).getOrElse("")

    // a block's body: VINT track number (size-form), 2-byte relative
    // timestamp, 1 flags byte (lacing in bits 1–2), then the frame bytes
    def frameRange(b: Int, e: Int): Option[(Int, Int)] = {
      val (tn, tlen) = w.vint(b, isId = false)
      if (b + tlen + 3 > e) w.bad("truncated block header")
      if (tn != trackNo) None
      else {
        val flags = payload(b + tlen + 2) & 0xff
        if ((flags & 0x06) != 0) w.bad("laced block unsupported")
        Some((b + tlen + 3, e - (b + tlen + 3)))
      }
    }
    val frames = seg.filter(_._1 == IdCluster).flatMap { case (_, cb, ce) =>
      w.children(cb, ce).flatMap {
        case (IdSimpleBlock, b, e) => frameRange(b, e)
        case (IdBlockGroup, b, e) =>
          w.children(b, e).collectFirst { case (IdBlock, bb, be) => (bb, be) }
            .flatMap { case (bb, be) => frameRange(bb, be) }
        case _ => None
      }
    }
    if (frames.isEmpty) w.bad("no video frames in any cluster")
    (codec, frames)
  }

  /** REAL frame decode for mkv tracks whose blocks are self-contained
    * images (`V_MJPEG` and friends): [[parseMkvFrames]] demuxes each
    * frame's byte range from the Cluster blocks and every
    * `frameStride`-th one decodes through the shared imageio path
    * ([[Media.extractMp4Frames]]'s shape — map-side fan-out bounded by
    * frames/stride, zero shuffle, one EBML walk per payload per
    * partition). Inter-frame codecs (V_VP9, V_MPEG4/ISO/AVC, V_AV1…)
    * demux fine but their block BYTES need an external decoder, so they
    * throw with the codec named; `lenient` drops them along with
    * malformed containers.
    */
  def extractMkvFrames(rows: Dataset[MediaRow], spark: SparkSession,
      frameStride: Int = 1, lenient: Boolean = false): Dataset[FrameFeatures] = {
    require(frameStride > 0, "frameStride must be positive")
    import spark.implicits._
    rows.mapPartitions { it =>
      it.flatMap { r =>
        try {
          val (codec, frames) = parseMkvFrames(r.payload)
          frames.indices.by(frameStride).map { i =>
            val (w, h, rgb) =
              try Media.decodeFrame(r.payload, frames(i))
              catch {
                case e: IllegalArgumentException => throw new IllegalArgumentException(
                  s"mkv '$codec' block $i needs an external codec", e)
              }
            FrameFeatures(r.doc_id, i, w, h,
              Array(rgb(0), rgb(1), rgb(2),
                0.299f * rgb(0) + 0.587f * rgb(1) + 0.114f * rgb(2)))
          }.iterator
        } catch {
          case _: Exception if lenient => Iterator.empty
        }
      }
    }
  }

  // ------------------------------------------------------------ fixtures

  /** Minimal-length VINT encoding of a size (marker bit set; all-ones
    * reserved, so a value needing exactly 7n one-bits promotes to n+1
    * bytes).
    */
  private def vintBytes(value: Long): Array[Byte] = {
    var n = 1
    while (n < 8 && value >= (1L << (7 * n)) - 1) n += 1
    val v = value | (1L << (7 * n))
    Array.tabulate(n)(i => ((v >> (8 * (n - 1 - i))) & 0xff).toByte)
  }

  private def idBytes(id: Long): Array[Byte] = {
    val n = (64 - java.lang.Long.numberOfLeadingZeros(id) + 7) / 8
    Array.tabulate(n)(i => ((id >> (8 * (n - 1 - i))) & 0xff).toByte)
  }

  private def element(id: Long, body: Array[Byte]): Array[Byte] =
    idBytes(id) ++ vintBytes(body.length.toLong) ++ body

  private def uintBytes(v: Long): Array[Byte] = {
    val n = math.max(1, (64 - java.lang.Long.numberOfLeadingZeros(v) + 7) / 8)
    Array.tabulate(n)(i => ((v >> (8 * (n - 1 - i))) & 0xff).toByte)
  }

  private def float64Bytes(d: Double): Array[Byte] =
    java.nio.ByteBuffer.allocate(8).putDouble(d).array()

  /** The EBML header every fixture opens with: EBMLVersion 1, DocType
    * matroska.
    */
  private val ebmlHeader = element(IdEbml,
    element(0x4286L, uintBytes(1)) ++ element(0x4282L, "matroska".getBytes("US-ASCII")))

  /** Deterministic REAL mkv payloads derived purely from doc ids, the
    * [[Media.syntheticMp4s]] discipline: EBML header + Segment
    * (Info + Tracks) with correct VINT framing. TimestampScale is
    * `1e6·(1 + id % 4)` ns, Duration `250·(1 + id % 8)` units stored as
    * an 8-byte float (integers are exact in doubles), so
    * `duration_ms = 250·(1 + id % 8)·(1 + id % 4)` replays in SQL
    * integer arithmetic. `1 + id % 3` tracks: the first is video
    * (PixelWidth `8·(1 + id % 7)`, PixelHeight `8·(1 + id % 5)`, CodecID
    * cycling V_VP9 / V_MPEG4/ISO/AVC / V_AV1 by id % 3), the rest
    * A_OPUS audio. Ids ≡ 0 (mod 5) write the Segment with an UNKNOWN
    * (all-ones) size — the live-mux form — exercising the
    * extends-to-end parse path; every 9th payload is truncated to
    * 6 bytes for the `lenient` drop path.
    */
  def syntheticMkvs(documents: DataFrame): Dataset[MediaRow] =
    Media.fixtureRows(documents, "video/x-matroska", corruptEvery = 9, keepBytes = 6) { id =>
      val scaleNs = 1000000L * (1 + id % 4)
      val durationUnits = 250L * (1 + id % 8)
      val nTracks = (1 + id % 3).toInt
      val codec = Seq("V_VP9", "V_MPEG4/ISO/AVC", "V_AV1")((id % 3).toInt)
      val info = element(IdInfo,
        element(IdTimestampScale, uintBytes(scaleNs)) ++
          element(IdDuration, float64Bytes(durationUnits.toDouble)))
      def track(num: Int): Array[Byte] = element(IdTrackEntry,
        element(0xD7L, uintBytes(num.toLong)) ++ // TrackNumber
          (if (num == 1)
            element(IdTrackType, uintBytes(1)) ++
              element(IdCodecId, codec.getBytes("US-ASCII")) ++
              element(IdVideo,
                element(IdPixelWidth, uintBytes(8L * (1 + id % 7))) ++
                  element(IdPixelHeight, uintBytes(8L * (1 + id % 5))))
          else
            element(IdTrackType, uintBytes(2)) ++
              element(IdCodecId, "A_OPUS".getBytes("US-ASCII"))))
      val tracks = element(IdTracks,
        (1 to nTracks).map(track).reduce(_ ++ _))
      val segBody = info ++ tracks
      val segment =
        if (id % 5 == 0) // unknown-size Segment: all-ones 1-byte VINT
          idBytes(IdSegment) ++ Array(0xffL.toByte) ++ segBody
        else element(IdSegment, segBody)
      ebmlHeader ++ segment
    }

  /** Deterministic REAL MJPEG-track mkv payloads derived purely from doc
    * ids: EBML header + Segment(Info + Tracks + Clusters) where track 1
    * is `V_MJPEG` video and track 2 is `A_PCM/INT/LIT` audio. Each of
    * the `1 + id % 5` video frames is a solid-color
    * `(1 + id % 7) × (1 + id % 6)` image with per-frame channels
    * `((id + 11f) % 256, (7id + 5f) % 256, (13id + 3f) % 256)` — colors
    * differ per block, so a misread byte range decodes the wrong frame
    * and hash-fails. Video frames ride SimpleBlocks on even ids and
    * Block-in-BlockGroup on odd ids (both real-world framings); junk
    * audio blocks precede and interleave the video blocks, so the demux
    * must filter by track number, not position; frames split across TWO
    * Clusters when more than two exist, exercising the multi-cluster
    * walk. PNG frame bytes keep the fixture lossless (imageio sniffs
    * content — the m7/m9 pattern). Every 9th payload truncates to
    * 6 bytes for the `lenient` drop path.
    */
  def syntheticMjpegMkvs(documents: DataFrame): Dataset[MediaRow] =
    Media.fixtureRows(documents, "video/x-matroska", corruptEvery = 9, keepBytes = 6) { id =>
      val nFrames = (1 + id % 5).toInt
      val (w, h) = ((1 + id % 7).toInt, (1 + id % 6).toInt)
      val frames = Vector.tabulate(nFrames) { f =>
        val rgb = ((((id + 11 * f) % 256) << 16) |
          (((id * 7 + 5 * f) % 256) << 8) | ((id * 13 + 3 * f) % 256)).toInt
        Media.solidPng(w, h, rgb)
      }
      val info = element(IdInfo,
        element(IdTimestampScale, uintBytes(1000000L)) ++
          element(IdDuration, float64Bytes(40.0 * nFrames)))
      val tracks = element(IdTracks,
        element(IdTrackEntry,
          element(IdTrackNumber, uintBytes(1)) ++
            element(IdTrackType, uintBytes(1)) ++
            element(IdCodecId, "V_MJPEG".getBytes("US-ASCII")) ++
            element(IdVideo,
              element(IdPixelWidth, uintBytes(w.toLong)) ++
                element(IdPixelHeight, uintBytes(h.toLong)))) ++
          element(IdTrackEntry,
            element(IdTrackNumber, uintBytes(2)) ++
              element(IdTrackType, uintBytes(2)) ++
              element(IdCodecId, "A_PCM/INT/LIT".getBytes("US-ASCII"))))
      // block body: VINT track (size-form), 2-byte BE timestamp, flags
      def blockBody(track: Long, tsMs: Int, data: Array[Byte]): Array[Byte] =
        vintBytes(track) ++
          Array(((tsMs >> 8) & 0xff).toByte, (tsMs & 0xff).toByte, 0x80.toByte) ++ data
      def videoBlock(f: Int): Array[Byte] =
        if (id % 2 == 0) element(IdSimpleBlock, blockBody(1, 40 * f, frames(f)))
        else element(IdBlockGroup, element(IdBlock, blockBody(1, 40 * f, frames(f))))
      def audioBlock(f: Int): Array[Byte] =
        element(IdSimpleBlock, blockBody(2, 40 * f + 20,
          Array.tabulate(4)(i => ((id + f + i) % 256).toByte)))
      def cluster(fs: Range): Array[Byte] = element(IdCluster,
        element(IdClusterTimestamp, uintBytes(40L * fs.head)) ++
          fs.map(f => audioBlock(f) ++ videoBlock(f)).reduce(_ ++ _))
      val clusters =
        if (nFrames > 2) cluster(0 until 2) ++ cluster(2 until nFrames)
        else cluster(0 until nFrames)
      ebmlHeader ++ element(IdSegment, info ++ tracks ++ clusters)
    }
}
