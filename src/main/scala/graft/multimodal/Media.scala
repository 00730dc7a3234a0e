package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column processing: media payloads travel as opaque `binary`
  * columns with typed metadata beside them; decode/feature-extraction
  * kernels run per partition over iterator batches (the JVM twin of
  * arrow-batched pandas UDFs — same batch shape, same partitioning
  * contract), so decoder state is initialized once per partition, not per
  * row.
  *
  * Image decode is REAL ([[Media.ImageIoDecoder]]: the JDK's built-in
  * javax.imageio codecs — PNG/JPEG/BMP/GIF), WAV/PCM audio decode is
  * REAL ([[Media.WavDecoder]]: javax.sound.sampled), MJPEG/AVI video
  * decode is REAL ([[Media.MjpegAviDecoder]]: RIFF chunk walk +
  * per-frame imageio), mp4 METADATA parsing is REAL
  * ([[Media.parseMp4Meta]]: ISO-BMFF box walker — duration, timescale,
  * tracks, video dimensions, codec fourcc), and mp4 DEMUX + JPEG-track
  * frame decode are REAL ([[Media.parseMp4Samples]]: stsz/stsc/stco/co64
  * sample tables → per-frame byte ranges; [[Media.extractMp4Frames]]
  * decodes `jpeg`-fourcc samples through imageio) — all zero external
  * dependencies; [[Matroska]] adds the same metadata + intra-frame
  * decode surface for mkv/webm. The one remaining stub is the
  * sample-byte decode for inter-frame codecs (H.264/HEVC/VP9/AV1): those
  * fall back to the clearly-marked deterministic [[Media.StubDecoder]]
  * behind the same `Decoder` trait (a production binding would use
  * ffmpeg/jcodec). Everything Spark-side (schema, batching, partition
  * sizing, metadata flow) is real and tested.
  */
final case class MediaRow(doc_id: Long, media_type: String, payload: Array[Byte])

final case class MediaFeatures(doc_id: Long, media_type: String, n_bytes: Int,
    width: Int, height: Int, feature: Array[Float])

final case class FrameFeatures(doc_id: Long, frame_no: Int, width: Int,
    height: Int, feature: Array[Float])

final case class Mp4Meta(doc_id: Long, duration_ms: Long, timescale: Int,
    n_tracks: Int, width: Int, height: Int, codec: String)

/** One sync sample (keyframe) of an mp4 video track: 0-based sample
  * number plus its decode timestamp in milliseconds of media time.
  */
final case class Mp4Keyframe(doc_id: Long, sample_no: Int, ts_ms: Long,
    codec: String)

final case class PngMeta(doc_id: Long, width: Int, height: Int,
    bit_depth: Int, color_type: Int, interlace: Int, n_chunks: Int,
    idat_bytes: Long, text_meta: String)

object Media {

  /** Decoder contract: bytes → (width, height, feature vector). Swap the
    * stub for a real codec binding in production; everything downstream is
    * agnostic to which.
    */
  trait Decoder extends Serializable {
    def decode(mediaType: String, payload: Array[Byte]): (Int, Int, Array[Float])
  }

  /** Real image decoder over the JDK's built-in javax.imageio codecs
    * (PNG, JPEG, BMP, GIF — no external dependency). Dimensions are the
    * actual pixel dimensions; the feature vector is mean R, G, B and
    * BT.601 luma over all pixels, each normalized to [0, 1] — a cheap
    * deterministic stand-in for a model embedding with the same shape
    * contract (a real model binding slots in as another Decoder).
    *
    * Non-image media types delegate to `fallback`, by default the real
    * [[WavDecoder]] (JDK javax.sound.sampled) chained onto
    * [[MjpegAviDecoder]] — so PNG/JPEG/BMP/GIF images, WAV/PCM audio
    * AND MJPEG/AVI video all decode for real with zero external
    * dependencies; only non-AVI video containers (mp4/mkv) still need
    * an external binding (ffmpeg/jcodec) and stay stubbed.
    *
    * Undecodable image bytes THROW (IllegalArgumentException). At corpus
    * scale route dirty data through `extractFeatures(..., lenient=true)`,
    * which drops corrupt payloads instead of failing the job.
    */
  final class ImageIoDecoder(fallback: Decoder = new WavDecoder(StubDecoder))
      extends Decoder {
    def decode(mediaType: String, payload: Array[Byte]): (Int, Int, Array[Float]) =
      if (!mediaType.startsWith("image/")) fallback.decode(mediaType, payload)
      else {
        Codecs.ensure()
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
        if (img == null) throw new IllegalArgumentException(
          s"payload is not a decodable $mediaType image (${payload.length} bytes)")
        val (w, h) = (img.getWidth, img.getHeight)
        var (r, g, b) = (0L, 0L, 0L)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val argb = img.getRGB(x, y)
            r += (argb >> 16) & 0xff; g += (argb >> 8) & 0xff; b += argb & 0xff
            x += 1
          }
          y += 1
        }
        val n = w.toLong * h
        val (mr, mg, mb) = (r.toFloat / n / 255f, g.toFloat / n / 255f, b.toFloat / n / 255f)
        (w, h, Array(mr, mg, mb, 0.299f * mr + 0.587f * mg + 0.114f * mb))
      }
  }

  /** Real WAV/PCM decoder over the JDK's built-in javax.sound.sampled —
    * like [[ImageIoDecoder]], no external dependency. Returns
    * (sampleRateHz, channels) as the dimension pair and a 4-dim feature
    * vector: duration in seconds, mean |amplitude|, RMS, and
    * zero-crossing rate over channel 0 — cheap deterministic stand-ins
    * for an audio-model embedding with the same shape contract.
    * Amplitudes are normalized to [-1, 1]; accumulation runs in double
    * and narrows to float once at the end, so specs can assert exact
    * values for dyadic-amplitude fixtures.
    *
    * Handles the PCM encodings a `.wav` container actually carries
    * (signed 16-bit and signed/unsigned 8-bit); anything else —
    * including undecodable bytes — THROWS, and `lenient` extraction
    * drops it. Non-audio media types delegate to `fallback`, by default
    * the real [[MjpegAviDecoder]] chained onto [[StubDecoder]].
    */
  final class WavDecoder(fallback: Decoder = new MjpegAviDecoder(StubDecoder))
      extends Decoder {
    def decode(mediaType: String, payload: Array[Byte]): (Int, Int, Array[Float]) =
      if (mediaType != "audio/wav") fallback.decode(mediaType, payload)
      else {
        val in =
          try javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(payload))
          catch {
            case e: Exception => throw new IllegalArgumentException(
              s"payload is not a decodable WAV (${payload.length} bytes)", e)
          }
        try {
          val fmt = in.getFormat
          val enc = fmt.getEncoding
          val bits = fmt.getSampleSizeInBits
          val signed = enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
          val unsigned8 =
            enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED && bits == 8
          if (!(signed && (bits == 16 || bits == 8)) && !unsigned8)
            throw new IllegalArgumentException(s"unsupported WAV encoding $enc/$bits-bit")
          val channels = fmt.getChannels
          val bytes = in.readAllBytes()
          val bytesPerSample = bits / 8
          val n = bytes.length / bytesPerSample // samples across all channels
          def sample(i: Int): Double = {
            val base = i * bytesPerSample
            if (bits == 16) {
              // WAV is little-endian; honor the header either way
              val lo = bytes(if (fmt.isBigEndian) base + 1 else base) & 0xff
              val hi = bytes(if (fmt.isBigEndian) base else base + 1)
              ((hi << 8) | lo).toShort / 32768.0
            } else if (unsigned8) ((bytes(base) & 0xff) - 128) / 128.0
            else bytes(base) / 128.0
          }
          var (sumAbs, sumSq) = (0.0, 0.0)
          var crossings = 0L
          var prevSign = 0
          var i = 0
          while (i < n) {
            val v = sample(i)
            sumAbs += math.abs(v); sumSq += v * v
            if (i % channels == 0) { // channel 0 only for ZCR
              val s = if (v > 0) 1 else if (v < 0) -1 else 0
              if (s != 0 && prevSign != 0 && s != prevSign) crossings += 1
              if (s != 0) prevSign = s
            }
            i += 1
          }
          val frames = n / math.max(1, channels)
          val duration = frames / fmt.getSampleRate.toDouble
          val meanAbs = if (n > 0) sumAbs / n else 0.0
          val rms = if (n > 0) math.sqrt(sumSq / n) else 0.0
          val zcr = if (frames > 1) crossings.toDouble / (frames - 1) else 0.0
          (fmt.getSampleRate.toInt, channels,
            Array(duration.toFloat, meanAbs.toFloat, rms.toFloat, zcr.toFloat))
        } finally in.close()
      }
  }

  /** The one WAV writer: a RIFF/WAVE container of `n` mono 16-bit signed
    * little-endian PCM samples at 1024 Hz, sample i being `sample(i)`
    * narrowed to 16 bits — the format [[WavDecoder]] and
    * AudioHash.pcm16Samples read, and the only one the fixtures write.
    */
  def pcm16Wav(n: Int)(sample: Int => Int): Array[Byte] = {
    val bytes = new Array[Byte](44 + 2 * n)
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def cc(s: String) = bb.put(s.getBytes("US-ASCII"))
    cc("RIFF"); bb.putInt(36 + 2 * n); cc("WAVE")
    cc("fmt "); bb.putInt(16)
    bb.putShort(1); bb.putShort(1)       // PCM, mono
    bb.putInt(1024); bb.putInt(1024 * 2) // rate, byte rate
    bb.putShort(2); bb.putShort(16)      // block align, bits
    cc("data"); bb.putInt(2 * n)
    var i = 0
    while (i < n) { bb.putShort(sample(i).toShort); i += 1 }
    bytes
  }

  /** Real MJPEG/AVI video decoder — like the image and audio decoders,
    * pure JDK: the AVI container is a RIFF tree walked chunk-by-chunk
    * (LIST recursion, word-aligned chunk sizes), video frames are the
    * `##dc`/`##db` stream chunks, and each frame's bytes decode through
    * javax.imageio CONTENT sniffing — so standard MJPEG (JPEG frames)
    * decodes for real, and the PNG-frame AVIs this repo generates as
    * lossless fixtures decode exactly. Returns frame-0 dimensions and
    * the 4-dim feature [n_frames, meanR, meanG, meanB of frame 0] — the
    * representative-frame featurization a cheap video pipeline runs
    * before any model pass. Malformed RIFF, zero frames, or an
    * undecodable first frame THROW; `lenient` extraction drops them.
    * Non-AVI containers (mp4/mkv need external demuxers — ffmpeg/jcodec)
    * delegate to `fallback`.
    */
  final class MjpegAviDecoder(fallback: Decoder = StubDecoder) extends Decoder {
    def decode(mediaType: String, payload: Array[Byte]): (Int, Int, Array[Float]) =
      if (mediaType != "video/avi" && mediaType != "video/x-msvideo")
        fallback.decode(mediaType, payload)
      else {
        val fs = aviFrameChunks(payload)
        val (w, h, rgb) = decodeFrame(payload, fs.head)
        (w, h, Array(fs.size.toFloat, rgb(0), rgb(1), rgb(2)))
      }
  }

  /** (offset, length) of every `##dc`/`##db` video frame chunk in an AVI
    * payload — the RIFF tree walk shared by [[MjpegAviDecoder]] and the
    * per-frame [[extractVideoFrames]]. Malformed RIFF or zero frames
    * throw IllegalArgumentException (drops under `lenient`).
    */
  private[multimodal] def aviFrameChunks(payload: Array[Byte]): Vector[(Int, Int)] = {
    def u32(o: Int): Long =
      (payload(o) & 0xffL) | (payload(o + 1) & 0xffL) << 8 |
        (payload(o + 2) & 0xffL) << 16 | (payload(o + 3) & 0xffL) << 24
    def fourcc(o: Int): String = new String(payload, o, 4, "US-ASCII")
    def bad(msg: String) = throw new IllegalArgumentException(
      s"payload is not a decodable AVI ($msg, ${payload.length} bytes)")
    if (payload.length < 12 || fourcc(0) != "RIFF" || fourcc(8) != "AVI ") bad("magic")
    val end = math.min(payload.length.toLong, 8 + u32(4)).toInt
    val frames = Vector.newBuilder[(Int, Int)]
    def walk(start: Int, stop: Int): Unit = {
      var o = start
      while (o + 8 <= stop) {
        val id = fourcc(o)
        val sz = u32(o + 4).toInt
        val body = o + 8
        if (sz < 0 || body + sz > stop) bad(s"truncated chunk $id")
        if (id == "LIST") { if (sz >= 4) walk(body + 4, body + sz) }
        else if (id(0).isDigit && id(1).isDigit &&
          (id.endsWith("dc") || id.endsWith("db")) && sz > 0)
          frames += ((body, sz))
        o = body + sz + (sz & 1) // RIFF chunks are word-aligned
      }
    }
    walk(12, end)
    val fs = frames.result()
    if (fs.isEmpty) bad("no video frame chunks")
    fs
  }

  /** The one AVI writer: already-encoded frames as word-aligned `00dc`
    * chunks in a RIFF `AVI ` tree (LIST hdrl holding a zeroed avih, then
    * LIST movi) — the layout [[aviFrameChunks]] walks.
    */
  private[multimodal] def buildAvi(frames: Seq[Array[Byte]]): Array[Byte] = {
    val hdrlBody = 4 + 8 + 56 // "hdrl" + avih chunk
    val moviBody = 4 + frames.map(f => 8 + f.length + (f.length & 1)).sum
    val riffBody = 4 + (8 + hdrlBody) + (8 + moviBody)
    val bytes = new Array[Byte](8 + riffBody)
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def cc(s: String) = bb.put(s.getBytes("US-ASCII"))
    cc("RIFF"); bb.putInt(riffBody); cc("AVI ")
    cc("LIST"); bb.putInt(hdrlBody); cc("hdrl")
    cc("avih"); bb.putInt(56); bb.position(bb.position() + 56)
    cc("LIST"); bb.putInt(moviBody); cc("movi")
    frames.foreach { f =>
      cc("00dc"); bb.putInt(f.length); bb.put(f)
      if ((f.length & 1) == 1) bb.put(0.toByte)
    }
    bytes
  }

  /** Decode one frame chunk by imageio content sniffing → (w, h,
    * [meanR, meanG, meanB]); throws on undecodable bytes.
    */
  private[multimodal] def decodeFrame(payload: Array[Byte], chunk: (Int, Int)): (Int, Int, Array[Float]) = {
    Codecs.ensure()
    val (off, len) = chunk
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload, off, len))
    if (img == null) throw new IllegalArgumentException(
      s"payload holds an undecodable video frame ($len bytes)")
    val (w, h) = (img.getWidth, img.getHeight)
    var (r, g, b) = (0L, 0L, 0L)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val argb = img.getRGB(x, y)
        r += (argb >> 16) & 0xff; g += (argb >> 8) & 0xff; b += argb & 0xff
        x += 1
      }
      y += 1
    }
    val n = w.toLong * h
    (w, h, Array(r.toFloat / n / 255f, g.toFloat / n / 255f, b.toFloat / n / 255f))
  }

  /** Deterministic fake decoder: dimensions and features derived from the
    * payload bytes, so specs can assert exact values. STUB — now the
    * binding only for sample-byte decode of inter-frame video codecs
    * (H.264/HEVC/VP9/AV1 in either container; a production binding would
    * bridge ffmpeg/jcodec): images decode for real via
    * [[ImageIoDecoder]], WAV audio via [[WavDecoder]], MJPEG/AVI video
    * via [[MjpegAviDecoder]], mp4 METADATA parses for real via
    * [[parseMp4Meta]], and JPEG-track mp4 frames decode for real via
    * [[extractMp4Frames]] (sample-table demux + imageio).
    */
  object StubDecoder extends Decoder {
    def decode(mediaType: String, payload: Array[Byte]): (Int, Int, Array[Float]) = {
      val n = payload.length
      val w = 1 + (n % 64)
      val h = 1 + (n % 48)
      // 4-dim "embedding": byte sums over 4 strides, normalized
      val feat = Array.tabulate(4) { k =>
        var s = 0L
        var i = k
        while (i < n) { s += (payload(i) & 0xff); i += 4 }
        (s % 1000).toFloat / 1000f
      }
      (w, h, feat)
    }
  }

  /** Binary payloads from a documents-like frame: the text bytes stand in
    * for media blobs (the container has no real media), with a
    * deterministic media_type split.
    */
  def payloads(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      when(col("doc_id") % 3 === 0, "image/png")
        .when(col("doc_id") % 3 === 1, "audio/wav")
        .otherwise("video/mp4").as("media_type"),
      col("text").cast("binary").as("payload"))

  /** The row policy every doc-id-derived fixture generator shares: one
    * `mediaType` row per doc id holding `payload(id)`, cut to its first
    * `keepBytes` bytes on every `corruptEvery`-th id (a deterministic
    * corrupt blob for the `lenient` drop path), plus, when `near` is
    * given, a planted near copy `near(id)` at id + 10⁶ for every 10th
    * id. One map per partition over the doc ids: no extra pass, union or
    * shuffle, so a generator inside a timed query costs its encodes only.
    */
  private[multimodal] def fixtureRows(documents: DataFrame, mediaType: String, corruptEvery: Int,
      keepBytes: Int = 8, near: Option[Long => Array[Byte]] = None)(
      payload: Long => Array[Byte]): Dataset[MediaRow] = {
    import documents.sparkSession.implicits._
    documents.select(col("doc_id")).as[Long].mapPartitions(_.flatMap { id =>
      val bytes = payload(id)
      val row = MediaRow(id, mediaType,
        if (id % corruptEvery == 0) java.util.Arrays.copyOf(bytes, keepBytes) else bytes)
      near match {
        case Some(p) if id % 10 == 0 => Iterator(row, MediaRow(id + 1000000L, mediaType, p(id)))
        case _ => Iterator.single(row)
      }
    })
  }

  /** Solid-color PNG bytes for the deterministic fixtures. */
  private[multimodal] def solidPng(w: Int, h: Int, rgb: Int): Array[Byte] =
    Png.encodeRgb(w, h, (_, _) => rgb)

  private def docRgb(id: Long): Int =
    (((id % 256) << 16) | (((id * 7) % 256) << 8) | ((id * 13) % 256)).toInt

  /** Deterministic REAL PNG payloads derived purely from doc ids: a
    * solid-color `(1 + id % 8) × (1 + id % 6)` image whose RGB channels
    * are `(id % 256, id·7 % 256, id·13 % 256)`, PNG-encoded in-JVM per
    * partition. Every 7th payload is truncated to its 8-byte magic — a
    * deterministic corrupt blob, so a query over this frame exercises the
    * `lenient` drop path, not just the happy path. Solid color makes the
    * decoded mean-RGB feature recover the channel values EXACTLY
    * (`round(mean · 255) = channel`), giving the decode pipeline a SQL
    * oracle despite PNG bytes themselves being codec-version-dependent.
    */
  def syntheticPngs(documents: DataFrame): Dataset[MediaRow] =
    fixtureRows(documents, "image/png", corruptEvery = 7)(id =>
      solidPng((1 + id % 8).toInt, (1 + id % 6).toInt, docRgb(id)))

  /** Deterministic REAL AVI payloads derived purely from doc ids: a
    * structurally honest RIFF/AVI container (LIST hdrl with an avih
    * header block, LIST movi with `00dc` frame chunks, word-aligned)
    * holding `1 + id % 4` identical solid-color PNG frames of the same
    * `(1 + id % 8) × (1 + id % 6)` / doc-RGB geometry as
    * [[syntheticPngs]]. PNG frames make the fixture LOSSLESS — frame-0
    * mean-RGB recovers the channel bytes exactly, giving the video
    * decode path a pure-SQL oracle even though both PNG bytes and any
    * JPEG round-trip are codec-dependent ([[MjpegAviDecoder]] sniffs
    * frame content, so real JPEG-frame MJPEG takes the identical path —
    * MediaSpec covers it). Every 9th payload is truncated to its
    * 8-byte RIFF magic for the `lenient` drop path.
    */
  def syntheticAvis(documents: DataFrame): Dataset[MediaRow] =
    fixtureRows(documents, "video/avi", corruptEvery = 9) { id =>
      val frame = solidPng((1 + id % 8).toInt, (1 + id % 6).toInt, docRgb(id))
      buildAvi(Seq.fill((1 + id % 4).toInt)(frame))
    }

  /** Deterministic REAL WAV payloads derived purely from doc ids: a
    * mono 16-bit PCM square wave at 1024 Hz with `64·(1 + id % 8)`
    * samples, amplitude `(1 + id % 16)·1024` (= `(1+id%16)/32` of full
    * scale, an exact dyadic), flipping sign every `2^(id % 3)` samples,
    * written by [[pcm16Wav]], so the payload is bit-deterministic. Every
    * 5th payload is truncated to its 8-byte RIFF magic, a deterministic
    * corrupt blob for the `lenient` drop path. Because amplitude, sample
    * count and period are all dyadic, [[WavDecoder]]'s duration /
    * mean|amp| / RMS come out EXACT and the zero-crossing count is
    * recoverable as `round(zcr · (frames − 1))` — a pure-SQL oracle for a
    * real audio decode.
    */
  def syntheticWavs(documents: DataFrame): Dataset[MediaRow] =
    fixtureRows(documents, "audio/wav", corruptEvery = 5) { id =>
      val amp = (1 + id % 16).toInt * 1024 // dyadic: amp/32768 = (1+id%16)/32
      val period = 1 << (id % 3).toInt     // sign flips every 1, 2 or 4 samples
      pcm16Wav(64 * (1 + id % 8).toInt)(i => if ((i / period) % 2 == 0) amp else -amp)
    }

  /** Decode + feature-extract, one decoder instance per partition.
    * Partition count is the parallelism AND memory knob: at 100 TB of
    * media, repartition so each task holds one batch of payloads
    * (`spark.sql.files.maxPartitionBytes` governs the scan side; an
    * explicit repartition governs post-shuffle decode width).
    *
    * `lenient=true` drops undecodable payloads instead of failing the
    * task — at corpus scale one corrupt blob must not kill a
    * 1000-executor job; count the input/output delta to monitor drops.
    */
  def extractFeatures(rows: Dataset[MediaRow], decoder: Decoder,
      spark: SparkSession, lenient: Boolean = false): Dataset[MediaFeatures] = {
    import spark.implicits._
    rows.mapPartitions { it =>
      // per-partition decoder setup happens here (model load, codec init)
      val d = decoder
      it.flatMap { r =>
        try {
          val (w, h, feat) = d.decode(r.media_type, r.payload)
          Iterator.single(MediaFeatures(r.doc_id, r.media_type, r.payload.length, w, h, feat))
        } catch {
          case _: Exception if lenient => Iterator.empty
        }
      }
    }
  }

  /** REAL frame sampling: decode every `frameStride`-th frame of each AVI
    * payload to per-frame features — the keyframe/thumbnail extraction a
    * video pipeline runs before a model pass (stride is the compute
    * knob: stride 30 ≈ one frame per second of 30fps footage). One RIFF
    * walk + one imageio decode per sampled frame, per partition;
    * `lenient` drops malformed containers whole. The explode is bounded
    * by frames/stride per row — map-side fan-out, no shuffle.
    */
  def extractVideoFrames(rows: Dataset[MediaRow], spark: SparkSession,
      frameStride: Int = 1, lenient: Boolean = false): Dataset[FrameFeatures] = {
    require(frameStride > 0, "frameStride must be positive")
    import spark.implicits._
    rows.mapPartitions { it =>
      it.flatMap { r =>
        try {
          val chunks = aviFrameChunks(r.payload)
          // eager map: a mid-payload undecodable frame must throw INSIDE
          // this try so lenient mode can drop the container whole
          chunks.indices.by(frameStride).map { i =>
            val (w, h, rgb) = decodeFrame(r.payload, chunks(i))
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

  // ------------------------------------------------------ ISO-BMFF (mp4)

  /** Pure-JDK ISO-BMFF (mp4) METADATA parser: walks the box tree
    * (`ftyp`/`moov`/`mvhd`/`trak`/`tkhd`/`mdia`/`minf`/`stbl`/`stsd`,
    * ISO/IEC 14496-12 layouts, both version-0 and version-1 full boxes,
    * 64-bit `largesize` and size-0 to-end boxes included) and returns
    * presentation duration, movie timescale, track count, and the video
    * track's pixel dimensions + sample-entry codec fourcc. This is the
    * metadata half of mp4 support — the half a corpus pipeline needs for
    * governance/filtering (duration caps, resolution buckets, codec
    * allowlists) before any expensive decode; the demux half lives in
    * [[parseMp4Samples]], and frame decode ([[extractMp4Frames]]) is real
    * for `jpeg`-fourcc tracks — only inter-frame codec BYTES (H.264/VP9…)
    * still need an external decoder, the one declared stub.
    *
    * Malformed payloads (bad magic, truncated box, missing moov/mvhd,
    * zero timescale) THROW IllegalArgumentException; `lenient`
    * extraction drops them. duration_ms rounds down
    * (`duration · 1000 / timescale` in long arithmetic); the synthetic
    * fixtures make it exact so the SQL oracle replays it with integer
    * arithmetic.
    */
  /** Shared ISO-BMFF primitives for [[parseMp4Meta]] and
    * [[parseMp4Samples]]: big-endian field reads plus the
    * (type, bodyStart, bodyEnd) child enumeration handling 64-bit
    * `largesize` and size-0 to-end boxes. All reads bounds-check and
    * throw IllegalArgumentException (drops under `lenient`).
    */
  private final class BmffWalker(payload: Array[Byte]) {
    def bad(msg: String): Nothing = throw new IllegalArgumentException(
      s"payload is not a parseable mp4 ($msg, ${payload.length} bytes)")
    def u32(o: Int): Long = {
      if (o + 4 > payload.length) bad(s"truncated u32 at $o")
      (payload(o) & 0xffL) << 24 | (payload(o + 1) & 0xffL) << 16 |
        (payload(o + 2) & 0xffL) << 8 | (payload(o + 3) & 0xffL)
    }
    def u64(o: Int): Long = u32(o) << 32 | u32(o + 4)
    def fourcc(o: Int): String = {
      if (o + 4 > payload.length) bad(s"truncated fourcc at $o")
      new String(payload, o, 4, "US-ASCII")
    }
    /** Full-box version byte at the start of a box body. */
    def version(body: Int): Int = payload(body) & 0xff
    /** (type, bodyStart, bodyEnd) of each box in [start, stop). */
    def boxes(start: Int, stop: Int): Vector[(String, Int, Int)] = {
      val out = Vector.newBuilder[(String, Int, Int)]
      var o = start
      while (o + 8 <= stop) {
        val size32 = u32(o)
        val typ = fourcc(o + 4)
        val (body, end) =
          if (size32 == 1L) { // 64-bit largesize follows the type
            val sz = u64(o + 8)
            if (sz < 16 || o + sz > stop) bad(s"bad largesize box $typ")
            (o + 16, o + sz.toInt)
          } else if (size32 == 0L) (o + 8, stop) // box extends to end
          else {
            if (size32 < 8 || o + size32 > stop) bad(s"truncated box $typ")
            (o + 8, o + size32.toInt)
          }
        out += ((typ, body, end))
        o = end
      }
      out.result()
    }
    /** Descend a path of nested boxes, first match at each level. */
    def firstPath(start: Int, stop: Int, path: List[String]): Option[(Int, Int)] =
      path.foldLeft(Option((start, stop))) { (acc, name) =>
        acc.flatMap { case (b, e) => boxes(b, e).find(_._1 == name).map(x => (x._2, x._3)) }
      }
    /** moov body range; requires the ftyp magic first. */
    def moovRange(): (Int, Int) = {
      if (payload.length < 16) bad("too short")
      val top = boxes(0, payload.length)
      if (top.isEmpty || top.head._1 != "ftyp") bad("no ftyp magic")
      val (_, b, e) = top.find(_._1 == "moov").getOrElse(bad("no moov"))
      (b, e)
    }
    /** tkhd width/height: 16.16 fixed point at body offset 76/80 (v0) or
      * 88/92 (v1); (0, 0) when the trak has no tkhd.
      */
    def trakDims(body: Int, end: Int): (Int, Int) =
      boxes(body, end).find(_._1 == "tkhd") match {
        case Some((_, b, _)) =>
          val off = if (version(b) == 1) b + 88 else b + 76
          ((u32(off) >> 16).toInt, (u32(off + 4) >> 16).toInt)
        case None => (0, 0)
      }
    /** stsd's first sample entry carries the codec fourcc. */
    def stsdCodec(stblBody: Int, stblEnd: Int): String =
      boxes(stblBody, stblEnd).find(_._1 == "stsd") match {
        case Some((_, b, e)) if b + 16 <= e && u32(b + 4) >= 1 => fourcc(b + 12)
        case _ => "none"
      }
  }

  private[multimodal] def parseMp4Meta(payload: Array[Byte]): (Long, Int, Int, Int, Int, String) = {
    val bmff = new BmffWalker(payload)
    val (moovStart, moovEnd) = bmff.moovRange()
    val moov = bmff.boxes(moovStart, moovEnd)
    // mvhd: movie timescale + presentation duration (v0: 32-bit fields,
    // v1: 64-bit creation/modification/duration)
    val (_, mv, _) = moov.find(_._1 == "mvhd").getOrElse(bmff.bad("no mvhd"))
    val (timescale, duration) =
      if (bmff.version(mv) == 1) (bmff.u32(mv + 20), bmff.u64(mv + 24))
      else (bmff.u32(mv + 12), bmff.u32(mv + 16))
    if (timescale <= 0) bmff.bad("zero mvhd timescale")
    val traks = moov.filter(_._1 == "trak")
    if (traks.isEmpty) bmff.bad("no trak")
    // the video track is the first with nonzero tkhd dims
    val video = traks.map { case (_, b, e) => (bmff.trakDims(b, e), (b, e)) }
      .find { case ((w, h), _) => w > 0 && h > 0 }
    val (w, h) = video.map(_._1).getOrElse((0, 0))
    val codec = video.map { case (_, (b, e)) =>
      bmff.firstPath(b, e, List("mdia", "minf", "stbl"))
        .map { case (sb, se) => bmff.stsdCodec(sb, se) }.getOrElse("none")
    }.getOrElse("none")
    (duration * 1000L / timescale, timescale.toInt, traks.size, w, h, codec)
  }

  /** Sample-table half of mp4 support: walks the video track's `stbl`
    * (`stsz` fixed-or-per-sample sizes, `stsc` sample-to-chunk runs,
    * `stco`/`co64` 32/64-bit chunk offsets — ISO/IEC 14496-12 §8.7) and
    * returns the stsd codec fourcc plus every sample's absolute
    * (offset, length) byte range in the container. This is the demux half
    * of frame decode: with it, any track whose samples are self-contained
    * images (`jpeg` fourcc MJPEG-in-mp4) decodes with zero external
    * dependencies; inter-frame codecs (avc1/hvc1/vp09/av01) still need an
    * external decoder for the sample BYTES, but their ranges come out of
    * this same walk. Malformed tables (missing boxes, out-of-bounds
    * ranges, runs that don't cover the sample count) THROW; `lenient`
    * extraction drops them.
    */
  private[multimodal] def parseMp4Samples(payload: Array[Byte]): (String, Vector[(Int, Int)]) = {
    val bmff = new BmffWalker(payload)
    val (moovStart, moovEnd) = bmff.moovRange()
    val moov = bmff.boxes(moovStart, moovEnd)
    val traks = moov.filter(_._1 == "trak")
    if (traks.isEmpty) bmff.bad("no trak")
    val (tb, te) = traks
      .find { case (_, b, e) => val (w, h) = bmff.trakDims(b, e); w > 0 && h > 0 }
      .map { case (_, b, e) => (b, e) }.getOrElse(bmff.bad("no video trak"))
    val (sb, se) = bmff.firstPath(tb, te, List("mdia", "minf", "stbl"))
      .getOrElse(bmff.bad("no stbl"))
    val stbl = bmff.boxes(sb, se)
    def full(name: String): (Int, Int) = stbl.find(_._1 == name)
      .map { case (_, b, e) => (b, e) }.getOrElse(bmff.bad(s"no $name"))
    val codec = bmff.stsdCodec(sb, se)
    // stsz (§8.7.3.2): fixed sample_size, or 0 → per-sample size table
    val (zb, _) = full("stsz")
    val fixedSize = bmff.u32(zb + 4)
    val nSamples = bmff.u32(zb + 8).toInt
    if (nSamples <= 0) bmff.bad("empty stsz")
    val sampleSize: Int => Int =
      if (fixedSize != 0L) _ => fixedSize.toInt
      else i => bmff.u32(zb + 12 + 4 * i).toInt
    // chunk offsets (§8.7.5): stco 32-bit or co64 64-bit, absolute
    val chunkOffsets: Vector[Long] = stbl.find(_._1 == "stco") match {
      case Some((_, b, _)) =>
        Vector.tabulate(bmff.u32(b + 4).toInt)(i => bmff.u32(b + 8 + 4 * i))
      case None =>
        val (b, _) = full("co64")
        Vector.tabulate(bmff.u32(b + 4).toInt)(i => bmff.u64(b + 8 + 8 * i))
    }
    if (chunkOffsets.isEmpty) bmff.bad("empty chunk offset table")
    // stsc (§8.7.4): run-length (first_chunk, samples_per_chunk) entries
    val (cb, _) = full("stsc")
    val nRuns = bmff.u32(cb + 4).toInt
    if (nRuns <= 0) bmff.bad("empty stsc")
    val runs = Vector.tabulate(nRuns)(i =>
      (bmff.u32(cb + 8 + 12 * i).toInt, bmff.u32(cb + 12 + 12 * i).toInt))
    // expand chunk by chunk: samples are contiguous within a chunk
    val out = Vector.newBuilder[(Int, Int)]
    var sample = 0
    var chunk = 1
    while (sample < nSamples && chunk <= chunkOffsets.size) {
      val perChunk = runs.takeWhile(_._1 <= chunk).lastOption
        .map(_._2).getOrElse(bmff.bad(s"stsc covers no chunk $chunk"))
      var off = chunkOffsets(chunk - 1)
      var i = 0
      while (i < perChunk && sample < nSamples) {
        val len = sampleSize(sample)
        if (len <= 0 || off + len > payload.length) bmff.bad(s"sample $sample out of bounds")
        out += ((off.toInt, len))
        off += len
        sample += 1
        i += 1
      }
      chunk += 1
    }
    if (sample < nSamples) bmff.bad(s"sample tables cover $sample of $nSamples samples")
    (codec, out.result())
  }

  /** mp4 metadata extraction over binary payloads — one box walk per
    * payload per partition, map-side only (the m4–m7 batch shape).
    * `lenient` drops malformed containers.
    */
  def extractMp4Meta(rows: Dataset[MediaRow], spark: SparkSession,
      lenient: Boolean = false): Dataset[Mp4Meta] = {
    import spark.implicits._
    rows.mapPartitions { it =>
      it.flatMap { r =>
        try {
          val (ms, ts, n, w, h, codec) = parseMp4Meta(r.payload)
          Iterator.single(Mp4Meta(r.doc_id, ms, ts, n, w, h, codec))
        } catch {
          case _: Exception if lenient => Iterator.empty
        }
      }
    }
  }

  /** REAL frame decode for mp4 tracks whose samples are self-contained
    * images (`jpeg`-fourcc MJPEG-in-mp4): [[parseMp4Samples]] demuxes each
    * frame's byte range from the `stbl` sample tables and every
    * `frameStride`-th one decodes through the same imageio path as AVI
    * frames ([[extractVideoFrames]]'s shape — map-side fan-out bounded by
    * samples/stride, no shuffle, one box walk per payload per partition).
    * Inter-frame codecs (avc1/hvc1/vp09/av01) demux fine but their sample
    * BYTES need an external decoder, so they throw with the codec named;
    * `lenient` drops them along with malformed containers.
    */
  def extractMp4Frames(rows: Dataset[MediaRow], spark: SparkSession,
      frameStride: Int = 1, lenient: Boolean = false): Dataset[FrameFeatures] = {
    require(frameStride > 0, "frameStride must be positive")
    import spark.implicits._
    rows.mapPartitions { it =>
      it.flatMap { r =>
        try {
          val (codec, samples) = parseMp4Samples(r.payload)
          // eager map: a mid-payload undecodable sample must throw INSIDE
          // this try so lenient mode can drop the container whole
          samples.indices.by(frameStride).map { i =>
            val (w, h, rgb) =
              try decodeFrame(r.payload, samples(i))
              catch {
                case e: IllegalArgumentException => throw new IllegalArgumentException(
                  s"mp4 '$codec' sample $i needs an external codec", e)
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

  /** KEYFRAME INDEX for inter-frame codecs — the honest-stub narrowing:
    * H.264/HEVC/VP9/AV1 sample BYTES stay undecodable without an
    * external codec ([[StubDecoder]]), but WHERE the keyframes sit is
    * pure container metadata — the `stss` sync-sample table (ISO/IEC
    * 14496-12 §8.6.2: 1-based numbers of the samples that can be
    * decoded without prior samples) joined with the `stts`
    * decoding-time-to-sample runs (§8.6.1.2: (sample_count,
    * sample_delta) run-lengths whose prefix sum is each sample's decode
    * timestamp) and the track's `mdhd` media timescale. That index is
    * what governance needs from an undecodable video: where a seek can
    * land, shot-boundary candidates, keyframe density. A track with NO
    * `stss` is all-sync by spec (every sample is a keyframe — the
    * all-intra case) and is emitted as such. Malformed tables
    * (non-ascending or out-of-range stss entries, empty stts) THROW;
    * `lenient` extraction drops the container whole.
    *
    * Returns the stsd codec fourcc plus (0-based sample number,
    * decode timestamp in ms of media time) per sync sample. ts_ms
    * rounds down in long arithmetic; the fixture keeps it exact so the
    * m20 oracle replays it as SQL integers.
    */
  private[multimodal] def parseMp4Keyframes(payload: Array[Byte]): (String, Vector[(Int, Long)]) = {
    val bmff = new BmffWalker(payload)
    val (moovStart, moovEnd) = bmff.moovRange()
    val moov = bmff.boxes(moovStart, moovEnd)
    val traks = moov.filter(_._1 == "trak")
    if (traks.isEmpty) bmff.bad("no trak")
    val (tb, te) = traks
      .find { case (_, b, e) => val (w, h) = bmff.trakDims(b, e); w > 0 && h > 0 }
      .map { case (_, b, e) => (b, e) }.getOrElse(bmff.bad("no video trak"))
    // mdhd media timescale: v0 at body+12, v1 at body+20 (64-bit times)
    val (mb, _) = bmff.firstPath(tb, te, List("mdia"))
      .flatMap { case (b, e) => bmff.boxes(b, e).find(_._1 == "mdhd") }
      .map { case (_, b, e) => (b, e) }.getOrElse(bmff.bad("no mdhd"))
    val timescale =
      if (bmff.version(mb) == 1) bmff.u32(mb + 20) else bmff.u32(mb + 12)
    if (timescale <= 0) bmff.bad("zero mdhd timescale")
    val (sb, se) = bmff.firstPath(tb, te, List("mdia", "minf", "stbl"))
      .getOrElse(bmff.bad("no stbl"))
    val stbl = bmff.boxes(sb, se)
    val codec = bmff.stsdCodec(sb, se)
    // stts: per-sample decode deltas as run-lengths; the run prefix sum
    // is every sample's decode time, and the count sum the sample count
    val (db, _) = stbl.find(_._1 == "stts")
      .map { case (_, b, e) => (b, e) }.getOrElse(bmff.bad("no stts"))
    val nRuns = bmff.u32(db + 4).toInt
    if (nRuns <= 0) bmff.bad("empty stts")
    val runs = Vector.tabulate(nRuns)(i =>
      (bmff.u32(db + 8 + 8 * i).toInt, bmff.u32(db + 12 + 8 * i)))
    val nSamples = runs.map(_._1.toLong).sum
    if (nSamples <= 0 || nSamples > Int.MaxValue) bmff.bad("bad stts sample count")
    // decode time of 0-based sample i without materializing all samples:
    // walk the runs (keyframes are sparse; runs are few)
    def decodeTime(i: Long): Long = {
      var rest = i
      var dt = 0L
      var r = 0
      while (r < runs.size && rest > runs(r)._1) {
        dt += runs(r)._1 * runs(r)._2; rest -= runs(r)._1; r += 1
      }
      if (r >= runs.size) bmff.bad(s"stts covers no sample $i")
      dt + rest * runs(r)._2
    }
    val syncSamples: Vector[Long] = stbl.find(_._1 == "stss") match {
      case Some((_, b, _)) =>
        val n = bmff.u32(b + 4).toInt
        if (n <= 0) bmff.bad("empty stss")
        val nums = Vector.tabulate(n)(i => bmff.u32(b + 8 + 4 * i))
        nums.foldLeft(0L) { (prev, s) =>
          if (s <= prev || s > nSamples) bmff.bad(s"stss sample $s out of order/range")
          s
        }
        nums.map(_ - 1) // to 0-based
      case None => Vector.range(0L, nSamples) // no stss: all-sync by spec
    }
    (codec, syncSamples.map(s => (s.toInt, decodeTime(s) * 1000L / timescale)))
  }

  /** Keyframe-index extraction over binary mp4 payloads — one box walk
    * per payload per partition, map-side only (the m8 batch shape).
    * `lenient` drops malformed containers.
    */
  def extractMp4Keyframes(rows: Dataset[MediaRow], spark: SparkSession,
      lenient: Boolean = false): Dataset[Mp4Keyframe] = {
    import spark.implicits._
    rows.mapPartitions { it =>
      it.flatMap { r =>
        try {
          val (codec, keys) = parseMp4Keyframes(r.payload)
          keys.iterator.map { case (s, ts) => Mp4Keyframe(r.doc_id, s, ts, codec) }
        } catch {
          case _: Exception if lenient => Iterator.empty
        }
      }
    }
  }

  // ISO-BMFF writers the synthetic MP4 generators share: a box of
  // `typ` around `body`, a full box (version + zero flags), big-endian
  // 32/64-bit fields, and the boxes every generator writes
  private def box(typ: String, body: Array[Byte]): Array[Byte] =
    be32(8L + body.length) ++ typ.getBytes("US-ASCII") ++ body
  private def fullBox(typ: String, version: Int, body: Array[Byte]): Array[Byte] =
    box(typ, Array[Byte](version.toByte, 0, 0, 0) ++ body)
  private def be32(x: Long): Array[Byte] =
    Array(((x >> 24) & 0xff).toByte, ((x >> 16) & 0xff).toByte,
      ((x >> 8) & 0xff).toByte, (x & 0xff).toByte)
  private def be64(x: Long): Array[Byte] = be32(x >> 32) ++ be32(x & 0xffffffffL)

  /** The 20-byte `ftyp` every fixture mp4 opens with: brand isom, minor
    * version 0x200, compatible brand isom.
    */
  private val ftyp =
    box("ftyp", "isom".getBytes("US-ASCII") ++ be32(0x200) ++ "isom".getBytes("US-ASCII"))

  /** mvhd in full-box version `v` (v1: 64-bit times), rate 1.0. */
  private def mvhd(v: Int, timescale: Long, duration: Long, nextTrackId: Long): Array[Byte] =
    fullBox("mvhd", v,
      (if (v == 1) be64(0) ++ be64(0) ++ be32(timescale) ++ be64(duration)
       else be32(0) ++ be32(0) ++ be32(timescale) ++ be32(duration)) ++
        be32(0x00010000) ++ Array.fill[Byte](2 + 10 + 36 + 24)(0) ++ be32(nextTrackId))

  /** One trak: a version-`v` tkhd with `w`×`h` as 16.16 fixed point, then
    * mdia holding a version-0 mdhd and minf → stbl around `stblBody`.
    */
  private def trak(v: Int, trackId: Long, timescale: Long, duration: Long, w: Long, h: Long,
      stblBody: Array[Byte]): Array[Byte] = {
    val tkhd = fullBox("tkhd", v,
      (if (v == 1) be64(0) ++ be64(0) ++ be32(trackId) ++ be32(0) ++ be64(duration)
       else be32(0) ++ be32(0) ++ be32(trackId) ++ be32(0) ++ be32(duration)) ++
        Array.fill[Byte](8 + 2 + 2 + 2 + 2 + 36)(0) ++ be32(w << 16) ++ be32(h << 16))
    val mdhd = fullBox("mdhd", 0,
      be32(0) ++ be32(0) ++ be32(timescale) ++ be32(duration) ++ Array[Byte](0, 0, 0, 0))
    box("trak", tkhd ++ box("mdia", mdhd ++ box("minf", box("stbl", stblBody))))
  }

  /** stsd with one `fourcc` sample entry (6 reserved + 2 data_ref_idx). */
  private def stsd(fourcc: String): Array[Byte] =
    fullBox("stsd", 0, be32(1) ++ box(fourcc, Array.fill[Byte](8)(0)))

  /** Deterministic REAL mp4 (ISO-BMFF) payloads derived purely from doc
    * ids: a structurally honest `ftyp` + `moov`(`mvhd` + n×`trak`) tree
    * with correct box sizes. Movie timescale is `600·(1 + id % 3)`,
    * duration `(1 + id % 8)·timescale/2` units (= exactly
    * `500·(1 + id % 8)` ms — the fixture keeps duration·1000 divisible
    * by timescale so the oracle replays the arithmetic in SQL integers).
    * `1 + id % 3` tracks: track 0 is the video track (tkhd 16.16 dims
    * `16·(1 + id % 8) × 16·(1 + id % 6)`, stsd codec fourcc cycling
    * avc1/hvc1/vp09/av01 by `id % 4`); further tracks are audio-shaped
    * (zero dims, `mp4a`). mvhd and tkhd alternate version 0/1 by id
    * parity, exercising both full-box layouts. Every 11th payload is
    * truncated to 8 bytes for the `lenient` drop path.
    */
  def syntheticMp4s(documents: DataFrame): Dataset[MediaRow] =
    fixtureRows(documents, "video/mp4", corruptEvery = 11) { id =>
      val v = (id % 2).toInt // full-box version for mvhd/tkhd
      val timescale = 600L * (1 + id % 3)
      val duration = (1 + id % 8) * timescale / 2
      val nTracks = (1 + id % 3).toInt
      val codec = Seq("avc1", "hvc1", "vp09", "av01")((id % 4).toInt)
      val tracks = (0 until nTracks).map { i =>
        if (i == 0) trak(v, 1, timescale, duration, 16 * (1 + id % 8), 16 * (1 + id % 6), stsd(codec))
        else trak(v, i + 1, timescale, duration, 0, 0, stsd("mp4a"))
      }.reduce(_ ++ _)
      ftyp ++ box("moov", mvhd(v, timescale, duration, nTracks + 1L) ++ tracks)
    }

  /** Deterministic REAL JPEG-track mp4s derived purely from doc ids:
    * `ftyp` + `mdat` holding `1 + id % 5` solid-color frames + a `moov`
    * whose single video trak carries REAL sample tables — per-sample
    * `stsz` sizes, 2-samples-per-chunk `stsc` runs (odd frame counts
    * leave a 1-sample tail chunk, exercising the run-length encoding),
    * and absolute chunk offsets as 32-bit `stco` (even ids) or 64-bit
    * `co64` (odd ids); mvhd/tkhd alternate full-box version 0/1 by id
    * parity like [[syntheticMp4s]]. The stsd fourcc is `jpeg`; frame f is
    * `(1 + id % 8) × (1 + id % 6)` with RGB channels
    * `((id + 11f) % 256, (7id + 5f) % 256, (13id + 3f) % 256)` —
    * per-frame colors prove the walk reads each sample's exact byte
    * range, and PNG-encoded frames keep the fixture LOSSLESS (imageio
    * sniffs sample content, the m6/m7 pattern; real JPEG samples take
    * the identical path — MediaSpec covers one). Every 13th payload
    * truncates to 8 bytes for the `lenient` drop path.
    */
  def syntheticJpegMp4s(documents: DataFrame): Dataset[MediaRow] =
    fixtureRows(documents, "video/mp4", corruptEvery = 13) { id =>
      val v = (id % 2).toInt // full-box version for mvhd/tkhd
      val nFrames = (1 + id % 5).toInt
      val frames = Vector.tabulate(nFrames) { f =>
        val rgb = ((((id + 11 * f) % 256) << 16) |
          (((id * 7 + 5 * f) % 256) << 8) | ((id * 13 + 3 * f) % 256)).toInt
        solidPng((1 + id % 8).toInt, (1 + id % 6).toInt, rgb)
      }

      // layout: ftyp + mdat header (8 B) + concatenated frames, chunked
      // 2 samples per chunk → absolute chunk offsets
      val sampleOffsets = frames.scanLeft(ftyp.length + 8L)(_ + _.length)
      val nChunks = (nFrames + 1) / 2
      val chunkOffsets = Vector.tabulate(nChunks)(c => sampleOffsets(2 * c))

      val duration = 100L * nFrames
      val stsz = fullBox("stsz", 0,
        be32(0) ++ be32(nFrames.toLong) ++
          frames.map(fr => be32(fr.length.toLong)).foldLeft(Array.empty[Byte])(_ ++ _))
      // runs: (1, 2) and, when the frame count is odd, a (last, 1) tail
      val stscRuns =
        if (nFrames == 1) Vector((1L, 1L))
        else if (nFrames % 2 == 0) Vector((1L, 2L))
        else Vector((1L, 2L), (nChunks.toLong, 1L))
      val stsc = fullBox("stsc", 0,
        be32(stscRuns.size.toLong) ++ stscRuns
          .map { case (first, per) => be32(first) ++ be32(per) ++ be32(1L) }
          .foldLeft(Array.empty[Byte])(_ ++ _))
      val chunkBox =
        if (id % 2 == 0)
          fullBox("stco", 0, be32(nChunks.toLong) ++
            chunkOffsets.map(be32).foldLeft(Array.empty[Byte])(_ ++ _))
        else
          fullBox("co64", 0, be32(nChunks.toLong) ++
            chunkOffsets.map(be64).foldLeft(Array.empty[Byte])(_ ++ _))
      ftyp ++ box("mdat", frames.foldLeft(Array.empty[Byte])(_ ++ _)) ++
        box("moov", mvhd(v, 600, duration, 2) ++
          trak(v, 1, 600, duration, 16 * (1 + id % 8), 16 * (1 + id % 6),
            stsd("jpeg") ++ stsz ++ stsc ++ chunkBox))
    }

  /** Deterministic mp4s with REAL `stts` + `stss` timing/sync tables
    * over an INTER-FRAME codec track (fourcc cycling avc1/hvc1/vp09/av01
    * by `id % 4` — the codecs whose sample bytes need an external
    * decoder, exactly where a keyframe index matters): one video trak
    * (tkhd dims 16×16, mdhd timescale 600) carrying `4 + id % 6` samples
    * timed by a two-run stts — the first 3 samples last 600 units (1 s),
    * the rest 300 (500 ms) — so sample s decodes at
    * `1000·s` ms for s ≤ 3 and `3000 + 500·(s−3)` ms after, exact in
    * integer SQL. Sync samples are every `2 + id % 3`rd starting at
    * sample 0 (stss is 1-based on the wire); ids ≡ 0 mod 5 OMIT stss —
    * the all-intra form the spec defines as every-sample-sync — and
    * every 11th payload truncates to 8 bytes for the `lenient` drop
    * path. No mdat/stsz/stco: a keyframe INDEX is pure moov metadata,
    * which is the point.
    */
  def syntheticSyncMp4s(documents: DataFrame): Dataset[MediaRow] =
    fixtureRows(documents, "video/mp4", corruptEvery = 11) { id =>
      val nSamples = (4 + id % 6).toInt
      val stride = (2 + id % 3).toInt
      val codec = Seq("avc1", "hvc1", "vp09", "av01")((id % 4).toInt)
      val duration = 3 * 600L + (nSamples - 3) * 300L
      val stts = fullBox("stts", 0,
        be32(2L) ++ be32(3L) ++ be32(600L) ++
          be32(nSamples - 3L) ++ be32(300L))
      val syncs = Vector.range(0, nSamples, stride).map(_ + 1L) // 1-based
      val stssOpt =
        if (id % 5 == 0) Array.empty[Byte] // all-intra: no stss at all
        else fullBox("stss", 0,
          be32(syncs.size.toLong) ++
            syncs.map(be32).foldLeft(Array.empty[Byte])(_ ++ _))
      ftyp ++ box("moov", mvhd(0, 600, duration, 2) ++
        trak(0, 1, 600, duration, 16, 16, stsd(codec) ++ stts ++ stssOpt))
    }

  // ------------------------------------------------------------ PNG chunks

  /** Pure-JDK PNG chunk walker — the STRUCTURAL metadata pass (ISO/IEC
    * 15948 §5): signature check, then `length + type + data + crc` chunks
    * walked end to end. Returns the IHDR geometry fields (width, height,
    * bit depth, color type, interlace), the chunk count, total IDAT
    * payload bytes, and every `tEXt` keyword=value pair joined with ';'
    * — the governance metadata (dimension gates, text-annotation
    * harvesting, truncation detection) a corpus pipeline wants BEFORE
    * paying for pixel decode, the same metadata-before-decode posture as
    * [[parseMp4Meta]]. CRCs are read past, not validated — a metadata
    * pass must classify, not certify. Bad signature, truncated chunk,
    * missing IHDR, or a stream not ending in IEND THROW
    * IllegalArgumentException; `lenient` extraction drops them.
    */
  private[multimodal] def parsePngMeta(payload: Array[Byte]): (Int, Int, Int, Int, Int, Int, Long, String) = {
    def bad(msg: String) = throw new IllegalArgumentException(
      s"payload is not a parseable PNG ($msg, ${payload.length} bytes)")
    val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    if (payload.length < 8 + 25 || !payload.take(8).sameElements(sig)) bad("magic")
    def u32(o: Int): Long = {
      if (o + 4 > payload.length) bad(s"truncated u32 at $o")
      (payload(o) & 0xffL) << 24 | (payload(o + 1) & 0xffL) << 16 |
        (payload(o + 2) & 0xffL) << 8 | (payload(o + 3) & 0xffL)
    }
    var (w, h, depth, colorType, interlace) = (0, 0, 0, 0, 0)
    var (nChunks, idatBytes) = (0, 0L)
    val texts = Vector.newBuilder[String]
    var o = 8
    var sawIend = false
    while (o < payload.length && !sawIend) {
      val len = u32(o).toInt
      if (o + 12 + len > payload.length || len < 0) bad(s"truncated chunk at $o")
      val typ = new String(payload, o + 4, 4, "US-ASCII")
      val data = o + 8
      nChunks += 1
      typ match {
        case "IHDR" =>
          if (nChunks != 1 || len < 13) bad("IHDR not first or short")
          w = u32(data).toInt; h = u32(data + 4).toInt
          depth = payload(data + 8) & 0xff; colorType = payload(data + 9) & 0xff
          interlace = payload(data + 12) & 0xff
        case "IDAT" => idatBytes += len
        case "tEXt" =>
          // keyword NUL text, both Latin-1 (§11.3.3.3)
          val nul = (data until data + len).find(payload(_) == 0).getOrElse(data + len)
          texts += new String(payload, data, nul - data, "ISO-8859-1") + "=" +
            new String(payload, nul + 1, data + len - nul - 1, "ISO-8859-1")
        case "IEND" => sawIend = true
        case _ => ()
      }
      o += 12 + len
    }
    if (nChunks == 0 || w == 0) bad("no IHDR")
    if (!sawIend) bad("no IEND")
    (w, h, depth, colorType, interlace, nChunks, idatBytes, texts.result().mkString(";"))
  }

  /** PNG structural metadata over binary payloads — one chunk walk per
    * payload per partition, map-side only (the m8 batch shape); `lenient`
    * drops malformed containers.
    */
  def extractPngMeta(rows: Dataset[MediaRow], spark: SparkSession,
      lenient: Boolean = false): Dataset[PngMeta] = {
    import spark.implicits._
    rows.mapPartitions { it =>
      it.flatMap { r =>
        try {
          val (w, h, d, c, i, n, idat, txt) = parsePngMeta(r.payload)
          Iterator.single(PngMeta(r.doc_id, w, h, d, c, i, n, idat, txt))
        } catch {
          case _: Exception if lenient => Iterator.empty
        }
      }
    }
  }

  /** The [[syntheticPngs]] fixtures with a REAL `tEXt` chunk
    * (`doc=<id>`, correct CRC32) spliced in before IEND — so the chunk
    * walker's text harvesting is oracle-checkable, not just the IHDR
    * geometry. Every 7th payload truncates to its 8-byte magic for the
    * `lenient` drop path, as in the base fixture.
    */
  def syntheticAnnotatedPngs(documents: DataFrame): Dataset[MediaRow] =
    fixtureRows(documents, "image/png", corruptEvery = 7) { id =>
      val png = solidPng((1 + id % 8).toInt, (1 + id % 6).toInt, docRgb(id))
      val text = Png.chunk("tEXt", "doc".getBytes("ISO-8859-1") ++ Array(0.toByte) ++
        id.toString.getBytes("ISO-8859-1"))
      // IEND is always the trailing 12 bytes; splice the tEXt before it
      png.dropRight(12) ++ text ++ png.takeRight(12)
    }

  /** Resize planning: target dimensions preserving aspect ratio, never
    * upscaling — the metadata half of image resize, pure codegen'd
    * arithmetic over the decoded (width, height). The pixel transform
    * itself belongs to the Decoder implementation (stubbed here — no
    * codecs in this container); a pipeline partitions/batches on these
    * planned dimensions before the expensive pixel pass.
    */
  def resizePlan(decoded: DataFrame, maxDim: Int = 224): DataFrame =
    decoded
      .withColumn("scale",
        least(lit(1.0), lit(maxDim.toDouble) /
          greatest(col("width"), col("height")).cast("double")))
      // the least(maxDim) clamp is load-bearing: ceil(side * (maxDim /
      // side)) can land one past maxDim when the IEEE product rounds up
      // (293 * (224.0/293) = 224.00000000000003 → ceil 225); at scale=1
      // both sides are already ≤ maxDim so the clamp never distorts
      .withColumn("out_width",
        least(ceil(col("width") * col("scale")), lit(maxDim.toLong)).cast("int"))
      .withColumn("out_height",
        least(ceil(col("height") * col("scale")), lit(maxDim.toLong)).cast("int"))
}
