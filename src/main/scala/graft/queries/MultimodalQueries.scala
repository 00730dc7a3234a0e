package graft.queries

import org.apache.spark.sql.functions._
import graft.queries.Q.t

/** Multimodal-column plumbing: media payloads are opaque `binary` columns
  * with typed metadata travelling beside them. The decode/feature-extract
  * kernels live in graft.multimodal (mapPartitions over a typed Dataset;
  * image and WAV decode are REAL — JDK javax.imageio /
  * javax.sound.sampled — video is the one declared stub); the queries
  * here prove the relational side — binary construction, byte-length/hash
  * metadata, deterministic chunk sampling — and, in m4/m5, the real image
  * and audio decode paths themselves, against the oracle.
  *
  * The `documents` text is ASCII by construction, so utf8-encode is
  * byte-exact in both engines.
  */
object MultimodalQueries {

  /** Binary payload metadata: byte length, content hash, and a "thumbnail"
    * hash over a fixed-offset sample — the shape of image-metadata
    * extraction without the codec. All codegen'd; the binary column never
    * leaves the JVM.
    */
  val blobMeta: Q = Q(
    "m1_blob_meta",
    """SELECT doc_id, length(text) AS n_bytes, md5(text) AS blob_md5,
      |  md5(substr(text, 1, 16)) AS thumb_md5
      |FROM documents""".stripMargin) { (s, dir) =>
    val blob = col("text").cast("binary")
    t(s, dir, "documents").select(
      col("doc_id"),
      length(blob).as("n_bytes"),
      md5(blob).as("blob_md5"),
      md5(substring(blob, 1, 16)).as("thumb_md5"))
  }

  /** Fixed-size chunking of a binary payload (frame-sampling shape):
    * explode each blob into 64-byte chunks with (doc_id, chunk_no, hash).
    * The explode is map-side; downstream shuffles see only (id, no, hash).
    */
  val blobChunks: Q = Q(
    "m2_blob_chunks",
    """SELECT doc_id, CAST(i AS INT) AS chunk_no,
      |  md5(substr(text, (i - 1) * 64 + 1, 64)) AS chunk_md5
      |FROM (SELECT doc_id, text, unnest(range(1, CAST(ceil(length(text) / 64.0) AS BIGINT) + 1)) AS i
      |      FROM documents)""".stripMargin) { (s, dir) =>
    val nChunks = ceil(length(col("text")) / 64.0).cast("int")
    t(s, dir, "documents")
      .select(col("doc_id"), col("text"), explode(sequence(lit(1), nChunks)).as("i"))
      .select(
        col("doc_id"),
        col("i").as("chunk_no"),
        md5(col("text").substr(lit(1) + (col("i") - 1) * 64, lit(64)).cast("binary")).as("chunk_md5"))
  }

  /** Resize planning over the REAL decode path (Media.payloads →
    * per-partition extractFeatures with the stub decoder → resizePlan):
    * target dims preserve aspect ratio and never upscale. The oracle
    * replays the stub's deterministic dimension formula and the identical
    * resize arithmetic, so the whole mapPartitions plumbing is
    * driver-checked, not just spec'd.
    */
  val resizePlan: Q = Q(
    "m3_resize_plan",
    """SELECT doc_id, media_type, width, height, round(scale, 6) AS scale,
      |  CAST(least(ceil(width * scale), 32) AS INT) AS out_width,
      |  CAST(least(ceil(height * scale), 32) AS INT) AS out_height
      |FROM (SELECT doc_id, media_type, width, height,
      |        least(1.0, 32.0 / greatest(width, height)) AS scale
      |      FROM (SELECT doc_id,
      |              CASE WHEN doc_id % 3 = 0 THEN 'image/png'
      |                   WHEN doc_id % 3 = 1 THEN 'audio/wav'
      |                   ELSE 'video/mp4' END AS media_type,
      |              1 + length(text) % 64 AS width,
      |              1 + length(text) % 48 AS height
      |            FROM documents))""".stripMargin) { (s, dir) =>
    import s.implicits._
    val rows = graft.multimodal.Media.payloads(t(s, dir, "documents"))
      .as[graft.multimodal.MediaRow]
    val decoded = graft.multimodal.Media
      .extractFeatures(rows, graft.multimodal.Media.StubDecoder, s).toDF()
    graft.multimodal.Media.resizePlan(decoded, maxDim = 32)
      .select(col("doc_id"), col("media_type"), col("width"), col("height"),
        round(col("scale"), 6).as("scale"), col("out_width"), col("out_height"))
  }

  /** REAL image decode inside the driver-checked surface: deterministic
    * solid-color PNGs generated from doc ids (Media.syntheticPngs), every
    * 7th payload truncated/corrupt, decoded per-partition with the real
    * javax.imageio decoder in `lenient` mode — corrupt blobs are DROPPED,
    * not fatal, and the oracle's `doc_id % 7 <> 0` asserts exactly that
    * drop set. Solid color makes mean-RGB recover the channel bytes
    * exactly (`round(mean·255)`), so the whole encode → decode →
    * feature-extract pipeline is hash-checked against pure SQL arithmetic
    * even though PNG bytes themselves are codec-version-dependent.
    */
  val decodeFeatures: Q = Q(
    "m4_decode_features",
    """SELECT doc_id,
      |  CAST(1 + doc_id % 8 AS INT) AS width,
      |  CAST(1 + doc_id % 6 AS INT) AS height,
      |  CAST(doc_id % 256 AS INT) AS mean_r,
      |  CAST((doc_id * 7) % 256 AS INT) AS mean_g,
      |  CAST((doc_id * 13) % 256 AS INT) AS mean_b
      |FROM documents WHERE doc_id % 7 <> 0""".stripMargin) { (s, dir) =>
    val rows = graft.multimodal.Media.syntheticPngs(t(s, dir, "documents"))
    graft.multimodal.Media
      .extractFeatures(rows, new graft.multimodal.Media.ImageIoDecoder, s, lenient = true)
      .toDF()
      .select(col("doc_id"), col("width"), col("height"),
        round(element_at(col("feature"), 1).cast("double") * 255).cast("int").as("mean_r"),
        round(element_at(col("feature"), 2).cast("double") * 255).cast("int").as("mean_g"),
        round(element_at(col("feature"), 3).cast("double") * 255).cast("int").as("mean_b"))
  }

  /** REAL WAV/PCM audio decode inside the driver-checked surface:
    * deterministic square-wave WAVs generated from doc ids
    * (Media.syntheticWavs — bit-deterministic hand-rolled RIFF
    * container), every 5th payload truncated/corrupt, decoded
    * per-partition with the real javax.sound.sampled decoder in
    * `lenient` mode (corrupt blobs DROPPED; the oracle's
    * `doc_id % 5 <> 0` asserts exactly that drop set). Amplitude, sample
    * count and flip period are all dyadic, so duration / mean|amp| / RMS
    * are bit-exact against pure SQL arithmetic, and the zero-crossing
    * COUNT is recovered exactly from the float rate via
    * `round(zcr · (frames − 1))` — frames − 1 ≤ 511 keeps the float
    * round-trip error far under the rounding threshold.
    */
  val audioFeatures: Q = Q(
    "m5_audio_features",
    """SELECT doc_id,
      |  CAST(1024 AS INT) AS sample_rate,
      |  CAST(1 AS INT) AS channels,
      |  CAST(64 * (1 + doc_id % 8) AS DOUBLE) / 1024 AS duration,
      |  CAST(1 + doc_id % 16 AS DOUBLE) / 32 AS mean_abs,
      |  CAST(1 + doc_id % 16 AS DOUBLE) / 32 AS rms,
      |  CAST(64 * (1 + doc_id % 8)
      |       // (CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 4 END)
      |       - 1 AS BIGINT) AS crossings
      |FROM documents WHERE doc_id % 5 <> 0""".stripMargin) { (s, dir) =>
    val rows = graft.multimodal.Media.syntheticWavs(t(s, dir, "documents"))
    val feats = graft.multimodal.Media
      .extractFeatures(rows, new graft.multimodal.Media.WavDecoder(), s, lenient = true)
      .toDF()
    val duration = element_at(col("feature"), 1).cast("double")
    val frames = round(duration * col("width"))
    feats.select(
      col("doc_id"),
      col("width").as("sample_rate"),
      col("height").as("channels"),
      duration.as("duration"),
      element_at(col("feature"), 2).cast("double").as("mean_abs"),
      element_at(col("feature"), 3).cast("double").as("rms"),
      round(element_at(col("feature"), 4).cast("double") * (frames - 1))
        .cast("bigint").as("crossings"))
  }

  /** REAL MJPEG/AVI video decode inside the driver-checked surface:
    * deterministic RIFF/AVI containers generated from doc ids
    * (Media.syntheticAvis — LIST hdrl/movi structure, word-aligned
    * chunks, `1 + id % 4` solid-color PNG frames so the fixture is
    * lossless), every 9th payload truncated/corrupt, decoded
    * per-partition by the real RIFF-walking MjpegAviDecoder in `lenient`
    * mode (corrupt blobs DROPPED; the oracle's `doc_id % 9 <> 0`
    * asserts exactly that drop set). Frame-0 mean-RGB recovers the
    * channel bytes exactly, m4-style, and the frame count comes back
    * through the feature vector.
    */
  val videoFeatures: Q = Q(
    "m6_video_features",
    """SELECT doc_id,
      |  CAST(1 + doc_id % 8 AS INT) AS width,
      |  CAST(1 + doc_id % 6 AS INT) AS height,
      |  CAST(1 + doc_id % 4 AS INT) AS n_frames,
      |  CAST(doc_id % 256 AS INT) AS mean_r,
      |  CAST((doc_id * 7) % 256 AS INT) AS mean_g,
      |  CAST((doc_id * 13) % 256 AS INT) AS mean_b
      |FROM documents WHERE doc_id % 9 <> 0""".stripMargin) { (s, dir) =>
    val rows = graft.multimodal.Media.syntheticAvis(t(s, dir, "documents"))
    graft.multimodal.Media
      .extractFeatures(rows, new graft.multimodal.Media.MjpegAviDecoder(), s,
        lenient = true)
      .toDF()
      .select(col("doc_id"), col("width"), col("height"),
        element_at(col("feature"), 1).cast("int").as("n_frames"),
        round(element_at(col("feature"), 2).cast("double") * 255).cast("int").as("mean_r"),
        round(element_at(col("feature"), 3).cast("double") * 255).cast("int").as("mean_g"),
        round(element_at(col("feature"), 4).cast("double") * 255).cast("int").as("mean_b"))
  }

  /** REAL frame sampling from the AVI fixtures (Media.extractVideoFrames,
    * stride 2): every other frame of each container decodes to per-frame
    * features — one row per (doc, sampled frame). The fixture's frames
    * are identical solid-color PNGs, so every sampled frame recovers the
    * doc's channel bytes exactly and the sampled frame numbers are the
    * arithmetic sequence 0, 2, … below `1 + id % 4`, which the oracle
    * replays with generate_series.
    */
  val frameFeatures: Q = Q(
    "m7_frame_features",
    """SELECT doc_id,
      |  CAST(f AS INT) AS frame_no,
      |  CAST(1 + doc_id % 8 AS INT) AS width,
      |  CAST(1 + doc_id % 6 AS INT) AS height,
      |  CAST(doc_id % 256 AS INT) AS mean_r,
      |  CAST((doc_id * 7) % 256 AS INT) AS mean_g,
      |  CAST((doc_id * 13) % 256 AS INT) AS mean_b
      |FROM documents, unnest(range(0, 1 + doc_id % 4, 2)) AS t(f)
      |WHERE doc_id % 9 <> 0""".stripMargin) { (s, dir) =>
    val rows = graft.multimodal.Media.syntheticAvis(t(s, dir, "documents"))
    graft.multimodal.Media.extractVideoFrames(rows, s, frameStride = 2, lenient = true)
      .toDF()
      .select(col("doc_id"), col("frame_no"), col("width"), col("height"),
        round(element_at(col("feature"), 1).cast("double") * 255).cast("int").as("mean_r"),
        round(element_at(col("feature"), 2).cast("double") * 255).cast("int").as("mean_g"),
        round(element_at(col("feature"), 3).cast("double") * 255).cast("int").as("mean_b"))
  }

  /** REAL ISO-BMFF (mp4) metadata parse inside the driver-checked
    * surface: deterministic hand-rolled mp4 box trees generated from doc
    * ids (Media.syntheticMp4s — ftyp + moov/mvhd/trak/tkhd/mdia/mdhd/
    * stsd with correct sizes, mvhd+tkhd alternating version 0/1 by id
    * parity), every 11th payload truncated/corrupt, parsed per-partition
    * by the pure-JDK box walker in `lenient` mode (corrupt payloads
    * DROPPED; the oracle's `doc_id % 11 <> 0` asserts exactly that drop
    * set). The fixture keeps duration·1000 divisible by the movie
    * timescale, so duration_ms, timescale, track count, video-track
    * dimensions and codec fourcc are all replayed by pure SQL integer
    * arithmetic.
    */
  val mp4Meta: Q = Q(
    "m8_mp4_meta",
    """SELECT doc_id,
      |  CAST(500 * (1 + doc_id % 8) AS BIGINT) AS duration_ms,
      |  CAST(600 * (1 + doc_id % 3) AS INT) AS timescale,
      |  CAST(1 + doc_id % 3 AS INT) AS n_tracks,
      |  CAST(16 * (1 + doc_id % 8) AS INT) AS width,
      |  CAST(16 * (1 + doc_id % 6) AS INT) AS height,
      |  CASE doc_id % 4 WHEN 0 THEN 'avc1' WHEN 1 THEN 'hvc1'
      |       WHEN 2 THEN 'vp09' ELSE 'av01' END AS codec
      |FROM documents WHERE doc_id % 11 <> 0""".stripMargin) { (s, dir) =>
    val rows = graft.multimodal.Media.syntheticMp4s(t(s, dir, "documents"))
    graft.multimodal.Media.extractMp4Meta(rows, s, lenient = true).toDF()
  }

  /** REAL mp4 DEMUX + frame decode inside the driver-checked surface:
    * deterministic JPEG-track mp4s generated from doc ids
    * (Media.syntheticJpegMp4s — ftyp + mdat + moov whose video trak
    * carries real stsz/stsc/stco|co64 sample tables, 2 samples per chunk
    * with an odd-count tail chunk, 32-bit stco on even ids and 64-bit
    * co64 on odd), every 13th payload truncated/corrupt, demuxed and
    * decoded per-partition by Media.extractMp4Frames (sample-table walk →
    * per-frame byte range → imageio) at stride 2 in `lenient` mode (the
    * oracle's `doc_id % 13 <> 0` asserts exactly that drop set). Frame f
    * has per-frame planted channels `((id + 11f) % 256, (7id + 5f) % 256,
    * (13id + 3f) % 256)` — DIFFERENT per sample, so a misread byte range
    * (wrong chunk offset, wrong size cursor, swapped run) decodes the
    * wrong color and hash-fails; the sampled frame numbers are the
    * arithmetic sequence 0, 2, … below `1 + id % 5`, replayed by
    * generate_series.
    */
  val mp4Frames: Q = Q(
    "m9_mp4_frames",
    """SELECT doc_id,
      |  CAST(f AS INT) AS frame_no,
      |  CAST(1 + doc_id % 8 AS INT) AS width,
      |  CAST(1 + doc_id % 6 AS INT) AS height,
      |  CAST((doc_id + 11 * f) % 256 AS INT) AS mean_r,
      |  CAST((doc_id * 7 + 5 * f) % 256 AS INT) AS mean_g,
      |  CAST((doc_id * 13 + 3 * f) % 256 AS INT) AS mean_b
      |FROM documents, unnest(range(0, 1 + doc_id % 5, 2)) AS t(f)
      |WHERE doc_id % 13 <> 0""".stripMargin) { (s, dir) =>
    val rows = graft.multimodal.Media.syntheticJpegMp4s(t(s, dir, "documents"))
    graft.multimodal.Media.extractMp4Frames(rows, s, frameStride = 2, lenient = true)
      .toDF()
      .select(col("doc_id"), col("frame_no"), col("width"), col("height"),
        round(element_at(col("feature"), 1).cast("double") * 255).cast("int").as("mean_r"),
        round(element_at(col("feature"), 2).cast("double") * 255).cast("int").as("mean_g"),
        round(element_at(col("feature"), 3).cast("double") * 255).cast("int").as("mean_b"))
  }

  /** REAL Matroska/webm (EBML, RFC 8794) metadata parse inside the
    * driver-checked surface — the other container family beside m8's
    * ISO-BMFF: deterministic hand-rolled EBML trees generated from doc
    * ids (Matroska.syntheticMkvs — EBML header + Segment(Info + Tracks)
    * with correct VINT framing; ids ≡ 0 mod 5 use an UNKNOWN-size
    * Segment, the live-mux form), every 9th payload truncated/corrupt,
    * parsed per-partition by the pure-JDK EBML walker in `lenient` mode
    * (the oracle's `doc_id % 9 <> 0` asserts exactly that drop set).
    * Duration is stored as an 8-byte float of integer units so
    * duration_ms replays in pure SQL integer arithmetic.
    */
  val mkvMeta: Q = Q(
    "m10_mkv_meta",
    """SELECT doc_id,
      |  CAST(250 * (1 + doc_id % 8) * (1 + doc_id % 4) AS BIGINT) AS duration_ms,
      |  CAST(1000000 * (1 + doc_id % 4) AS BIGINT) AS timescale_ns,
      |  CAST(1 + doc_id % 3 AS INT) AS n_tracks,
      |  CAST(8 * (1 + doc_id % 7) AS INT) AS width,
      |  CAST(8 * (1 + doc_id % 5) AS INT) AS height,
      |  CASE doc_id % 3 WHEN 0 THEN 'V_VP9' WHEN 1 THEN 'V_MPEG4/ISO/AVC'
      |       ELSE 'V_AV1' END AS codec
      |FROM documents WHERE doc_id % 9 <> 0""".stripMargin) { (s, dir) =>
    val rows = graft.multimodal.Matroska.syntheticMkvs(t(s, dir, "documents"))
    graft.multimodal.Matroska.extractMkvMeta(rows, s, lenient = true).toDF()
  }

  /** REAL mkv DEMUX + frame decode inside the driver-checked surface —
    * the EBML twin of m9: deterministic MJPEG-track mkvs generated from
    * doc ids (Matroska.syntheticMjpegMkvs — Segment whose Clusters carry
    * real video frames as SimpleBlocks on even ids and
    * Block-in-BlockGroup on odd, interleaved with junk audio blocks the
    * demux must skip by track number, split across two Clusters past two
    * frames), every 9th payload truncated/corrupt, demuxed and decoded
    * per-partition by Matroska.extractMkvFrames (Cluster block walk →
    * per-frame byte range → imageio) at stride 2 in `lenient` mode (the
    * oracle's `doc_id % 9 <> 0` asserts exactly that drop set). Frame f
    * has per-frame planted channels `((id + 11f) % 256, (7id + 5f) % 256,
    * (13id + 3f) % 256)` — different per block, so a misread range
    * (wrong cluster, wrong lacing skip, audio bytes) decodes the wrong
    * color and hash-fails; the sampled frame numbers are the arithmetic
    * sequence 0, 2, … below `1 + id % 5`, replayed by generate_series.
    */
  val mkvFrames: Q = Q(
    "m11_mkv_frames",
    """SELECT doc_id,
      |  CAST(f AS INT) AS frame_no,
      |  CAST(1 + doc_id % 7 AS INT) AS width,
      |  CAST(1 + doc_id % 6 AS INT) AS height,
      |  CAST((doc_id + 11 * f) % 256 AS INT) AS mean_r,
      |  CAST((doc_id * 7 + 5 * f) % 256 AS INT) AS mean_g,
      |  CAST((doc_id * 13 + 3 * f) % 256 AS INT) AS mean_b
      |FROM documents, unnest(range(0, 1 + doc_id % 5, 2)) AS t(f)
      |WHERE doc_id % 9 <> 0""".stripMargin) { (s, dir) =>
    val rows = graft.multimodal.Matroska.syntheticMjpegMkvs(t(s, dir, "documents"))
    graft.multimodal.Matroska.extractMkvFrames(rows, s, frameStride = 2, lenient = true)
      .toDF()
      .select(col("doc_id"), col("frame_no"), col("width"), col("height"),
        round(element_at(col("feature"), 1).cast("double") * 255).cast("int").as("mean_r"),
        round(element_at(col("feature"), 2).cast("double") * 255).cast("int").as("mean_g"),
        round(element_at(col("feature"), 3).cast("double") * 255).cast("int").as("mean_b"))
  }

  /** PNG STRUCTURAL metadata inside the driver-checked surface — the
    * chunk-walk governance pass that reads geometry and text annotations
    * WITHOUT pixel decode (m8's metadata-before-decode posture applied
    * to the image family): the m4 solid-color fixtures with a real
    * `tEXt doc=<id>` chunk (correct CRC32) spliced before IEND
    * (Media.syntheticAnnotatedPngs), every 7th payload truncated/corrupt,
    * walked per-partition by Media.parsePngMeta in `lenient` mode (the
    * oracle's `doc_id % 7 <> 0` asserts exactly that drop set). The
    * IHDR fields are imageio-encoder facts the walker must read from
    * real bytes — 8-bit depth, truecolor type 2, no interlace — and
    * text_meta proves the spliced chunk is both walked and parsed.
    * Chunk count and IDAT byte total are encoder-dependent, so they stay
    * out of the oracle columns and are spec-locked instead (MediaSpec).
    */
  val pngMeta: Q = Q(
    "m12_png_meta",
    """SELECT doc_id,
      |  CAST(1 + doc_id % 8 AS INT) AS width,
      |  CAST(1 + doc_id % 6 AS INT) AS height,
      |  CAST(8 AS INT) AS bit_depth,
      |  CAST(2 AS INT) AS color_type,
      |  CAST(0 AS INT) AS interlace,
      |  'doc=' || doc_id AS text_meta
      |FROM documents WHERE doc_id % 7 <> 0""".stripMargin) { (s, dir) =>
    val rows = graft.multimodal.Media.syntheticAnnotatedPngs(t(s, dir, "documents"))
    graft.multimodal.Media.extractPngMeta(rows, s, lenient = true).toDF()
      .select(col("doc_id"), col("width"), col("height"), col("bit_depth"),
        col("color_type"), col("interlace"), col("text_meta"))
  }

  /** WARC record extraction (sources/Warc.scala): documents are packed
    * 16-per-file into deterministic WARC files — warcinfo + per-doc
    * response records (404 every 13th doc), request records interleaved
    * every 5th doc, packaging rotating plain / whole-file gzip /
    * per-record gzip members (the Common Crawl layout), and every
    * file_id % 10 == 7 file truncated mid-payload of its last record.
    * Parsed back leniently; the oracle reconstructs every WARC and HTTP
    * field relationally — Content-Length via octet_length of the exact
    * HTTP header string plus the body, the lenient drop as "the corrupt
    * file's max doc_id loses its response row (but keeps its request
    * row, which precedes the cut)". Identical output across the three
    * packagings IS part of the check: one gzip path diverging would
    * break row counts per file.
    */
  val warcRecords: Q = Q(
    "m13_warc_records",
    """WITH d AS (SELECT doc_id, doc_id // 16 AS file_id, text FROM documents),
      |mx AS (SELECT file_id, max(doc_id) AS mxid FROM d GROUP BY file_id),
      |resp AS (
      |  SELECT d.file_id, 'response' AS warc_type,
      |    'http://example.com/doc/' || CAST(d.doc_id AS VARCHAR) AS target_uri,
      |    CAST(CASE WHEN d.doc_id % 13 = 0 THEN 404 ELSE 200 END AS INT) AS http_status,
      |    CAST(strlen(
      |        (CASE WHEN d.doc_id % 13 = 0 THEN 'HTTP/1.1 404 Not Found'
      |              ELSE 'HTTP/1.1 200 OK' END) || chr(13) || chr(10) ||
      |        'Content-Type: text/html; charset=utf-8' ||
      |        chr(13) || chr(10) || chr(13) || chr(10)) +
      |      strlen(text) AS BIGINT) AS content_length,
      |    md5(text) AS body_md5
      |  FROM d JOIN mx USING (file_id)
      |  WHERE NOT (d.file_id % 10 = 7 AND d.doc_id = mx.mxid)),
      |req AS (
      |  SELECT file_id, 'request' AS warc_type,
      |    'http://example.com/doc/' || CAST(doc_id AS VARCHAR) AS target_uri,
      |    CAST(-1 AS INT) AS http_status,
      |    CAST(strlen('GET /doc/' || CAST(doc_id AS VARCHAR) ||
      |        ' HTTP/1.1' || chr(13) || chr(10) || 'Host: example.com' ||
      |        chr(13) || chr(10) || chr(13) || chr(10)) AS BIGINT) AS content_length,
      |    md5('') AS body_md5
      |  FROM d WHERE doc_id % 5 = 0),
      |info AS (
      |  SELECT DISTINCT file_id, 'warcinfo' AS warc_type, '' AS target_uri,
      |    CAST(-1 AS INT) AS http_status,
      |    CAST(strlen('software: graft' || chr(13) || chr(10)) AS BIGINT)
      |      AS content_length,
      |    md5('software: graft' || chr(13) || chr(10)) AS body_md5
      |  FROM d)
      |SELECT * FROM resp UNION ALL SELECT * FROM req UNION ALL SELECT * FROM info""".stripMargin) {
    (s, dir) =>
      val blobs = graft.sources.Warc.syntheticWarcFiles(t(s, dir, "documents"), s)
      graft.sources.Warc.extractRecords(blobs, s, lenient = true).toDF()
        .select(col("file_id"), col("warc_type"),
          coalesce(col("target_uri"), lit("")).as("target_uri"),
          col("http_status"), col("content_length"),
          md5(col("body")).as("body_md5"))
  }

  /** The dHash half-hash as DuckDB SQL: 32 gradient-comparison bits over
    * the deterministic 9×8 gradient fixture (ImageHash.gradientPng's
    * exact pixel formula), summed into a BIGINT. `ys` picks the rows,
    * `shift` the in-half bit index.
    */
  private def dhashHalfSql(ys: String, shift: String): String =
    s"""CAST(list_sum(flatten(list_transform([$ys], y ->
       |  list_transform([0,1,2,3,4,5,6,7], x ->
       |    CASE WHEN (img*31 + (x+1)*(x+1)*7 + y*y*13) % 251
       |           > (img*31 + x*x*7 + y*y*13) % 251
       |             + CASE WHEN x = 0 AND y = 0 THEN delta ELSE 0 END
       |         THEN CAST(1 AS BIGINT) << ($shift*8 + x) ELSE 0
       |    END)))) AS BIGINT)""".stripMargin

  /** REAL image decode → perceptual hash: deterministic 9×8 gradient
    * PNGs (pixel = exact integer formula of doc id), every 11th
    * truncated and DROPPED by lenient decode, hashed by
    * ImageHash.dhashDocs (real imageio decode → integer luma → box
    * resize → 64-bit difference hash). 9×8 makes the 8×8 gradient grid
    * resize-free, so DuckDB replays every bit as pure integer SQL and
    * the whole decode→hash path is hash-checked cross-engine; the box
    * RESIZE arithmetic is locked separately by ImageHashSpec's
    * hand-computed cases.
    */
  val imageDhash: Q = Q(
    "m14_image_dhash",
    s"""WITH ids AS (
       |  SELECT doc_id, doc_id AS img, 0 AS delta FROM documents
       |  WHERE doc_id % 11 <> 0)
       |SELECT doc_id,
       |  printf('%08x%08x', ${dhashHalfSql("4,5,6,7", "(y-4)")},
       |                     ${dhashHalfSql("0,1,2,3", "y")}) AS dhash
       |FROM ids""".stripMargin) { (s, dir) =>
    val rows = graft.multimodal.ImageHash
      .syntheticGradientPngs(t(s, dir, "documents"))
    graft.multimodal.ImageHash.dhashDocs(rows, s, lenient = true)
      .select(col("doc_id"), format_string("%016x", col("simhash")).as("dhash"))
  }

  /** Image NEAR-duplicate pairs: the gradient fixture plus a one-pixel-
    * perturbed planted copy of every 10th doc (id + 10⁶, hamming ≤ 1 to
    * its source), hashed as in m14 and paired by the SAME hamming-banded
    * generator the text SimHash path uses (Dedup.simhashPairs — banding
    * is complete for the budget, so the banded set must equal the
    * oracle's naive all-pairs xor/bit_count scan). The multimodal dedup
    * stack therefore shares one measured scale path (SCALE.md simhash
    * knee + d10 remedy) across text and images.
    *
    * Fixture note: the gradient hash depends on doc_id only through
    * doc_id·31 mod 251, so the fixture has ≤251 hash classes and most
    * output pairs are cross-doc collisions — deliberate: it makes the
    * banded join's completeness check dense (every hamming-0/1/2/3
    * relation must surface) at oracle scale. The soak's image fixture
    * (hashed pixels, ~uniform 64-bit hashes) covers the sparse regime.
    */
  val dhashPairs: Q = Q(
    "d16_dhash_pairs",
    s"""WITH ids AS (
       |  SELECT doc_id, doc_id AS img, 0 AS delta FROM documents
       |  WHERE doc_id % 11 <> 0
       |  UNION ALL
       |  SELECT doc_id + 1000000, doc_id, 3 FROM documents WHERE doc_id % 10 = 0),
       |h AS (
       |  SELECT doc_id, ${dhashHalfSql("4,5,6,7", "(y-4)")} AS hi,
       |         ${dhashHalfSql("0,1,2,3", "y")} AS lo
       |  FROM ids)
       |SELECT a.doc_id AS doc1, b.doc_id AS doc2,
       |  bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS hamming
       |FROM h a JOIN h b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3""".stripMargin) {
    (s, dir) =>
      val rows = graft.multimodal.ImageHash
        .syntheticGradientPngs(t(s, dir, "documents"), planted = true)
      // EAGER CHECKPOINT of the 16-byte hash rows (r10, guide §2.4/§8):
      // the banded self-join has no exchange below the branch point (the
      // banding posexplode is pure map lineage over the decode), so the
      // broadcast pair join's probe AND build sides each re-ran the full
      // encode+decode chain — the d20 plan-audit's 2× decode (A/B in
      // OPTIMIZATION_r10.md). The decode-once discipline the ImageHash
      // scaladoc prescribes, applied inside the query.
      val hashes = graft.multimodal.ImageHash.dhashDocs(rows, s, lenient = true)
        .localCheckpoint(true)
      graft.dedup.Dedup.simhashPairs(hashes, bits = 64, maxHamming = 3)
  }

  /** Image duplicate clusters: d16's hamming pairs resolved to connected
    * components by the SAME pointer-doubling propagation the text dedup
    * stack uses (Dedup.clusters) — decode → perceptual hash → banded
    * pairs → clusters is the full image-dedup pipeline, every stage
    * shared with text where the semantics allow. The oracle closes the
    * naive pair set with a recursive reachability CTE and min-labels
    * each component (the d7 construction).
    */
  val dhashClusters: Q = Q(
    "d17_image_dup_clusters",
    s"""WITH RECURSIVE ids AS (
       |  SELECT doc_id, doc_id AS img, 0 AS delta FROM documents
       |  WHERE doc_id % 11 <> 0
       |  UNION ALL
       |  SELECT doc_id + 1000000, doc_id, 3 FROM documents WHERE doc_id % 10 = 0),
       |h AS (
       |  SELECT doc_id, ${dhashHalfSql("4,5,6,7", "(y-4)")} AS hi,
       |         ${dhashHalfSql("0,1,2,3", "y")} AS lo
       |  FROM ids),
       |pairs AS (
       |  SELECT a.doc_id AS doc1, b.doc_id AS doc2
       |  FROM h a JOIN h b ON a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3),
       |edges AS (SELECT doc1 AS s, doc2 AS d FROM pairs
       |          UNION SELECT doc2, doc1 FROM pairs),
       |reach(doc_id, r) AS (
       |  SELECT DISTINCT s, s FROM edges
       |  UNION
       |  SELECT e.d, r.r FROM reach r JOIN edges e ON r.doc_id = e.s)
       |SELECT doc_id, min(r) AS canonical_id FROM reach GROUP BY doc_id""".stripMargin) {
    (s, dir) =>
      val rows = graft.multimodal.ImageHash
        .syntheticGradientPngs(t(s, dir, "documents"), planted = true)
      // eager checkpoint: decode-once for the banded pair join (see d16)
      val hashes = graft.multimodal.ImageHash.dhashDocs(rows, s, lenient = true)
        .localCheckpoint(true)
      graft.dedup.Dedup.clusters(
        graft.dedup.Dedup.simhashPairs(hashes, bits = 64, maxHamming = 3))
  }

  /** Batch-vs-index image admission, batch shape (the MediaStream twin,
    * as d9 is CorpusStream's): a "drop" of planted one-pixel variants
    * plus novel images hamming-banded against the standing corpus index
    * via Dedup.incrementalHammingCandidates — the oracle replays it as
    * the naive drop × index hamming scan, so banding completeness and
    * the never-index×index contract are both driver-checked.
    */
  val incrementalDhash: Q = Q(
    "d18_incremental_dhash",
    s"""WITH idx AS (
       |  SELECT doc_id, doc_id AS img, 0 AS delta FROM documents
       |  WHERE doc_id % 11 <> 0),
       |drop0 AS (
       |  SELECT doc_id + 1000000 AS doc_id, doc_id AS img, 3 AS delta
       |  FROM documents WHERE doc_id % 10 = 0),
       |hi AS (
       |  SELECT doc_id, ${dhashHalfSql("4,5,6,7", "(y-4)")} AS hi,
       |         ${dhashHalfSql("0,1,2,3", "y")} AS lo
       |  FROM idx),
       |hd AS (
       |  SELECT doc_id, ${dhashHalfSql("4,5,6,7", "(y-4)")} AS hi,
       |         ${dhashHalfSql("0,1,2,3", "y")} AS lo
       |  FROM drop0)
       |SELECT d.doc_id AS new_id, i.doc_id AS corpus_id,
       |  bit_count(xor(d.hi, i.hi)) + bit_count(xor(d.lo, i.lo)) AS hamming
       |FROM hd d JOIN hi i
       |  ON bit_count(xor(d.hi, i.hi)) + bit_count(xor(d.lo, i.lo)) <= 3""".stripMargin) {
    (s, dir) =>
      import s.implicits._
      val docs = t(s, dir, "documents")
      val index = graft.multimodal.ImageHash.dhashDocs(
        graft.multimodal.ImageHash.syntheticGradientPngs(docs), s, lenient = true)
      val dropRows = docs.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id")).as[Long]
        .map(id => graft.multimodal.MediaRow(id + 1000000L, "image/png",
          graft.multimodal.ImageHash.gradientPng(id, 3)))
      val drop = graft.multimodal.ImageHash.dhashDocs(dropRows, s)
      graft.dedup.Dedup.incrementalHammingCandidates(drop, index, maxHamming = 3)
  }

  /** One window-energy sum of the audio fixture as SQL: samples
    * 4e..4e+3 of ((img·31 + i²·7) mod 251) − 125, delta at sample 0.
    */
  private def audioWinSql(e: String): String =
    s"""list_sum(list_transform([0,1,2,3], j ->
       |  abs((img*31 + (4*($e)+j)*(4*($e)+j)*7) % 251 - 125
       |      + CASE WHEN ($e) = 0 AND j = 0 THEN delta ELSE 0 END)))""".stripMargin

  private def audioHalfSql(ws: String, shift: String): String =
    s"""CAST(list_sum(list_transform([$ws], w ->
       |  CASE WHEN ${audioWinSql("w + 1")} > ${audioWinSql("w")}
       |  THEN CAST(1 AS BIGINT) << ($shift) ELSE 0 END)) AS BIGINT)""".stripMargin

  private val audioLoWs = (0 until 32).mkString(",")
  private val audioHiWs = (32 until 64).mkString(",")

  /** REAL audio decode → perceptual fingerprint: deterministic 260-sample
    * PCM16 WAVs (sample = exact integer formula of doc id), every 9th
    * truncated and DROPPED by lenient decode, fingerprinted by
    * AudioHash.fingerprintDocs (real javax.sound decode → integer
    * window energies → 64-bit energy-delta hash). 260 = 65·4 makes
    * every window exactly 4 samples, so DuckDB replays every bit as
    * pure integer SQL — the m14 construction on the time axis.
    */
  val audioFingerprint: Q = Q(
    "m15_audio_fingerprint",
    s"""WITH ids AS (
       |  SELECT doc_id, doc_id AS img, 0 AS delta FROM documents
       |  WHERE doc_id % 9 <> 0)
       |SELECT doc_id,
       |  printf('%08x%08x', ${audioHalfSql(audioHiWs, "w - 32")},
       |                     ${audioHalfSql(audioLoWs, "w")}) AS fp
       |FROM ids""".stripMargin) { (s, dir) =>
    val rows = graft.multimodal.AudioHash
      .syntheticPcmWavs(t(s, dir, "documents"))
    graft.multimodal.AudioHash.fingerprintDocs(rows, s, lenient = true)
      .select(col("doc_id"), format_string("%016x", col("simhash")).as("fp"))
  }

  /** Audio NEAR-duplicate pairs: the PCM fixture plus a first-sample-
    * perturbed planted copy of every 10th doc (id + 10⁶, a gain-level
    * near-dup), fingerprinted as in m15 and paired by the SAME
    * hamming-banded generator text SimHash and image dHash use — one
    * near-dup stack across all three modalities, oracled by the naive
    * all-pairs xor/bit_count scan.
    */
  val audioFpPairs: Q = Q(
    "d19_audio_fp_pairs",
    s"""WITH ids AS (
       |  SELECT doc_id, doc_id AS img, 0 AS delta FROM documents
       |  WHERE doc_id % 9 <> 0
       |  UNION ALL
       |  SELECT doc_id + 1000000, doc_id, 60 FROM documents WHERE doc_id % 10 = 0),
       |h AS (
       |  SELECT doc_id, ${audioHalfSql(audioHiWs, "w - 32")} AS hi,
       |         ${audioHalfSql(audioLoWs, "w")} AS lo
       |  FROM ids)
       |SELECT a.doc_id AS doc1, b.doc_id AS doc2,
       |  bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS hamming
       |FROM h a JOIN h b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3""".stripMargin) {
    (s, dir) =>
      val rows = graft.multimodal.AudioHash
        .syntheticPcmWavs(t(s, dir, "documents"), planted = true)
      // eager checkpoint: decode-once for the banded pair join (see d16)
      val fps = graft.multimodal.AudioHash.fingerprintDocs(rows, s, lenient = true)
        .localCheckpoint(true)
      graft.dedup.Dedup.simhashPairs(fps, bits = 64, maxHamming = 3)
  }

  /** The per-frame dHash half as SQL: the m14 construction with the
    * frame term (f·17) and delta confined to frame 0's (0,0).
    */
  private def videoHalfSql(ys: String, shift: String): String =
    s"""CAST(list_sum(flatten(list_transform([$ys], y ->
       |  list_transform([0,1,2,3,4,5,6,7], x ->
       |    CASE WHEN (img*31 + f*17 + (x+1)*(x+1)*7 + y*y*13) % 251
       |           > (img*31 + f*17 + x*x*7 + y*y*13) % 251
       |             + CASE WHEN x = 0 AND y = 0 AND f = 0 THEN delta ELSE 0 END
       |         THEN CAST(1 AS BIGINT) << ($shift*8 + x) ELSE 0
       |    END)))) AS BIGINT)""".stripMargin

  /** REAL video decode → per-frame perceptual hashes: gradient-frame
    * AVIs (2 + id % 3 frames, pixel = exact integer formula of
    * (doc id, frame)), every 13th container truncated and DROPPED whole
    * by lenient decode, hashed by VideoHash.frameHashes (real RIFF walk
    * + imageio per frame + image dHash). DuckDB replays every frame's
    * every bit as integer SQL — the m14 construction extended by the
    * frame term.
    */
  val videoFrameHashes: Q = Q(
    "m16_video_frame_hashes",
    s"""WITH ids AS (
       |  SELECT doc_id, doc_id AS img, 0 AS delta FROM documents
       |  WHERE doc_id % 13 <> 0),
       |fr AS (
       |  SELECT doc_id, img, delta, unnest(range(0, 2 + img % 3)) AS f FROM ids)
       |SELECT doc_id, CAST(f AS INT) AS frame_no,
       |  printf('%08x%08x', ${videoHalfSql("4,5,6,7", "(y-4)")},
       |                     ${videoHalfSql("0,1,2,3", "y")}) AS fp
       |FROM fr""".stripMargin) { (s, dir) =>
    val rows = graft.multimodal.VideoHash
      .syntheticGradientAvis(t(s, dir, "documents"))
    graft.multimodal.VideoHash.frameHashes(rows, s, lenient = true)
      .select(col("doc_id"), col("frame_no"),
        format_string("%016x", col("simhash")).as("fp"))
  }

  /** Video NEAR-duplicate pairs as SHARED FRAME HASHES
    * (VideoHash.sharedFramePairs — inverted index on the 8-byte frame
    * hash, DF-capped): the fixture plus a frame-0-perturbed planted copy
    * of every 10th doc, which shares all its REMAINING frames exactly —
    * so copies of 3–4-frame videos pair at minShared = 2 while 2-frame
    * copies whose perturbed frame flipped a bit drop out, both engines
    * agreeing. The oracle is the naive distinct-hash equijoin +
    * HAVING count ≥ 2, MINUS the hashes the Spark side's maxHashDf cap
    * drops: fixture hashes depend only on (img·31 + f·17) mod 251, so
    * per-hash document frequency grows ~nDocs/84 and past ~85k docs the
    * cap binds — the oracle must model it or the engines diverge at
    * larger scale factors (round-8 ADVICE).
    */
  val videoDupPairs: Q = Q(
    "d20_video_dup_pairs",
    s"""WITH ids AS (
       |  SELECT doc_id, doc_id AS img, 0 AS delta FROM documents
       |  WHERE doc_id % 13 <> 0
       |  UNION ALL
       |  SELECT doc_id + 1000000, doc_id, 3 FROM documents WHERE doc_id % 10 = 0),
       |fr AS (
       |  SELECT doc_id, img, delta, unnest(range(0, 2 + img % 3)) AS f FROM ids),
       |h0 AS (
       |  SELECT DISTINCT doc_id, ${videoHalfSql("4,5,6,7", "(y-4)")} AS hi,
       |         ${videoHalfSql("0,1,2,3", "y")} AS lo
       |  FROM fr),
       |hot AS (SELECT hi, lo FROM h0 GROUP BY hi, lo HAVING count(*) > 1000),
       |h AS (SELECT * FROM h0 ANTI JOIN hot USING (hi, lo))
       |SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS shared
       |FROM h a JOIN h b
       |  ON a.hi = b.hi AND a.lo = b.lo AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin) { (s, dir) =>
    val rows = graft.multimodal.VideoHash
      .syntheticGradientAvis(t(s, dir, "documents"), planted = true)
    // EAGER CHECKPOINT (r10): the d20 plan audit showed the decode chain
    // executing twice — PushDownLeftSemiAntiJoin rewrites the hot-hash
    // anti join below `dist`'s distinct aggregate on the probe side, so
    // the probe's lineage is no longer canonically equal to the hot
    // chain's and AQE cannot share the distinct's exchange stage (the
    // exactDupSpans mechanism, here with codec CPU under it).
    val hashes = graft.multimodal.VideoHash.frameHashes(rows, s, lenient = true)
      .localCheckpoint(true)
    graft.multimodal.VideoHash.sharedFramePairs(hashes, minShared = 2)
  }

  /** Temporally ALIGNED video near-dup runs (VideoHash.alignedFrameRuns —
    * x36's diagonal run-merge over frame numbers): the alignment fixture
    * plants, per 10th doc, a TRIMMED copy (frames 1..n−1 — its whole
    * overlap is one d = 1 diagonal, aligning iff n−1 ≥ 2) and a REVERSED
    * montage (shares EVERY hash, d20's bag-of-frames pairs it, but every
    * match sits on its own diagonal so no run of 2 forms). The oracle
    * replays frame hashes as integer SQL (the m16 construction with the
    * position→content mapping of each derivative) and the island
    * arithmetic as the x36 oracle does — including the maxHashDf cap
    * (hot-hash ANTI JOIN), so both engines agree at every scale factor.
    */
  val videoAlignedRuns: Q = Q(
    "d21_video_aligned_runs",
    s"""WITH ids AS (
       |  SELECT doc_id, doc_id AS img, 2 + doc_id % 3 AS n FROM documents),
       |fr AS (
       |  SELECT doc_id, f AS frame_no, img, f, 0 AS delta
       |  FROM (SELECT doc_id, img, unnest(range(0, n)) AS f FROM ids)
       |  UNION ALL
       |  SELECT doc_id + 2000000, f - 1, img, f, 0
       |  FROM (SELECT doc_id, img, unnest(range(1, n)) AS f FROM ids
       |        WHERE doc_id % 10 = 0)
       |  UNION ALL
       |  SELECT doc_id + 3000000, n - 1 - f, img, f, 0
       |  FROM (SELECT doc_id, img, n, unnest(range(0, n)) AS f FROM ids
       |        WHERE doc_id % 10 = 0)),
       |h0 AS (
       |  SELECT doc_id, frame_no, ${videoHalfSql("4,5,6,7", "(y-4)")} AS hi,
       |         ${videoHalfSql("0,1,2,3", "y")} AS lo
       |  FROM fr),
       |hot AS (SELECT hi, lo FROM h0 GROUP BY hi, lo
       |        HAVING count(DISTINCT doc_id) > 1000),
       |h AS (SELECT * FROM h0 ANTI JOIN hot USING (hi, lo)),
       |m AS (
       |  SELECT a.doc_id AS doc1, b.doc_id AS doc2,
       |         a.frame_no AS f1, b.frame_no AS f2
       |  FROM h a JOIN h b
       |    ON a.hi = b.hi AND a.lo = b.lo AND a.doc_id < b.doc_id),
       |isl AS (
       |  SELECT doc1, doc2, f1, f2, f1 - f2 AS d,
       |    f1 - row_number() OVER (PARTITION BY doc1, doc2, f1 - f2
       |                            ORDER BY f1) AS g
       |  FROM m)
       |SELECT doc1, doc2,
       |  CAST(min(f1) AS INT) AS start1, CAST(min(f2) AS INT) AS start2,
       |  CAST(count(*) AS BIGINT) AS run_frames
       |FROM isl GROUP BY doc1, doc2, d, g
       |HAVING count(*) >= 2""".stripMargin) { (s, dir) =>
    val rows = graft.multimodal.VideoHash.alignmentAvis(t(s, dir, "documents"), s)
    // EAGER CHECKPOINT (r10): `pos` branches into the hot-hash aggregate
    // and BOTH sides of the frame-hash equi-join with NO exchange below
    // the branch point (pure map lineage over the decode), so the decode
    // chain executed 3× — the dominant cost of the round-9 9.96 s.
    val hashes = graft.multimodal.VideoHash.frameHashes(rows, s)
      .localCheckpoint(true)
    graft.multimodal.VideoHash.alignedFrameRuns(hashes, minRun = 2)
  }

  /** The scene-fixture dHash half as SQL: the m16 construction with the
    * per-scene pixel polynomial (scene 2 swaps the gradient coefficients
    * and adds 97 — see VideoHash.sceneAvis).
    */
  private def sceneHalfSql(ys: String, shift: String): String = {
    def pix(xe: String): String =
      s"""(CASE WHEN sc = 1 AND f >= split
         |  THEN (img*31 + f*17 + ($xe)*($xe)*13 + y*y*7 + 97) % 251
         |  ELSE (img*31 + f*17 + ($xe)*($xe)*7 + y*y*13) % 251 END)""".stripMargin
    s"""CAST(list_sum(flatten(list_transform([$ys], y ->
       |  list_transform([0,1,2,3,4,5,6,7], x ->
       |    CASE WHEN ${pix("x+1")} > ${pix("x")}
       |         THEN CAST(1 AS BIGINT) << ($shift*8 + x) ELSE 0
       |    END)))) AS BIGINT)""".stripMargin
  }

  /** Shot segmentation (VideoHash.sceneCuts) over REAL decode of the
    * scene fixture: consecutive-frame Hamming > 20 opens a new shot —
    * within a scene the +17 frame shift flips ~8 of 64 gradient bits,
    * across the planted scene change the swapped-orientation hashes are
    * ~independent (~32) — and frames group into (doc, shot) rows. The
    * oracle replays every frame hash as integer SQL (hi/lo halves), the
    * lag + Hamming + running-sum shot numbering, and the per-shot
    * rollup; the windowed sum is CAST (DuckDB HUGEINT discipline).
    */
  val videoSceneCuts: Q = Q(
    "m17_video_scene_cuts",
    s"""WITH ids AS (
       |  SELECT doc_id, doc_id AS img,
       |    CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END AS sc,
       |    2 + doc_id % 2 AS split, 4 + doc_id % 3 AS n
       |  FROM documents),
       |fr AS (
       |  SELECT doc_id, img, sc, split, unnest(range(0, n)) AS f FROM ids),
       |h AS (
       |  SELECT doc_id, CAST(f AS INT) AS frame_no,
       |    ${sceneHalfSql("4,5,6,7", "(y-4)")} AS hi,
       |    ${sceneHalfSql("0,1,2,3", "y")} AS lo
       |  FROM fr),
       |d AS (
       |  SELECT doc_id, frame_no, hi, lo,
       |    lag(hi) OVER w AS phi, lag(lo) OVER w AS plo
       |  FROM h WINDOW w AS (PARTITION BY doc_id ORDER BY frame_no)),
       |c AS (
       |  SELECT doc_id, frame_no,
       |    CASE WHEN phi IS NULL
       |           OR bit_count(xor(hi, phi)) + bit_count(xor(lo, plo)) > 20
       |         THEN 1 ELSE 0 END AS cut
       |  FROM d),
       |s AS (
       |  SELECT doc_id, frame_no,
       |    CAST(sum(cut) OVER (PARTITION BY doc_id ORDER BY frame_no) - 1 AS INT) AS shot_no
       |  FROM c)
       |SELECT doc_id, shot_no, CAST(min(frame_no) AS INT) AS start_frame,
       |  CAST(max(frame_no) AS INT) AS end_frame,
       |  CAST(count(*) AS BIGINT) AS n_frames
       |FROM s GROUP BY doc_id, shot_no""".stripMargin) { (s, dir) =>
    val rows = graft.multimodal.VideoHash.sceneAvis(t(s, dir, "documents"), s)
    val hashes = graft.multimodal.VideoHash.frameHashes(rows, s)
    graft.multimodal.VideoHash.sceneCuts(hashes, threshold = 20)
  }

  /** BMP decode through the SAME hash path as m14 — the fixture bytes
    * are hand-written 24bpp bottom-up BMP (no encoder library), so the
    * decoder's second container branch is checked against independently
    * constructed bytes while the oracle replay (identical pixel
    * formula) carries over verbatim. Every 9th payload truncated and
    * dropped whole by lenient decode.
    */
  val bmpDhash: Q = Q(
    "m18_bmp_dhash",
    s"""WITH ids AS (
       |  SELECT doc_id, doc_id AS img, 0 AS delta FROM documents
       |  WHERE doc_id % 9 <> 0)
       |SELECT doc_id,
       |  printf('%08x%08x', ${dhashHalfSql("4,5,6,7", "(y-4)")},
       |                     ${dhashHalfSql("0,1,2,3", "y")}) AS dhash
       |FROM ids""".stripMargin) { (s, dir) =>
    val rows = graft.multimodal.ImageHash
      .syntheticGradientBmps(t(s, dir, "documents"))
    graft.multimodal.ImageHash.dhashDocs(rows, s, lenient = true)
      .select(col("doc_id"), format_string("%016x", col("simhash")).as("dhash"))
  }

  /** Audio activity segmentation (AudioHash.windowEnergies →
    * activitySegments): real WAV decode → exact-integer window energies
    * → mean-threshold gate → island merge of consecutive active windows
    * — silence-trimming's structural dual, sharing m17's run-merge
    * shape. The fixture's 20-sample silence blocks align with the 13
    * index-box windows exactly, so the oracle replays both the
    * active/silent pattern AND every loud window's exact energy sum as
    * integer SQL; every 9th payload truncated and dropped whole.
    */
  val audioSegments: Q = Q(
    "m19_audio_segments",
    """WITH ids AS (
      |  SELECT doc_id, doc_id AS img FROM documents WHERE doc_id % 9 <> 0),
      |w AS (SELECT doc_id, img, unnest(range(13)) AS wn FROM ids),
      |e AS (
      |  SELECT doc_id, CAST(wn AS INT) AS window_no,
      |    CASE WHEN (wn + doc_id) % 3 = 0 THEN 0
      |         ELSE CAST(list_sum(list_transform(range(20), j ->
      |           abs((img*31 + (wn*20+j)*(wn*20+j)*7) % 251 - 125))) AS BIGINT)
      |    END AS energy
      |  FROM w),
      |a AS (SELECT doc_id, window_no FROM e WHERE energy > 10 * 20),
      |isl AS (
      |  SELECT doc_id, window_no,
      |    window_no - row_number() OVER (PARTITION BY doc_id ORDER BY window_no) AS g
      |  FROM a),
      |seg AS (
      |  SELECT doc_id, g, CAST(min(window_no) AS INT) AS start_window,
      |    CAST(max(window_no) AS INT) AS end_window,
      |    CAST(count(*) AS BIGINT) AS n_windows
      |  FROM isl GROUP BY doc_id, g)
      |SELECT doc_id,
      |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_window) - 1 AS INT) AS seg_no,
      |  start_window, end_window, n_windows
      |FROM seg""".stripMargin) { (s, dir) =>
    val rows = graft.multimodal.AudioHash
      .syntheticSegmentedWavs(t(s, dir, "documents"))
    val energies = graft.multimodal.AudioHash
      .windowEnergies(rows, s, windows = 13, lenient = true)
    graft.multimodal.AudioHash.activitySegments(energies, meanThreshold = 10L)
  }

  /** Shot-level video dedup (VideoHash.shotKeyHashes →
    * sharedShotPairs): m17's shot assignment reduced to each shot's
    * FIRST-frame keyframe, joined across videos — structure-level
    * near-dup where d20 is frame-level. The planted TRIMMED copy
    * (frames 1..n−1) keeps its later shots' boundary frames, so
    * two-scene docs pair with their copies on the scene-2 keyframe
    * while single-scene docs do NOT (the copy's lone keyframe is
    * frame 1, the original's frame 0) — a discrimination both engines
    * must agree on. The oracle replays hashes (content frame f at
    * POSITION frame_no — the d21 separation), the cut/shot windows,
    * the rn = 1 keyframe pick, the hot-key cap, and the pair join.
    */
  val shotKeyframePairs: Q = Q(
    "d23_shot_keyframe_pairs",
    s"""WITH ids AS (
       |  SELECT doc_id, doc_id AS img,
       |    CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END AS sc,
       |    2 + doc_id % 2 AS split, 4 + doc_id % 3 AS n
       |  FROM documents),
       |fr AS (
       |  SELECT doc_id, img, sc, split, f, CAST(f AS INT) AS frame_no
       |  FROM (SELECT doc_id, img, sc, split, unnest(range(0, n)) AS f FROM ids)
       |  UNION ALL
       |  SELECT doc_id + 1000000, img, sc, split, f, CAST(f - 1 AS INT)
       |  FROM (SELECT doc_id, img, sc, split, unnest(range(1, n)) AS f FROM ids
       |        WHERE doc_id % 10 = 0)),
       |h AS (
       |  SELECT doc_id, frame_no,
       |    ${sceneHalfSql("4,5,6,7", "(y-4)")} AS hi,
       |    ${sceneHalfSql("0,1,2,3", "y")} AS lo
       |  FROM fr),
       |d AS (
       |  SELECT doc_id, frame_no, hi, lo,
       |    lag(hi) OVER w AS phi, lag(lo) OVER w AS plo
       |  FROM h WINDOW w AS (PARTITION BY doc_id ORDER BY frame_no)),
       |c AS (
       |  SELECT doc_id, frame_no, hi, lo,
       |    CASE WHEN phi IS NULL
       |           OR bit_count(xor(hi, phi)) + bit_count(xor(lo, plo)) > 20
       |         THEN 1 ELSE 0 END AS cut
       |  FROM d),
       |s AS (
       |  SELECT doc_id, frame_no, hi, lo,
       |    CAST(sum(cut) OVER (PARTITION BY doc_id ORDER BY frame_no) AS INT) AS shot_no
       |  FROM c),
       |key AS (
       |  SELECT DISTINCT doc_id, hi, lo FROM (
       |    SELECT doc_id, hi, lo,
       |      row_number() OVER (PARTITION BY doc_id, shot_no ORDER BY frame_no) AS rn
       |    FROM s) WHERE rn = 1),
       |hot AS (SELECT hi, lo FROM key GROUP BY hi, lo HAVING count(*) > 1000),
       |k AS (SELECT * FROM key ANTI JOIN hot USING (hi, lo))
       |SELECT a.doc_id AS doc1, b.doc_id AS doc2, CAST(count(*) AS BIGINT) AS shared
       |FROM k a JOIN k b
       |  ON a.hi = b.hi AND a.lo = b.lo AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= 1""".stripMargin) { (s, dir) =>
    val rows = graft.multimodal.VideoHash
      .sceneAvis(t(s, dir, "documents"), s, planted = true)
    val hashes = graft.multimodal.VideoHash.frameHashes(rows, s)
    graft.multimodal.VideoHash.sharedShotPairs(hashes, threshold = 20,
      minShared = 1)
  }

  /** KEYFRAME INDEX for inter-frame codecs inside the driver-checked
    * surface — the honest-stub narrowing for H.264/HEVC/VP9/AV1, whose
    * sample BYTES need an external decoder but whose keyframe POSITIONS
    * are pure `moov` metadata: deterministic mp4s with real `stts`
    * timing runs and `stss` sync tables (Media.syntheticSyncMp4s —
    * two-run stts so sample s decodes at 1000·s ms for s ≤ 3 and
    * 3000 + 500·(s−3) ms after; sync every `2 + id % 3`rd sample, and
    * ids ≡ 0 mod 5 omit stss entirely, the all-intra every-sample-sync
    * form), every 11th payload truncated/corrupt, parsed per-partition
    * by the pure-JDK box walker in `lenient` mode (the oracle's
    * `doc_id % 11 <> 0` asserts exactly that drop set). Sample numbers
    * and decode timestamps replay as SQL integer arithmetic via
    * generate_series with the per-doc sync stride as its step — a
    * misread stts run or an off-by-one in the 1-based stss numbering
    * shifts every timestamp and hash-fails.
    */
  val mp4Keyframes: Q = Q(
    "m20_mp4_keyframes",
    """SELECT doc_id,
      |  CAST(s AS INT) AS sample_no,
      |  CAST(CASE WHEN s <= 3 THEN 1000 * s
      |            ELSE 3000 + 500 * (s - 3) END AS BIGINT) AS ts_ms,
      |  CASE doc_id % 4 WHEN 0 THEN 'avc1' WHEN 1 THEN 'hvc1'
      |       WHEN 2 THEN 'vp09' ELSE 'av01' END AS codec
      |FROM documents,
      |  unnest(range(0, 4 + doc_id % 6,
      |    CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 2 + doc_id % 3 END)) AS t(s)
      |WHERE doc_id % 11 <> 0""".stripMargin) { (s, dir) =>
    val rows = graft.multimodal.Media.syntheticSyncMp4s(t(s, dir, "documents"))
    graft.multimodal.Media.extractMp4Keyframes(rows, s, lenient = true).toDF()
  }

  val all: Seq[Q] = Seq(blobMeta, blobChunks, resizePlan, decodeFeatures,
    audioFeatures, videoFeatures, frameFeatures, mp4Meta, mp4Frames, mkvMeta,
    mkvFrames, pngMeta, warcRecords, imageDhash, dhashPairs, dhashClusters,
    incrementalDhash, audioFingerprint, audioFpPairs, videoFrameHashes,
    videoDupPairs, videoAlignedRuns, videoSceneCuts, bmpDhash, audioSegments,
    shotKeyframePairs, mp4Keyframes)
}
