package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Perceptual AUDIO fingerprinting — the audio member of the near-dup
  * hash family (text SimHash, image dHash): real javax.sound PCM decode
  * → integer per-window energy (sum of |sample|) over index-box windows
  * → 64-bit energy-delta fingerprint (bit w = "window w+1 louder than
  * window w", the dHash construction on the time axis). Robust to
  * uniform gain changes (energy RATIOS order the same way) and to
  * container re-muxing; pair generation and streaming admission reuse
  * the hamming stack unchanged (Dedup.simhashPairs /
  * incrementalHammingCandidates / MediaStream — the `simhash` column
  * contract), so audio near-dup inherits the measured banding scale
  * path and the decode-once guidance: fingerprint once, store the
  * 8-byte column, re-pair over stored hashes.
  *
  * Everything after decode is exact integer arithmetic (abs sums of
  * 16-bit samples, cross-multiplied mean comparison), so fingerprints
  * are bit-identical on any JVM and SQL-replayable.
  */
object AudioHash {

  /** Signed 16-bit PCM samples (all channels interleaved) via the real
    * javax.sound decode path. Throws on non-PCM16 payloads.
    */
  def pcm16Samples(payload: Array[Byte]): Array[Int] = {
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(payload))
    try {
      val fmt = in.getFormat
      if (fmt.getSampleSizeInBits != 16 ||
          fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED)
        throw new IllegalArgumentException(
          s"audio fingerprint needs 16-bit signed PCM, got ${fmt.getEncoding}")
      val bytes = in.readAllBytes()
      val out = new Array[Int](bytes.length / 2)
      var i = 0
      while (i < out.length) {
        val base = i * 2
        val lo = bytes(if (fmt.isBigEndian) base + 1 else base) & 0xff
        val hi = bytes(if (fmt.isBigEndian) base else base + 1)
        out(i) = ((hi << 8) | lo).toShort.toInt
        i += 1
      }
      out
    } finally in.close()
  }

  /** 64-bit energy-delta fingerprint over `gridBits + 1` index-box
    * windows: window w covers samples [⌊wN/W⌋, ⌊(w+1)N/W⌋) (≥1 sample —
    * needs N ≥ W), its energy is the exact integer Σ|sample|, and bit w
    * is set iff window w+1's MEAN energy strictly exceeds window w's
    * (cross-multiplied, so unequal window lengths stay integer-exact).
    */
  def fingerprint(samples: Array[Int], gridBits: Int = 64): Long = {
    require(gridBits >= 1 && gridBits <= 64, "gridBits must be in [1, 64]")
    val w = gridBits + 1
    require(samples.length >= w, s"need at least $w samples for $gridBits bits")
    val sums = new Array[Long](w)
    val cnts = new Array[Long](w)
    var k = 0
    while (k < w) {
      val from = (k.toLong * samples.length / w).toInt
      val until = ((k + 1).toLong * samples.length / w).toInt
      var s = 0L
      var i = from
      while (i < until) { s += math.abs(samples(i).toLong); i += 1 }
      sums(k) = s
      cnts(k) = until - from
      k += 1
    }
    var hash = 0L
    var b = 0
    while (b < gridBits) {
      if (sums(b + 1) * cnts(b) > sums(b) * cnts(b + 1)) hash |= 1L << b
      b += 1
    }
    hash
  }

  /** Per-doc fingerprints: (doc_id, simhash) — the column name plugs the
    * frame straight into the hamming pair/admission stack. `lenient`
    * drops undecodable payloads (the Media.extractFeatures contract).
    */
  def fingerprintDocs(rows: Dataset[MediaRow], spark: SparkSession,
      lenient: Boolean = false): DataFrame = {
    import spark.implicits._
    rows.mapPartitions { it =>
      it.flatMap { r =>
        try Iterator.single((r.doc_id, fingerprint(pcm16Samples(r.payload))))
        catch { case _: Exception if lenient => Iterator.empty }
      }
    }.toDF("doc_id", "simhash")
  }

  /** Deterministic 260-sample 16-bit PCM WAV fixture: sample i is the
    * exact integer ((audioId·31 + i²·7) mod 251) − 125, `delta` added at
    * sample 0 only — 260 = 65·4 makes every fingerprint window exactly
    * 4 samples, so the oracle replays each bit as pure integer SQL.
    * Every 9th payload is truncated for the lenient drop path; `planted`
    * adds a first-sample-perturbed copy (id + 10⁶, delta 60) of every
    * 10th doc — a gain-level near-dup whose fingerprint is within a bit
    * of its source.
    */
  def syntheticPcmWavs(documents: DataFrame,
      planted: Boolean = false): Dataset[MediaRow] =
    Media.fixtureRows(documents, "audio/wav", corruptEvery = 9,
      near = Option.when(planted)((id: Long) => pcmWav(id, 60)))(pcmWav(_, 0))

  /** Per-window exact-integer energies over the decoded PCM — the
    * fingerprint's index-box windows exposed as rows: (doc_id,
    * window_no, energy = Σ|sample|, n_samples). Map-side decode, no
    * shuffle; the downstream segmentation groups on doc_id.
    */
  def windowEnergies(rows: Dataset[MediaRow], spark: SparkSession,
      windows: Int = 13, lenient: Boolean = false): DataFrame = {
    import spark.implicits._
    require(windows >= 1, "windows must be >= 1")
    rows.mapPartitions { it =>
      it.flatMap { r =>
        try {
          val samples = pcm16Samples(r.payload)
          if (samples.length < windows)
            throw new IllegalArgumentException("fewer samples than windows")
          (0 until windows).iterator.map { k =>
            val from = (k.toLong * samples.length / windows).toInt
            val until = ((k + 1).toLong * samples.length / windows).toInt
            var s = 0L
            var i = from
            while (i < until) { s += math.abs(samples(i).toLong); i += 1 }
            (r.doc_id, k, s, (until - from).toLong)
          }
        } catch {
          case _: Exception if lenient => Iterator.empty
        }
      }
    }.toDF("doc_id", "window_no", "energy", "n_samples")
  }

  /** Activity segmentation — silence trimming's dual: windows whose
    * MEAN |sample| exceeds `meanThreshold` (cross-multiplied: energy >
    * threshold·n_samples, integer-exact at unequal window lengths) are
    * ACTIVE, and maximal runs of consecutive active windows become
    * segments (the x36/m17 island construction over window numbers).
    * Output: (doc_id, seg_no, start_window, end_window, n_windows).
    * One shuffle on doc_id; window occupancy = the per-clip window
    * count, a constant.
    */
  def activitySegments(energies: DataFrame, meanThreshold: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy(col("doc_id")).orderBy(col("window_no"))
    energies
      .filter(col("energy") > lit(meanThreshold) * col("n_samples"))
      .withColumn("island", col("window_no") - row_number().over(w))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("window_no")).as("start_window"),
        max(col("window_no")).as("end_window"),
        count(lit(1)).as("n_windows"))
      .withColumn("seg_no",
        (row_number().over(Window.partitionBy(col("doc_id"))
          .orderBy(col("start_window"))) - 1).cast("int"))
      .select(col("doc_id"), col("seg_no"), col("start_window"),
        col("end_window"), col("n_windows"))
  }

  /** Segmentation fixture: 260 samples in 20-sample blocks; block b of
    * doc `id` is SILENT (all zeros) when (b + id) % 3 == 0, else the
    * m15 gradient formula — with 13 windows the index boxes align with
    * the blocks exactly, so the active/silent pattern (and the exact
    * loud-window energies) replay as integer SQL.
    */
  def segmentedPcmWav(audioId: Long): Array[Byte] =
    Media.pcm16Wav(260) { i =>
      if (((i / 20) + audioId) % 3 == 0) 0
      else ((audioId * 31 + i.toLong * i * 7) % 251 - 125).toInt
    }

  /** [[segmentedPcmWav]] per document, every 9th payload truncated for
    * the lenient drop path.
    */
  def syntheticSegmentedWavs(documents: DataFrame): Dataset[MediaRow] =
    Media.fixtureRows(documents, "audio/wav", corruptEvery = 9)(segmentedPcmWav)

  /** One fixture WAV: 260 samples of the [[syntheticPcmWavs]] formula. */
  def pcmWav(audioId: Long, delta: Int): Array[Byte] =
    Media.pcm16Wav(260) { i =>
      ((audioId * 31 + i.toLong * i * 7) % 251 - 125).toInt + (if (i == 0) delta else 0)
    }
}
