package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Perceptual VIDEO fingerprinting — the last member of the near-dup
  * hash family: one real RIFF walk + imageio decode per sampled frame
  * (the Media.extractVideoFrames path), one image dHash per frame, and
  * video near-duplication as SHARED FRAME HASHES — two videos are
  * near-dups when enough of their frame fingerprints coincide, the
  * standard shot-level video-dedup construction (re-encoded, re-muxed,
  * or lightly edited copies keep most frame hashes; dHash absorbs
  * per-frame brightness/scale changes).
  *
  * Scale shape: hashing is map-side and codec-bound (decode-once — store
  * the (doc, frame, hash) table, the image A/B guidance); the pair stage
  * is an inverted index on the 8-byte frame hash, DF-capped with the
  * jaccardPairs broadcast anti-join discipline so a corpus-hot frame
  * (title cards, black frames) cannot run a quadratic bucket.
  */
object VideoHash {

  /** Per-(doc, frame) dHash over real decoded AVI frames:
    * (doc_id, frame_no, simhash). `frameStride` samples every Nth frame
    * (the extractVideoFrames knob); `lenient` drops malformed containers
    * whole (a mid-payload undecodable frame counts as malformed).
    */
  def frameHashes(rows: Dataset[MediaRow], spark: SparkSession,
      frameStride: Int = 1, lenient: Boolean = false): DataFrame = {
    require(frameStride > 0, "frameStride must be positive")
    import spark.implicits._
    rows.mapPartitions { it =>
      Codecs.ensure()
      it.flatMap { r =>
        try {
          val chunks = Media.aviFrameChunks(r.payload)
          chunks.indices.by(frameStride).map { i =>
            val (off, len) = chunks(i)
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(r.payload, off, len))
            if (img == null) throw new java.io.IOException("undecodable frame")
            (r.doc_id, i, ImageHash.dHash(img))
          }.iterator
        } catch {
          case _: Exception if lenient => Iterator.empty
        }
      }
    }.toDF("doc_id", "frame_no", "simhash")
  }

  /** Video near-dup pairs: (doc1, doc2, shared) for videos sharing at
    * least `minShared` distinct frame hashes. Frame hashes occurring in
    * more than `maxHashDf` videos are dropped before the self-join (the
    * DF-cap discipline — a black frame shared by everything is evidence
    * of nothing and its postings are exactly the quadratic bucket).
    */
  def sharedFramePairs(hashes: DataFrame, minShared: Int = 2,
      maxHashDf: Int = 1000): DataFrame = {
    require(minShared >= 1, "minShared must be >= 1")
    val dist = hashes.select(col("doc_id"), col("simhash")).distinct()
    val hot = dist.groupBy(col("simhash")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxHashDf).select(col("simhash"))
    val kept = dist.join(broadcast(hot), Seq("simhash"), "left_anti")
    // EXPLICIT-COUNT repartition on the posting key (r11, guide §2.2):
    // the pair-count join expands each hash's posting list and partially
    // aggregates (doc1, doc2) counts in the join stage, but its input
    // rows are 16 bytes so AQE's byte-based coalescing collapses the
    // stage to a few fat CPU-bound tasks (the d20 pair-count wall the
    // r10 audit measured). REPARTITION_BY_NUM at defaultParallelism is
    // exempt from coalescing and replaces the join's own implicit
    // simhash exchange; skew is already bounded structurally by the
    // maxHashDf anti-join cap above.
    val keptP = kept.repartition(
      kept.sparkSession.sparkContext.defaultParallelism, col("simhash"))
    keptP.alias("a")
      .join(keptP.alias("b"),
        col("a.simhash") === col("b.simhash") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Temporally ALIGNED near-dup runs — d20's bag-of-frames pair count
    * upgraded with x36's diagonal run-merge (Dedup.exactDupSpans over
    * frame numbers instead of token positions): a frame-hash match at
    * (f1, f2) lies on diagonal d = f1 − f2, and only maximal runs of
    * consecutive matches on one diagonal count as evidence. A shuffled
    * montage of another video's frames shares every hash but aligns
    * nowhere (every match sits on its own diagonal), while a trimmed or
    * re-encoded copy puts its whole overlap on a single diagonal — the
    * distinction shared-count near-dup is blind to.
    *
    * Output: one row per maximal aligned run of length ≥ `minRun`:
    * (doc1, doc2, start1, start2, run_frames). Scale shape is d20's —
    * inverted index on the 8-byte hash, DF-capped hot frames, plus one
    * pair-keyed window whose occupancy is the match count of a single
    * video pair (bounded by min frame count), never corpus-shaped.
    */
  def alignedFrameRuns(hashes: DataFrame, minRun: Int = 2,
      maxHashDf: Int = 1000): DataFrame = {
    require(minRun >= 1, "minRun must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val pos = hashes.select(col("doc_id"), col("frame_no"), col("simhash"))
    val hot = pos.groupBy(col("simhash"))
      .agg(count_distinct(col("doc_id")).as("df"))
      .filter(col("df") > maxHashDf).select(col("simhash"))
    val kept = pos.join(broadcast(hot), Seq("simhash"), "left_anti")
    val matches = kept.alias("a")
      .join(kept.alias("b"),
        col("a.simhash") === col("b.simhash") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"),
        col("a.frame_no").as("f1"), col("b.frame_no").as("f2"))
    // within one (pair, diagonal) group f1 is unique (f2 = f1 - d), so
    // the row_number order is total and the island key deterministic
    val diag = Window.partitionBy(col("doc1"), col("doc2"), col("d"))
      .orderBy(col("f1"))
    matches
      .withColumn("d", col("f1") - col("f2"))
      .withColumn("island", col("f1") - row_number().over(diag))
      .groupBy(col("doc1"), col("doc2"), col("d"), col("island"))
      .agg(min(col("f1")).as("start1"), min(col("f2")).as("start2"),
        count(lit(1)).as("run_frames"))
      .filter(col("run_frames") >= minRun)
      .select(col("doc1"), col("doc2"), col("start1"), col("start2"),
        col("run_frames"))
  }

  /** Shot segmentation over per-frame perceptual hashes: a CUT lands
    * wherever the Hamming distance between consecutive frame hashes
    * exceeds `threshold` (a hard scene change flips many gradient bits
    * at once; within-shot motion flips few — the standard dHash-delta
    * shot detector), and frames between cuts group into shots. Output:
    * one row per shot — (doc_id, shot_no, start_frame, end_frame,
    * n_frames), shot_no 0-based in frame order.
    *
    * Scale shape: both windows and the final agg share one partitioning
    * on doc_id — a single shuffle whose partition occupancy is one
    * video's frame count (bounded by clip length), never corpus-shaped;
    * everything downstream of the lag is codegen'd integer arithmetic.
    */
  /** The ONE shot-assignment rule both rollups derive from (a cut rule
    * living in two places would silently desync sceneCuts from
    * shotKeyHashes and the m17/d23 oracles that replay it): a CUT lands
    * wherever consecutive frame hashes differ by more than `threshold`
    * Hamming bits, and the running cut count names the shot. Returns
    * (doc_id, frame_no, simhash, shot_no). Both windows share one
    * doc-keyed partitioning — a single shuffle.
    */
  private def shotAssignments(hashes: DataFrame, threshold: Int): DataFrame = {
    require(threshold >= 0 && threshold < 64, "threshold is a 64-bit Hamming bound")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_no"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hashes.select(col("doc_id"), col("frame_no"), col("simhash"))
      .withColumn("prev", lag(col("simhash"), 1).over(w))
      .withColumn("cut",
        when(col("prev").isNull ||
          bit_count(col("simhash").bitwiseXOR(col("prev"))) > threshold, 1)
          .otherwise(0))
      .withColumn("shot_no", (sum(col("cut")).over(run) - 1).cast("int"))
      .select(col("doc_id"), col("frame_no"), col("simhash"), col("shot_no"))
  }

  def sceneCuts(hashes: DataFrame, threshold: Int = 8): DataFrame =
    shotAssignments(hashes, threshold)
      .groupBy(col("doc_id"), col("shot_no"))
      .agg(min(col("frame_no")).as("start_frame"),
        max(col("frame_no")).as("end_frame"),
        count(lit(1)).as("n_frames"))

  /** Per-shot KEYFRAME hashes: [[sceneCuts]]' shot assignment, keeping
    * each shot's FIRST frame's hash as its representative (the shot
    * boundary frame — the standard keyframe choice, and order-agreed
    * across engines without comparing signed hashes). Output: (doc_id,
    * shot_no, start_frame, keyhash). Same single doc-keyed shuffle as
    * sceneCuts; min_by is combinable.
    */
  def shotKeyHashes(hashes: DataFrame, threshold: Int = 8): DataFrame =
    shotAssignments(hashes, threshold)
      .groupBy(col("doc_id"), col("shot_no"))
      .agg(min(col("frame_no")).as("start_frame"),
        min_by(col("simhash"), col("frame_no")).as("keyhash"))

  /** Shot-level video near-dup pairs: videos sharing at least
    * `minShared` shot KEYFRAMES — the d20 shared-frame discipline
    * lifted one level of structure: a trimmed re-edit keeps its later
    * shots' boundary frames and pairs, while frame-level noise inside a
    * shot is invisible (the keyframe summarizes it). Keyframes occurring
    * in more than `maxKeyDf` videos are dropped before the self-join
    * (the black-title-card hot key is evidence of nothing and its
    * postings are exactly the quadratic bucket).
    */
  def sharedShotPairs(hashes: DataFrame, threshold: Int = 8,
      minShared: Int = 1, maxKeyDf: Int = 1000): DataFrame = {
    require(minShared >= 1, "minShared must be >= 1")
    val keys = shotKeyHashes(hashes, threshold)
      .select(col("doc_id"), col("keyhash")).distinct()
    val hot = keys.groupBy(col("keyhash")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxKeyDf).select(col("keyhash"))
    val kept = keys.join(broadcast(hot), Seq("keyhash"), "left_anti")
    kept.alias("a")
      .join(kept.alias("b"),
        col("a.keyhash") === col("b.keyhash") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Deterministic gradient-frame AVI fixture: `2 + id % 3` frames of
    * 9×8 gradient PNGs whose pixel (x, y) of frame f is
    * ((imgId·31 + f·17 + x²·7 + y²·13) mod 251) + delta at (0,0) of
    * frame 0 only — resize-free like the m14 fixture, so every frame
    * hash is replayable as integer SQL. Every 13th payload is truncated
    * (lenient drop); `planted` adds a frame-0-perturbed copy
    * (id + 10⁶, delta 3) of every 10th doc, which shares all its other
    * frames' hashes exactly.
    */
  def syntheticGradientAvis(documents: DataFrame,
      planted: Boolean = false): Dataset[MediaRow] =
    Media.fixtureRows(documents, "video/avi", corruptEvery = 13,
      near = Option.when(planted)((id: Long) => gradientAvi(id, 3)))(gradientAvi(_, 0))

  /** Scene fixture: `4 + id % 3` frames; docs with id % 3 ≠ 0 switch
    * SCENE at frame `2 + id % 2` — the second scene swaps the gradient
    * orientation (x²·13 + y²·7, plus a 97 offset) so its hashes are
    * ~independent of scene 1's (Hamming ≈ 32), while within-scene
    * neighbors differ by the +17 frame shift only (Hamming ≈ 8). Docs
    * with id % 3 = 0 stay single-scene. No truncation or deltas —
    * lenient-decode semantics are m16's concern; this fixture isolates
    * shot segmentation.
    */
  def sceneAvis(documents: DataFrame, spark: SparkSession,
      planted: Boolean = false): Dataset[MediaRow] = {
    import spark.implicits._
    documents.select(col("doc_id")).as[Long].mapPartitions { it =>
      it.flatMap { id =>
        val nFrames = (4 + id % 3).toInt
        val split = (2 + id % 2).toInt
        val twoScene = id % 3 != 0
        val frames = (0 until nFrames).map { f =>
          Png.encodeRgb(9, 8, (x, y) => {
            val v =
              if (twoScene && f >= split)
                ((id * 31 + f * 17 + x.toLong * x * 13 + y.toLong * y * 7 + 97) % 251).toInt
              else
                ((id * 31 + f * 17 + x.toLong * x * 7 + y.toLong * y * 13) % 251).toInt
            (v << 16) | (v << 8) | v
          })
        }
        val base = MediaRow(id, "video/avi", Media.buildAvi(frames))
        // planted TRIMMED copy (id + 10⁶, frames 1..n−1) of every 10th
        // doc: its later shots keep their boundary frames — a two-scene
        // original shares its scene-2 keyframe with the copy, while a
        // single-scene one does NOT (the copy's only keyframe is the
        // original's frame 1, not frame 0) — the discrimination
        // d23_shot_keyframe_pairs is built on
        if (planted && id % 10 == 0)
          Iterator(base, MediaRow(id + 1000000L, "video/avi", Media.buildAvi(frames.drop(1))))
        else Iterator.single(base)
      }
    }
  }

  /** Alignment fixture: every doc's gradient AVI plus, for every 10th
    * doc, two exact-frame derivatives built from the SAME frame bytes —
    *   - a TRIMMED copy (id + 2·10⁶): frames 1..n−1, the classic
    *     cut-the-intro edit; its whole overlap sits on diagonal d = 1,
    *     so it aligns iff n − 1 ≥ minRun (4-frame videos pair, 2-frame
    *     ones don't — a boundary both engines must agree on);
    *   - a REVERSED montage (id + 3·10⁶): the same frames played
    *     backwards — shares EVERY hash (bag-of-frames d20 pairs it at
    *     shared = n) but each match lands on its own diagonal
    *     d = (n−1) − 2·f, so no aligned run of 2 ever forms.
    * No truncation here (lenient decode is m16/d20's concern) — the
    * fixture isolates the alignment semantics.
    */
  def alignmentAvis(documents: DataFrame, spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    documents.select(col("doc_id")).as[Long].mapPartitions { it =>
      it.flatMap { id =>
        val frames = gradientFrames(id, 0)
        val base = MediaRow(id, "video/avi", Media.buildAvi(frames))
        if (id % 10 == 0)
          Iterator(base,
            MediaRow(id + 2000000L, "video/avi", Media.buildAvi(frames.drop(1))),
            MediaRow(id + 3000000L, "video/avi", Media.buildAvi(frames.reverse)))
        else Iterator.single(base)
      }
    }
  }

  /** One fixture AVI ([[Media.buildAvi]]) of the gradient frames. */
  def gradientAvi(imgId: Long, delta: Int): Array[Byte] =
    Media.buildAvi(gradientFrames(imgId, delta))

  /** The fixture's PNG frame bytes: frame f's pixel (x, y) is
    * ((imgId·31 + f·17 + x²·7 + y²·13) mod 251) + delta at (0,0,f=0).
    */
  def gradientFrames(imgId: Long, delta: Int): IndexedSeq[Array[Byte]] = {
    val nFrames = (2 + imgId % 3).toInt
    (0 until nFrames).map { f =>
      Png.encodeRgb(9, 8, (x, y) => {
        val d = if (f == 0 && x == 0 && y == 0) delta else 0
        val v = (((imgId * 31 + f * 17 + x.toLong * x * 7 + y.toLong * y * 13)
          % 251) + d).toInt
        (v << 16) | (v << 8) | v
      })
    }
  }
}
