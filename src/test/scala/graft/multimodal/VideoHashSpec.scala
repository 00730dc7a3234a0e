package graft.multimodal

import graft.SparkSpec
import org.apache.spark.sql.functions._

class VideoHashSpec extends SparkSpec {
  import spark.implicits._

  private def expectedFrameHash(imgId: Long, f: Int, delta: Int): Long = {
    def v(x: Int, y: Int, d: Int) =
      ((imgId * 31 + f * 17 + x * x * 7 + y * y * 13) % 251) +
        (if (x == 0 && y == 0 && f == 0) d else 0)
    var h = 0L
    for (y <- 0 until 8; x <- 0 until 8)
      if (v(x + 1, y, 0) > v(x, y, delta)) h |= 1L << (y * 8 + x)
    h
  }

  behavior of "VideoHash.frameHashes (real AVI decode)"

  it should "hash every frame to the formula, honor stride, and drop corrupt containers" in {
    val docs = Seq(1L, 2L, 13L).toDF("doc_id")
    val rows = VideoHash.syntheticGradientAvis(docs)
    val got = VideoHash.frameHashes(rows, spark, lenient = true)
      .as[(Long, Int, Long)].collect().toSet
    // 13 is truncated and dropped WHOLE; doc 1 has 2+1%3=3 frames, doc 2 has 4
    got.map(_._1) shouldBe Set(1L, 2L)
    got shouldBe (for {
      (id, n) <- Seq((1L, 3), (2L, 4)); f <- 0 until n
    } yield (id, f, expectedFrameHash(id, f, 0))).toSet
    // stride 2 keeps frames 0, 2
    VideoHash.frameHashes(rows, spark, frameStride = 2, lenient = true)
      .select("frame_no").as[Int].collect().toSet shouldBe Set(0, 2)
  }

  behavior of "VideoHash.sharedFramePairs"

  it should "pair videos by shared distinct hashes and honor the df cap" in {
    val hashes = Seq(
      (1L, 0, 100L), (1L, 1, 200L), (1L, 2, 300L),
      (2L, 0, 100L), (2L, 1, 200L), (2L, 2, 999L), // shares 2 with doc 1
      (3L, 0, 100L), (3L, 1, 777L), // shares only 1 with doc 1
      (4L, 0, 100L), (4L, 1, 100L) // duplicate in-doc hash counts once
    ).toDF("doc_id", "frame_no", "simhash")
    val got = VideoHash.sharedFramePairs(hashes, minShared = 2)
      .as[(Long, Long, Long)].collect().toSet
    got shouldBe Set((1L, 2L, 2L))
    // df cap: hash 100 occurs in 4 videos; capping at 3 removes it, so
    // docs 1/2 still pair on 200 only if minShared = 1
    VideoHash.sharedFramePairs(hashes, minShared = 2, maxHashDf = 3)
      .count() shouldBe 0L
    VideoHash.sharedFramePairs(hashes, minShared = 1, maxHashDf = 3)
      .as[(Long, Long, Long)].collect().toSet shouldBe Set((1L, 2L, 1L))
  }

  behavior of "VideoHash.alignedFrameRuns"

  it should "require consecutive same-diagonal matches, not shared bags" in {
    val hashes = Seq(
      // doc 1: four frames
      (1L, 0, 10L), (1L, 1, 11L), (1L, 2, 12L), (1L, 3, 13L),
      // doc 2: doc 1 trimmed by one frame — aligned run of 3 on d = 1
      (2L, 0, 11L), (2L, 1, 12L), (2L, 2, 13L),
      // doc 3: doc 1 reversed — shares ALL four hashes, aligns nowhere
      (3L, 0, 13L), (3L, 1, 12L), (3L, 2, 11L), (3L, 3, 10L),
      // doc 4: two separate runs vs doc 1 (frames 0-1 then 3, d = 0)
      (4L, 0, 10L), (4L, 1, 11L), (4L, 2, 99L), (4L, 3, 13L)
    ).toDF("doc_id", "frame_no", "simhash")
    val got = VideoHash.alignedFrameRuns(hashes, minRun = 2)
      .as[(Long, Long, Int, Int, Long)].collect().toSet
    // the reversed montage pairs with NOTHING despite full hash overlap
    got.filter(r => r._1 == 3L || r._2 == 3L) shouldBe empty
    got.filter(r => r._1 == 1L && r._2 == 2L) shouldBe Set((1L, 2L, 1, 0, 3L))
    got.filter(r => r._1 == 1L && r._2 == 4L) shouldBe Set((1L, 4L, 0, 0, 2L))
    // ...while bag-of-frames sharedFramePairs happily pairs the montage
    VideoHash.sharedFramePairs(hashes, minShared = 2)
      .filter(col("doc2") === 3L).count() should be >= 1L
  }

  it should "plant trimmed positives and reversed negatives through the real decode" in {
    // id 20 → 4 frames: trimmed copy (frames 1..3) aligns with run 3 on
    // d = 1; reversed copy shares every hash but never aligns
    val docs = Seq(20L).toDF("doc_id")
    val hashes = VideoHash.frameHashes(VideoHash.alignmentAvis(docs, spark), spark)
    val runs = VideoHash.alignedFrameRuns(hashes, minRun = 2)
      .as[(Long, Long, Int, Int, Long)].collect().toSet
    runs shouldBe Set((20L, 2000020L, 1, 0, 3L))
  }

  it should "find planted near-dup copies through the real decode path" in {
    // id 20: 2+20%3=4 frames; the planted copy perturbs frame 0 only, so
    // they share at least frames 1..3
    val docs = Seq(20L).toDF("doc_id")
    val rows = VideoHash.syntheticGradientAvis(docs, planted = true)
    val pairs = VideoHash.sharedFramePairs(
      VideoHash.frameHashes(rows, spark, lenient = true), minShared = 2)
      .as[(Long, Long, Long)].collect()
    pairs.map(p => (p._1, p._2)) shouldBe Array((20L, 1000020L))
    pairs.head._3 should be >= 3L
  }

  "sceneCuts" should "open a shot exactly where consecutive-frame hamming exceeds the threshold" in {
    // doc 1: frames 0,1 differ by 1 bit; frames 1→2 jump by 9 bits
    // (0x1FF flips bits 0..8); doc 2: single frame → one 1-frame shot
    val hashes = Seq(
      (1L, 0, 0x0L), (1L, 1, 0x1L), (1L, 2, 0x1FEL),
      (2L, 0, 0x7L)).toDF("doc_id", "frame_no", "simhash")
    val shots = VideoHash.sceneCuts(hashes, threshold = 8)
      .as[(Long, Int, Int, Int, Long)].collect().toSet
    shots shouldBe Set(
      (1L, 0, 0, 1, 2L),  // frames 0–1, within-threshold drift
      (1L, 1, 2, 2, 1L),  // the 9-bit jump opens shot 1
      (2L, 0, 0, 0, 1L))
  }

  "shotKeyHashes / sharedShotPairs" should "pick first-frame keyframes and pair on shared shots" in {
    // doc 1: shots {0,1} and {2} (9-bit jump at frame 2) → keyframes
    // hash(0)=0x0 and hash(2)=0x1FE; doc 2 shares the second shot's
    // keyframe; doc 3 shares nothing
    val hashes = Seq(
      (1L, 0, 0x0L), (1L, 1, 0x1L), (1L, 2, 0x1FEL),
      (2L, 0, 0x1FEL),
      (3L, 0, 0xF0F0L)).toDF("doc_id", "frame_no", "simhash")
    val keys = VideoHash.shotKeyHashes(hashes, threshold = 8)
      .as[(Long, Int, Int, Long)].collect().toSet
    keys shouldBe Set((1L, 0, 0, 0x0L), (1L, 1, 2, 0x1FEL),
      (2L, 0, 0, 0x1FEL), (3L, 0, 0, 0xF0F0L))
    val pairs = VideoHash.sharedShotPairs(hashes, threshold = 8)
      .as[(Long, Long, Long)].collect().toSet
    pairs shouldBe Set((1L, 2L, 1L))
  }

  it should "pair trimmed copies of two-scene docs but not single-scene ones, through the real decode" in {
    // id 70 (70%3=1, two-scene, cross-scene hamming 31 > 20 — picked by
    // replaying the fixture: doc 10's boundary reads EXACTLY 20 and the
    // strict gate keeps it one shot, a rule both engines share): the
    // trimmed copy keeps scene 2's boundary frame → shared = 1;
    // id 30 (30%3=0, single-scene, hammings ≤ 20): the copy's lone
    // keyframe is frame 1, the original's frame 0 → no pair
    val rows = VideoHash.sceneAvis(Seq(70L, 30L).toDF("doc_id"), spark, planted = true)
    val pairs = VideoHash.sharedShotPairs(
      VideoHash.frameHashes(rows, spark), threshold = 20, minShared = 1)
      .as[(Long, Long, Long)].collect().toSet
    // the two-scene original pairs with its trimmed copy on exactly the
    // scene-2 keyframe...
    pairs should contain((70L, 1000070L, 1L))
    // ...while the single-scene original does NOT pair with its copy
    // (keyframe frame 1 vs frame 0). Cross-doc pairs like (30, 1000070)
    // are fixture hash-class collisions (251-value space, the d16
    // note), not copy detection — only the self-copy relation is the
    // claim here.
    pairs.filter(p => p._1 == 30L && p._2 == 1000030L) shouldBe empty
  }

  it should "segment the scene fixture at the planted orientation swap through the real decode" in {
    // id 1: 4+1%3=5 frames, two-scene (1%3≠0), split at 2+1%2=3 →
    // shots {0..2}, {3..4}; id 3 (3%3=0, 4 frames) stays single-scene
    val shots = VideoHash.sceneCuts(VideoHash.frameHashes(
        VideoHash.sceneAvis(Seq(1L, 3L).toDF("doc_id"), spark), spark),
      threshold = 20)
      .as[(Long, Int, Int, Int, Long)].collect().toSet
    shots shouldBe Set(
      (1L, 0, 0, 2, 3L), (1L, 1, 3, 4, 2L),
      (3L, 0, 0, 3, 4L))
  }
}
