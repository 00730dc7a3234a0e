package graft.multimodal

import graft.SparkSpec

class AudioHashSpec extends SparkSpec {
  import spark.implicits._

  behavior of "AudioHash.fingerprint"

  it should "set exactly the louder-rightward bits on equal windows" in {
    // 2 bits → 3 windows of 2 samples: energies 3, 7, 5 → bits (1, 0)
    val h = AudioHash.fingerprint(Array(1, 2, 3, 4, 5, 0), gridBits = 2)
    h shouldBe 1L
    // flat signal → no strictly-greater window → 0
    AudioHash.fingerprint(Array.fill(6)(9), gridBits = 2) shouldBe 0L
  }

  it should "compare unequal window lengths by cross-multiplied means" in {
    // 7 samples, 2 bits → boxes [0,2) [2,4) [4,7): sums 2,2,9 cnts 2,2,3
    // bit0: 2*2 > 2*2 false; bit1: 9*2 > 2*3 true → hash 2
    AudioHash.fingerprint(Array(1, 1, 1, 1, 3, 3, 3), gridBits = 2) shouldBe 2L
  }

  it should "be invariant to uniform gain" in {
    val a = Array(10, -20, 30, 5, -8, 90, 4, 4, 17, -3, 6, 2)
    val b = a.map(_ * 3)
    AudioHash.fingerprint(a, 3) shouldBe AudioHash.fingerprint(b, 3)
  }

  behavior of "AudioHash.fingerprintDocs (real WAV decode)"

  it should "fingerprint the PCM fixture to the formula and drop corrupt payloads" in {
    def expected(audioId: Long, delta: Int): Long = {
      def v(i: Int) = ((audioId * 31 + i.toLong * i * 7) % 251 - 125) +
        (if (i == 0) delta else 0)
      val sums = (0 until 65).map(w => (0 until 4).map(j => math.abs(v(w * 4 + j))).sum)
      (0 until 64).foldLeft(0L)((h, w) =>
        if (sums(w + 1) > sums(w)) h | (1L << w) else h)
    }
    val docs = Seq(1L, 2L, 9L, 30L).toDF("doc_id")
    val rows = AudioHash.syntheticPcmWavs(docs, planted = true)
    val got = AudioHash.fingerprintDocs(rows, spark, lenient = true)
      .as[(Long, Long)].collect().toMap
    // 9 is truncated and dropped; 30 plants a perturbed copy at 1000030
    got.keySet shouldBe Set(1L, 2L, 30L, 1000030L)
    got(1L) shouldBe expected(1L, 0)
    got(2L) shouldBe expected(2L, 0)
    got(30L) shouldBe expected(30L, 0)
    got(1000030L) shouldBe expected(30L, 60)
    // the planted copy is a true near-dup: only window 0 changes
    java.lang.Long.bitCount(got(30L) ^ got(1000030L)) should be <= 1
  }

  "activitySegments" should "merge consecutive active windows into maximal runs" in {
    // doc 1: active windows 0,1,3,4,5 → segments [0,1] and [3,5];
    // doc 2: lone active window 2; threshold 10 with 4-sample windows
    // → active iff energy > 40
    val energies = Seq(
      (1L, 0, 100L, 4L), (1L, 1, 90L, 4L), (1L, 2, 0L, 4L),
      (1L, 3, 50L, 4L), (1L, 4, 41L, 4L), (1L, 5, 200L, 4L),
      (2L, 0, 40L, 4L), (2L, 1, 0L, 4L), (2L, 2, 44L, 4L))
      .toDF("doc_id", "window_no", "energy", "n_samples")
    val segs = AudioHash.activitySegments(energies, meanThreshold = 10L)
      .as[(Long, Int, Int, Int, Long)].collect().toSet
    // (2,0): energy 40 is NOT > 10*4 — the gate is strict
    segs shouldBe Set(
      (1L, 0, 0, 1, 2L), (1L, 1, 3, 5, 3L),
      (2L, 0, 2, 2, 1L))
  }

  it should "segment the planted silence blocks through the real decode" in {
    // doc 1: blocks (b+1)%3==0 silent → windows 2,5,8,11 silent; active
    // runs {0,1},{3,4},{6,7},{9,10},{12}; doc 9 truncated → dropped
    val rows = AudioHash.syntheticSegmentedWavs(Seq(1L, 9L).toDF("doc_id"))
    val segs = AudioHash.activitySegments(
      AudioHash.windowEnergies(rows, spark, windows = 13, lenient = true),
      meanThreshold = 10L)
      .as[(Long, Int, Int, Int, Long)].collect().toSet
    segs shouldBe Set(
      (1L, 0, 0, 1, 2L), (1L, 1, 3, 4, 2L), (1L, 2, 6, 7, 2L),
      (1L, 3, 9, 10, 2L), (1L, 4, 12, 12, 1L))
  }
}
