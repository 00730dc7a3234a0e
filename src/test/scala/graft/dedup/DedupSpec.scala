package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Semantic recall checks: planted duplicates must actually be found.
  * (Cross-engine value equality is covered by the d1–d6 oracle queries;
  * these assert the *retrieval* behavior.)
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  // 20 token-disjoint documents + one exact dup + one near-dup (one word
  // changed) — distinct docs share no shingles, so the only retrievable
  // pairs are the planted ones
  private lazy val docs = {
    val base = (0L until 20L).map(i =>
      (i, (1 to 12).map(w => s"w${i}x$w").mkString(" ")))
    (base :+
      (100L, base(3)._2) :+                            // exact dup of doc 3
      (101L, base(5)._2.replace("w5x7", "zulu")))      // near-dup of doc 5
      .toDF("doc_id", "text")
  }

  "exact" should "collapse the exact duplicate onto its canonical id" in {
    val row = Dedup.exact(docs).filter(col("n_dups") > 1)
      .select("canonical_id", "n_dups").as[(Long, Long)].collect().toSeq
    row shouldBe Seq((3L, 2L))
  }

  "jaccardPairs" should "find the planted near-dup and nothing else" in {
    val pairs = Dedup.jaccardPairs(docs, minJaccard = 0.5)
      .select("doc1", "doc2").as[(Long, Long)].collect().toSet
    pairs should contain((5L, 101L))
    pairs should contain((3L, 100L)) // exact dup is jaccard 1.0
    pairs.size shouldBe 2
  }

  "containmentPairs" should "catch an embedded excerpt that Jaccard misses" in {
    // doc 200 = first 5 tokens of doc 7: every excerpt shingle appears in
    // doc 7, so containment = 1.0, while jaccard = 3/10 stays far below
    // any dedup threshold — the asymmetric case the operator exists for
    val excerpt = docs.filter(col("doc_id") === 7)
      .select(lit(200L).as("doc_id"),
        array_join(slice(split(col("text"), " "), 1, 5), " ").as("text"))
    val corpus = docs.unionByName(excerpt)
    val cont = Dedup.containmentPairs(corpus, minContainment = 0.9)
      .select("doc1", "doc2", "containment").as[(Long, Long, Double)].collect().toSet
    cont should contain((7L, 200L, 1.0))
    // jaccard at the same threshold does NOT see the excerpt pair
    val jac = Dedup.jaccardPairs(corpus, minJaccard = 0.5)
      .select("doc1", "doc2").as[(Long, Long)].collect().toSet
    jac should not contain ((7L, 200L))
    // the exact dup scores containment 1.0; the one-word near-dup of
    // doc 5 sits at 7/10 = 0.7 and is correctly below the 0.9 bar
    cont.map(p => (p._1, p._2)) should contain((3L, 100L))
    cont.map(p => (p._1, p._2)) should not contain ((5L, 101L))
  }

  "minhash LSH" should "surface the exact duplicate as a full-match candidate" in {
    val cand = Dedup.minhashCandidates(Dedup.minhashSignatures(docs))
      .filter(col("est_sim") === 1.0)
      .select("doc1", "doc2").as[(Long, Long)].collect().toSet
    cand should contain((3L, 100L))
  }

  "simhashPairs" should "find the near-dup within the Hamming budget" in {
    val pairs = Dedup.simhashPairs(Dedup.simhash(docs))
      .select("doc1", "doc2").as[(Long, Long)].collect().toSet
    pairs should contain((3L, 100L)) // identical text → Hamming 0
  }

  "simhashPairsCombinatorial" should "produce exactly simhashPairs' pair set" in {
    // both bandings are COMPLETE candidate generators for the Hamming
    // budget, so the verified outputs must be set-equal — the block-pair
    // variant only enlarges the bucket key space
    val sigs = Dedup.simhash(docs).cache()
    val single = Dedup.simhashPairs(sigs).select("doc1", "doc2", "hamming")
    val comb = Dedup.simhashPairsCombinatorial(sigs).select("doc1", "doc2", "hamming")
    single.exceptAll(comb).count() shouldBe 0
    comb.exceptAll(single).count() shouldBe 0
    comb.select("doc1", "doc2").as[(Long, Long)].collect().toSet should
      contain((3L, 100L))
  }

  "incrementalMinhashCandidates" should "pair a new drop against the corpus only" in {
    val corpus = docs
    // doc 200 is a near-dup of corpus doc 3; docs 201/202 are identical
    // to each other but unrelated to the corpus
    val fresh = Seq(
      (200L, docs.filter(col("doc_id") === 3L).select("text").as[String].head() + " extra"),
      (201L, "totally unrelated payload alpha beta gamma delta epsilon zeta"),
      (202L, "totally unrelated payload alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val pairs = Dedup.incrementalMinhashCandidates(
      Dedup.minhashSignatures(fresh), Dedup.minhashSignatures(corpus)).cache()
    pairs.filter(col("new_id") === 200L && col("corpus_id") === 3L).count() shouldBe 1L
    // new x new pairs are never emitted — that's the standing corpus's job
    pairs.filter(col("corpus_id") >= 200L).count() shouldBe 0L
  }

  "incrementalHammingCandidates" should "find every within-budget pair against the index only" in {
    // banding is complete for hamming <= 3 by pigeonhole: flipping bits
    // in at most 3 of the 4 sixteen-bit bands leaves one band intact
    val base = 0x0123456789abcdefL
    val index = Seq((1L, base), (2L, 0x7777777777777777L)).toDF("doc_id", "simhash")
    val fresh = Seq(
      (100L, base ^ 1L),                  // hamming 1 vs doc 1
      (101L, base ^ (1L << 63) ^ (1L << 17) ^ 2L), // hamming 3, bits in 3 bands
      (102L, base ^ 0xfL),                // hamming 4 — over budget
      (103L, 0x7777777777777777L)         // hamming 0 vs doc 2
    ).toDF("doc_id", "simhash")
    val got = Dedup.incrementalHammingCandidates(fresh, index)
      .as[(Long, Long, Int)].collect().toSet
    got shouldBe Set((100L, 1L, 1), (101L, 1L, 3), (103L, 2L, 0))
    // fresh x fresh pairs (100 vs 101 are hamming 4 anyway, but 103's
    // exact twin in fresh would be) are never emitted
    val twin = fresh.unionByName(Seq((104L, base ^ 1L)).toDF("doc_id", "simhash"))
    Dedup.incrementalHammingCandidates(twin, index)
      .filter(col("corpus_id") >= 100L).count() shouldBe 0L
  }

  it should "join on full-signature equality at maxHamming 0, not a degenerate band" in {
    // one band of 64 bits: (1L << 64) - 1 is 0 under Scala's mod-64
    // shifts, which would map every signature to band_val 0 and cross-join
    // batch x index; the full-width special case joins on the hash itself
    val base = 0x0123456789abcdefL
    val index = Seq((1L, base), (2L, 0x7777777777777777L), (3L, -1L))
      .toDF("doc_id", "simhash")
    val fresh = Seq((100L, base), (101L, base ^ 1L), (102L, -1L))
      .toDF("doc_id", "simhash")
    val q = Dedup.incrementalHammingCandidates(fresh, index, maxHamming = 0)
    q.as[(Long, Long, Int)].collect().toSet shouldBe
      Set((100L, 1L, 0), (102L, 3L, 0))
    // the exact-match pairs for simhashPairs too: 64-bit single band
    val all = index.unionByName(fresh)
    Dedup.simhashPairs(all, maxHamming = 0)
      .as[(Long, Long, Int)].collect().toSet shouldBe
      Set((1L, 100L, 0), (3L, 102L, 0))
  }

  "clusters" should "resolve chains, triangles and islands to component minima" in {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (21L, 20L), (21L, 22L), (22L, 20L))
      .toDF("doc1", "doc2")
    val got = Dedup.clusters(pairs).as[(Long, Long)].collect().toMap
    got shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L)
  }

  it should "collapse the planted near-dups end to end" in {
    val got = Dedup.clusters(Dedup.jaccardPairs(docs, minJaccard = 0.5))
      .as[(Long, Long)].collect().toMap
    got shouldBe Map(3L -> 3L, 100L -> 3L, 5L -> 5L, 101L -> 5L)
  }

  it should "resolve a path far longer than maxIter in O(log n) rounds" in {
    // a 200-hop dup chain: plain min-propagation needs 200 rounds and
    // would silently split at maxIter=20; pointer doubling halves every
    // label chain per round
    val n = 200
    val path = (0 until n).map(i => (i.toLong, i.toLong + 1)).toDF("doc1", "doc2")
    val (labels, rounds) = Dedup.clustersWithRounds(path, maxIter = 20)
    // +3: outer init + quotient init (each absorbs a propagation round —
    // a path graph is the contraction worst case, its quotient is again a
    // path) + the doubling loop's final no-change confirmation round
    rounds should be <= (math.ceil(math.log(n + 1.0) / math.log(2)).toInt + 3)
    labels.select("canonical_id").distinct().as[Long].collect() shouldBe Array(0L)
    labels.count() shouldBe (n + 1).toLong
  }

  it should "throw instead of returning split clusters when not converged" in {
    val path = (0 until 40).map(i => (i.toLong, i.toLong + 1)).toDF("doc1", "doc2")
    // maxIter=1 cannot close a 40-hop chain even with doubling
    val before = spark.sparkContext.getPersistentRDDs.keySet
    an[IllegalStateException] should be thrownBy
      Dedup.clusters(path, maxIter = 1)
    // the throw frees every block the call persisted
    spark.sparkContext.getPersistentRDDs.keySet.diff(before) shouldBe empty
    // maxIter <= 0 is a caller bug, rejected up front — not reported as
    // the (misleading) non-convergence failure
    an[IllegalArgumentException] should be thrownBy
      Dedup.clusters(path, maxIter = 0)
  }

  "simhash banding" should "spread a growing corpus over a growing bucket space" in {
    // the 64-bit / 16-bit-band scheme must not collapse to a constant
    // bucket count (the old 16-bit signature capped at 4 bands × 16
    // values = 64 buckets, which degenerates candidate joins to ~N²/64)
    def buckets(n: Long): Long = {
      val corpus = (0L until n).map(i =>
        (i, (1 to 12).map(w => s"c${i}q$w").mkString(" "))).toDF("doc_id", "text")
      Dedup.simhash(corpus)
        .select(posexplode(array((0 until 4).map { b =>
          shiftright(col("simhash"), b * 16).bitwiseAND(lit(65535L))
        }: _*)).as(Seq("band_no", "band_val")))
        .distinct().count()
    }
    val b100 = buckets(100)
    val b400 = buckets(400)
    b100 should be > 64L
    b400 should be > (2 * b100)
  }

  "embeddingNearDups" should "find a planted duplicate embedding and carry its metadata" in {
    // 30 independent random 64-dim vectors (cross cosines stay well under
    // 0.5) + one exact copy of vec 4 under a new id — the only pair that
    // can clear the 0.95 near-dup bar, and an identical vector lands in
    // the same LSH bucket in every table, so recall is guaranteed
    val rnd = new scala.util.Random(7)
    val base = (0L until 30L).map(i => (i, Array.fill(64)(rnd.nextFloat() * 2f - 1f)))
    val embs = (base :+ ((200L, base(4)._2))).toDF("vec_id", "embedding")
    val meta = ((0L until 30L).map(i => (i, s"src${i % 3}")) :+ ((200L, "srcX")))
      .toDF("doc_id", "source")
    val got = Dedup.embeddingNearDups(embs, meta, minSim = 0.95)
      .select("id1", "id2", "src1", "src2").as[(Long, Long, String, String)]
      .collect().toSet
    got shouldBe Set((4L, 200L, "src1", "srcX"))
  }

  "semanticDedup" should "drop planted semantic duplicates and keep the min id" in {
    val rnd = new scala.util.Random(11)
    val base = (0L until 30L).map(i => (i, Array.fill(64)(rnd.nextFloat() * 2f - 1f)))
    // two exact copies (of vec 4 and vec 9) under larger ids
    val embs = (base :+ ((200L, base(4)._2)) :+ ((201L, base(9)._2)))
      .toDF("vec_id", "embedding")
    val kept = Dedup.semanticDedup(embs, k = 4, iters = 1, tau = 0.95)
      .select("vec_id").as[Long].collect().toSet
    kept should contain allOf (4L, 9L)
    kept should contain noneOf (200L, 201L)
    kept.size shouldBe 30
    // identical input -> identical keep set (determinism)
    Dedup.semanticDedup(embs, k = 4, iters = 1, tau = 0.95)
      .select("vec_id").as[Long].collect().toSet shouldBe kept
  }

  "clusterRepresentatives" should "pick the highest-quality member, id on ties" in {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc1", "doc2")
    val quality = Seq( // cluster 1: doc 3 wins on quality (NOT min id);
      1L -> 0.2, 2L -> 0.5, 3L -> 0.9, // cluster 10: tie -> lower id wins
      10L -> 0.7, 11L -> 0.7).toDF("doc_id", "q")
    val got = Dedup.clusterRepresentatives(Dedup.clusters(pairs), quality)
      .as[(Long, Long, Double, Long)].collect().map(r => r._1 -> r).toMap
    got(1L) shouldBe ((1L, 3L, 0.9, 3L))
    got(10L) shouldBe ((10L, 10L, 0.7, 2L))
  }

  behavior of "exactDupSpans"

  it should "report maximal spans, split them at single-token edits, and track diagonals" in {
    val t60 = (1 to 60).map(i => s"t$i").mkString(" ")
    val edited = (1 to 60).map(i => if (i == 30) "EDIT" else s"t$i").mkString(" ")
    val spanDocs = Seq(
      (1L, t60),                 // original
      (2L, edited),              // same stream, token 30 changed
      (3L, s"p0 p1 p2 $t60"),    // full copy at offset +3
      (9L, "short doc below window length")
    ).toDF("doc_id", "text")
    val got = Dedup.exactDupSpans(spanDocs, k = 20)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // 1↔2: windows not covering position 30 → [1..10] and [31..41]
    //   → spans (start 1, 29 tokens) and (start 31, 30 tokens)
    // 1↔3: one maximal diagonal-(−3) span covering all 60 tokens
    // 2↔3: the same two split spans, shifted by the prefix
    got shouldBe Set(
      (1L, 2L, 1L, 1L, 29L), (1L, 2L, 31L, 31L, 30L),
      (1L, 3L, 1L, 4L, 60L),
      (2L, 3L, 1L, 4L, 29L), (2L, 3L, 31L, 34L, 30L))
  }

  it should "drop corpus-hot windows via the df cap" in {
    // the same 25-token text in 12 docs: every window's df = 12 > 10
    val hot = (0L until 12L).map(i => (i, (1 to 25).map(w => s"h$w").mkString(" ")))
      .toDF("doc_id", "text")
    Dedup.exactDupSpans(hot, k = 20, maxWindowDf = 10).count() shouldBe 0L
  }

  // texts chosen so sort order interleaves the two range prefixes' edge:
  // "az…"/"ba…" are rank-adjacent but land in DIFFERENT range buckets
  private lazy val snDocs = Seq(
    (0L, "az shared phrase body tail one two three"),
    (1L, "ba shared phrase body tail one two three"), // boundary near-dup of 0
    (2L, "ca completely different wording here entirely"),
    (3L, "cb completely different wording here entirelx"), // near-dup of 2
    (4L, "zz nothing like anything else in this corpus at all"))
    .toDF("doc_id", "text")

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  "sortedNeighborhoodPairs" should "match the naive sorted sliding window exactly" in {
    // reference semantics computed in-test: global sort by (key24, id),
    // every (i, i+j) pair for j < w, levenshtein over 40-char probes
    val w = 3
    val rows = snDocs.as[(Long, String)].collect().toSeq
      .sortBy { case (id, t) => (t.take(24), id) }
    val expected = (for {
      i <- rows.indices; j <- 1 until w if i + j < rows.size
      d = lev(rows(i)._2.take(40), rows(i + j)._2.take(40)) if d <= 12
    } yield (rows(i)._1, rows(i + j)._1, d.toLong)).toSet
    val got = Dedup.sortedNeighborhoodPairs(snDocs, windowSize = w)
      .as[(Long, Long, Long)].collect().toSet
    got shouldBe expected
    // the cross-range-boundary pair (the classic blocking failure) is in
    got.map(p => (p._1, p._2)) should contain((0L, 1L))
  }

  it should "be invariant to range-bucket granularity" in {
    val at = (p: Int) => Dedup.sortedNeighborhoodPairs(snDocs, windowSize = 4,
      rangePrefix = p).as[(Long, Long, Long)].collect().toSet
    at(1) shouldBe at(2)
    at(2) shouldBe at(3)
  }

  behavior of "removeDupSpans"

  it should "cut second occurrences, merge overlapping intervals, and keep first copies whole" in {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f"),    // lowest id — every span's first copy, untouched
      (4L, "m n o p"),        // shares nothing
      (9L, "q a b c s t u"),  // shares "a b c" with 1 → loses tokens 2-4
      (10L, "p q a b c d r")  // spans from 1 ([3,7)) and 9 ([2,5)) OVERLAP → merged [2,7)
    ).toDF("doc_id", "text")
    val got = graft.dedup.Dedup.removeDupSpans(docs, k = 3, maxWindowDf = 10)
      .as[(Long, Int, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    got(1L) shouldBe ((6, "a b c d e f"))
    got(4L) shouldBe ((4, "m n o p"))
    got(9L) shouldBe ((4, "q s t u"))
    got(10L) shouldBe ((2, "p r"))
  }
}
