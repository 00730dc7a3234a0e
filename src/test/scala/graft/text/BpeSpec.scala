package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BpeSpec extends SparkSpec {
  import spark.implicits._

  // Hand-computable training fixture: "low" ×5, "lower" ×2, "newest" ×6,
  // "widest" ×3 — the canonical Sennrich worked example. Expected merges,
  // derived by hand (weighted pair counts, ties pair-lexicographic):
  //   round 1: (e,s) 9      round 2: (es,t</w>) 9   round 3: (l,o) 7
  //   round 4: (e,w) 6 — the 6-count tie (e,w)/(n,e)/(w,est</w>) breaks
  //   lexicographic       round 5: (ew,est</w>) 6
  private val sennrich = Seq(
    ("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))

  behavior of "Bpe.trainInMemory"

  it should "reproduce the hand-computed merge sequence on the Sennrich fixture" in {
    val merges = Bpe.trainInMemory(sennrich, numMerges = 5)
    merges shouldBe Seq(
      ("e", "s"), ("es", "t</w>"), ("l", "o"), ("e", "w"), ("ew", "est</w>"))
  }

  it should "stop early when no pair reaches minPairFreq" in {
    // every word unique, freq 1, no shared pairs above 1 → zero merges
    val merges = Bpe.trainInMemory(Seq(("ab", 1L), ("cd", 1L)), numMerges = 10)
    merges shouldBe Seq.empty
  }

  behavior of "Bpe.train (distributed aggregation)"

  it should "agree with the in-memory trainer on the same corpus" in {
    // expand the fixture to a doc frame whose word frequencies match
    val docs = sennrich.flatMap { case (w, f) =>
      Seq.fill(f.toInt)(w)
    }.grouped(4).map(_.mkString(" ")).toSeq.toDF("text")
    Bpe.train(docs, numMerges = 5) shouldBe Bpe.trainInMemory(sennrich, 5)
  }

  it should "be invariant to partitioning and prune deterministically" in {
    // freqs: abab×3, cdcd×2, efef×1 → maxWords=2 keeps {abab, cdcd};
    // merges then land (a,b), (a,b</w>), (ab,ab</w>) by the tiebreak
    val docs = Seq("abab abab cdcd", "abab cdcd efef").toDF("text")
    val m1 = Bpe.train(docs.repartition(1), numMerges = 3, maxWords = 2)
    val m8 = Bpe.train(docs.repartition(8), numMerges = 3, maxWords = 2)
    m1 shouldBe m8
    m1 shouldBe Seq(("a", "b"), ("a", "b</w>"), ("ab", "ab</w>"))
  }

  behavior of "Bpe.encodeWord / BpeEncodeExpression"

  private val merges = Bpe.trainInMemory(sennrich, numMerges = 5)

  it should "encode seen and unseen words greedily by rank" in {
    val ranks = Bpe.rankTable(merges)
    Bpe.encodeWord("newest", ranks, "</w>").toSeq shouldBe Seq("n", "ewest</w>")
    Bpe.encodeWord("lowest", ranks, "</w>").toSeq shouldBe Seq("lo", "w", "est</w>")
    Bpe.encodeWord("low", ranks, "</w>").toSeq shouldBe Seq("lo", "w</w>")
    // unseen word falls back to characters where no merge applies
    Bpe.encodeWord("xyz", ranks, "</w>").toSeq shouldBe Seq("x", "y", "z</w>")
  }

  it should "never merge across the end-of-word sentinel" in {
    val ranks = Bpe.rankTable(Seq(("e", "s")))
    // final "s" carries </w>, so the (e, s) merge must not fire there
    Bpe.encodeWord("es", ranks, "</w>").toSeq shouldBe Seq("e", "s</w>")
    Bpe.encodeWord("ese", ranks, "</w>").toSeq shouldBe Seq("es", "e</w>")
  }

  it should "merge every occurrence of the winning pair in one pass" in {
    val ranks = Bpe.rankTable(Seq(("a", "b")))
    Bpe.encodeWord("ababab", ranks, "</w>").toSeq shouldBe
      Seq("ab", "ab", "a", "b</w>")
  }

  it should "match the kernel through the expression, inside codegen" in {
    val out = Seq("newest widest low", "", "lower lowest")
      .toDF("text")
      .select(Bpe.encode(col("text"), merges).as("toks"))
      .as[Seq[String]].collect()
    out(0) shouldBe Seq("n", "ewest</w>", "w", "i", "d", "est</w>", "lo", "w</w>")
    out(1) shouldBe Seq.empty
    out(2) shouldBe Seq("lo", "w", "e", "r</w>", "lo", "w", "est</w>")
  }

  it should "propagate null text and count tokens" in {
    val df = spark.sql("SELECT cast(null as string) AS text " +
      "UNION ALL SELECT 'newest newest'")
    val got = df
      .select(Bpe.tokenCount(col("text"), merges).as("n"))
      .as[Option[Int]].collect().toSet
    got shouldBe Set(None, Some(4))
  }

  it should "handle multi-codepoint (astral) characters as single symbols" in {
    val ranks = Bpe.rankTable(Seq.empty)
    Bpe.encodeWord("a😀b", ranks, "</w>").toSeq shouldBe
      Seq("a", "😀", "b</w>")
  }
}
