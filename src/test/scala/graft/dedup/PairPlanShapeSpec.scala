package graft.dedup

import graft.SparkSpec
import graft.ann.Ann
import org.apache.spark.sql.functions._

/** Plan-shape locks for the candidate-pair generators: the scale claim of
  * every dedup/ANN operator is "bucketed equi-join, never a cartesian" —
  * a regression that re-plans one of these self-joins as
  * CartesianProduct/BroadcastNestedLoopJoin is exactly the failure that
  * only shows up at corpus scale, so it must fail here first.
  */
class PairPlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString()

  private lazy val docs = (0L until 50L)
    .map(i => (i, (1 to 12).map(w => s"p${i}w$w").mkString(" ")))
    .toDF("doc_id", "text")

  private lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  "simhashPairs" should "join on band equality, not a cartesian" in {
    val p = plan(Dedup.simhashPairs(Dedup.simhash(docs)))
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
  }

  "simhashPairsCombinatorial" should "join on block-pair keys, not a cartesian" in {
    val p = plan(Dedup.simhashPairsCombinatorial(Dedup.simhash(docs)))
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
  }

  "jaccardPairs" should "join on the shingle key, not a cartesian" in {
    val p = plan(Dedup.jaccardPairs(docs))
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
  }

  it should "compute the df cap without a per-shingle window" in {
    // a Window.partitionBy(shingle) materializes every row of a
    // corpus-hot shingle in ONE task (measured 540 s on the 10M soak's
    // df=0.96·N boilerplate trigram); the cap must stay a combinable
    // groupBy + anti-join
    val p = plan(Dedup.jaccardPairs(docs))
    p should not include "Window"
  }

  it should "broadcast the over-cap set into the anti-join" in {
    // the hint is load-bearing: unhinted, the anti-join planned as a
    // sort-merge — a second full shuffle of the inverted index whose
    // hot-key partition became a 613 s straggler at 10M docs, worse
    // than the window shape it replaced (SCALE.md round 7)
    val p = plan(Dedup.jaccardPairs(docs))
    p should include ("BroadcastHashJoin")
    p should include ("LeftAnti")
  }

  "TextQuality.overlapPairs df cap" should "be a broadcast outer join below the repartition, not a window" in {
    val fps = graft.text.TextQuality.winnowedFingerprints(docs)
    val p = plan(graft.text.TextQuality.overlapPairs(fps))
    p should not include "Window"
    p should include ("BroadcastHashJoin")
    // left_outer + IsNull, NOT LeftAnti: PushDownLeftSemiAntiJoin would
    // reorder an anti-join below the doc-keyed repartition, splitting
    // the canonical exchange and re-executing the fingerprint lineage
    // per consumer (see overlapPairs scaladoc)
    p should include ("LeftOuter")
    p should not include "LeftAnti"
    // the repartition must stay BELOW the cap join so the df branch and
    // the index branch share one canonical exchange (stage reuse)
    val joinAt = p.indexOf("LeftOuter")
    val repartAt = p.indexOf("REPARTITION_BY_COL")
    assert(joinAt >= 0 && repartAt > joinAt,
      s"expected REPARTITION_BY_COL below the LeftOuter cap join; joinAt=$joinAt repartAt=$repartAt")
  }

  "containmentPairs" should "share the capped-index shape: shingle equi-join, no window" in {
    val p = plan(Dedup.containmentPairs(docs))
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    p should not include "Window"
    p should include ("BroadcastHashJoin")
    p should include ("LeftAnti")
  }

  // explicit-count repartitions: REPARTITION_BY_NUM at defaultParallelism
  // is exempt from AQE's byte-based coalescing, which otherwise folds the
  // CPU-dense stage above a 16-byte-row exchange into a few tasks
  private def repartitionByNum(keys: String*): scala.util.matching.Regex =
    (keys.map(k => s"$k#\\d+L?").mkString("hashpartitioning\\(", ", ", ", ") +
      s"${spark.sparkContext.defaultParallelism}\\), REPARTITION_BY_NUM").r

  "SimilarityJoin.prefixJaccardPairsOver" should "dedup its candidates on an explicit-count (doc1, doc2) repartition" in {
    val toks = Dedup.shingles(docs).select(col("doc_id"), col("shingle").as("tok")).distinct()
    val p = plan(SimilarityJoin.prefixJaccardPairsOver(toks, minJaccard = 0.5))
    repartitionByNum("doc1", "doc2").findFirstIn(p) should not be empty
  }

  "VideoHash.sharedFramePairs" should "count shared frames over an explicit-count simhash repartition" in {
    val hashes = (0L until 20L).map(i => (i / 4, (i % 4).toInt, i % 7)).toDF("doc_id", "frame_no", "simhash")
    val p = plan(graft.multimodal.VideoHash.sharedFramePairs(hashes))
    repartitionByNum("simhash").findFirstIn(p) should not be empty
  }

  "TextSearch.cosinePairs" should "join the weighted index on the term key, not a cartesian" in {
    // the single 1-row n_docs crossJoin broadcasts a count — exclude
    // cartesians only, like the bm25 stats join
    val p = plan(graft.text.TextSearch.cosinePairs(docs, minCos = 0.2, maxDf = 10))
    p should not include "CartesianProduct"
  }

  "minhashCandidates" should "join on the band hash, not a cartesian" in {
    val p = plan(Dedup.minhashCandidates(Dedup.minhashSignatures(docs)))
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
  }

  "TextQuality.overlapPairs" should "join on the fingerprint key, not a cartesian" in {
    val fps = graft.text.TextQuality.winnowedFingerprints(docs)
    val p = plan(graft.text.TextQuality.overlapPairs(fps))
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
  }

  "Ann.lshPairs" should "join on (table, bucket), not a cartesian" in {
    val p = plan(Ann.lshPairs(emb))
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
  }

  "TextSearch.bm25TopK" should "join postings on the term key, not a cartesian" in {
    val queries = Seq((1L, Seq("p1w1", "p2w2"))).toDF("query_id", "terms")
    // the single intentional 1-row corpus-stats crossJoin is a
    // BroadcastNestedLoopJoin of cardinality 1 — exclude cartesians only
    val p = plan(graft.text.TextSearch.bm25TopK(docs, queries, k = 3))
    p should not include "CartesianProduct"
  }

  "Sampling.contrastiveTriples" should "join on the bucket key, not a cartesian" in {
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("id1", "id2")
    // the two 1-row n_buckets crossJoins broadcast a count — exclude
    // cartesians only, like the bm25 stats join
    val p = plan(Sampling.contrastiveTriples(docs, "doc_id", pairs))
    p should not include "CartesianProduct"
  }

  "Sampling.packedShards" should "aggregate per pack with no corpus-wide window" in {
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
    val p = plan(Sampling.packedShards(toks, "doc_id", col("w"), budget = 64L,
      numRanges = 8))
    p should not include "CartesianProduct"
    // the only unpartitioned window is the <= numRanges offset table; a
    // corpus-wide ordered window would show a global sort of the doc rows
    "windowspecdefinition\\(doc_id".r.findAllIn(p.toLowerCase).size shouldBe 0
  }

  it should "bound the per-query top-k structurally via a shard-local phase" in {
    val queries = Seq((1L, Seq("p1w1", "p2w2"))).toDF("query_id", "terms")
    val df = graft.text.TextSearch.bm25TopK(docs, queries, k = 3, shards = 8)
    val p = plan(df)
    // two window phases: shard-local (partitioned by query_id AND the doc
    // shard) feeding the global per-query ranking — so the single
    // per-query task never sees more than shards·k rows
    p should include("_shard")
    "windowspecdefinition\\(query_id".r.findAllIn(p.toLowerCase).size should be >= 2
    // results are unchanged by sharding: identical to a 1-shard run
    val one = graft.text.TextSearch.bm25TopK(docs, queries, k = 3, shards = 1)
      .select("query_id", "doc_id", "rank").collect().toSet
    df.select("query_id", "doc_id", "rank").collect().toSet shouldBe one
  }
}
