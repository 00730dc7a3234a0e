package graft

import org.apache.spark.sql.GraftTestBridge
import org.apache.spark.sql.functions._
import org.scalatest.LoneElement._

/** Locks ScaleSoak's generator contract at a small N, so the soak's
  * "dup counts are predictable, every run is a sanity check" claim is
  * itself verified: the 50-block structure (ids ≡ 1,2 mod 50 copy the
  * leader, id ≡ 3 appends one word), hashed (non-affine) word choice,
  * English stopword density, and the near-dup embedding perturbation.
  * Also the stage table's name check, the derived stream sizes, and the
  * three stream stages end to end at the smallest valid corpus, and the
  * `etl_pipeline` stage over a small EPMC corpus.
  */
class SoakSpec extends SparkSpec {
  import spark.implicits._

  private val n = 5000L
  private lazy val docs = ScaleSoak.documents(spark, n).cache()

  "ScaleSoak.documents" should "plant exactly the designed duplicate structure" in {
    docs.count() shouldBe n
    // ids ≡ 1,2 (mod 50) are byte-identical to their block leader
    val canon = graft.dedup.Dedup.exact(docs)
    canon.select("canonical_id").distinct().count() shouldBe (n - 2 * n / 50)
    // id ≡ 3 (mod 50) shares its leader's 36-word body but not its tail
    val (leader, near) = (docs.filter(col("doc_id") === 100L).head().getString(1),
      docs.filter(col("doc_id") === 103L).head().getString(1))
    near should not be leader
    near.split(' ').take(36).toSeq shouldBe leader.split(' ').take(36).toSeq
    near should endWith("of extra103")
    leader should endWith("of note")
  }

  it should "generate unique non-collapsing texts outside the dup blocks" in {
    // the affine-seed failure mode collapsed the corpus to |vocab|
    // distinct texts; hashed mixing keeps every non-dup text distinct
    val uniques = docs.filter(col("doc_id") % 50 =!= 1 && col("doc_id") % 50 =!= 2)
    uniques.select(md5(col("text"))).distinct().count() shouldBe uniques.count()
  }

  it should "read as English with clean quality for the corpus filters" in {
    val scored = docs.select(
      graft.text.TextAnalysis.langId(col("text")).as("lang"),
      graft.text.TextAnalysis.wordCount(col("text")).as("nw"))
    scored.filter(col("lang") =!= "en").count() shouldBe 0
    scored.agg(min("nw")).as[Int].head() should be >= 36
  }

  "ScaleSoak.embeddings" should "perturb only the last component of near-dup vectors" in {
    val emb = ScaleSoak.embeddings(spark, 500L, dim = 8).cache()
    emb.count() shouldBe 500L
    emb.select(org.apache.spark.sql.functions.size(col("embedding")))
      .distinct().as[Int].collect().toSeq shouldBe Seq(8)
    val v = emb.select("vec_id", "embedding").as[(Long, Seq[Float])]
      .collect().toMap
    // copies are identical to the leader; near differs in exactly dim-1
    v(101L) shouldBe v(100L)
    v(103L).init shouldBe v(100L).init
    v(103L).last shouldBe 0.49f
    // non-dup vectors are distinct
    v(104L) should not be v(100L)
  }

  "ScaleSoak.select" should "reject stage names the table lacks, naming each one" in {
    val e = intercept[IllegalArgumentException](
      ScaleSoak.select(Some("exact_dedup, bm25_topk_typo,crawl_cdcx")))
    e.getMessage should include("bm25_topk_typo, crawl_cdcx")
    e.getMessage should not include "exact_dedup"
    ScaleSoak.select(Some("crawl_cdc,exact_dedup")).map(_.name) shouldBe
      Seq("exact_dedup", "crawl_cdc")
    val defaults = ScaleSoak.select(None).map(_.name)
    defaults should contain("clean_corpus")
    defaults should not contain "stream_admission"
    defaults should not contain "etl_pipeline"
  }

  "ScaleSoak.streamSizes" should "derive the recorded 2.5M stream runs and reject sizes the ratios cannot split" in {
    ScaleSoak.streamSizes(2500000L) shouldBe Map(
      "stream_admission" -> ((100000L, Seq(100000L), 25)),
      "image_admission" -> ((50000L, Seq(20000L), 10)),
      "crawl_cdc" -> ((1000000L, Seq(500000L, 500000L, 100000L), 10)))
    val e = intercept[IllegalArgumentException](ScaleSoak.streamSizes(130000L))
    e.getMessage should include("nearest: 125000")
    ScaleSoak.partitions(2500000L, cpus = 32) shouldBe 32
    ScaleSoak.partitions(10000000L, cpus = 32) shouldBe 128
  }

  "ScaleSoak.Report" should "count a stage that keeps a batch log by its batches' time in the headline" in {
    def result(name: String, sec: Double, batchSecs: Double*) = ScaleSoak.StageResult(name, sec, 0L, 0L, 1L,
      "{}", batchSecs.zipWithIndex.map { case (b, i) => ScaleSoak.Batch(i.toLong, b, Nil, 0) })
    // etl_pipeline's 54.4 s include writing its inputs, its batch 0 is
    // EtlMain alone; crawl_cdc's 9 s include landing and the replay check
    val json = ScaleSoak.Report(1000L, 8, 4,
      Seq(result("exact_dedup", 3.0), result("etl_pipeline", 54.4, 47.0), result("crawl_cdc", 9.0, 1.5, 2.5)),
      0L, 0L, 0L, Nil).json
    json should include(""""value":54.0,""")
    json should include(""""docs_per_sec":18,""")
    json should include(""""etl_pipeline":{"sec":54.4,""")
  }

  "ScaleSoak.run" should "run the three stream stages with the planted per-batch counts and no violation" in {
    val report = ScaleSoak.run(spark, 12500L, dim = 8, parts = 4,
      ScaleSoak.select(Some("stream_admission,image_admission,crawl_cdc")))
    report.violations shouldBe empty
    val stages = report.stages.map(s => s.name -> s.batches).toMap

    // 25 batches of 500 docs; every batch after the first flags its 10
    // planted copies of the previous batch
    val stream = stages("stream_admission")
    stream.map(_.id) shouldBe (0L until 25L)
    stream.foreach(b => b("admitted") + b("flagged") shouldBe 500L)
    stream.tail.map(_("flagged")).distinct shouldBe Seq(10L)

    // 10 batches of 100 images: 2 corrupt ones rejected each batch, and
    // at least the 2 planted copies flagged after the first
    val image = stages("image_admission")
    image.map(_.id) shouldBe (0L until 10L)
    image.foreach(b => b("admitted") + b("flagged") + b("rejected") shouldBe 100L)
    image.map(_("rejected")).distinct shouldBe Seq(2L)
    all(image.tail.map(_("flagged"))) should be >= 2L

    // 5,000 first-sight URLs, then 2,500 new + 2,500 revisits (half
    // changed) + 500 stale per batch; state holds one row per URL
    val crawl = stages("crawl_cdc")
    crawl.map(_.id) shouldBe (0L until 10L)
    crawl.head.counts.take(4) shouldBe Seq("new" -> 5000L, "changed" -> 0L, "unchanged" -> 0L, "stale" -> 0L)
    crawl.tail.map(_.counts.take(4)).distinct shouldBe
      Seq(Seq("new" -> 2500L, "changed" -> 1250L, "unchanged" -> 1250L, "stale" -> 500L))
    crawl.map(_("state_rows")) shouldBe (0 until 10).map(b => 5000L + b * 2500L)
  }

  it should "run EtlMain all as the etl_pipeline stage, timing it as batch 0 and freeing every block" in {
    val entriesBefore = GraftTestBridge.cachedEntries(spark)
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val report = ScaleSoak.run(spark, 500L, dim = 8, parts = 4, ScaleSoak.select(Some("etl_pipeline")))
    report.violations shouldBe empty
    val etl = report.stages.loneElement
    etl.name shouldBe "etl_pipeline"
    etl.rows should be > 0L
    etl.batches.map(_.id) shouldBe Seq(0L)
    etl.batches.head("evidence") shouldBe etl.rows
    etl.batches.head.sec should be > 0.0
    GraftTestBridge.cachedEntries(spark) shouldBe entriesBefore
    spark.sparkContext.getPersistentRDDs.keySet.toSet.diff(rddsBefore) shouldBe empty
  }
}
