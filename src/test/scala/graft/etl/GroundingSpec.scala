package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GroundingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val g = Fixtures.grounding(spark)
  private lazy val matches = g("matches").cache()
  private lazy val mapped = g("mappedLabels").cache()

  "loadEpmcIds" should "keep only well-formed distinct PMC rows" in {
    val ids = Grounding.loadEpmcIds(Fixtures.epmcIds(spark))
      .as[(String, String)].collect().toSet
    ids shouldBe Set(("2", "PMC2"), ("3", "PMC3"))
  }

  "loadSentences" should "repair ids and flag failures" in {
    val sents = Grounding.loadSentences(
      graft.core.SchemaTools.replaceSpaces(Fixtures.epmc(spark)),
      Grounding.loadEpmcIds(Fixtures.epmcIds(spark)))

    // doc 3 (pmid in LUT, no pmcid) dropped by the anti join
    sents.filter(col("text") === "dropped doc").count() shouldBe 0
    // doc 2's pmid recovered through PMC2
    sents.filter(col("pmcid") === "PMC2").select("pmid").as[String].head() shouldBe "2"
    // doc 6 has no ids → pmid stays null until filterSentences removes it
    sents.filter(col("text") === "orphan").select("pmid").as[String].collect().head shouldBe null
    // doc 4's Greek sentence flagged non-ASCII
    sents.filter(col("pmid") === "4").select("failed_sentence").as[Boolean].head() shouldBe true
    // date parts derived
    sents.filter(col("pmid") === "1").select("year", "month", "day")
      .as[(Int, Int, Int)].head() shouldBe ((2020, 1, 2))
  }

  "schema space-rename" should "reach the nested journal info field" in {
    val renamed = graft.core.SchemaTools.replaceSpaces(Fixtures.epmc(spark))
    renamed.schema.fieldNames should contain("journal_info")
    renamed.select("journal_info.name").count() shouldBe 6
  }

  "entityLut" should "ground names, synonyms and symbols with factors" in {
    val lut = Grounding.entityLut(
      Fixtures.targets(spark), Fixtures.diseases(spark), Fixtures.drugs(spark))
      .cache()

    // disease name at factor 1.0, related synonym at 0.996
    lut.filter(col("labelN") === "asthma" && col("type") === "DS")
      .select("keywordId", "factor").as[(String, Double)].head() shouldBe (("EFO_0000270", 1.0))
    lut.filter(col("labelN") === "breastcancer").select("factor").as[Double].head() shouldBe 0.996
    // TT symbol key for SNCA
    lut.filter(col("labelN") === "snca" && col("type") === "GP")
      .select("keywordId").as[String].head() shouldBe "ENSG0001"
    // ambiguous p38: two targets, HLL ambiguity 2 on both rows
    val p38 = lut.filter(col("labelN") === "p38").select("keywordId", "uniqueKeywordIdsPerLabelN")
      .as[(String, Long)].collect().toSet
    p38.map(_._1) shouldBe Set("ENSG0003", "ENSG0004")
    all(p38.map(_._2)) shouldBe 2L
    // drug LT and TT keys both present
    lut.filter(col("type") === "CD" && col("labelN") === "aspirin").count() shouldBe 1
  }

  "mapEntities" should "pick top-factor groundings and keep ties" in {
    // SNCA → ENSG0001 via TT symbol; Greek α-synuclein → ENSG0001 via LT name
    mapped.filter(col("label") === "SNCA").select("keywordId").as[String].head() shouldBe "ENSG0001"
    mapped.filter(col("label") === "α-synuclein").select("keywordId").as[String]
      .collect() shouldBe Array("ENSG0001")
    // TNF-alpha grounds through the TT symbol synonym
    mapped.filter(col("label") === "TNF-alpha").select("keywordId").as[String]
      .head() shouldBe "ENSG0002"
    // ambiguous p38 keeps both tied groundings (dense_rank = 1 for both)
    mapped.filter(col("label") === "p38").select("keywordId").as[String]
      .collect().toSet shouldBe Set("ENSG0003", "ENSG0004")
  }

  "resolveMatches" should "produce flat mapped matches and failed rows" in {
    // doc1: SNCA ×3 (title + results ×2) + asthma; doc2: TNF + cancer;
    // doc4: α-synuclein; doc5: p38 ×2 groundings
    matches.count() shouldBe 9
    matches.select(col("keywordId")).as[String].collect().toSet shouldBe
      Set("ENSG0001", "EFO_0000270", "ENSG0002", "EFO_0000305", "ENSG0003", "ENSG0004")
    // the OG (organism) match can never ground — types outside GP/DS/CD
    // have no key flavor (reference Grounding.scala:173–181) — and must
    // surface in the failed output, not silently vanish
    g("failedMatches").count() shouldBe 1
    g("failedMatches").select("label", "type").as[(String, String)].head() shouldBe
      (("mouse", "OG"))
  }

  "resolveCooccurrences" should "ground both sides of GP-DS pairs" in {
    val coocs = g("cooccurrences").cache()
    coocs.count() shouldBe 2
    val pair = coocs.filter(col("pmid") === "1")
      .select("keywordId1", "keywordId2", "evidence_score", "type")
      .as[(String, String, Double, String)].head()
    pair shouldBe (("ENSG0001", "EFO_0000270", 5.0, "GP-DS"))
  }

  "disambiguate" should "keep only least-ambiguous contexts per keyword" in {
    val df = Seq(
      // keyword K seen in p1 only via an ambiguous label (count 2)
      ("p1", "PMCp1", "GP", "K", 2L),
      // and in p2 via an unambiguous one (count 1) → p1 rows dropped
      ("p2", "PMCp2", "GP", "K", 1L),
      ("p2", "PMCp2", "GP", "K", 1L),
      // keyword L only ever ambiguous → kept everywhere
      ("p3", "PMCp3", "GP", "L", 3L))
      .toDF("pmid", "pmcid", "type", "keywordId", "cnt")
    val out = Grounding.disambiguate(df, "keywordId", "cnt")
      .select("pmid", "keywordId").as[(String, String)].collect().toSet
    out shouldBe Set(("p2", "K"), ("p3", "L"))
  }
}
