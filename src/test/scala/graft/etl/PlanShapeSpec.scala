package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Physical-plan shape assertions: correctness tests prove the WHAT, these
  * lock the HOW — the plan properties that keep the pipeline viable at
  * corpus scale. A regression that silently turns a broadcast into a
  * shuffle, or drops a pushed filter, fails here long before anyone runs
  * 100 TB through it.
  */
class PlanShapeSpec extends SparkSpec {

  private lazy val g = Fixtures.grounding(spark)

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString()

  "mapEntities" should "broadcast the entity LUT into the grounding join" in {
    val lut = Grounding.entityLut(
      Fixtures.targets(spark), Fixtures.diseases(spark), Fixtures.drugs(spark))
    val sentences = Grounding.filterSentences(Grounding.loadSentences(
      graft.core.SchemaTools.replaceSpaces(Fixtures.epmc(spark)),
      Grounding.loadEpmcIds(Fixtures.epmcIds(spark))))
    val p = plan(Grounding.mapEntities(sentences, lut))
    p should include("BroadcastHashJoin")
    // grounding runs over the DISTINCT label vocabulary, not sentence rows
    p should include("HashAggregate")
  }

  "loadSentences" should "broadcast the id lookup on both repair joins" in {
    val p = plan(Grounding.loadSentences(
      graft.core.SchemaTools.replaceSpaces(Fixtures.epmc(spark)),
      Grounding.loadEpmcIds(Fixtures.epmcIds(spark))))
    // left_anti + left_outer both against the broadcast id LUT
    p.split("BroadcastHashJoin").length should be >= 3
  }

  "the evidence self-join" should "be an equi join on pmid, not a cartesian" in {
    val matches = g("matches")
    val model = Embedding.generateModel(matches, spark,
      Embedding.W2VConfig(vectorSize = 4, numPartitions = 1))
    val p = plan(Evidence.fromMatches(model, matches, spark, threshold = -2.0))
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
  }

  "parquet reads through query code" should "push filters into the scan" in {
    val df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .filter(col("l_shipdate") <= "1997-01-01")
      .select("l_orderkey", "l_quantity")
    val p = plan(df)
    p should include("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate")
    // column pruning: the scan reads only the referenced columns
    p should include("ReadSchema: struct<l_orderkey:bigint,l_quantity:double,l_shipdate")
  }

  "literatureIndex" should "contain no window exchanges (pure hash aggregation)" in {
    // materialize matches first: the assertion is about the relevance
    // computation itself, not the upstream grounding subtree (whose
    // disambiguation windows would otherwise appear in the same plan)
    val dir = java.nio.file.Files.createTempDirectory("graft-plan").toFile.getAbsolutePath
    g("matches").write.mode("overwrite").parquet(dir)
    val p = plan(Processing.literatureIndex(spark.read.parquet(dir), spark))
    p should not include "Window"
  }
}
