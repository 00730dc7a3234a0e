package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SchemaToolsSpec extends SparkSpec {
  import spark.implicits._

  private def nested = {
    val json = Seq(
      """{"top level":{"inner field":1,"deep list":[{"x y":2}]},"plain":3}""",
      """{"top level":null,"plain":4}""")
    spark.read.json(json.toDS())
  }

  "replaceSpaces" should "rename every nested field" in {
    val out = SchemaTools.replaceSpaces(nested)
    out.schema.fieldNames.toSet shouldBe Set("top_level", "plain")
    out.select("top_level.inner_field").count() shouldBe 2
    out.select(expr("top_level.deep_list[0].x_y")).as[Option[Long]].collect().toSet shouldBe
      Set(Some(2L), None)
  }

  it should "preserve null structs (no struct-of-nulls resurrection)" in {
    val out = SchemaTools.replaceSpaces(nested)
    out.filter(col("top_level").isNull).count() shouldBe 1
  }

  it should "keep plans expression-only (no RDD round-trip)" in {
    // the rename must stay a single Project over the input (the reference's
    // df.rdd rebuild would show a fresh LogicalRDD *above* the source);
    // our fixture source is itself an RDD-backed json scan, so assert the
    // rename node is a projection, not that no RDD exists anywhere
    val out = SchemaTools.replaceSpaces(nested)
    val top = out.queryExecution.optimizedPlan.toString().linesIterator.next()
    top should include("Project")
  }
}
