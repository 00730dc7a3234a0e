package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

class StemExpressionSpec extends SparkSpec {
  import spark.implicits._

  "StemArrayExpression" should "stem arrays inside codegen" in {
    val out = Seq(Seq("running", "caresses", "p38"), Seq.empty[String])
      .toDF("toks")
      .select(StemArrayExpression(col("toks")).as("stems"))
      .as[Seq[String]].collect()
    out(0) shouldBe Seq("run", "caress", "p38")
    out(1) shouldBe Seq.empty
  }

  it should "preserve nulls (array cells and whole arrays)" in {
    val df = spark.sql("SELECT array('running', cast(null as string)) AS a " +
      "UNION ALL SELECT cast(null as array<string>)")
    val out = df.select(StemArrayExpression(col("a"))).collect()
    out.map(_.isNullAt(0)).toSet shouldBe Set(true, false)
    out.find(!_.isNullAt(0)).get.getSeq[String](0) shouldBe Seq("run", null)
  }

  it should "be registered as a SQL function via GraftExtensions" in {
    spark.sql("SELECT porter_stem(array('nationalization','utilities')) AS s")
      .as[Seq[String]].head() shouldBe Seq("nation", "util")
  }

  it should "agree with the plain-Scala kernel over the fixture vocabulary" in {
    val words = Seq("relational", "hopefulness", "electrical", "sky", "agreed",
      "synuclein", "tnf2alpha", "x")
    val viaExpr = Seq(words).toDF("t")
      .select(StemArrayExpression(col("t"))).as[Seq[String]].head()
    viaExpr shouldBe words.map(PorterStemmer.stem)
  }
}
