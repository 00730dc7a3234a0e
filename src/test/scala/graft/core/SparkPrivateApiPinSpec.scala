package graft.core

import graft.SparkSpec
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.functions._

/** Pins the private/fragile Spark API surface this library reaches past
  * the public DataFrame API for, so a Spark upgrade fails HERE with an
  * explicit inventory instead of misbehaving downstream:
  *
  *   1. `org.apache.spark.sql.classic.ExpressionUtils.column/expression`
  *      (via GraftSqlBridge — Column ↔ Expression converters went
  *      private[sql] in Spark 4);
  *   2. `org.apache.spark.sql.execution.LogicalRDD.rdd` (via
  *      core.Checkpoints — the handle to a localCheckpoint's persisted
  *      blocks);
  *   3. `sessionState.functionRegistry.registerFunction` +
  *      `CatalystSqlParser.parseExpression` with UnresolvedAttribute
  *      splicing (via GraftExtensions' SQL function registration).
  *
  * The version gate is deliberately exact on the minor line: these are
  * internal classes with no compatibility contract, so even a minor bump
  * must re-verify the three behavioral checks below (which exercise each
  * coupling end-to-end — if they pass on a new version, relax the pin).
  */
class SparkPrivateApiPinSpec extends SparkSpec {
  import spark.implicits._

  "the Spark runtime" should "be on the 4.1.x line this library's private-API use is pinned to" in {
    withClue(
      "Spark version moved off 4.1.x: re-verify GraftSqlBridge " +
        "(classic.ExpressionUtils), Checkpoints (execution.LogicalRDD.rdd) " +
        "and GraftExtensions (functionRegistry/CatalystSqlParser) before " +
        "relaxing this pin — they reach private[sql] surfaces with no " +
        "compatibility contract: ") {
      spark.version should startWith("4.1.")
    }
  }

  "GraftSqlBridge" should "round-trip Column <-> Expression through the private converters" in {
    val c = col("x") + lit(1)
    val e = GraftSqlBridge.expression(c)
    // the round-tripped column must evaluate identically
    val df = Seq(41).toDF("x")
    df.select(GraftSqlBridge.column(e).as("y")).as[Int].head() shouldBe 42
  }

  "Checkpoints.unpersistCheckpoint" should "free exactly the checkpointed RDD's blocks" in {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val ck = spark.range(1000).toDF("id").localCheckpoint()
    ck.count() shouldBe 1000
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    added should not be empty
    Checkpoints.unpersistCheckpoint(ck)
    val deadline = System.currentTimeMillis() + 20000
    def remaining = spark.sparkContext.getPersistentRDDs.keySet.intersect(added)
    while (remaining.nonEmpty && System.currentTimeMillis() < deadline) Thread.sleep(100)
    remaining shouldBe empty
    // non-checkpoint frames are left alone (exact-match contract)
    Checkpoints.unpersistCheckpoint(ck.select(col("id") + 1 as "id"))
  }

  "GraftExtensions.register" should "splice parsed kernels that evaluate through SQL" in {
    val r = spark.sql(
      "SELECT graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c, " +
        "graft_l2_norm(array(3.0D, 4.0D)) AS n").head()
    r.getDouble(0) shouldBe 1.0 +- 1e-12
    r.getDouble(1) shouldBe 5.0 +- 1e-12
  }
}
