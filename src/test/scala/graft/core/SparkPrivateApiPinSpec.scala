package graft.core

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, GraftTestBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryManager, Trigger}

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
  *      splicing (via GraftExtensions' SQL function registration);
  *   4. the `sql.streaming.queryId` local property of a foreachBatch
  *      thread, and which session's StreamingQueryManager knows the
  *      query and hears it end (via streaming.QueryState, which frees a
  *      run's frames then).
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

  "a foreachBatch query" should "carry its id as the batch thread's local property, " +
    "and be known to and end on the starting session's manager only" in {
    val landing = Files.createTempDirectory("graft-pin-landing").toFile.getAbsolutePath
    Seq(1L, 2L).toDF("id").coalesce(1).write.json(s"$landing/f1")
    val ended = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        ended.add(e.runId.toString)
    }
    spark.streams.addListener(listener)
    var seen = Option.empty[(String, java.util.UUID, StreamingQueryManager)]
    val q = try {
      val q = spark.readStream.schema("id long").json(s"$landing/f*").writeStream
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val id = batch.sparkSession.sparkContext.getLocalProperty("sql.streaming.queryId")
          seen = Some((id, spark.streams.get(id).runId, batch.sparkSession.streams))
        }
        .start()
      assert(q.awaitTermination(120000), "stream did not terminate in 120 s")
      GraftTestBridge.drainListenerBus(spark)
      q
    } finally spark.streams.removeListener(listener)
    val (queryId, runId, batchStreams) = seen.get
    queryId shouldBe q.id.toString
    runId shouldBe q.runId
    ended.toArray.toSeq should contain (q.runId.toString)
    // the batch's session is a clone with its own manager: a listener
    // added there would never hear the query end
    batchStreams should not be theSameInstanceAs (spark.streams)
  }
}
