package graft.core

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

class FixpointSpec extends SparkSpec {

  import spark.implicits._

  private val Level = StorageLevel.MEMORY_AND_DISK_SER

  private def init: DataFrame = spark.range(0, 5).toDF("id")

  /** Round r adds 1 to every id, so generation r holds r until r + 5. */
  private def increment(df: DataFrame, round: Int): DataFrame =
    df.select((col("id") + 1).as("id"))

  // compare new keys only: Spark keeps the map weak-valued, so a GC can
  // drop an earlier test's RDD mid-test
  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def rddId(df: DataFrame): Int = df.queryExecution.analyzed match {
    case lr: LogicalRDD => lr.rdd.id
    case other          => fail(s"not a checkpoint product: ${other.nodeName}")
  }

  "Fixpoint.run" should "return the checkpointed init for a budget of 0" in {
    val before = persisted
    val (out, n) = Fixpoint.run(init, Level, 0)((_, _) => fail("no round may run"))
    n shouldBe 0
    persisted.diff(before) shouldBe Set(rddId(out))
    spark.sparkContext.getPersistentRDDs(rddId(out)).getStorageLevel shouldBe Level
    out.as[Long].collect().sorted shouldBe (0L until 5L)
    Checkpoints.unpersistCheckpoint(out)
  }

  it should "keep only the returned generation persisted on success" in {
    val before = persisted
    val (out, n) = Fixpoint.run(init, Level, 3)(increment)
    n shouldBe 3
    out.as[Long].collect().sorted shouldBe (3L until 8L)
    persisted.diff(before) shouldBe Set(rddId(out))
    Checkpoints.unpersistCheckpoint(out)
  }

  it should "free every block it persisted when round 2's step throws" in {
    val before = persisted
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Fixpoint.run(init, Level, 3) { (df, round) =>
        if (round < 2) increment(df, round) else df.select(col("no_such_column"))
      }
    }
    e.getMessage should include("no_such_column")
    persisted.diff(before) shouldBe empty
  }

  it should "stop at the first round its metric accepts, and throw after the cap when none does" in {
    // ids below 3 left after round r: max(0, 3 - r) — zero at round 3
    val (out, n) = Fixpoint.run(init, Level, 10,
      Some(Fixpoint.Zero(count(when(col("id") < 3, 1)), m => s"$m small ids")))(increment)
    n shouldBe 3
    Checkpoints.unpersistCheckpoint(out)

    // one more row every round: the observed count never repeats
    val before = persisted
    val e = intercept[IllegalStateException] {
      Fixpoint.run(init, Level, 4,
        Some(Fixpoint.Unchanged(count(lit(1)), m => s"$m rows"))) { (df, round) =>
        df.unionByName(spark.range(100L + round, 101L + round).toDF("id"))
      }
    }
    e.getMessage should include("4 rounds")
    e.getMessage should include("9 rows")
    persisted.diff(before) shouldBe empty
  }
}
