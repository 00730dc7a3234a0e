package graft.pipelines

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CorpusDiffSpec extends SparkSpec {
  import spark.implicits._

  private val before = Seq(
    (1L, "alpha"), (2L, "beta"), (3L, "gamma"), (4L, "delta")).toDF("doc_id", "text")
  private val afterCorpus = Seq(
    (1L, "alpha"),          // same
    (2L, "beta prime"),     // changed
    (4L, "delta"),          // same (3 removed)
    (5L, "epsilon")         // added
  ).toDF("doc_id", "text")

  behavior of "CorpusDiff"

  it should "classify added / removed / changed / same per document" in {
    val m = CorpusDiff.diff(before, afterCorpus)
      .as[(Long, String)].collect().toMap
    m shouldBe Map(1L -> "same", 2L -> "changed", 3L -> "removed",
      4L -> "same", 5L -> "added")
  }

  it should "diff identical corpora to all-same, and against empty to all-added/removed" in {
    CorpusDiff.diff(before, before).filter($"status" =!= "same").count() shouldBe 0L
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    CorpusDiff.diff(empty, afterCorpus).filter($"status" =!= "added").count() shouldBe 0L
    CorpusDiff.diff(before, empty).filter($"status" =!= "removed").count() shouldBe 0L
  }

  it should "never shuffle text: the rows entering the join are (id, hash) only" in {
    // the text column must be projected away below every exchange —
    // the join sides scan/emit only doc_id and the md5 columns (for the
    // local fixture Catalyst even constant-folds the md5 itself)
    val plan = CorpusDiff.diff(before, afterCorpus).queryExecution.executedPlan.toString
    plan should include("h_before")
    plan should not include "text#"
  }
}
