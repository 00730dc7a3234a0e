package graft

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

class RegistryRunnerSpec extends AnyFlatSpec with Matchers {

  "RegistryRunner.select" should "reject a name the registry lacks, and name it" in {
    val e = intercept[IllegalArgumentException] {
      RegistryRunner.select(Some("d7_dedup_clusters, no_such_query"))
    }
    e.getMessage should include("no_such_query")
    e.getMessage should not include "d7_dedup_clusters"
  }

  it should "select a known subset in name order" in {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val subset = Seq(names(5), names.head, names.last)
    RegistryRunner.select(Some(subset.mkString(" , "))).map(_._1) shouldBe subset.sorted
    RegistryRunner.select(None).map(_._1) shouldBe names
  }
}
