package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.GraftTestBridge

/** EtlBench times the production pipeline: each EtlMain step over the
  * corpus it writes, and nothing left cached when it is done.
  */
class EtlBenchSpec extends SparkSpec {

  "EtlBench.run" should "time every EtlMain step, write every output and free every block" in {
    val dir = Files.createTempDirectory("graft-etl-bench").toString
    val entriesBefore = GraftTestBridge.cachedEntries(spark)
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet.toSet

    val steps = EtlBench.run(spark, d = 200, e = 50, dir)

    steps.map(_._1) shouldBe Seq("processing", "embedding", "vectors", "evidence")
    all(steps.map(_._2)) should be > 0.0
    Seq("matches", "cooccurrences", "failedMatches", "failedCooccurrences", "literatureIndex",
      "trainingSet", "W2VModel", "vectors", "evidence").foreach { name =>
      withClue(s"$name: ") { Files.isDirectory(Paths.get(s"$dir/out/$name")) shouldBe true }
    }
    spark.read.parquet(s"$dir/out/evidence").count() should be > 0L
    GraftTestBridge.cachedEntries(spark) shouldBe entriesBefore
    spark.sparkContext.getPersistentRDDs.keySet.toSet.diff(rddsBefore) shouldBe empty
  }
}
