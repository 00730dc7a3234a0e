package graft

import org.apache.spark.sql.SparkSession
import graft.core.Sessions
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for all specs: the production session
  * (core/Sessions) on local[4], one JVM-wide — specs run in a single
  * forked JVM, so getOrCreate dedups.
  */
trait SparkSpec extends AnyFlatSpec with Matchers {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Sessions.builder("graft-test", Some("local[4]"), shufflePartitions = 4)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
