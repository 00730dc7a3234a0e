package graft
import java.nio.file.{Files, Paths}

/** Optimization-round measurement tool (guide §1/§7.2): dump
  * `.explain("formatted")` for every registered query (or the
  * SPARK_GRAFT_ONLY subset) to <outDir>/<name>_<suffix>.txt so plan-shape
  * claims (Exchange count, join strategy, PushedFilters/ReadSchema) are
  * checkable artifacts, not assertions. Runs on the production session,
  * so the dumped plan is the one Bench and EtlMain actually run.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = if (args.length > 0) args(0) else "/tmp/plans"
    val suffix = if (args.length > 1) args(1) else "before"
    val spark = RegistryRunner.localBuilder("graft-plandump").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    RegistryRunner.foreachQuery(spark, "plandump") { (name, q) =>
      val plan = q(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
    }
    spark.stop()
  }
}
