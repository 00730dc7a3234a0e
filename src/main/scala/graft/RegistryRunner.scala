package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Sessions

/** What the CLI mains share: the local production session sized by
  * SPARK_GRAFT_CPUS, and the per-query loop Bench, Verify and PlanDump run
  * over the registry.
  *
  * Env: SPARK_GRAFT_CPUS (default: all cores, at least 2); SPARK_GRAFT_ONLY,
  * comma-separated query names to run a subset of the registry.
  */
object RegistryRunner {
  type Query = (SparkSession, String) => DataFrame

  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(math.max(2, Runtime.getRuntime.availableProcessors()))

  /** `Sessions.builder` on `local[cpus]` with the UI off. */
  def localBuilder(appName: String): SparkSession.Builder =
    Sessions.builder(appName, Some(s"local[$cpus]"), cpus)
      .config("spark.ui.enabled", "false")

  /** The names in the comma list `list`, trimmed. A name not in `known`
    * throws with `what` and every such name: silently dropping a typo
    * would give a normal-looking run over the wrong set.
    */
  def nameList(list: String, known: Set[String], what: String): Set[String] = {
    val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSet
    val unknown = names -- known
    require(unknown.isEmpty, s"$what: ${unknown.toSeq.sorted.mkString(", ")}")
    names
  }

  /** The registry entries `only` names (all of them when None), in name
    * order; a name the registry lacks throws ([[nameList]]).
    */
  def select(only: Option[String]): Seq[(String, Query)] = {
    val all = SparkEntry.queries
    val names = only.map(nameList(_, all.keySet, "SPARK_GRAFT_ONLY names not in the registry"))
    all.toSeq.filter { case (name, _) => names.forall(_(name)) }.sortBy(_._1)
  }

  /** Run `f` on each query SPARK_GRAFT_ONLY selects, in name order, with
    * its jobs described as `tag:name`. A non-fatal failure is logged as
    * `[tag] name failed: …` and returned as Left, and the loop goes on; a
    * fatal error (OOM, linkage) ends the run.
    */
  def foreachQuery[A](spark: SparkSession, tag: String)(
      f: (String, Query) => A): Seq[(String, Either[Throwable, A])] =
    select(sys.env.get("SPARK_GRAFT_ONLY")).map { case (name, q) =>
      spark.sparkContext.setJobDescription(s"$tag:$name")
      val r = try Right(f(name, q)) catch {
        case NonFatal(e) =>
          System.err.println(s"[$tag] $name failed: ${e.getMessage}")
          Left(e)
      }
      name -> r
    }
}
