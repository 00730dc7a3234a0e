package graft

import java.util.concurrent.CompletableFuture

import org.apache.spark.ml.feature.Word2VecModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.{Io, OutputGraph, Sessions}
import graft.etl._

/** CLI entry for the literature pipeline — the runnable surface a user of
  * the reference switches to (reference Main.scala:8–62: step dispatch
  * over processing/embedding/vectors/evidence/all, configured by
  * Configuration.scala:73–81 + reference.conf with per-release overlays).
  *
  * Usage:
  *   graft.EtlMain <step> [<step>...] [config=run.yaml] key=value...
  * steps: processing | embedding | vectors | evidence | all — an ordered
  * list, validated up front before any work runs (reference
  * Main.scala:39–62 validating against common.default-steps).
  * keys (CLI overrides win over the config file; nested keys dotted):
  *   config=        YAML config file (see EtlConfig — section ranks,
  *                  w2v hyperparameters, input schemas and per-output
  *                  write shaping live here)
  *   epmc= epmcids= targets= diseases= drugs=   (processing inputs,
  *                  equivalently inputs.epmc= …; structured form
  *                  inputs.epmc.path/.format/.schema/.options.*)
  *   out=           (output root, required)
  *   format=        (output format, default parquet)
  *   threshold=     (evidence cosine threshold, default 0.01)
  *   w2v.vectorSize= w2v.windowSize= w2v.maxIter= w2v.minCount=
  *   w2v.stepSize= w2v.numPartitions= w2v.seed=
  *   outputs.<name>.partitionBy= outputs.<name>.targetFiles=
  *   outputs.<name>.maxRecordsPerFile=
  * The EPMC input reads with the built-in EpmcSchema unless the config
  * declares `inputs.epmc.schema` (a DDL string, or `infer`) — schema
  * inference on JSON is a full extra pass over the corpus and is never
  * the default (core/Io.scala scaladoc).
  * The requested steps run as one graph of outputs (core/OutputGraph),
  * each written as soon as its inputs exist:
  *  - processing defines Grounding's two caches (the sentence frame and
  *    the grounded-label table) and fills both with one action on a pool
  *    thread, while this thread builds the grounding frames. Then
  *    `matches`, `cooccurrences`, `failedMatches` and
  *    `failedCooccurrences` are written concurrently, and the caches are
  *    freed once all four are done, on success or failure;
  *  - once `matches` is written, `literatureIndex`, `trainingSet` and the
  *    Word2Vec fit start together, each from the written `matches`;
  *  - the fitted model feeds the `W2VModel` save, `vectors` and
  *    `evidence` (which also waits for `cooccurrences`) from memory.
  * An input from a step not requested is read from its standard location
  * under out=, as an earlier run wrote it: `evidence` alone loads
  * `W2VModel`. A run returns once every output is on disk; when a write
  * throws, outputs not yet started are skipped, the run waits for those
  * that have started, frees the caches and rethrows the first exception.
  */
object EtlMain {

  private val knownSteps = Seq("processing", "embedding", "vectors", "evidence")

  /** Pool threads of one run: at least as many as `all` ever has outputs
    * ready at once, so a ready output never waits for a thread.
    */
  private val Threads = 8

  def main(args: Array[String]): Unit = {
    val (stepArgs, optArgs) = args.span(!_.contains("="))
    require(stepArgs.nonEmpty,
      "usage: EtlMain <step> [<step>...] [config=file.yaml] key=value...")
    val steps = validateSteps(stepArgs.toSeq)
    val opts = optArgs.map { a =>
      a.split("=", 2) match {
        case Array(k, v) => k -> v
        // a step name AFTER the first key=value lands here — say so,
        // instead of a bare MatchError
        case _ => sys.error(s"argument '$a' is not key=value — steps must " +
          "come before all key=value arguments")
      }
    }.toMap
    val cfg = EtlConfig.load(opts.get("config"), opts - "config")
    val spark = Sessions.builder(appName = s"graft-${steps.mkString("-")}").getOrCreate()
    try run(steps, cfg, spark)
    finally spark.stop()
  }

  /** Validate the whole step list before any step runs, expanding `all`
    * in place — a typo in step 3 must not surface after two hours of
    * step 1 (reference Main.scala:39–62).
    */
  private[graft] def validateSteps(steps: Seq[String]): Seq[String] = {
    val bad = steps.filterNot(s => knownSteps.contains(s) || s == "all")
    if (bad.nonEmpty) sys.error(s"unknown step${if (bad.size > 1) "s" else ""} " +
      s"'${bad.mkString("', '")}' (expected ${knownSteps.mkString("|")}|all)")
    steps.flatMap(s => if (s == "all") knownSteps else Seq(s))
  }

  private[graft] def run(step: String, cfg: EtlConfig, spark: SparkSession): Unit =
    run(validateSteps(Seq(step)), cfg, spark)

  /** Run the requested steps as one graph of outputs; each is written as
    * soon as its inputs exist (see the object's scaladoc).
    */
  private def run(steps: Seq[String], cfg: EtlConfig, spark: SparkSession): Unit = {
    def w(name: String, df: DataFrame): Unit =
      Io.write(df, cfg.writeSpec(name, s"${cfg.out}/$name"))
    def r(name: String): DataFrame =
      Io.read(spark, Io.ReadSpec(cfg.format, s"${cfg.out}/$name"))

    OutputGraph.run(Threads, "graft-etl") { g =>
      // an output of a step not requested is read from disk, where an
      // earlier run left it
      var (matches, cooccurrences) = (g.done, g.done)

      if (steps.contains("processing")) {
        val epmc = Io.read(spark, cfg.readSpec("epmc", "json", Some(EpmcSchema.schema)))
        val ids = Io.read(spark,
          cfg.readSpec("epmcids", "csv", None, Map("header" -> "true")))
        val caches = Grounding.caches(
          epmc, ids,
          Io.read(spark, cfg.readSpec("targets", "parquet")),
          Io.read(spark, cfg.readSpec("diseases", "parquet")),
          Io.read(spark, cfg.readSpec("drugs", "parquet")))
        val cached = g.task()(Grounding.materialize(caches))
        var readers: Seq[CompletableFuture[_]] = Seq(cached)
        try {
          val written = Processing.groundingOutputs(Grounding.resolve(caches))
            .map { case (n, df) => n -> g.task(cached)(w(n, df)) }
          readers ++= written.values
          matches = written("matches")
          cooccurrences = written("cooccurrences")
        } finally g.always(readers: _*)(Grounding.free(caches))
        g.task(matches)(
          w("literatureIndex", Processing.literatureIndex(r("matches"), spark, cfg.sectionRanks)))
      }

      val fitted = Option.when(steps.contains("embedding")) {
        def training = Embedding.trainingSet(r("matches"), spark, cfg.sectionRanks)
        g.task(matches)(w("trainingSet", training))
        val model = g.task(matches)(Embedding.fit(training, cfg.w2v))
        g.task(model)(model.join().save(s"${cfg.out}/W2VModel"))
        model
      }
      lazy val model = fitted.getOrElse(g.task()(Word2VecModel.load(s"${cfg.out}/W2VModel")))

      if (steps.contains("vectors"))
        g.task(model)(w("vectors", Vectors.fromModel(model.join())))
      if (steps.contains("evidence"))
        g.task(model, matches, cooccurrences)(w("evidence", Evidence.generate(
          model.join(), r("matches"), r("cooccurrences"),
          spark, Some(cfg.threshold), cfg.sectionRanks)))
    }
  }
}
