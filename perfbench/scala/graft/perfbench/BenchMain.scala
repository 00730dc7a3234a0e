package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal
import org.apache.spark.ml.feature.Word2VecModel
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{EtlMain, SparkEntry}
import graft.core.{Io, Sessions}
import graft.dedup.Dedup
import graft.etl._
import graft.streaming.LiteratureStream

/** JVM half of the benchmark (perfbench/run.py is the entry point).
  *
  *   graft.perfbench.BenchMain <workload> <inputs> <work> <seconds> <trace 0|1> <seed> <result.json>
  *
  * Builds the session with graft.core.Sessions.builder, warms up Spark's
  * shared machinery, then runs iterations of the workload (at least one)
  * until `seconds` have passed and writes their timings to `result.json`.
  * The first iteration runs in a fresh JVM, as every EtlMain run does. With
  * trace=1 the same calls run under a Tracer (each registry query in a span,
  * EtlMain.run with its Spark actions charged to layers) and the result
  * also carries the per-layer report, the spans and the actions. Outputs
  * stay under `work` for run.py to check.
  */
object BenchMain {

  val Cores = 4

  /** JVM uptime after which the traced etl_batch run skips its stream drain. */
  val StreamCutoffS = 100

  /** The layer that defines each output EtlMain writes. */
  val OutputLayer: Map[String, String] = Map(
    "matches" -> "etl.grounding", "cooccurrences" -> "etl.grounding",
    "failedMatches" -> "etl.grounding", "failedCooccurrences" -> "etl.grounding",
    "literatureIndex" -> "etl.processing", "trainingSet" -> "etl.embedding.training_set",
    "vectors" -> "etl.vectors", "evidence" -> "etl.evidence", "W2VModel" -> "core.io")

  /** Call-site frame prefixes and the layer each belongs to; a call site is
    * charged to the layer of its innermost matching frame.
    */
  val FrameLayer: Seq[(String, String)] = Seq(
    "org.apache.spark.ml.util.DefaultParams" -> "core.io",
    "org.apache.spark.ml.feature.Word2VecModel$Word2VecModel" -> "core.io",
    "org.apache.spark.mllib.feature.Word2VecModel" -> "core.io",
    "org.apache.spark.mllib.feature.Word2Vec" -> "etl.embedding.fit",
    "graft.etl.Embedding$.fit" -> "etl.embedding.fit",
    "graft.etl.Embedding$.trainingSet" -> "etl.embedding.training_set",
    "graft.etl.Grounding" -> "etl.grounding",
    "graft.etl.Processing" -> "etl.processing",
    "graft.etl.Vectors" -> "etl.vectors",
    "graft.etl.Evidence" -> "etl.evidence",
    "graft.core.Io" -> "core.io")

  val Layers: Seq[String] = Seq(
    "etl.grounding", "etl.processing", "etl.embedding.training_set", "etl.embedding.fit",
    "etl.vectors", "etl.evidence", "core.io", "streaming.literature_stream",
    "dedup.pairs", "dedup.clusters", "graph")

  /** ops_iterative queries and the layer each one exercises: consumers of
    * the fixpoint loops (Dedup.clusters, Graph.pageRank, kCorePeel,
    * bfsDistances, labelPropagation) and their one-pass parents.
    */
  val OpsQueries: Seq[(String, String)] = Seq(
    "d5_ngram_jaccard_pairs" -> "dedup.pairs",
    "d16_dhash_pairs" -> "dedup.pairs",
    "d7_dedup_clusters" -> "dedup.clusters",
    "g1_triangles" -> "graph",
    "g2_pagerank" -> "graph",
    "g3_kcore_peel" -> "graph",
    "g5_bfs_distances" -> "graph",
    "g6_label_propagation" -> "graph")

  /** One iteration: its wall time, the named units (queries) it is made
    * of with their times, and the steps attempted/failed.
    */
  final case class Iter(wallS: Double, units: Seq[(String, Double)], attempted: Int,
      errors: Seq[String], outDir: String)

  trait Workload {
    /** Workload-specific warm-up, after the shared one; part of set-up. */
    def warmUp(): Unit = ()
    def iteration(k: Int, tracer: Option[Tracer]): Iter
    /** Work done once after the timed loop, outside every timed region. */
    def finish(tracer: Option[Tracer]): Map[String, Any] = Map.empty
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, inputs, work, secondsArg, traceArg, seedArg, resultPath) = args
    val seconds = secondsArg.toDouble
    LiveHeap.install()
    val spark = Sessions.builder("graft-perfbench", Some(s"local[$Cores]"), Cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val w: Workload = workload match {
      case "etl_batch"     => new EtlBatch(spark, inputs, work)
      case "ops_iterative" => new OpsIterative(spark, inputs, work, seedArg.toLong)
      case other           => sys.error(s"unknown workload '$other'")
    }
    val (_, warmupS) = timed {
      warmUp(spark)
      w.warmUp()
    }
    val tracer = if (traceArg == "1") Some(new Tracer(spark)) else None
    val iters = mutable.ArrayBuffer.empty[Iter]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    // closed loop, one client: the next iteration starts when the last ends
    while (iters.isEmpty || System.nanoTime() < deadline) {
      iters += w.iteration(iters.size + 1, tracer)
      cleanup(spark)
    }
    val extra = w.finish(tracer)
    val layerReport = tracer.map { tr =>
      tr.stop()
      tr.report(Layers, Cores, iters.size, root = workload)
    }

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "session_s" -> sessionS,
      "warmup_s" -> warmupS,
      "iterations" -> iters.map(i => Map(
        "wall_s" -> i.wallS, "units" -> i.units.map(_._2), "unit_names" -> i.units.map(_._1),
        "attempted" -> i.attempted, "errors" -> i.errors, "out_dir" -> i.outDir)),
      "peak_rss_mb" -> peakRssMb(),
      "peak_heap_mb" -> LiveHeap.peakMb,
      "session_conf" -> spark.conf.getAll.toSeq.sortBy(_._1).toMap,
      "extra" -> extra)
    layerReport.foreach(r => result("layers") = r)
    tracer.foreach { tr =>
      result("spans") = tr.spanRecords
      result("actions") = tr.actionRecords.map(a => Map(
        "layer" -> a.layer, "label" -> a.label, "start_ms" -> a.startMs, "end_ms" -> a.endMs))
    }
    Files.writeString(Paths.get(resultPath), Json.write(result))
    spark.stop()
  }

  /** Warm Spark's shared machinery (codegen, shuffle, joins, windows,
    * local checkpoints, the noop sink) on synthetic rows, as graft.Bench
    * does, so the first measured query does not pay for all of it. graft's
    * own code paths stay cold, as in a production run.
    */
  def warmUp(spark: SparkSession): Unit = {
    spark.range(1000000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    val a = spark.range(20000).selectExpr("id", "id % 97 AS k", "md5(cast(id AS string)) AS h")
    a.join(a.groupBy("k").agg(count(lit(1)).as("n")), "k")
      .withColumn("r", row_number().over(Window.partitionBy("k").orderBy("h")))
      .filter(col("r") <= 3)
      .localCheckpoint()
      .write.format("noop").mode("overwrite").save()
    cleanup(spark)
  }

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Free blocks a previous iteration or query left cached, outside any
    * timed region (graft.Bench does the same before each rep).
    */
  def cleanup(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  /** Peak over every collection so far of the heap in use right after it:
    * the most memory the run kept live, whatever heap size G1 chose.
    */
  object LiveHeap {
    private var peak = 0L
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener((n: Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val after = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            .getGcInfo.getMemoryUsageAfterGc.asScala
          val used = after.collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { peak = math.max(peak, used) }
        }, null, null)
      case _ =>
    }

    def peakMb: Double = {
      val bytes: Long = synchronized(peak)
      bytes / 1024d / 1024d
    }
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0d)

  private def attempt(errors: mutable.Buffer[String], what: String)(f: => Unit): Unit =
    try f
    catch { case NonFatal(e) => errors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400) }

  /** The production ETL: EtlMain.run for `all` over the generated inputs. */
  final class EtlBatch(spark: SparkSession, inputs: String, work: String) extends Workload {

    private def config(out: String): EtlConfig = EtlConfig.load(None, Map(
      "epmc" -> s"$inputs/epmc", "epmcids" -> s"$inputs/epmcids",
      "targets" -> s"$inputs/targets", "diseases" -> s"$inputs/diseases",
      "drugs" -> s"$inputs/drugs", "out" -> out,
      // every scored pair passes, so the evidence row count is predictable
      // from the inputs; the cosine is still computed for every pair
      "threshold" -> "-2"))

    private val outs = mutable.ArrayBuffer.empty[String]

    def iteration(k: Int, tracer: Option[Tracer]): Iter = {
      val out = s"$work/etl_batch/iter-$k"
      val cfg = config(out)
      val errors = mutable.ArrayBuffer.empty[String]
      val (_, wall) = timed(attempt(errors, "EtlMain all") {
        tracer match {
          case None     => EtlMain.run("all", cfg, spark)
          case Some(tr) => tr.actions("etl_batch", layerOfAction(out))(EtlMain.run("all", cfg, spark))
        }
      })
      outs += out
      Iter(wall, Seq("EtlMain all" -> wall), 1, errors.toSeq, out)
    }

    /** Layer of a Spark action EtlMain runs. A write is charged to the layer
      * whose output it writes: Spark runs the reads and the grounding and
      * processing plans lazily inside the writes that consume them, so the
      * writes of `matches` and the other grounding outputs carry the EPMC
      * read and grounding, the write of `literatureIndex` the index build.
      * Any other action (W2V model save and load, the Word2Vec fit's jobs,
      * the epmcids CSV header read) is charged by the innermost frame of its
      * call site that belongs to a layer.
      */
    private def layerOfAction(out: String)(plan: String, callSite: String): String = {
      // the write command's first argument, in Spark's formatted plan, is its output path
      val written = raw"Arguments: \S*?${java.util.regex.Pattern.quote(out)}/([A-Za-z0-9]+)".r
      written.findFirstMatchIn(plan).map(m => OutputLayer.getOrElse(m.group(1), "")).getOrElse {
        callSite.linesIterator.flatMap(f => FrameLayer.collectFirst { case (p, l) if f.startsWith(p) => l })
          .nextOption().getOrElse("")
      }
    }

    /** Traced only, after the timed iterations and outside their accounting:
      * rows each layer wrote in every iteration, read back from the outputs,
      * the domain counts of the last iteration, then the streaming layer
      * (below).
      */
    override def finish(tracer: Option[Tracer]): Map[String, Any] = tracer.fold(Map.empty[String, Any]) { tr =>
      val lastOut = outs.last
      def rows(out: String, name: String) = scala.util.Try(spark.read.parquet(s"$out/$name").count().toDouble)
        .getOrElse(0d)
      for (out <- outs; name <- OutputLayer.keySet - "W2VModel"; r = rows(out, name)) {
        tr.count(s"${OutputLayer(name)}.rows_out", r)
        tr.count("core.io.rows_out", r)
      }
      val written = (OutputLayer.keySet - "W2VModel").map(n => n -> rows(lastOut, n)).toMap
      tr.gauge("etl.grounding.hit_rate", written("matches") / (written("matches") + written("failedMatches")))
      tr.gauge("etl.evidence.rows", written("evidence"))
      val vocab = scala.util.Try(Word2VecModel.load(s"$lastOut/W2VModel").getVectors.count().toDouble)
        .getOrElse(0d)
      tr.gauge("etl.embedding.fit.vocab", vocab)
      tr.count("etl.embedding.fit.rows_out", vocab * outs.size)
      val cfg = config(lastOut)
      def read(name: String, format: String, opts: Map[String, String] = Map.empty) =
        Io.read(spark, cfg.readSpec(name, format, None, opts))
      tr.gauge("etl.grounding.vocab_labels", scala.util.Try(Grounding.compute(
        Io.read(spark, cfg.readSpec("epmc", "json", Some(EpmcSchema.schema))),
        read("epmcids", "csv", Map("header" -> "true")), read("targets", "parquet"),
        read("diseases", "parquet"), read("drugs", "parquet"))("mappedLabels").count().toDouble)
        .getOrElse(0d))
      cleanup(spark)
      if (ManagementFactory.getRuntimeMXBean.getUptime / 1e3 < StreamCutoffS) stream(tr) else Map.empty
    }

    /** Traced only: the streaming layer, LiteratureStream.groundingWriter
      * plus parquetSink draining the landing directory (the corpus's first
      * documents) with AvailableNow, one file per trigger. It runs after the
      * timed iterations and outside their accounting, and is skipped when
      * the JVM has already run `StreamCutoffS`, so that a slow machine still
      * finishes the run within its time limit.
      */
    private def stream(tr: Tracer): Map[String, Any] = {
      val root = s"$work/etl_stream"
      val errors = mutable.ArrayBuffer.empty[String]
      var batches = Seq.empty[Double]
      attempt(errors, "LiteratureStream") {
        tr.span("streaming.literature_stream") {
          val docs = spark.readStream.schema(EpmcSchema.schema)
            .option("maxFilesPerTrigger", "1").json(s"$inputs/stream")
          def read(name: String, format: String, opts: Map[String, String] = Map.empty) =
            Io.read(spark, Io.ReadSpec(format, s"$inputs/$name", None, opts))
          val q = LiteratureStream.backfill(LiteratureStream.groundingWriter(
            docs, read("epmcids", "csv", Map("header" -> "true")), read("targets", "parquet"),
            read("diseases", "parquet"), read("drugs", "parquet"),
            LiteratureStream.parquetSink(s"$root/out"))
            .option("checkpointLocation", s"$root/_checkpoint"))
          tr.alias(q.runId.toString, "streaming.literature_stream")
          q.awaitTermination()
          batches = q.recentProgress.toSeq.filter(_.numInputRows > 0)
            .map(_.durationMs.get("triggerExecution").toDouble / 1e3)
        }
      }
      cleanup(spark)
      val rows = scala.util.Try(spark.read.parquet(s"$root/out/matches").count() +
        spark.read.parquet(s"$root/out/cooccurrences").count()).getOrElse(0L)
      tr.count("streaming.literature_stream.rows_out", rows.toDouble)
      tr.gauge("streaming.literature_stream.batches", batches.size.toDouble)
      tr.gauge("streaming.literature_stream.batch_p50_s",
        if (batches.isEmpty) 0d else batches.sorted.apply(batches.size / 2))
      Map("stream_out" -> s"$root/out", "stream_batches" -> batches, "errors" -> errors.toSeq)
    }
  }

  /** Registry queries over the generated tables, in an order the seed
    * permutes anew for every pass. Each query writes its result as parquet
    * (as graft.Verify does), which run.py compares with the query's DuckDB
    * oracle.
    */
  final class OpsIterative(spark: SparkSession, inputs: String, work: String, seed: Long) extends Workload {
    private val rng = new Random(seed)
    private val layerOf = OpsQueries.toMap

    /** graft's shared query paths (Tables, text and graph helpers), through
      * registry queries outside the measured set, so that the cold start
      * does not land on whichever measured query the seed puts first.
      */
    override def warmUp(): Unit = Seq("d1_dedup_exact", "g4_clustering_coeff").foreach { q =>
      SparkEntry.queries(q)(spark, inputs).write.format("noop").mode("overwrite").save()
      cleanup(spark)
    }

    def iteration(k: Int, tracer: Option[Tracer]): Iter = {
      val dir = s"$work/ops_iterative/pass-$k"
      val errors = mutable.ArrayBuffer.empty[String]
      def pass(): Seq[(String, Double)] = rng.shuffle(OpsQueries.map(_._1)).map { name =>
        cleanup(spark)
        val run = () => SparkEntry.queries(name)(spark, inputs)
          .write.mode("overwrite").parquet(s"$dir/$name")
        val (_, t) = timed(attempt(errors, name) {
          tracer match {
            case None     => run()
            case Some(tr) => tr.span(layerOf(name), name)(run())
          }
        })
        tracer.filter(_ => layerOf(name) != "dedup.pairs").foreach(
          _.count(s"${layerOf(name)}.leaked_blocks", spark.sparkContext.getPersistentRDDs.size.toDouble))
        name -> t
      }
      val units = tracer.fold(pass())(_.span("ops_iterative")(pass()))
      Files.createDirectories(Paths.get(dir))
      Files.writeString(Paths.get(s"$dir/oracle_sql.json"), Json.write(
        SparkEntry.oracleSql.filter { case (n, _) => layerOf.contains(n) }))
      Iter(units.map(_._2).sum, units, units.size, errors.toSeq, dir)
    }

    /** Traced only: result rows per layer over every pass, and the
      * convergence rounds of d7's cluster resolution
      * (Dedup.clustersWithRounds on d7's input).
      */
    override def finish(tracer: Option[Tracer]): Map[String, Any] = {
      tracer.foreach { tr =>
        for (pass <- new java.io.File(s"$work/ops_iterative").listFiles; (name, layer) <- OpsQueries) {
          val n = scala.util.Try(spark.read.parquet(s"$pass/$name").count())
          tr.count(s"$layer.rows_out", n.getOrElse(0L).toDouble)
        }
        val docs = Io.read(spark, Io.ReadSpec("parquet", s"$inputs/documents.parquet"))
          .select(col("doc_id"), col("text"))
        val corpus = docs.unionByName(docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), concat(lit("xx "), col("text")).as("text")))
        tr.gauge("dedup.clusters.rounds",
          Dedup.clustersWithRounds(Dedup.jaccardPairs(corpus, minJaccard = 0.5, maxShingleDf = 50))._2)
        cleanup(spark)
      }
      Map.empty
    }
  }
}

/** Minimal JSON writer for the result file (maps, sequences, strings, numbers). */
object Json {
  def write(v: Any): String = v match {
    case null                 => "null"
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_]       => s.map(write).mkString("[", ",", "]")
    case s: String            => quote(s)
    case b: Boolean           => b.toString
    case d: Double            => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number            => n.toString
    case o                    => quote(o.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c    => c.toString
  } + "\""
}
