package graft
import scala.util.Try

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every registered query (or the SPARK_GRAFT_ONLY
  * subset) against SPARK_GRAFT_SF_DIR on the production session and prints
  * one JSON line of per-query seconds.
  *
  * Results are materialized through the noop sink — unlike count(),
  * which lets Catalyst prune away every computed column, noop forces
  * full evaluation of the projected output while writing nothing.
  *
  * Each query runs SPARK_GRAFT_BENCH_REPS times (default 5) and the MIN
  * elapsed is reported. A shared machine's transient contention inflates
  * individual runs by integer factors; the min over a few back-to-back
  * repetitions is the standard estimator for the code's actual cost
  * (contention only ever ADDS time), so one noisy neighbor no longer
  * reads as a phantom regression.
  */
object Bench {

  /** Min seconds over `reps` noop-sink runs of `q`. A rep that fails is
    * skipped; when every rep fails, the first failure is thrown.
    */
  private def minSeconds(spark: SparkSession, q: RegistryRunner.Query, sfDir: String,
      reps: Int): Double = {
    val runs = (1 to reps).map { _ =>
      // r11 (VERDICT item 4, composed-vs-isolated gap): free the block
      // manager of RDDs left by earlier queries/reps BEFORE the clock
      // starts. Some operators' results necessarily outlive their query
      // (clusters()' final round, kCorePeel's surviving edges, the
      // triangles orientation), so their serialized blocks accumulate
      // over a 190-query session and tax later queries' GC — the very
      // composition noise the end-of-run isolated re-runs keep
      // measuring (a13 3.09 composed vs 1.65 isolated on the r10
      // driver run). Cleanup is OUTSIDE the timed region and nothing
      // is shared across queries, so timings measure the same work as
      // before, from a clean heap — the isolated-rerun condition,
      // applied to every query.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      val t0 = System.nanoTime()
      Try {
        q(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
    }
    runs.flatMap(_.toOption).minOption.getOrElse(throw runs.head.failed.get)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default 5: BENCH_r04's two phantom outliers (v8, e11) showed
    // min-of-3 still lets sustained driver-side contention through
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "5").toInt)
    val spark = RegistryRunner.localBuilder("graft-bench").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM/session warm-up outside any query's timing: codegen compiler,
    // shuffle subsystem, parquet footer reads
    spark.range(1000000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    // a failed query records the sentinel -1 plus its error, never a
    // normal-looking elapsed time
    val results = RegistryRunner.foreachQuery(spark, "bench") { (_, q) =>
      minSeconds(spark, q, sfDir, reps)
    }.map { case (name, r) =>
      val rec = r.fold(
        e => (name, -1.0, Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")),
        sec => (name, sec, None: Option[String]))
      // Stream one line per finished query to stderr so a run killed at a
      // timeout still leaves a per-query trail (BENCH_r10 died at rc 124
      // with zero attributable output because results were only printed at
      // the end). Additions-only: the final JSON line is unchanged.
      System.err.println(
        s"""[bench-progress] {"query":"${rec._1}","sec":${rec._2}}""")
      rec
    }
    // Isolated re-run of the top baseline-ratio outliers: composition
    // noise (JIT/GC state left by the alphabetical predecessor) has
    // produced phantom 1.5×s on sub-second queries in three separate
    // rounds (x14, x16, x22), each costing a forensics pass to clear.
    // Re-timing the worst ratios in isolation at END of run — warm JVM,
    // no predecessor variance, min over reps — puts the decisive number
    // in the artifact itself, so the gate reads `isolated` for its
    // outliers instead of scheduling a manual re-run. Baseline path:
    // SPARK_GRAFT_BENCH_BASELINE or user.dir/BENCH_BASELINE.json;
    // silently skipped when absent (first round, foreign checkout).
    val isolated: Map[String, Double] = {
      val basePath = sys.env.getOrElse("SPARK_GRAFT_BENCH_BASELINE",
        java.nio.file.Paths.get(sys.props("user.dir"), "BENCH_BASELINE.json").toString)
      val baseline: Map[String, Double] =
        try {
          val root = new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(java.nio.file.Files.readString(java.nio.file.Paths.get(basePath)))
          val it = root.get("queries").fields()
          val b = Map.newBuilder[String, Double]
          while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asDouble() }
          b.result()
        } catch { case scala.util.control.NonFatal(_) => Map.empty }
      val outliers = results
        .collect { case (name, sec, None) if baseline.get(name).exists(_ > 0) =>
          (name, sec / baseline(name)) }
        .sortBy(-_._2).take(5).map(_._1)
      val queries = SparkEntry.queries
      outliers.map { name =>
        spark.sparkContext.setJobDescription(s"bench-isolated:$name")
        val sec = Try(minSeconds(spark, queries(name), sfDir, reps)).getOrElse(-1.0)
        System.err.println(
          s"""[bench-progress] {"query":"$name","sec":$sec,"isolated":true}""")
        name -> sec
      }.toMap
    }
    val isoJson = isolated.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Some(m)) =>
      s"\"" + k + "\":\"" + m.replaceAll("[\"\\\\\n\r\t]", " ") + "\""
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, v, None) => v }.sum
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,""" +
        s""""isolated":$isoJson,"sf":"$sfDir"}"""
    println(line)
    // stdout can get truncated by the capture harness on long registries
    // (BENCH_r07/r08 arrived as a ~2 KB tail, parsed:null) — persist the
    // full artifact to a file, and ALSO print a compact summary as the
    // LAST line so the kept tail always contains one parseable JSON
    // object (total + the slowest queries + a pointer to the full file)
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      java.nio.file.Paths.get(sys.props("user.dir"), "BENCH_LATEST.json").toString)
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(out),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch {
      // NonFatal only: an OOM/LinkageError here must fail the run, not
      // be swallowed into a normal-looking success (round-8 ADVICE)
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] file write failed: $e")
    }
    val slowest = results.filter(_._3.isEmpty).sortBy(-_._2).take(12)
      .map { case (k, v, _) => s"\"" + k + "\":" + math.round(v * 1000) / 1000.0 }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir",""" +
      s""""n_queries":${results.size},"n_errors":${results.count(_._3.nonEmpty)},""" +
      s""""slowest":$slowest,"full":"$out"}""")
    spark.stop()
  }
}
