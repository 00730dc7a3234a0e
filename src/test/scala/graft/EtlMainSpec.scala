package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.etl.{EtlConfig, Fixtures}
import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerStageCompleted}
import org.apache.spark.ml.feature.Word2VecModel
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{AnalysisException, DataFrame, GraftTestBridge}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

/** End-to-end CLI-step dispatch over the fixture corpus: the run() body
  * EtlMain.main drives, against temp dirs.
  */
class EtlMainSpec extends SparkSpec {
  import spark.implicits._

  /** Fixture inputs in a temp dir; the EPMC corpus is `copies` repeats of
    * the fixture documents in one JSON file.
    */
  private def fixtureInputs(copies: Int = 1): String = {
    val in = Files.createTempDirectory("graft-etl-in").toFile.getAbsolutePath
    val epmc = Fixtures.epmc(spark)
    Seq.fill(copies)(epmc).reduce(_ union _).coalesce(1).write.json(s"$in/epmc")
    Fixtures.epmcIds(spark).write.option("header", "true").csv(s"$in/ids")
    Fixtures.targets(spark).write.parquet(s"$in/targets")
    Fixtures.diseases(spark).write.parquet(s"$in/diseases")
    Fixtures.drugs(spark).write.parquet(s"$in/drugs")
    in
  }

  private def fixtureConfig(in: String, more: Map[String, String] = Map.empty): EtlConfig =
    EtlConfig.load(None, Map("epmc" -> s"$in/epmc", "epmcids" -> s"$in/ids",
      "targets" -> s"$in/targets", "diseases" -> s"$in/diseases", "drugs" -> s"$in/drugs",
      "out" -> (Files.createTempDirectory("graft-etl-out").toFile.getAbsolutePath + "/run")) ++ more)

  /** Run `f` with `listener` on the bus, and return once the listener has
    * seen every event `f` caused: a marker job after `f` ends on the same
    * queue, after them.
    */
  private def listening(listener: SparkListener)(f: => Unit): Unit = {
    val marker = s"listener-drain-${System.nanoTime()}"
    val ended = new ConcurrentLinkedQueue[Int]
    val drain = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.addSparkListener(drain)
    try {
      f
      spark.sparkContext.setJobGroup(marker, marker)
      try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
      val jobs = spark.sparkContext.statusTracker.getJobIdsForGroup(marker).toSet
      val deadline = System.currentTimeMillis() + 30000
      while (!ended.asScala.exists(jobs.contains) && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.sparkContext.removeSparkListener(drain)
    }
  }

  "EtlMain.run(processing)" should "leave no cached frame or persisted RDD behind, " +
    "on success and when a write throws" in {
    val in = fixtureInputs()
    def cached = (GraftTestBridge.cachedEntries(spark),
      spark.sparkContext.getPersistentRDDs.keySet.toSet)

    val (entriesBefore, rddsBefore) = cached
    val cfg = fixtureConfig(in)
    EtlMain.run("processing", cfg, spark)
    spark.read.parquet(s"${cfg.out}/matches").count() shouldBe 9
    cached._1 shouldBe entriesBefore
    cached._2.diff(rddsBefore) shouldBe empty

    // cooccurrences is partitioned by a column it lacks: its write throws
    // after the matches write has filled both caches
    an[AnalysisException] should be thrownBy EtlMain.run("processing",
      fixtureConfig(in, Map("outputs.cooccurrences.partitionBy" -> "no_such_column")), spark)
    cached._1 shouldBe entriesBefore
    cached._2.diff(rddsBefore) shouldBe empty
  }

  it should "parse the EPMC JSON once, and build the literature index from the written matches" in {
    // many lines, so a stage that reads a handful of cached batches never
    // reports the corpus's record count
    val in = fixtureInputs(copies = 100)
    val lines = spark.read.text(s"$in/epmc").count()
    val cfg = fixtureConfig(in)
    val jsonStages = new ConcurrentLinkedQueue[Long]
    val plans = new ConcurrentLinkedQueue[String]
    listening(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        if (i.rddInfos.exists(GraftTestBridge.scopeNames(_).exists(_.startsWith("Scan json"))))
          jsonStages.add(i.taskMetrics.inputMetrics.recordsRead)
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.physicalPlanDescription)
        case _ =>
      }
    })(EtlMain.run("processing", cfg, spark))

    withClue(s"records read by stages under a Scan json scope: ${jsonStages.asScala.mkString(", ")}; ") {
      jsonStages.asScala.count(_ == lines) shouldBe 1
    }
    val indexWrites = plans.asScala.filter(_.contains(s"${cfg.out}/literatureIndex"))
    indexWrites should have size 1
    indexWrites.head should not include "Scan json"
  }

  it should "write the four grounding datasets with locked column names, order and types" in {
    // the key-column hashes of the benchmark's output check cannot see a
    // change of shape; this pins every column of what processing writes
    val cfg = fixtureConfig(fixtureInputs())
    EtlMain.run("processing", cfg, spark)
    def columns(name: String): Seq[String] = spark.read.parquet(s"${cfg.out}/$name").schema.fields.toSeq
      .map(f => s"${f.name} ${f.dataType.simpleString}")
    val groundedBase = Seq("pmid string", "pmcid string", "pubDate string", "date date", "year int",
      "month int", "day int", "organisms array<string>", "section string", "text string",
      "trace_source string")
    // a failed set keeps the other sentence column unexploded
    val coocStruct = "array<struct<label1:string,label2:string,type:string,start1:bigint," +
      "end1:bigint,start2:bigint,end2:bigint,association:string,relation:string,sentEvidenceScore:double>>"
    val matchStruct = "array<struct<label:string,type:string,startInSentence:bigint," +
      "endInSentence:bigint,sectionStart:bigint,sectionEnd:bigint>>"
    val failedBase = Seq("pmid string", "pmcid string", "pubDate string", "organisms array<string>",
      "journal_info struct<name:string>", "trace_source string", "date date", "year int",
      "month int", "day int", "section string", "text string")
    val expected = Map(
      "matches" -> (groundedBase ++ Seq("endInSentence bigint", "label string", "labelN string",
        "sectionEnd bigint", "sectionStart bigint", "startInSentence bigint", "type string",
        "keywordId string", "isMapped boolean")),
      "cooccurrences" -> (groundedBase ++ Seq("end1 bigint", "end2 bigint", "evidence_score double",
        "label1 string", "labelN1 string", "keywordId1 string", "label2 string", "labelN2 string",
        "keywordId2 string", "start1 bigint", "start2 bigint", "type string", "type1 string",
        "type2 string", "isMapped boolean")),
      "failedMatches" -> (Seq("type string", "label string") ++ failedBase ++ Seq(
        s"co-occurrence $coocStruct", "startInSentence bigint", "endInSentence bigint",
        "sectionStart bigint", "sectionEnd bigint", "labelN string", "keywordId string",
        "uniqueKeywordIdsPerLabelN bigint", "isMapped boolean")),
      "failedCooccurrences" -> (Seq("type2 string", "label2 string", "type1 string", "label1 string") ++
        failedBase ++ Seq(s"matches $matchStruct", "start1 bigint", "end1 bigint", "start2 bigint",
        "end2 bigint", "association string", "relation string", "sentEvidenceScore double",
        "labelN1 string", "keywordId1 string", "uniqueKeywordIdsPerLabelN1 bigint", "labelN2 string",
        "keywordId2 string", "uniqueKeywordIdsPerLabelN2 bigint", "isMapped boolean")))
    for ((name, cols) <- expected) withClue(s"$name: ") { columns(name) shouldBe cols }
  }

  private val datasets = Seq("matches", "cooccurrences", "failedMatches", "failedCooccurrences",
    "literatureIndex", "trainingSet", "vectors", "evidence")

  /** Every row of `df`, printed (doubles print exactly) and sorted. */
  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  "EtlMain.run(all)" should "write the same rows as the four steps run one by one" in {
    val in = fixtureInputs()
    // every scored pair is kept, so evidence compares many similarities
    val graph = fixtureConfig(in, Map("threshold" -> "-2.0"))
    val stepwise = fixtureConfig(in, Map("threshold" -> "-2.0"))
    EtlMain.run("all", graph, spark)
    Seq("processing", "embedding").foreach(EtlMain.run(_, stepwise, spark))
    // MLlib's Word2Vec fit is not bit-reproducible (two fits of one
    // training set in one JVM differ from the fourth digit on), so the stepwise
    // vectors and evidence steps load the graph run's saved model: they
    // compare the model run(all) hands over in memory with the same model
    // saved and loaded back
    def modelOf(cfg: EtlConfig) = Word2VecModel.load(s"${cfg.out}/W2VModel")
    modelOf(stepwise).getVectors.select("word").as[String].collect().sorted shouldBe
      modelOf(graph).getVectors.select("word").as[String].collect().sorted
    FileUtils.deleteDirectory(new File(s"${stepwise.out}/W2VModel"))
    FileUtils.copyDirectory(new File(s"${graph.out}/W2VModel"), new File(s"${stepwise.out}/W2VModel"))
    Seq("vectors", "evidence").foreach(EtlMain.run(_, stepwise, spark))

    for (name <- datasets) withClue(s"$name: ") {
      rows(spark.read.parquet(s"${graph.out}/$name")) shouldBe
        rows(spark.read.parquet(s"${stepwise.out}/$name"))
    }
    for (name <- Seq("matches", "trainingSet", "vectors", "evidence")) withClue(s"$name: ") {
      spark.read.parquet(s"${graph.out}/$name").count() should be > 0L
    }
    // the saved model holds the vectors run(all) wrote from memory
    rows(modelOf(graph).getVectors.select(col("word"), vector_to_array(col("vector")))) shouldBe
      rows(spark.read.parquet(s"${graph.out}/vectors").select("word", "vector"))
  }

  it should "rethrow a failed write as itself and leave no cached frame, persisted RDD, " +
    "running job or pool thread behind" in {
    val in = fixtureInputs()
    def cached = (GraftTestBridge.cachedEntries(spark),
      spark.sparkContext.getPersistentRDDs.keySet.toSet)
    def poolThreads = Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith("graft-etl-"))

    val (entriesBefore, rddsBefore) = cached
    // cooccurrences is partitioned by a column it lacks: its write throws
    // while the matches write runs next to it
    intercept[AnalysisException] {
      EtlMain.run("all",
        fixtureConfig(in, Map("outputs.cooccurrences.partitionBy" -> "no_such_column")), spark)
    }
    poolThreads shouldBe empty
    GraftTestBridge.drainListenerBus(spark)
    spark.sparkContext.statusTracker.getActiveJobIds shouldBe empty
    cached._1 shouldBe entriesBefore
    cached._2.diff(rddsBefore) shouldBe empty
  }

  it should "parse the EPMC JSON once across the run, and never read the saved model back" in {
    val in = fixtureInputs(copies = 100)
    val lines = spark.read.text(s"$in/epmc").count()
    val cfg = fixtureConfig(in)
    val jsonStages = new ConcurrentLinkedQueue[Long]
    val plans = new ConcurrentLinkedQueue[String]
    listening(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        if (i.rddInfos.exists(GraftTestBridge.scopeNames(_).exists(_.startsWith("Scan json"))))
          jsonStages.add(i.taskMetrics.inputMetrics.recordsRead)
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.physicalPlanDescription)
        case _ =>
      }
    })(EtlMain.run("all", cfg, spark))

    withClue(s"records read by stages under a Scan json scope: ${jsonStages.asScala.mkString(", ")}; ") {
      jsonStages.asScala.count(_ == lines) shouldBe 1
    }
    val model = s"${cfg.out}/W2VModel"
    // the save writes the model's data; nothing scans it
    plans.asScala.filter(_.contains(s"Arguments: file:$model")) should not be empty
    plans.asScala.flatMap(_.linesIterator).filter(l => l.contains("Location:") && l.contains(model)) shouldBe empty
  }

  "EtlMain.run" should "execute all steps and write every dataset" in {
    val in = Files.createTempDirectory("graft-etl-in").toFile.getAbsolutePath
    val out = Files.createTempDirectory("graft-etl-out").toFile.getAbsolutePath + "/run"

    Fixtures.epmc(spark).write.mode("overwrite").json(s"$in/epmc")
    Fixtures.epmcIds(spark).write.mode("overwrite").option("header", "true").csv(s"$in/ids")
    Fixtures.targets(spark).write.mode("overwrite").parquet(s"$in/targets")
    Fixtures.diseases(spark).write.mode("overwrite").parquet(s"$in/diseases")
    Fixtures.drugs(spark).write.mode("overwrite").parquet(s"$in/drugs")

    EtlMain.run("all",
      EtlConfig.load(None,
        Map("epmc" -> s"$in/epmc", "epmcids" -> s"$in/ids", "targets" -> s"$in/targets",
          "diseases" -> s"$in/diseases", "drugs" -> s"$in/drugs", "threshold" -> "-2.0",
          "out" -> out)),
      spark)

    val matches = spark.read.parquet(s"$out/matches")
    matches.count() shouldBe 9
    spark.read.parquet(s"$out/cooccurrences").count() shouldBe 2
    val idx = spark.read.parquet(s"$out/literatureIndex")
    idx.filter(col("pmid") === 1L && col("keywordId") === "ENSG0001")
      .select("relevance").as[Double].head() shouldBe (1.0 + 0.6 / 4 + 0.6 / 9) +- 1e-9
    spark.read.parquet(s"$out/vectors").count() should be > 0L
    val ev = spark.read.parquet(s"$out/evidence")
    ev.columns should contain allOf ("resourceScore", "harmonicCooccurrenceSentiment")
    ev.count() should be > 0L
  }

  it should "reject unknown steps" in {
    val e = intercept[RuntimeException] {
      EtlMain.run("nope", EtlConfig(out = "/tmp/x"), spark)
    }
    e.getMessage should include("unknown step")
  }

  it should "validate an ordered multi-step list up front" in {
    EtlMain.validateSteps(Seq("processing", "embedding", "vectors")) shouldBe
      Seq("processing", "embedding", "vectors")
    EtlMain.validateSteps(Seq("all")) shouldBe
      Seq("processing", "embedding", "vectors", "evidence")
    // a typo anywhere in the list fails before any step runs
    val e = intercept[RuntimeException] {
      EtlMain.validateSteps(Seq("processing", "embeding", "vectors"))
    }
    e.getMessage should include("embeding")
  }

  it should "read EPMC with the declared schema (no inference pass) and " +
    "shape outputs from config" in {
    val in = Files.createTempDirectory("graft-sch-in").toFile.getAbsolutePath
    val out = Files.createTempDirectory("graft-sch-out").toFile.getAbsolutePath + "/run"

    Fixtures.epmc(spark).write.mode("overwrite").json(s"$in/epmc")
    Fixtures.epmcIds(spark).write.mode("overwrite").option("header", "true").csv(s"$in/ids")
    Fixtures.targets(spark).write.mode("overwrite").parquet(s"$in/targets")
    Fixtures.diseases(spark).write.mode("overwrite").parquet(s"$in/diseases")
    Fixtures.drugs(spark).write.mode("overwrite").parquet(s"$in/drugs")

    val yaml =
      s"""out: $out
         |inputs:
         |  epmc:
         |    path: $in/epmc
         |    format: json
         |  epmcids: $in/ids
         |  targets: $in/targets
         |  diseases: $in/diseases
         |  drugs: $in/drugs
         |outputs:
         |  matches:
         |    partitionBy: [year]
         |    targetFiles: 1
         |  literatureIndex:
         |    targetFiles: 1
         |    maxRecordsPerFile: 1000
         |""".stripMargin
    val cfgPath = Files.createTempFile("graft-sch", ".yaml")
    Files.write(cfgPath, yaml.getBytes("UTF-8"))
    val cfg = EtlConfig.load(Some(cfgPath.toString), Map.empty)

    // the EPMC ReadSpec carries the built-in schema by default: the scan
    // must not run a JSON inference pre-pass (a full extra read at 100 TB)
    val spec = cfg.readSpec("epmc", "json", Some(graft.etl.EpmcSchema.schema))
    spec.schema shouldBe Some(graft.etl.EpmcSchema.schema)
    val tracker = spark.sparkContext.statusTracker
    val jobsBefore = tracker.getJobIdsForGroup(null).length
    val df = graft.core.Io.read(spark, spec)
    df.schema shouldBe graft.etl.EpmcSchema.schema
    // inferred-schema json runs a full read job right here; schema'd json
    // must plan without launching any job
    tracker.getJobIdsForGroup(null).length shouldBe jobsBefore

    EtlMain.run("processing", cfg, spark)

    // partitionBy reached the writer: hive-style year=... directories,
    // and targetFiles=1 bounds files per partition directory
    val matchesDir = new java.io.File(s"$out/matches")
    val partDirs = matchesDir.listFiles().filter(_.isDirectory).map(_.getName)
    partDirs.count(_.startsWith("year=")) should be > 0
    partDirs.filter(_.startsWith("year=")).foreach { p =>
      new java.io.File(matchesDir, p).listFiles()
        .count(_.getName.endsWith(".parquet")) shouldBe 1
    }
    new java.io.File(s"$out/literatureIndex").listFiles()
      .count(_.getName.endsWith(".parquet")) shouldBe 1
    // results identical to the inference path
    spark.read.parquet(s"$out/matches").count() shouldBe 9
  }

  it should "run the pipeline with json outputs (reference default) schema-exactly" in {
    val in = Files.createTempDirectory("graft-json-in").toFile.getAbsolutePath
    val out = Files.createTempDirectory("graft-json-out").toFile.getAbsolutePath + "/run"

    Fixtures.epmc(spark).write.mode("overwrite").json(s"$in/epmc")
    Fixtures.epmcIds(spark).write.mode("overwrite").option("header", "true").csv(s"$in/ids")
    Fixtures.targets(spark).write.mode("overwrite").parquet(s"$in/targets")
    Fixtures.diseases(spark).write.mode("overwrite").parquet(s"$in/diseases")
    Fixtures.drugs(spark).write.mode("overwrite").parquet(s"$in/drugs")

    val cfg = EtlConfig.load(None,
      Map("epmc" -> s"$in/epmc", "epmcids" -> s"$in/ids", "targets" -> s"$in/targets",
        "diseases" -> s"$in/diseases", "drugs" -> s"$in/drugs",
        "format" -> "json", "w2v.vectorSize" -> "8", "w2v.maxIter" -> "1",
        "out" -> out))
    // the reference's common.output-format default is json
    // (reference.conf:22); step-to-step read-back must not pay a schema
    // inference pass — Io's sidecar carries the written schema
    EtlMain.validateSteps(Seq("processing", "embedding"))
      .foreach(EtlMain.run(_, cfg, spark))
    spark.read.json(s"$out/matches").count() shouldBe 9
    new java.io.File(s"$out/matches/_graft_schema.json").exists() shouldBe true
    spark.read.json(s"$out/trainingSet").count() should be > 0L
  }

  it should "fail fast on unexpected YAML lists and unknown output keys" in {
    val badList = Files.createTempFile("graft-bad", ".yaml")
    Files.write(badList, "out: /tmp/x\ninputs:\n  epmc: [a, b]\n".getBytes("UTF-8"))
    val e1 = intercept[RuntimeException] {
      EtlConfig.load(Some(badList.toString), Map.empty)
    }
    e1.getMessage should include("inputs.epmc")

    val badKey = Files.createTempFile("graft-bad2", ".yaml")
    Files.write(badKey,
      "out: /tmp/x\noutputs:\n  matches:\n    targetfiles: 3\n".getBytes("UTF-8"))
    val e2 = intercept[IllegalArgumentException] {
      EtlConfig.load(Some(badKey.toString), Map.empty)
    }
    e2.getMessage should include("targetfiles")
  }

  it should "let a CLI inputs.<n>.path override a YAML bare-scalar input" in {
    // the two spellings are one key after normalization, so the CLI layer
    // wins regardless of which form each side used
    val yaml = Files.createTempFile("graft-prec", ".yaml")
    Files.write(yaml, "out: /tmp/x\ninputs:\n  epmc: /from/file\n".getBytes("UTF-8"))
    EtlConfig.load(Some(yaml.toString), Map("inputs.epmc.path" -> "/from/cli"))
      .input("epmc") shouldBe "/from/cli"
    EtlConfig.load(Some(yaml.toString), Map("epmc" -> "/from/cli"))
      .input("epmc") shouldBe "/from/cli"
    val structured = Files.createTempFile("graft-prec2", ".yaml")
    Files.write(structured,
      "out: /tmp/x\ninputs:\n  epmc:\n    path: /from/file\n".getBytes("UTF-8"))
    EtlConfig.load(Some(structured.toString), Map("epmc" -> "/from/cli"))
      .input("epmc") shouldBe "/from/cli"
  }

  it should "run a step from a YAML config file with CLI overrides on top" in {
    val in = Files.createTempDirectory("graft-cfg-in").toFile.getAbsolutePath
    val out = Files.createTempDirectory("graft-cfg-out").toFile.getAbsolutePath + "/run"

    Fixtures.epmc(spark).write.mode("overwrite").json(s"$in/epmc")
    Fixtures.epmcIds(spark).write.mode("overwrite").option("header", "true").csv(s"$in/ids")
    Fixtures.targets(spark).write.mode("overwrite").parquet(s"$in/targets")
    Fixtures.diseases(spark).write.mode("overwrite").parquet(s"$in/diseases")
    Fixtures.drugs(spark).write.mode("overwrite").parquet(s"$in/drugs")

    // a release-overlay-style config: custom section ranks (title only,
    // weight 2.0) and shrunk w2v — no recompile
    val yaml =
      s"""out: $out
         |inputs:
         |  epmc: $in/epmc
         |  epmcids: $in/ids
         |  targets: $in/targets
         |  diseases: $in/diseases
         |  drugs: $in/drugs
         |threshold: -2.0
         |w2v:
         |  vectorSize: 8
         |  maxIter: 1
         |sectionRanks:
         |  - {section: title, rank: 1, weight: 2.0}
         |""".stripMargin
    val cfgPath = Files.createTempFile("graft-run", ".yaml")
    Files.write(cfgPath, yaml.getBytes("UTF-8"))

    val cfg = EtlConfig.load(Some(cfgPath.toString), Map("w2v.minCount" -> "1"))
    cfg.w2v.vectorSize shouldBe 8
    cfg.w2v.maxIter shouldBe 1
    cfg.w2v.minCount shouldBe 1
    cfg.sectionRanks shouldBe Seq(etl.SectionRank("title", 1, 2.0))

    EtlMain.run("processing", cfg, spark)
    // with only `title` ranked at weight 2.0, relevance is dominated by
    // the doubled title weight (default ranks give 1.217 for this row) —
    // proof the file-supplied ranks reached the pipeline
    val idx = spark.read.parquet(s"$out/literatureIndex")
    idx.count() should be > 0L
    idx.filter(col("pmid") === 1L && col("keywordId") === "ENSG0001")
      .select("relevance").as[Double].head() shouldBe 2.0 +- 0.01
  }

  it should "reject sectionRanks that are not a non-empty list of typed entries, naming the bad entry" in {
    def load(ranks: String): EtlConfig = {
      val yaml = Files.createTempFile("graft-ranks", ".yaml")
      Files.write(yaml, s"out: /tmp/x\nsectionRanks:$ranks\n".getBytes("UTF-8"))
      EtlConfig.load(Some(yaml.toString), Map.empty)
    }
    def rejected(ranks: String): String =
      intercept[IllegalArgumentException](load(ranks)).getMessage
    val good = "\n  - {section: title, rank: 1, weight: 2}"
    load(good).sectionRanks shouldBe Seq(etl.SectionRank("title", 1, 2.0))

    // Jackson's asInt/asDouble read `one` as 0 and `0.9x` as 0.0, and a
    // missing key is null
    val badRank = rejected(s"$good\n  - {section: abstract, rank: one, weight: 0.9}")
    badRank should include("sectionRanks[1] needs an integral 'rank'")
    badRank should include("abstract")
    rejected(s"$good\n  - {section: abstract, rank: 2, weight: 0.9x}") should include(
      "sectionRanks[1] needs a numeric 'weight'")
    rejected("\n  - {section: title, weight: 1.0}") should include("sectionRanks[0] needs an integral 'rank'")
    rejected("\n  - {section: title, rank: 1.5, weight: 1.0}") should include("sectionRanks[0] needs an integral 'rank'")
    rejected("\n  - {rank: 1, weight: 1.0}") should include("sectionRanks[0] needs a text 'section'")
    // a scalar or an empty list names no rank at all
    rejected(" title") should include("sectionRanks must be a non-empty list")
    rejected(" []") should include("sectionRanks must be a non-empty list")
  }
}
