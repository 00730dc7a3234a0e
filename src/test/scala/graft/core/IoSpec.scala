package graft.core

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class IoSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-io").toFile.getAbsolutePath

  "Io" should "write partitioned parquet and read it back with pruning" in {
    val dir = tmp() + "/part"
    val df = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0)).toDF("id", "k", "v")
    Io.write(df, Io.WriteSpec("parquet", dir, partitionBy = Seq("k")))

    val back = Io.read(spark, Io.ReadSpec("parquet", dir))
    back.count() shouldBe 3
    // partition pruning: only the k=a directory is scanned
    val pruned = back.filter(col("k") === "a")
    pruned.count() shouldBe 2
    pruned.queryExecution.executedPlan.toString() should include("PartitionFilters: [isnotnull(k")
  }

  it should "round-trip JSON schema-exactly via the sidecar, with no inference job" in {
    val dir = tmp() + "/json-sidecar"
    // int + timestamp: inference would widen the int to bigint and parse
    // the timestamp per JSON option defaults — the sidecar must preserve
    // the written schema exactly
    val df = Seq((1, "2021-03-04 05:06:07", "x"), (2, "2022-01-01 00:00:00", "y"))
      .toDF("n", "ts", "s")
      .select(col("n"), col("ts").cast("timestamp").as("ts"), col("s"))
    Io.write(df, Io.WriteSpec("json", dir))

    val tracker = spark.sparkContext.statusTracker
    val jobsBefore = tracker.getJobIdsForGroup(null).length
    val back = Io.read(spark, Io.ReadSpec("json", dir))
    tracker.getJobIdsForGroup(null).length shouldBe jobsBefore // no inference pass
    // names + types survive exactly (file reads force nullable, so
    // nullability is not part of the claim); inference would have
    // widened n to bigint and left ts a string
    back.schema.fields.map(f => (f.name, f.dataType)) shouldBe
      df.schema.fields.map(f => (f.name, f.dataType))
    back.count() shouldBe 2
    back.filter(col("n") === 1).select("s").as[String].head() shouldBe "x"
    // an explicit ReadSpec schema still wins over the sidecar
    val narrowed = Io.read(spark, Io.ReadSpec("json", dir,
      schema = Some(StructType(Seq(StructField("s", StringType))))))
    narrowed.schema.fieldNames shouldBe Array("s")
  }

  it should "round-trip PARTITIONED json via the sidecar (partition columns from dirs)" in {
    val dir = tmp() + "/json-part"
    val df = Seq((1, "a", 10.0), (2, "b", 20.0), (3, "a", 30.0)).toDF("id", "k", "v")
    Io.write(df, Io.WriteSpec("json", dir, partitionBy = Seq("k")))
    val back = Io.read(spark, Io.ReadSpec("json", dir))
    back.count() shouldBe 3
    back.schema.fieldNames.toSet shouldBe Set("id", "k", "v")
    back.filter(col("k") === "a").select(org.apache.spark.sql.functions.sum("v"))
      .as[Double].head() shouldBe 40.0
    back.schema("id").dataType shouldBe IntegerType // inference would say bigint
  }

  it should "round-trip ORC through the same generic read/write specs" in {
    val dir = tmp() + "/orc"
    val df = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "k", "v")
    Io.write(df, Io.WriteSpec("orc", dir))
    val back = Io.read(spark, Io.ReadSpec("orc", dir))
    back.orderBy("id").collect().toSeq shouldBe df.orderBy("id").collect().toSeq
    // ORC scans push filters like parquet does
    val pruned = Io.read(spark, Io.ReadSpec("orc", dir)).filter(col("id") === 2L)
    pruned.queryExecution.executedPlan.toString() should include("PushedFilters: [IsNotNull(id)")
  }

  it should "control output file count and rows-per-file" in {
    def parquetFiles(dir: String): Seq[java.io.File] =
      new java.io.File(dir).listFiles().toSeq.filter(_.getName.endsWith(".parquet"))

    // many input partitions, targetFiles=2 -> exactly 2 data files
    val coalesced = tmp() + "/coalesced"
    val df = spark.range(0, 1000, 1, 16).select(col("id"), (col("id") % 4).as("k"))
    Io.write(df, Io.WriteSpec("parquet", coalesced, targetFiles = 2))
    parquetFiles(coalesced).size shouldBe 2

    // maxRecordsPerFile caps the large end: 1000 rows / <=300 per file -> >=4 files
    val capped = tmp() + "/capped"
    Io.write(df.repartition(1), Io.WriteSpec("parquet", capped, maxRecordsPerFile = 300L))
    parquetFiles(capped).size should be >= 4
  }

  it should "read gzip CSV with an explicit schema (no inference pass)" in {
    val dir = tmp()
    val csv = new java.io.File(dir, "ids.csv.gz")
    val out = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(csv))
    out.write("PMID,PMCID,DOI\n1,PMC1,10.1/a\n2,PMC2,10.1/b\n".getBytes)
    out.close()

    val schema = StructType(Seq(
      StructField("PMID", StringType), StructField("PMCID", StringType),
      StructField("DOI", StringType)))
    val df = Io.read(spark, Io.ReadSpec("csv", csv.getAbsolutePath,
      Some(schema), Map("header" -> "true")))
    df.schema shouldBe schema
    df.count() shouldBe 2
  }

  it should "read JSON with explicit schema and attach provenance" in {
    val dir = tmp()
    Files.writeString(java.nio.file.Path.of(dir, "d.json"),
      """{"pmid":"1","n":5}""" + "\n" + """{"pmid":"2","n":6}""" + "\n")
    val schema = StructType(Seq(StructField("pmid", StringType), StructField("n", LongType)))
    val df = Io.read(spark, Io.ReadSpec("json", dir, Some(schema), withProvenance = true))
    df.columns should contain("trace_source")
    df.filter(col("trace_source").contains("d.json")).count() shouldBe 2
  }

  it should "carry csv reader options through the sidecar (header/sep)" in {
    val dir = tmp() + "/csv-sidecar"
    val df = Seq((1, "a|x", 1.5), (2, "b", 2.5)).toDF("id", "s", "v")
    // one file so exactly one header line exists for the header=false check
    Io.write(df.repartition(1), Io.WriteSpec("csv", dir,
      options = Map("header" -> "true", "sep" -> "\t")))
    // bare read: schema AND the writer's header/sep come from the sidecar —
    // without the options merge the header line would ingest as a data row
    val back = Io.read(spark, Io.ReadSpec("csv", dir))
    back.count() shouldBe 2
    back.schema.fields.map(f => (f.name, f.dataType)) shouldBe
      df.schema.fields.map(f => (f.name, f.dataType))
    back.orderBy("id").select("s").as[String].collect() shouldBe Array("a|x", "b")
    // the caller's read options win over the sidecar's: header=false makes
    // the header line visible again (now read with the sidecar schema, so
    // it fails the int cast and nulls out -> 3 rows, one with null id)
    val raw = Io.read(spark, Io.ReadSpec("csv", dir,
      schema = Some(StructType(Seq(StructField("id", StringType),
        StructField("s", StringType), StructField("v", StringType)))),
      options = Map("header" -> "false")))
    raw.count() shouldBe 3
    raw.filter(col("id") === "id").count() shouldBe 1 // the header row
  }

  it should "enforce the sidecar contract: drift errors, graceful absence, legacy form" in {
    val dir = tmp() + "/contract"
    val df = Seq((1, "x")).toDF("id", "s")
    Io.write(df, Io.WriteSpec("csv", dir, options = Map("header" -> "true")))
    val sidecar = new java.io.File(dir, "_graft_schema.json")
    // tampering below bypasses Hadoop's LocalFileSystem, whose stale
    // checksum sidecar would otherwise fail the re-read
    def tamper(content: String): Unit = {
      Files.writeString(sidecar.toPath, content)
      new java.io.File(dir, "._graft_schema.json.crc").delete()
    }

    // format drift: the directory says csv, the read says json -> loud
    val drift = intercept[IllegalStateException] {
      Io.read(spark, Io.ReadSpec("json", dir))
    }
    drift.getMessage should include("written as 'csv'")

    // a sidecar from a FUTURE library version -> loud, never inference
    val original = Files.readString(sidecar.toPath)
    tamper(original.replaceFirst("\"version\":1", "\"version\":99"))
    intercept[IllegalStateException] {
      Io.read(spark, Io.ReadSpec("csv", dir))
    }.getMessage should include("version 99")

    // corrupt sidecar -> loud, never silent inference
    tamper("{not json")
    intercept[IllegalStateException] {
      Io.read(spark, Io.ReadSpec("csv", dir))
    }.getMessage should include("corrupt")

    // legacy v0 form (bare StructType JSON, no envelope) still reads
    tamper(df.schema.json)
    val legacy = Io.read(spark, Io.ReadSpec("csv", dir, options = Map("header" -> "true")))
    legacy.schema.fieldNames shouldBe Array("id", "s")
    legacy.count() shouldBe 1

    // MISSING sidecar is graceful: explicit schema/options read still works
    sidecar.delete() shouldBe true
    val explicit = Io.read(spark, Io.ReadSpec("csv", dir,
      schema = Some(df.schema), options = Map("header" -> "true")))
    explicit.count() shouldBe 1
  }

  it should "capture malformed rows per-record instead of failing or dropping silently" in {
    // the production ingest posture for a 100 TB JSON drop: schema is
    // explicit, bad records land in a corrupt-record column for a
    // quarantine sink, good records flow — and FAILFAST is available
    // when the contract is "reject the whole drop"
    val dir = tmp() + "/raw"
    Files.writeString(java.nio.file.Path.of(dir).resolve("part-0.json").normalize() match {
      case p => Files.createDirectories(p.getParent); p
    }, """{"id": 1, "s": "ok"}
         |{"id": broken
         |{"id": 3, "s": "fine"}
         |""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("s", StringType),
      StructField("_bad", StringType)))
    // cache() before filtering on the corrupt column alone — Spark
    // refuses corrupt-column-only queries over the raw file scan
    // (QUERY_ONLY_CORRUPT_RECORD_COLUMN); a real quarantine sink
    // materializes the parse once anyway
    val df = Io.read(spark, Io.ReadSpec("json", dir, schema = Some(schema),
      options = Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_bad")))
      .cache()
    df.filter(col("_bad").isNull).select("id").as[Long].collect().sorted shouldBe
      Array(1L, 3L)
    df.filter(col("_bad").isNotNull).count() shouldBe 1
    df.unpersist()

    intercept[org.apache.spark.SparkException] {
      Io.read(spark, Io.ReadSpec("json", dir,
        schema = Some(StructType(schema.dropRight(1))),
        options = Map("mode" -> "FAILFAST"))).count()
    }
  }
}
