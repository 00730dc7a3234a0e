package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.input_file_name
import org.apache.spark.sql.types.StructType

/** Declarative IO layer (reference spark/Helpers.scala:108–126, 208–235:
  * IOResourceConfig-driven readFrom/writeTo).
  *
  * Departure from the reference, by design: readers take an EXPLICIT
  * schema wherever the format cannot self-describe. Schema inference on
  * JSON forces a full pre-pass over the data (at 100 TB that is a second
  * scan of the corpus) and `inferSchema` on CSV likewise; a supplied
  * schema also lets the JSON reader skip unused fields entirely
  * (SURVEY.md §4, column pruning).
  */
object Io {

  final case class ReadSpec(
      format: String,
      path: String,
      schema: Option[StructType] = None,
      options: Map[String, String] = Map.empty,
      /** tag rows with their source file (reference Grounding.scala:322) */
      withProvenance: Boolean = false)

  final case class WriteSpec(
      format: String,
      path: String,
      options: Map[String, String] = Map.empty,
      partitionBy: Seq[String] = Nil,
      mode: String = "error",
      /** Cap rows per output file (Spark's maxRecordsPerFile): bounds the
        * large end of file sizes without an extra shuffle.
        */
      maxRecordsPerFile: Long = 0L,
      /** Target output file count via a pre-write repartition — the
        * small-file control: a 1000-task stage otherwise writes ≥1000
        * files per dataset (× partition values when partitionBy is set),
        * and at 100 TB the downstream listing/open cost of millions of
        * tiny files is the first operational complaint. Repartitions on
        * the partitionBy columns when present so each partition directory
        * gets coherent files, else round-robin.
        */
      targetFiles: Int = 0)

  /** Formats that cannot self-describe: reads fall back to the schema
    * sidecar, writes emit one.
    */
  private def schemaless(format: String): Boolean =
    format == "json" || format == "csv" || format == "text"

  private def sidecarPath(dir: String) =
    new org.apache.hadoop.fs.Path(dir, "_graft_schema.json")

  /** Sidecar contract (v1). `_graft_schema.json` next to a json/csv/text
    * dataset is a versioned envelope:
    *
    * {{{
    *   {"version": 1, "format": "csv",
    *    "options": {"header": "true", "sep": "|"},
    *    "schema": { ...Spark StructType JSON... }}
    * }}}
    *
    *  - `schema` — applied on read when the caller gives none, so a
    *    `write → read` round trip needs NO inference pass (at 100 TB an
    *    inferred read of an intermediate is a full extra scan).
    *  - `options` — the writer's format options, merged UNDER the
    *    caller's read options. A csv written `header=true` and read back
    *    bare would otherwise apply the sidecar schema while ingesting the
    *    header line as a data row.
    *  - `format` — guards drift: reading the directory as a different
    *    format than it was written fails loudly.
    *  - Version 0 (a bare StructType JSON, pre-envelope) is still read,
    *    schema-only. A version above [[SidecarVersion]], or a sidecar
    *    that fails to parse, is a loud error — never a silent fall-back
    *    to inference, which would mask the drift with wrong columns.
    *
    * A MISSING sidecar is fine (None → caller schema or inference):
    * underscore-prefixed files are invisible to Spark's listing, like
    * _SUCCESS, so foreign datasets simply don't have one.
    */
  private[core] final case class Sidecar(
      schema: StructType,
      options: Map[String, String] = Map.empty,
      format: Option[String] = None)

  private[core] val SidecarVersion = 1

  private def writeSchemaSidecar(df: DataFrame, spec: WriteSpec): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("version", SidecarVersion)
    root.put("format", spec.format)
    val opts = root.putObject("options")
    spec.options.foreach { case (k, v) => opts.put(k, v) }
    root.set[com.fasterxml.jackson.databind.JsonNode](
      "schema", mapper.readTree(df.schema.json))
    val p = sidecarPath(spec.path)
    val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(mapper.writeValueAsString(root).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The whole of a small file as UTF-8, or None when it does not exist. */
  private def readWhole(spark: SparkSession, p: org.apache.hadoop.fs.Path): Option[String] = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
        in.readFully(bytes)
        Some(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
      } finally in.close()
    }
  }

  /** A JSON object's fields as a name → text map. */
  private def textFields(o: com.fasterxml.jackson.databind.JsonNode): Map[String, String] = {
    val it = o.fields()
    val b = Map.newBuilder[String, String]
    while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asText() }
    b.result()
  }

  private[core] def readSchemaSidecar(spark: SparkSession, dir: String): Option[Sidecar] = {
    val p = sidecarPath(dir)
    readWhole(spark, p).map { text =>
      val root =
        try new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
        catch {
          case e: Exception => throw new IllegalStateException(
            s"corrupt sidecar $p — fix or delete it (silent schema inference would mask the drift)", e)
        }
      def struct(json: String): StructType =
        try org.apache.spark.sql.types.DataType.fromJson(json).asInstanceOf[StructType]
        catch {
          case e: Exception => throw new IllegalStateException(
            s"sidecar $p holds an unreadable schema — fix or delete it", e)
        }
      if (root == null || !root.isObject) throw new IllegalStateException(
        s"corrupt sidecar $p — fix or delete it")
      else if (!root.has("version")) Sidecar(struct(text)) // v0: bare schema
      else {
        val v = root.get("version").asInt()
        if (v > SidecarVersion) throw new IllegalStateException(
          s"sidecar $p has version $v but this build reads ≤ $SidecarVersion — " +
            "upgrade the library or regenerate the dataset")
        val opts = Option(root.get("options")).filter(_.isObject).map(textFields)
          .getOrElse(Map.empty[String, String])
        Sidecar(struct(root.get("schema").toString), opts,
          Option(root.get("format")).map(_.asText()))
      }
    }
  }

  def read(spark: SparkSession, spec: ReadSpec): DataFrame = {
    val sidecar =
      if (schemaless(spec.format)) readSchemaSidecar(spark, spec.path) else None
    sidecar.flatMap(_.format).foreach { f =>
      if (f != spec.format) throw new IllegalStateException(
        s"${spec.path} was written as '$f' (per its sidecar) but is being read " +
          s"as '${spec.format}' — fix the ReadSpec or regenerate the dataset")
    }
    // sidecar options are the writer's; the caller's read options win
    val opts = sidecar.map(_.options).getOrElse(Map.empty) ++ spec.options
    val reader = spark.read.format(spec.format).options(opts)
    val schema = spec.schema.orElse(sidecar.map(_.schema))
    val withSchema = schema.fold(reader)(reader.schema)
    val df = withSchema.load(spec.path)
    if (spec.withProvenance) df.withColumn("trace_source", input_file_name()) else df
  }

  def write(df: DataFrame, spec: WriteSpec): Unit = {
    val sized =
      if (spec.targetFiles <= 0) df
      else if (spec.partitionBy.nonEmpty)
        df.repartition(spec.targetFiles,
          spec.partitionBy.map(org.apache.spark.sql.functions.col): _*)
      else df.repartition(spec.targetFiles)
    val opts = spec.options ++
      (if (spec.maxRecordsPerFile > 0)
        Map("maxRecordsPerFile" -> spec.maxRecordsPerFile.toString)
      else Map.empty)
    // detect BEFORE save whether mode="ignore" will no-op, so a skipped
    // write cannot replace the sidecar with a schema the on-disk data
    // doesn't have (append intentionally refreshes it: json reads fill
    // fields missing from older files with null, so the newest schema is
    // the right one to advertise)
    val ignored = spec.mode.equalsIgnoreCase("ignore") && {
      val p = new org.apache.hadoop.fs.Path(spec.path)
      p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration).exists(p)
    }
    val w = sized.write.mode(spec.mode).options(opts)
    val p = if (spec.partitionBy.nonEmpty) w.partitionBy(spec.partitionBy: _*) else w
    p.format(spec.format).save(spec.path)
    if (schemaless(spec.format) && !ignored) writeSchemaSidecar(df, spec)
  }
}
