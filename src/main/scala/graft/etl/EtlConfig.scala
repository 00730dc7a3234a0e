package graft.etl

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory
import org.apache.spark.sql.types.StructType

import graft.core.Io

/** Per-input declaration — the reference's IOResourceConfig (reference
  * spark/Helpers.scala:26: format/path/options per dataset, driven from
  * reference.conf:35–67). `schema` is Spark DDL; the literal `infer`
  * opts back into engine inference for ad-hoc exploration.
  */
final case class InputConf(
    path: String,
    format: Option[String] = None,
    schema: Option[String] = None,
    options: Map[String, String] = Map.empty)

/** Per-output write shaping — the reference drives partitionBy and writer
  * options per dataset from config (reference spark/Helpers.scala:217–220);
  * targetFiles/maxRecordsPerFile are this library's small-file and
  * large-file controls (core/Io.scala WriteSpec).
  */
final case class OutputConf(
    partitionBy: Seq[String] = Nil,
    targetFiles: Int = 0,
    maxRecordsPerFile: Long = 0L)

/** File-driven run configuration — the reference's "same jar, different
  * release config" workflow (reference Configuration.scala:73–81 loading
  * reference.conf:1–122 with per-release overlay files under the
  * reference's configurations/2022 directory). The reference reads HOCON
  * via pureconfig;
  * this container ships no HOCON parser, so the file format is YAML
  * (jackson-dataformat-yaml is on Spark's classpath) with identical
  * layering semantics: file values ← CLI `key=value` overrides, nested
  * keys dotted (`w2v.vectorSize=64`), section ranks, input schemas and
  * per-output write options all overridable without recompiling.
  */
final case class EtlConfig(
    out: String,
    format: String = "parquet",
    inputs: Map[String, InputConf] = Map.empty,
    outputs: Map[String, OutputConf] = Map.empty,
    threshold: Double = 0.01,
    w2v: Embedding.W2VConfig = Embedding.W2VConfig(),
    sectionRanks: Seq[SectionRank] = SectionRanks.default) {

  def inputConf(key: String): InputConf =
    inputs.getOrElse(key, sys.error(s"inputs.$key is required (CLI $key=… or config file)"))

  def input(key: String): String = inputConf(key).path

  /** Materialize a ReadSpec for a declared input. Config wins over the
    * step's defaults; `schema: infer` forces inference even when the
    * step has a built-in schema (the EPMC default is EpmcSchema).
    */
  def readSpec(key: String, defaultFormat: String,
      defaultSchema: Option[StructType] = None,
      defaultOptions: Map[String, String] = Map.empty): Io.ReadSpec = {
    val ic = inputConf(key)
    val schema = ic.schema.map(_.trim) match {
      case Some("infer") => None
      case Some(ddl)     => Some(StructType.fromDDL(ddl))
      case None          => defaultSchema
    }
    // merge, never replace: a single configured option (say a custom sep)
    // must not silently drop load-bearing step defaults like header=true
    Io.ReadSpec(ic.format.getOrElse(defaultFormat), ic.path, schema,
      defaultOptions ++ ic.options)
  }

  /** WriteSpec for a named output dataset, shaped by its OutputConf. */
  def writeSpec(name: String, path: String): Io.WriteSpec = {
    val oc = outputs.getOrElse(name, OutputConf())
    Io.WriteSpec(format, path, partitionBy = oc.partitionBy, mode = "overwrite",
      maxRecordsPerFile = oc.maxRecordsPerFile, targetFiles = oc.targetFiles)
  }
}

object EtlConfig {

  /** Flat CLI keys accepted for backward compatibility with the bare
    * `key=value` invocation — normalized to `inputs.<key>`.
    */
  private val legacyInputKeys = Set("epmc", "epmcids", "targets", "diseases", "drugs")

  /** Layered load: optional YAML file, then CLI overrides on top. */
  def load(path: Option[String], overrides: Map[String, String]): EtlConfig = {
    val (fileKv, fileRanks) = path match {
      case Some(p) => parseYaml(new String(Files.readAllBytes(Paths.get(p)), UTF_8))
      case None    => (Map.empty[String, String], None)
    }
    val normalized = overrides.map { case (k, v) =>
      (if (legacyInputKeys(k)) s"inputs.$k" else k) -> v
    }
    // normalize the bare-scalar form BEFORE layering: a YAML file's
    // `inputs.<n>: path` and a CLI `inputs.<n>.path=...` must collide on
    // the same key so the CLI layer actually overrides
    build(normalizeScalarInputs(fileKv) ++ normalizeScalarInputs(normalized), fileRanks)
  }

  /** Rewrite legacy bare scalars `inputs.<name>=path` to the structured
    * `inputs.<name>.path=path` so file/CLI layering happens on one key.
    */
  private def normalizeScalarInputs(kv: Map[String, String]): Map[String, String] =
    kv.map { case (k, v) =>
      val isBareInput =
        k.startsWith("inputs.") && !k.stripPrefix("inputs.").contains('.')
      (if (isBareInput) s"$k.path" else k) -> v
    }

  /** YAML → (dotted scalar keys, structured sectionRanks). Kept separate
    * from build() so tests can exercise the parse in isolation.
    *
    * Lists are rejected except `sectionRanks` (a non-empty list of
    * entries with a text `section`, an integral `rank` and a numeric
    * `weight`; a bad entry throws, naming it) and
    * `*.partitionBy` (scalar list, comma-joined): any other YAML array —
    * e.g. a mistakenly list-valued inputs entry — fails fast instead of
    * silently degrading the run to defaults.
    */
  private[etl] def parseYaml(text: String): (Map[String, String], Option[Seq[SectionRank]]) = {
    val root = new ObjectMapper(new YAMLFactory()).readTree(text)
    if (root == null || root.isNull) return (Map.empty, None)
    val flat = scala.collection.mutable.LinkedHashMap[String, String]()
    def walk(prefix: String, node: JsonNode): Unit =
      if (node.isObject) {
        node.fieldNames().asScala.foreach { f =>
          walk(if (prefix.isEmpty) f else s"$prefix.$f", node.get(f))
        }
      } else if (node.isValueNode) flat(prefix) = node.asText()
      else if (node.isArray && prefix.endsWith("partitionBy")) {
        val items = node.elements().asScala.toSeq
        require(items.forall(_.isValueNode),
          s"config key $prefix must be a list of column names")
        flat(prefix) = items.map(_.asText()).mkString(",")
      } else sys.error(
        s"unexpected YAML ${node.getNodeType} at '$prefix' " +
          "(lists are only valid for sectionRanks and *.partitionBy)")
    root.fieldNames().asScala.filterNot(_ == "sectionRanks")
      .foreach(f => walk(f, root.get(f)))
    val ranks = Option(root.get("sectionRanks")).map { arr =>
      require(arr.isArray && !arr.isEmpty,
        s"sectionRanks must be a non-empty list of {section, rank, weight} entries, got: $arr")
      arr.elements().asScala.zipWithIndex.map { case (n, i) =>
        // Jackson's asInt/asDouble read a non-number as 0, and a missing
        // key is null: check each field's type before reading it
        def field(key: String, what: String)(ok: JsonNode => Boolean): JsonNode =
          Option(n.get(key)).filter(ok).getOrElse(
            throw new IllegalArgumentException(s"sectionRanks[$i] needs $what '$key': $n"))
        SectionRank(
          field("section", "a text")(_.isTextual).asText(),
          field("rank", "an integral")(v => v.isIntegralNumber && v.canConvertToInt).asInt(),
          field("weight", "a numeric")(_.isNumber).asDouble())
      }.toSeq
    }
    (flat.toMap, ranks)
  }

  /** Group `inputs.<name>.path/format/schema/options.*` dotted keys into
    * InputConfs; [[load]] has already rewritten every bare
    * `inputs.<name>=path` scalar to `inputs.<name>.path`.
    */
  private def inputConfs(kv: Map[String, String]): Map[String, InputConf] = {
    val entries = kv.collect {
      case (k, v) if k.startsWith("inputs.") => k.stripPrefix("inputs.") -> v
    }
    val names = entries.keySet.map(_.split("\\.", 2)(0))
    names.map { n =>
      val sub = entries.collect {
        case (k, v) if k.startsWith(s"$n.") => k.stripPrefix(s"$n.") -> v
      }
      val known = sub.keys.filter(k =>
        k != "path" && k != "format" && k != "schema" && !k.startsWith("options."))
      require(known.isEmpty, s"unknown config keys under inputs.$n: ${known.mkString(", ")}")
      val path = sub.getOrElse("path",
        sys.error(s"inputs.$n needs a path (inputs.$n= or inputs.$n.path=)"))
      n -> InputConf(
        path = path,
        format = sub.get("format"),
        schema = sub.get("schema"),
        options = sub.collect {
          case (k, v) if k.startsWith("options.") => k.stripPrefix("options.") -> v
        })
    }.toMap
  }

  /** Group `outputs.<name>.*` dotted keys into OutputConfs. */
  private def outputConfs(kv: Map[String, String]): Map[String, OutputConf] = {
    val entries = kv.collect {
      case (k, v) if k.startsWith("outputs.") => k.stripPrefix("outputs.") -> v
    }
    val names = entries.keySet.map(_.split("\\.", 2)(0))
    names.map { n =>
      val sub = entries.collect {
        case (k, v) if k.startsWith(s"$n.") => k.stripPrefix(s"$n.") -> v
      }
      val unknown = sub.keys.filterNot(
        Set("partitionBy", "targetFiles", "maxRecordsPerFile"))
      require(unknown.isEmpty, s"unknown config keys under outputs.$n: ${unknown.mkString(", ")}")
      n -> OutputConf(
        partitionBy = sub.get("partitionBy")
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil),
        targetFiles = sub.get("targetFiles").map(_.toInt).getOrElse(0),
        maxRecordsPerFile = sub.get("maxRecordsPerFile").map(_.toLong).getOrElse(0L))
    }.toMap
  }

  private def build(kv: Map[String, String], ranks: Option[Seq[SectionRank]]): EtlConfig = {
    val w2vD = Embedding.W2VConfig()
    def i(k: String, d: Int): Int = kv.get(k).map(_.toInt).getOrElse(d)
    def d(k: String, dv: Double): Double = kv.get(k).map(_.toDouble).getOrElse(dv)
    EtlConfig(
      out = kv.getOrElse("out", sys.error("out is required (out= or config file)")),
      format = kv.getOrElse("format", "parquet"),
      inputs = inputConfs(kv),
      outputs = outputConfs(kv),
      threshold = d("threshold", 0.01),
      w2v = Embedding.W2VConfig(
        windowSize = i("w2v.windowSize", w2vD.windowSize),
        numPartitions = i("w2v.numPartitions", w2vD.numPartitions),
        maxIter = i("w2v.maxIter", w2vD.maxIter),
        minCount = i("w2v.minCount", w2vD.minCount),
        stepSize = d("w2v.stepSize", w2vD.stepSize),
        vectorSize = i("w2v.vectorSize", w2vD.vectorSize),
        seed = kv.get("w2v.seed").map(_.toLong).getOrElse(w2vD.seed)),
      sectionRanks = ranks.getOrElse(SectionRanks.default))
  }
}
