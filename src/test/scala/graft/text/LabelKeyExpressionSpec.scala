package graft.text

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

/** The fused label-key kernel must give byte-identical keys to the
  * column-expression composition it replaced, kept here as the oracle —
  * under whole-stage codegen and interpreted evaluation, and under both of
  * Spark's `lower` case mappings.
  */
class LabelKeyExpressionSpec extends SparkSpec {
  import spark.implicits._

  // the pre-kernel composition, verbatim
  private def transliterate(c: Column) = translate(c, "αβγδεζηικλμνξπτυω", "abgdezhiklmnxptuo")
  private def tokenize(c: Column, splitDashSlash: Boolean) = {
    val pattern = if (splitDashSlash) "[\\s\\u00a0\\-/:,;]+" else "[\\s\\u00a0:,;]+"
    filter(split(c, pattern), t => t =!= "")
  }
  private def normalizeTokens(tokens: Column) =
    filter(transform(tokens, t => regexp_replace(lower(t), "[^a-z0-9_]", "")), t => t =!= "")
  private def oracleLt(text: Column) = array_join(array_sort(array_distinct(StemArrayExpression(
    normalizeTokens(array_except(tokenize(transliterate(text), splitDashSlash = true),
      typedLit(TextNormalize.stopWords)))))), "")
  private def oracleTt(text: Column) =
    array_join(normalizeTokens(tokenize(transliterate(text), splitDashSlash = false)), "")
  private def oracleKeyFor(text: Column, keyType: Column) =
    when(keyType === TextNormalize.LabelKeyType, oracleLt(text))
      .when(keyType === TextNormalize.TokenKeyType, oracleTt(text))

  private val pools: Seq[Seq[String]] = Seq(
    // Greek: translated lowercase letters, and ones the table leaves alone
    Seq("α", "β", "γ", "δ", "κ", "ω", "Α", "Σ", "ς", "θ", "φ", "Ω"),
    // NBSP and other spaces, only some of them delimiters
    Seq(" ", "\u00a0", "\t", "\n", "\r", "\f", "\u000b", "\u2009", "\u3000"),
    // delimiter runs
    Seq("-", "/", ":", ",", ";", "--", "/:", ", ;", " - ", ";;;", "-/-"),
    // stop words in mixed case
    Seq("the", "The", "THE", "of", "Of", "a", "A", "i", "I", "as", "As", "AS", "aren't", "Aren't"),
    // digits and underscores
    Seq("0", "42", "p53", "_", "a_b", "IL-6", "2b", "__"),
    // letters whose lowercase depends on locale or on ICU
    Seq("\u0130", "\u0131", "\u1e9e", "\u00df", "\u212a", "\u212b", "\u01c5", "\ufb01", "é", "É", "\u01c4", "\ud83d\ude00"),
    // words the stemmer and the stop-word list act on
    Seq("kinase", "Kinases", "running", "TNF", "alpha", "synuclein", "Receptor", "cancers",
      "relational", "activation", "sky", "x"))

  private def randomText(rnd: scala.util.Random): String = rnd.nextInt(20) match {
    case 0 => null
    case 1 => ""
    case 2 => Seq.fill(1 + rnd.nextInt(4))(pools(1)(rnd.nextInt(pools(1).size))).mkString
    case 3 => Seq.fill(1 + rnd.nextInt(4))(pools(2)(rnd.nextInt(pools(2).size))).mkString
    case _ => Seq.fill(rnd.nextInt(9)) {
      val pool = pools(rnd.nextInt(pools.size))
      pool(rnd.nextInt(pool.size))
    }.mkString
  }

  private val rows: Seq[(String, String)] = {
    val rnd = new scala.util.Random(20261017)
    val keyTypes = Seq(TextNormalize.LabelKeyType, TextNormalize.TokenKeyType)
    val texts = Seq.fill(3000)(randomText(rnd))
    texts.flatMap(t => keyTypes.map(t -> _)) ++
      texts.take(50).flatMap(t => Seq(t -> "XX", t -> null, t -> "lt"))
  }

  private def withConf[A](kv: (String, String)*)(f: => A): A = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val modes = Seq(
    "codegen" -> Seq("spark.sql.codegen.wholeStage" -> "true",
      SQLConf.CODEGEN_FACTORY_MODE.key -> "CODEGEN_ONLY"),
    "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      SQLConf.CODEGEN_FACTORY_MODE.key -> "NO_CODEGEN"))

  for ((mode, conf) <- modes; icu <- Seq("true", "false")) {
    "keyFor" should s"match the column-expression oracle ($mode, ICU case mappings $icu)" in {
      // an RDD-backed frame: a local relation would be folded on the driver
      val df = spark.sparkContext.parallelize(rows, 4).toDF("text", "keyType")
      val out = withConf(conf :+ (SQLConf.ICU_CASE_MAPPINGS_ENABLED.key -> icu): _*) {
        df.select(col("text"), col("keyType"),
          TextNormalize.keyFor(col("text"), col("keyType")).as("key"),
          oracleKeyFor(col("text"), col("keyType")).as("oracle"))
          .as[(String, String, String, String)].collect()
      }
      out.length shouldBe rows.size
      val diffs = out.filter { case (_, _, k, o) => k != o }
      withClue(diffs.take(5).map { case (t, kt, k, o) =>
        val escaped = Option(t).map(_.map(c => if (c < 0x80) c.toString else f"\\u${c.toInt}%04x").mkString)
        s"[$kt] $escaped key=$k oracle=$o"
      }.mkString("", "\n", "\n")) {
        diffs.length shouldBe 0
      }
      // the pools reach every branch: null, empty and non-empty keys
      out.map(_._3).toSet should contain allOf (null, "")
      out.count(r => r._3 != null && r._3.nonEmpty) should be > rows.size / 2
    }
  }
}
