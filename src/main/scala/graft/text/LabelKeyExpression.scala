package graft.text

import java.util.regex.Pattern

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Shared label-key kernel: one call turns a label into its LT or TT key
  * (semantics in TextNormalize's scaladoc). Referenced by both the
  * interpreted eval path and the generated Java, so the two paths cannot
  * diverge.
  *
  * Steps, per label: Greek → Latin transliteration, split on delimiter
  * runs, (LT) case-sensitive stop-word removal, per-token lowercase with
  * Spark's own `lower` case mapping, strip every char outside
  * [a-z0-9_], drop empty tokens, then (LT) Porter-stem, dedup, sort and
  * concatenate, or (TT) concatenate in order.
  */
object LabelKeyKernel {

  private val greekFrom = "αβγδεζηικλμνξπτυω"
  private val greekTo = "abgdezhiklmnxptuo"
  // Java regex `\s` is ASCII whitespace only, as in Spark's `split`
  private val ltDelimiters = Pattern.compile("[\\s\\u00a0\\-/:,;]+")
  private val ttDelimiters = Pattern.compile("[\\s\\u00a0:,;]+")
  private val stopWords: Set[String] = TextNormalize.stopWords.toSet
  private val lt = UTF8String.fromString(TextNormalize.LabelKeyType)
  private val tt = UTF8String.fromString(TextNormalize.TokenKeyType)

  /** The key of `text` for `keyType`, or null for an unknown key type. */
  def key(text: UTF8String, keyType: UTF8String, useICU: Boolean): UTF8String =
    if (keyType == lt) UTF8String.fromString(ltKey(text.toString, useICU))
    else if (keyType == tt) UTF8String.fromString(ttKey(text.toString, useICU))
    else null

  // the normalized tokens are ASCII, so String order is Spark's binary order
  private def ltKey(text: String, useICU: Boolean): String =
    tokens(text, ltDelimiters)
      .filterNot(stopWords.contains)
      .map(normalize(_, useICU))
      .filter(_.nonEmpty)
      .map(PorterStemmer.stem)
      .distinct
      .sorted
      .mkString

  private def ttKey(text: String, useICU: Boolean): String =
    tokens(text, ttDelimiters).map(normalize(_, useICU)).mkString

  private def tokens(text: String, delimiters: Pattern): Seq[String] = {
    val transliterated = text.map { c =>
      val g = greekFrom.indexOf(c)
      if (g >= 0) greekTo.charAt(g) else c
    }
    delimiters.split(transliterated).toSeq.filter(_.nonEmpty)
  }

  /** Spark's `lower` for the binary collation, then keep only [a-z0-9_]. */
  private def normalize(token: String, useICU: Boolean): String =
    CollationSupport.Lower.exec(UTF8String.fromString(token),
      CollationFactory.UTF8_BINARY_COLLATION_ID, useICU).toString
      .filter(c => (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '_')
}

/** Native Catalyst expression for the LT/TT label key: one kernel call per
  * row in place of the translate → split → filter → array_except →
  * transform → filter → porter_stem → array_distinct → array_sort →
  * array_join tree. Null text or an unknown key type gives null.
  */
case class LabelKeyExpression(text: Expression, keyType: Expression) extends BinaryExpression {

  override def left: Expression = text
  override def right: Expression = keyType
  override def checkInputDataTypes(): TypeCheckResult = (text.dataType, keyType.dataType) match {
    case (_: StringType, _: StringType) => TypeCheckResult.TypeCheckSuccess
    case (t, k) => TypeCheckResult.TypeCheckFailure(
      s"label_key requires (string, string), got (${t.catalogString}, ${k.catalogString})")
  }
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "label_key"

  // the case mapping Spark's `lower` uses, read from the session as Lower does
  private lazy val useICU: Boolean = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override def nullSafeEval(t: Any, k: Any): Any =
    LabelKeyKernel.key(t.asInstanceOf[UTF8String], k.asInstanceOf[UTF8String], useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, k) =>
      s"""${ev.value} = graft.text.LabelKeyKernel$$.MODULE$$.key($t, $k, $useICU);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LabelKeyExpression =
    copy(text = newLeft, keyType = newRight)
}

object LabelKeyExpression {
  /** Column-level entry point. */
  def apply(text: Column, keyType: Column): Column =
    GraftSqlBridge.column(new LabelKeyExpression(
      GraftSqlBridge.expression(text), GraftSqlBridge.expression(keyType)))
}
