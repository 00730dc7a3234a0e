package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.ann.HyperplaneCodeExpression
import graft.text.StemArrayExpression

/** SparkSessionExtensions entry point: registers graft's native
  * expressions as SQL functions so `spark.sql("SELECT porter_stem(...)")`
  * and `hyperplane_code(vec, dim, bits, table)` work in any session built
  * with `.config("spark.sql.extensions", "graft.GraftExtensions")`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {
  private def intLit(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"hyperplane_code $what must be an integer literal, got $other")
  }

  private val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      (
        FunctionIdentifier("porter_stem"),
        new ExpressionInfo(classOf[StemArrayExpression].getName, "porter_stem"),
        (children: Seq[Expression]) => new StemArrayExpression(children.head)),
      (
        FunctionIdentifier("hyperplane_code"),
        new ExpressionInfo(classOf[HyperplaneCodeExpression].getName, "hyperplane_code"),
        (children: Seq[Expression]) => {
          require(children.length == 4,
            "hyperplane_code(embedding array<double>, dim, bits, table)")
          new HyperplaneCodeExpression(children.head,
            intLit(children(1), "dim"), intLit(children(2), "bits"),
            intLit(children(3), "table"))
        }),
      // the vector fold kernels, exposed to SQL by parsing the identical
      // fold text and splicing the call's children in for the named
      // placeholders (a Column built via the DataFrame API wraps as a
      // lazy ColumnNodeExpression that the function-registry path never
      // resolves, so the catalyst parser is the right door here); the
      // analyzer then resolves the higher-order lambdas like any SQL.
      // The cosine kernel needs each vector in three places (guard,
      // divisor, dot), so each argument is bound ONCE as a lambda
      // variable — transform over a one-element struct array — and the
      // kernel references the binding. A non-deterministic argument
      // (e.g. built from rand()) therefore evaluates exactly once per
      // row instead of independently per occurrence.
      (
        FunctionIdentifier("graft_cosine"),
        new ExpressionInfo("graft.functions.VectorOps", "graft_cosine"),
        (children: Seq[Expression]) => {
          require(children.length == 2, "graft_cosine(a array<double>, b array<double>)")
          val (na, nb) = (normSql("__p.va"), normSql("__p.vb"))
          parsedKernel(
            s"""element_at(transform(array(struct(__a AS va, __b AS vb)), __p ->
               |CASE WHEN $na * $nb = 0.0D THEN 0.0D
               |ELSE aggregate(zip_with(__p.va, __p.vb, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)
               |  / ($na * $nb) END), 1)""".stripMargin,
            Map("__a" -> children(0), "__b" -> children(1)))
        }),
      (
        FunctionIdentifier("graft_l2_norm"),
        new ExpressionInfo("graft.functions.VectorOps", "graft_l2_norm"),
        (children: Seq[Expression]) => {
          require(children.length == 1, "graft_l2_norm(a array<double>)")
          parsedKernel(normSql("__a"), Map("__a" -> children.head))
        }))

  /** Same fold text as VectorOps.l2Norm (sum of squares, left fold). */
  private def normSql(arr: String): String =
    s"sqrt(aggregate($arr, 0.0D, (acc, x) -> acc + x * x))"

  private def parsedKernel(sql: String, subst: Map[String, Expression]): Expression =
    org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(sql)
      .transformUp {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            if subst.contains(a.name) => subst(a.name)
      }
}
