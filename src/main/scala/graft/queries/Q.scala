package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** One driver-checkable query: a Spark DataFrame program over the testdata
  * tables plus (when SQL-expressible) an equivalent DuckDB oracle query.
  *
  * Cross-engine determinism rules used throughout:
  *   - sums over doubles go through `decSum` (exact decimal accumulation,
  *     then cast back to double) so Spark's partial-aggregation order and
  *     DuckDB's scan order produce bit-identical results;
  *   - floating-point results that cannot be made exact are `round`ed to a
  *     tolerance far above the accumulated error;
  *   - every collected list is sorted before being joined to a string;
  *   - ranking windows always carry a unique tiebreaker column.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, oracle: String)(run: (SparkSession, String) => DataFrame): Q =
    Q(name, run, Some(oracle))

  /** testdata table loader shorthand. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables(spark, dir, name)

  /** Order-insensitive, exact sum of a double column (see
    * graft.functions.Exact).
    */
  def decSum(c: Column): Column = graft.functions.Exact.decSum(c)

  /** Exact sum for money-like (≤4 dp) columns; see Exact.moneySum. */
  def moneySum(c: Column): Column = graft.functions.Exact.moneySum(c)
}
