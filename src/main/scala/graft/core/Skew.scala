package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities for hot keys (the "asthma"/"p53" problem: a
  * handful of labels/entities carrying orders of magnitude more rows than
  * the rest). AQE's skew-join splitting handles sort-merge join skew at
  * runtime; these helpers cover the two cases AQE does not:
  * single-hot-key AGGREGATIONS (one reducer burns while 999 idle) and
  * hot-key broadcast-incompatible joins where the build side is large.
  */
object Skew {

  /** Two-phase salted aggregation: group by (key, salt) with partial
    * aggregates, then re-aggregate by key. Turns one hot reducer into
    * `salts` parallel reducers at the cost of a second (tiny) shuffle.
    * Only associative aggregates survive two-phase; the count is given
    * here, extend per use.
    */
  def saltedCount(df: DataFrame, keyCols: Seq[String], salts: Int = 16): DataFrame = {
    val keys = keyCols.map(col)
    df.withColumn("_salt", pmod(spark_partition_id() + monotonically_increasing_id(), lit(salts)))
      .groupBy(keys :+ col("_salt"): _*)
      .agg(count(lit(1)).as("_partial"))
      .groupBy(keys: _*)
      .agg(sum(col("_partial")).as("n"))
  }

  /** Salted equi-join for a skewed LEFT side against a moderate right
    * side: left rows get a random salt in [0, salts); the right side is
    * replicated `salts` times with every salt value; the join key becomes
    * (key, salt), spreading each hot key over `salts` reducers.
    *
    * Use when the right side is too big to broadcast but small enough to
    * replicate `salts`×. Result equals a plain inner equi-join.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String, salts: Int = 16): DataFrame = {
    val saltedLeft = left.withColumn("_salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(salts)))
    val replicatedRight = right.withColumn("_salt",
      explode(sequence(lit(0L), lit(salts.toLong - 1))))
    saltedLeft.join(replicatedRight, Seq(key, "_salt")).drop("_salt")
  }
}
