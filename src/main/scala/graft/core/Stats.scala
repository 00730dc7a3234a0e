package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact distributed order statistics without a global sort.
  *
  * Spark's exact `percentile` aggregate collects every value of a group
  * into one reducer and sorts it — at 100 TB that is a single-task sort
  * of the corpus. `approx_percentile` scales but is approximate. For the
  * integer-valued metrics quality pipelines actually rank on (token
  * counts, char lengths, scores bucketed to fixed precision), exactness
  * and scale coexist via rank selection over the VALUE HISTOGRAM:
  *
  *   1. `groupBy(value).count()` — one map-side-combinable shuffle whose
  *      output is bounded by the metric's value cardinality, not the row
  *      count (a length metric has ~10^4 distinct values at any corpus
  *      size);
  *   2. a running-count window over the histogram — a single-partition
  *      sort of the HISTOGRAM, thousands of rows, deliberately not the
  *      corpus (the one `Window.orderBy` without a partition key in this
  *      library, safe because its input is the bounded histogram);
  *   3. each requested quantile q selects the smallest value whose
  *      cumulative count reaches `ceil(q·N)` — the inverse-CDF / lower
  *      discrete quantile, replayed relationally by the oracle with the
  *      identical arithmetic (q·N is the same IEEE product on both
  *      engines, so the rank boundary cannot disagree).
  *
  * For unbounded-cardinality double metrics, quantize to fixed precision
  * first (the histogram bound is then the quantization grid); exactness
  * holds at that precision.
  */
object Stats {

  /** Shared core: value histogram with per-(optional group) cumulative
    * counts — (groupCols..., v, c, cum). Every quantile entry point
    * builds on this one shape so the rank convention, the long cast, and
    * null handling live in exactly one place.
    */
  private def cumHist(df: DataFrame, value: Column,
      groupCols: Seq[String]): DataFrame = {
    val hist = df.groupBy(groupCols.map(col) :+ value.cast("long").as("v"): _*)
      .agg(count(lit(1)).as("c"))
    val w = (if (groupCols.isEmpty) Window.orderBy(col("v"))
             else Window.partitionBy(groupCols.map(col): _*).orderBy(col("v")))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist.withColumn("cum", sum(col("c")).over(w))
  }

  /** Totals derived FROM the histogram — never a second scan of the
    * source (Σc over the histogram equals the row count exactly).
    */
  private def totalsOf(cum: DataFrame, groupCols: Seq[String]): DataFrame =
    if (groupCols.isEmpty) cum.agg(sum(col("c")).as("n"))
    else cum.groupBy(groupCols.map(col): _*).agg(sum(col("c")).as("n"))

  /** Rank selection over the cumulative histogram: smallest v whose
    * running count reaches ceil(q·N), per optional group.
    */
  private def selectQuantiles(cum: DataFrame, totals: DataFrame,
      groupCols: Seq[String], qs: Seq[Double], out: String): DataFrame = {
    val joined =
      if (groupCols.isEmpty) cum.crossJoin(broadcast(totals))
      else cum.join(totals, groupCols)
    joined
      .withColumn("q", explode(array(qs.map(lit): _*)))
      .filter(col("cum") >= ceil(col("q") * col("n")))
      .groupBy(groupCols.map(col) :+ col("q"): _*)
      .agg(min(col("v")).as(out))
  }

  private def requireQs(qs: Seq[Double]): Unit =
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"quantiles must lie in (0, 1], got $qs")

  /** Exact discrete quantiles of an integral column.
    *
    * Returns one row per requested quantile: (q double, value long) where
    * `value` is the smallest v with |{x ≤ v}| ≥ ceil(q·N).
    */
  def exactQuantiles(df: DataFrame, value: Column, qs: Seq[Double]): DataFrame = {
    requireQs(qs)
    val cum = cumHist(df, value, Nil)
    selectQuantiles(cum, totalsOf(cum, Nil), Nil, qs, "value")
  }

  /** Per-group exact discrete quantiles — [[exactQuantiles]] with a
    * grouping key (the per-language / per-source quality-cutoff
    * primitive: "p90 document length per language" drives per-stratum
    * filtering thresholds). Same histogram rank selection; the
    * cumulative window partitions by GROUP over the per-group value
    * histogram, so its occupancy is the group's value cardinality, never
    * its row count — no group funnels regardless of stratum skew.
    *
    * Returns one row per (group, q): (groupCol, q, value).
    */
  def groupedExactQuantiles(df: DataFrame, groupCol: String, value: Column,
      qs: Seq[Double]): DataFrame = {
    requireQs(qs)
    val cum = cumHist(df, value, Seq(groupCol))
    selectQuantiles(cum, totalsOf(cum, Seq(groupCol)), Seq(groupCol), qs, "value")
  }

  /** Approximate quantiles (Greenwald–Khanna sketch, the 100 TB path —
    * one pass, mergeable partials, no histogram-cardinality assumption)
    * CHECKED in-plan against the exact histogram: for each q the sketch
    * value's true rank window must overlap the target rank ±N/accuracy
    * (the GK guarantee), emitted as a boolean beside the exact value.
    * The a13 discipline: sketch internals differ across engines so the
    * raw estimate has no cross-engine oracle, but the accuracy CLAIM is
    * relational — DuckDB replays the exact quantiles and expects TRUE,
    * so a sketch straying past its guarantee hash-mismatches.
    *
    * Returns (q, exact_value, within_bound). Exactly two source scans:
    * one builds the histogram (totals and exact values both derive from
    * it, never from re-reading the source), one feeds the sketch; the
    * histogram window is bounded by value cardinality as in
    * [[exactQuantiles]].
    */
  def approxQuantilesChecked(df: DataFrame, value: Column, qs: Seq[Double],
      accuracy: Int = 10000): DataFrame = {
    requireQs(qs)
    val cum = cumHist(df, value, Nil)
    val total = totalsOf(cum, Nil)
    val exact = selectQuantiles(cum, total, Nil, qs, "exact_value")
    val approx = df
      .agg(percentile_approx(value.cast("long"), array(qs.map(lit): _*),
        lit(accuracy)).as("ap"))
      .select(posexplode(col("ap")).as(Seq("i", "approx_v")))
      .select(element_at(array(qs.map(lit): _*), col("i") + 1).as("q"), col("approx_v"))
    sketchBound(cum, total, approx, accuracy)
      .join(exact, Seq("q"))
      .select(col("q"), col("exact_value"), col("within_bound"))
  }

  /** The GK-guarantee predicate as data: for each (q, approx_v), does the
    * value's true rank window [cum − c + 1, cum] overlap the target rank
    * q·N within ±N/accuracy (+1 rank of slack)? Package-private so the
    * spec can feed a deliberately mis-ranked value and observe FALSE —
    * the predicate must be falsifiable, not decorative. The sketch
    * returns an ELEMENT of the data, so an exact histogram row always
    * matches `approx_v`.
    */
  private[core] def sketchBound(cum: DataFrame, total: DataFrame,
      approx: DataFrame, accuracy: Int): DataFrame = {
    val slack = col("n").cast("double") / accuracy + 1.0
    val within = (col("cum") - col("c")).cast("double") <= col("q") * col("n") + slack &&
      col("cum").cast("double") >= col("q") * col("n") - slack
    approx
      .join(cum, col("approx_v") === col("v"))
      .crossJoin(broadcast(total))
      .select(col("q"), within.as("within_bound"))
  }

  /** Spec instrument for [[sketchBound]]: evaluate it for an arbitrary
    * claimed (q, approx_v) pair against `df`'s histogram.
    */
  private[core] def boundFor(df: DataFrame, value: Column, q: Double,
      approxV: Long, accuracy: Int): Boolean = {
    val cum = cumHist(df, value, Nil)
    val spark = df.sparkSession
    import spark.implicits._
    val approx = Seq((q, approxV)).toDF("q", "approx_v")
    sketchBound(cum, totalsOf(cum, Nil), approx, accuracy)
      .head().getBoolean(1)
  }
}
