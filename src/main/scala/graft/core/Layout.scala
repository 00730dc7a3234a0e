package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout: Z-order (Morton) clustering so parquet
  * file/row-group min-max statistics stay narrow on SEVERAL columns at
  * once. A table range-partitioned and sorted on one key prunes scans on
  * that key only; interleaving the bits of two keys gives every file a
  * small rectangle of the (a, b) plane, so selective predicates on
  * EITHER column skip most files. This is the standard lakehouse layout
  * trick (Delta/Iceberg `ZORDER BY`), built here from plain Spark
  * primitives: an in-plan rank normalization, a codegen'd bit-interleave
  * expression, `repartitionByRange` + `sortWithinPartitions` on the
  * resulting key.
  *
  * Scale shape: the only shuffle is the range partition on the z-key
  * (range boundaries from Spark's reservoir sample); normalization
  * bounds come from a one-row min/max aggregate joined back in-plan —
  * broadcast by AQE, never collected to the driver. LayoutSpec measures
  * the payoff: per-file value ranges on BOTH dimensions shrink to a
  * fraction of the global range, while a single-column sort leaves the
  * other dimension's per-file range at ~100 % of global.
  */
object Layout {

  /** Morton interleave of the low `bits` bits of two non-negative longs:
    * bit k of `a` lands at position 2k, bit k of `b` at 2k+1. Pure
    * shift/and/or fold — codegen'd, exactly replayable in any engine.
    * 2·bits must fit a long: bits ≤ 31.
    */
  def interleaveBits(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"interleaveBits needs 1 <= bits <= 31, got $bits")
    (0 until bits).foldLeft(lit(0L)) { (acc, k) =>
      acc
        .bitwiseOR(shiftleft(shiftright(a, k).bitwiseAND(lit(1L)), 2 * k))
        .bitwiseOR(shiftleft(shiftright(b, k).bitwiseAND(lit(1L)), 2 * k + 1))
    }
  }

  /** Attach a Z-order key over two numeric columns: each value is
    * min-max-normalized to [0, 2^bits) with bounds from a one-row
    * aggregate joined back in-plan with an explicit broadcast hint
    * (nothing touches the driver), then bit-interleaved. Constant
    * columns normalize to 0.
    */
  def zorderKey(df: DataFrame, colA: String, colB: String,
      bits: Int = 16, keyCol: String = "zkey"): DataFrame = {
    val scale = (1L << bits) - 1
    val bounds = df.agg(
      min(col(colA).cast("double")).as("__mina"),
      max(col(colA).cast("double")).as("__maxa"),
      min(col(colB).cast("double")).as("__minb"),
      max(col(colB).cast("double")).as("__maxb"))
    def norm(c: String, lo: Column, hi: Column): Column =
      floor((col(c).cast("double") - lo) * scale /
        greatest(hi - lo, lit(1e-300))).cast("long")
    df.crossJoin(broadcast(bounds))
      .withColumn(keyCol,
        interleaveBits(
          norm(colA, col("__mina"), col("__maxa")),
          norm(colB, col("__minb"), col("__maxb")), bits))
      .drop("__mina", "__maxa", "__minb", "__maxb")
  }

  /** Write `df` parquet Z-ordered on (colA, colB): range-partition into
    * `numFiles` z-key ranges, sort within each, drop the key. Point or
    * range predicates on EITHER column then skip most files on their
    * min-max stats.
    */
  def writeZordered(df: DataFrame, path: String, colA: String, colB: String,
      numFiles: Int = 64, bits: Int = 16, mode: String = "overwrite"): Unit = {
    require(numFiles >= 1, s"writeZordered needs numFiles >= 1, got $numFiles")
    zorderKey(df, colA, colB, bits)
      .repartitionByRange(numFiles, col("zkey"))
      .sortWithinPartitions(col("zkey"))
      .drop("zkey")
      .write.mode(mode).parquet(path)
  }

  /** Spec instrument for [[writeZordered]]: for each physical input file,
    * the spread (max − min) of `valueCol` as a fraction of its global
    * spread — the quantity parquet min-max skipping actually prunes on.
    * One scan, one tiny aggregate keyed by file name.
    */
  private[core] def fileRangeFractions(df: DataFrame, valueCol: String): DataFrame = {
    val perFile = df
      .withColumn("__file", input_file_name())
      .groupBy(col("__file"))
      .agg(min(col(valueCol).cast("double")).as("lo"),
        max(col(valueCol).cast("double")).as("hi"))
    val global = perFile.agg(
      min(col("lo")).as("glo"), max(col("hi")).as("ghi"))
    perFile.crossJoin(broadcast(global))
      .select(col("__file").as("file"),
        ((col("hi") - col("lo")) /
          greatest(col("ghi") - col("glo"), lit(1e-300))).as("range_fraction"))
  }
}
