package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Structural schema rewrites, done at the expression level.
  *
  * The reference rebuilds the DataFrame from `df.rdd` with a renamed
  * StructType (reference spark/Helpers.scala:160, 172) — that round-trip
  * deserializes every row, breaks whole-stage codegen, and blocks parquet
  * filter/column pushdown for everything downstream. Here the rename is a
  * single `select` of positional struct casts (field renames only — struct
  * casts match by position), so nulls are preserved and the plan stays
  * columnar end-to-end with scan pruning intact.
  */
object SchemaTools {

  /** `dt` with every nested field name rewritten by `fn`. */
  private def renameType(dt: DataType, fn: String => String): DataType = dt match {
    case st: StructType =>
      StructType(st.fields.map(f => f.copy(name = fn(f.name), dataType = renameType(f.dataType, fn))))
    case ArrayType(et, n) => ArrayType(renameType(et, fn), n)
    case MapType(k, v, n) => MapType(renameType(k, fn), renameType(v, fn), n)
    case other => other
  }

  /** Rename every field (recursively through structs/arrays/maps) with
    * `fn`. Used with spaces→`_` to normalize raw EPMC field names
    * (reference Grounding.scala:595 → Helpers.scala:166–175).
    */
  private def renameFields(df: DataFrame, fn: String => String): DataFrame =
    df.select(df.schema.fields.map { f =>
      col(s"`${f.name}`").cast(renameType(f.dataType, fn)).alias(fn(f.name))
    }.toSeq: _*)

  /** Spaces → underscores across the whole schema tree. */
  def replaceSpaces(df: DataFrame): DataFrame = renameFields(df, _.replaceAll(" ", "_"))
}
