package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus snapshot diff — dataset versioning's core query: between two
  * corpus versions, which documents were ADDED, REMOVED, CHANGED (same
  * id, different content), and how much survived byte-identical. Every
  * serious training-data pipeline re-crawls and re-filters; the diff is
  * what turns "we rebuilt the corpus" into an auditable changelog
  * (and the CHANGED/REMOVED sets are exactly what downstream incremental
  * jobs — embedding refresh, index repair, dedup re-admission — consume
  * instead of reprocessing everything).
  *
  * Scale shape: content equality travels as md5 hashes, never text —
  * the full outer join shuffles (id, 32-char hash) pairs only, one
  * shuffle per side. Text payloads stay in their parquet files untouched
  * (column pruning keeps them out of the scan when the caller selects
  * only ids/hashes).
  */
object CorpusDiff {

  /** Per-document diff status between `before` and `after` (both
    * (idCol, textCol) relations): one row per id present in either,
    * `status` ∈ added | removed | changed | same.
    */
  def diff(before: DataFrame, after: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val b = before.select(col(idCol).as("doc_id"), md5(col(textCol)).as("h_before"))
    val a = after.select(col(idCol).as("doc_id"), md5(col(textCol)).as("h_after"))
    b.join(a, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("h_before").isNull, lit("added"))
          .when(col("h_after").isNull, lit("removed"))
          .when(col("h_before") =!= col("h_after"), lit("changed"))
          .otherwise(lit("same")).as("status"))
  }
}
