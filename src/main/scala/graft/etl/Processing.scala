package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.functions.Scoring

/** Processing step: the literature index with per-(publication,
  * keyword) harmonic relevance over the grounded matches, and the
  * per-publication match rollup (capability-parity rebuild of reference
  * Processing.scala). The grounding datasets themselves come flat from
  * [[Grounding.resolve]], so the reference's unwrap of the match and
  * co-occurrence structs has no counterpart here.
  *
  * Determinism note (SURVEY.md §4 landmines): the reference computes the
  * relevance vector with `collect_list(...).over(w.orderBy(rank))` — an
  * implicit RUNNING frame — then `dropDuplicates` keeps an arbitrary row,
  * so its output depends on physical row order. This rebuild aggregates
  * the complete per-section weight vectors and sorts them by (rank,
  * section) explicitly: same score for the complete vector, but stable
  * under any partitioning — a requirement once AQE starts re-planning
  * shuffles at scale.
  */
object Processing {

  /** Literature index: one row per (pmid, keywordId) with a
    * section-weighted harmonic relevance and a JSON `sentences` payload of
    * title/abstract matches (reference filterMatchesForCH,
    * Processing.scala:53–125).
    *
    * Relevance semantics: each (section, keyword) contributes its section
    * weight once per occurrence (title contributes exactly once); the
    * per-keyword vector concatenates section vectors in ascending rank
    * order; relevance = Σ v_k / k² over that vector.
    *
    * Plan shape: two hash aggregations (section level, keyword level) and
    * one left join with the JSON payload — no windows, no row-order
    * dependence; every aggregate is map-side combinable.
    */
  def literatureIndex(matches: DataFrame, spark: SparkSession,
      ranks: Seq[SectionRank] = SectionRanks.default): DataFrame = {
    val rankTable = broadcast(SectionRanks.table(spark, ranks))
    val titleW = SectionRanks.titleWeight(ranks)

    val fdf = matches
      .withColumn("pmid", col("pmid").cast(LongType))
      .withColumnRenamed("type", "keywordType")

    // JSON sentence payload: title/abstract matches, per section, ordered
    // deterministically (the reference's collect_list order is physical).
    val sentencesDF = fdf
      .filter(col("section").isInCollection(Seq("title", "abstract")))
      .groupBy(col("pmid"), col("section"))
      .agg(sort_array(collect_list(struct(
        col("label"), col("keywordType"), col("keywordId"),
        col("startInSentence"), col("endInSentence"),
        col("sectionStart"), col("sectionEnd")))).as("matches"))
      .groupBy(col("pmid"))
      .agg(to_json(sort_array(collect_list(struct(col("section"), col("matches"))))).as("sentences"))

    // per-(pub, keyword, section): occurrence count → weight vector
    val perSection = fdf
      .join(rankTable, Seq("section"), "left_outer")
      .na.fill(100, Seq("rank")).na.fill(0.01, Seq("weight"))
      .groupBy(col("pmid"), col("keywordId"), col("section"), col("rank"), col("weight"))
      .agg(
        count(lit(1)).as("n"),
        max(col("pmcid")).as("pmcid"), max(col("date")).as("date"),
        max(col("year")).as("year"), max(col("month")).as("month"),
        max(col("day")).as("day"), max(col("keywordType")).as("keywordType"))
      .withColumn("sectionV",
        when(col("section") === "title", array(lit(titleW)))
          .otherwise(array_repeat(col("weight"), col("n").cast("int"))))

    // per-(pub, keyword): concat section vectors by (rank, section) order
    perSection
      .groupBy(col("pmid"), col("keywordId"))
      .agg(
        flatten(transform(
          array_sort(collect_list(struct(col("rank"), col("section"), col("sectionV")))),
          s => s.getField("sectionV"))).as("relevanceV"),
        max(col("pmcid")).as("pmcid"), max(col("date")).as("date"),
        max(col("year")).as("year"), max(col("month")).as("month"),
        max(col("day")).as("day"), max(col("keywordType")).as("keywordType"))
      .withColumn("relevance", Scoring.harmonic(col("relevanceV")))
      .join(sentencesDF, Seq("pmid"), "left_outer")
      .select("pmid", "pmcid", "date", "year", "month", "day", "keywordId",
        "relevance", "keywordType", "sentences")
  }

  /** Per-publication match rollup (reference aggregateMatches,
    * Processing.scala:127–178 — present but never called by the
    * reference's apply; provided here for API completeness): per-keyword
    * counts, the per-pub term set with counts, and nested title/abstract
    * match structures. The reference's order-dependent `first()` picks
    * are replaced by deterministic `max` over per-pub-constant columns,
    * and collected arrays are sorted (SURVEY.md §4).
    */
  def aggregateMatches(matches: DataFrame): DataFrame = {
    val base = matches.filter(col("section").isNotNull && col("isMapped") === true)

    val countsPerKey = base
      .groupBy(col("pmid"), col("keywordId"))
      .agg(
        max(col("pmcid")).as("pmcid"),
        max(col("date")).as("pubDate"),
        first(col("organisms")).as("organisms"),
        count(col("keywordId")).as("countsPerKey"))
      .groupBy(col("pmid"))
      .agg(
        max(col("pmcid")).as("pmcid"),
        max(col("pubDate")).as("pubDate"),
        first(col("organisms")).as("organisms"),
        sort_array(collect_set(struct(col("keywordId"), col("countsPerKey"))))
          .as("countsPerTerm"),
        sort_array(collect_set(col("keywordId"))).as("terms"))

    val aggregated = base
      .filter(col("section").isInCollection(Seq("title", "abstract")))
      .withColumn("match", struct(
        col("endInSentence"), col("label"), col("sectionEnd"), col("sectionStart"),
        col("startInSentence"), col("type"), col("keywordId"), col("isMapped")))
      .groupBy(col("pmid"), col("section"))
      .agg(sort_array(array_distinct(collect_list(col("match")))).as("matches"))
      .groupBy(col("pmid"))
      .agg(sort_array(collect_list(struct(col("section"), col("matches")))).as("sentences"))

    countsPerKey.join(aggregated, Seq("pmid"), "left_outer")
  }
}
