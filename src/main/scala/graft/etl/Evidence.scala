package graft.etl

import org.apache.spark.ml.feature.Word2VecModel
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.functions.{Scoring, VectorOps}

/** Evidence step: score target–disease associations two ways — embedding
  * cosine similarity over publications that mention both, and harmonic
  * co-occurrence sentiment — then merge (capability-parity rebuild of
  * reference Evidence.scala).
  */
object Evidence {

  val matchesColumns: Seq[String] = Seq(
    "datasourceId", "datatypeId", "targetFromSourceId",
    "diseaseFromSourceMappedId", "resourceScore", "similarity",
    "harmonicSimilarity", "sharedPublicationCount", "meanTargetFreqPerPub",
    "meanDiseaseFreqPerPub")

  val cooccurrencesColumns: Seq[String] = Seq(
    "targetFromSourceId", "diseaseFromSourceMappedId",
    "harmonicCooccurrenceSentiment", "cooccurredPublicationCount")

  /** Embedding-based evidence (reference computeEvidenceFromMatches,
    * Evidence.scala:41–104):
    * per-(pmid, type, keyword) frequencies over ranked sections → attach
    * model vectors → disease-side × target-side self-join on shared pmid
    * (equi key + inequality residual, J11) → per-pair aggregates → cosine
    * + threshold → harmonic over the similarity repeated per shared pub.
    *
    * Vectors ride through the join as `array<double>`; cosine is the
    * codegen'd fold (VectorOps.cosine), not the reference's UDF (M1).
    * The self-join shuffles on pmid — the natural key; per-pair skew
    * (hot genes/diseases) is AQE's skew-join territory.
    */
  def fromMatches(model: Word2VecModel, matches: DataFrame, spark: SparkSession,
      threshold: Double = 0.01,
      ranks: Seq[SectionRank] = SectionRanks.default): DataFrame = {
    val rankTable = broadcast(SectionRanks.table(spark, ranks))
    val vectors = model.getVectors.select(col("word"), vector_to_array(col("vector")).as("vector"))

    val mWithV = matches
      .filter(col("isMapped") === true)
      .join(rankTable, Seq("section"))
      .groupBy(col("pmid"), col("type"), col("keywordId"))
      .agg(count(col("pmid")).as("f"))
      .join(vectors, col("word") === col("keywordId"))
      .drop("word")

    val ds = mWithV.filter(col("type") === "DS").select(
      col("pmid").as("diseaseP"), col("keywordId").as("diseaseFromSourceMappedId"),
      col("f").as("diseaseF"), col("vector").as("diseaseV"))
    val gp = mWithV.filter(col("type") === "GP").select(
      col("pmid").as("targetP"), col("keywordId").as("targetFromSourceId"),
      col("f").as("targetF"), col("vector").as("targetV"))

    ds.join(gp,
        col("targetP") === col("diseaseP") &&
          col("diseaseFromSourceMappedId") =!= col("targetFromSourceId"))
      .groupBy(col("targetFromSourceId"), col("diseaseFromSourceMappedId"))
      .agg(
        first(col("targetV")).as("targetV"),
        first(col("diseaseV")).as("diseaseV"),
        mean(col("targetF")).as("meanTargetFreqPerPub"),
        mean(col("diseaseF")).as("meanDiseaseFreqPerPub"),
        count(col("targetP")).cast(IntegerType).as("sharedPublicationCount"))
      .withColumn("similarity", VectorOps.cosine(col("targetV"), col("diseaseV")))
      .filter(col("similarity") > threshold)
      .withColumn("harmonicSimilarity",
        Scoring.harmonicSorted(array_repeat(col("similarity"), col("sharedPublicationCount"))))
      .withColumn("resourceScore", col("harmonicSimilarity"))
      .withColumn("datasourceId", lit("ew2v"))
      .withColumn("datatypeId", lit("literature"))
      .select(matchesColumns.map(col): _*)
  }

  /** Co-occurrence evidence (reference computeEvidenceFromCoocs,
    * Evidence.scala:106–130): GP–DS sentence pairs under 600 chars,
    * sentiment score ÷ 10, harmonic-summed per pair with a distinct-pub
    * count.
    */
  def fromCooccurrences(coocs: DataFrame): DataFrame =
    coocs
      .filter(col("isMapped") === true && col("type1") === "GP" &&
        col("type2") === "DS" && length(col("text")) < 600)
      .withColumn("cooccurrenceScore", col("evidence_score") / 10d)
      .withColumnRenamed("keywordId1", "targetFromSourceId")
      .withColumnRenamed("keywordId2", "diseaseFromSourceMappedId")
      .groupBy(col("targetFromSourceId"), col("diseaseFromSourceMappedId"))
      .agg(
        Scoring.harmonicSorted(collect_list(col("cooccurrenceScore")))
          .as("harmonicCooccurrenceSentiment"),
        countDistinct(col("pmid")).cast(IntegerType).as("cooccurredPublicationCount"))
      .select(cooccurrencesColumns.map(col): _*)

  /** Merged evidence: matches-evidence left-outer cooc-evidence, absent
    * cooc scores filled with 0 (reference generateEvidence,
    * Evidence.scala:132–146).
    */
  def generate(model: Word2VecModel, matches: DataFrame, coocs: DataFrame,
      spark: SparkSession, threshold: Double = 0.01,
      ranks: Seq[SectionRank] = SectionRanks.default): DataFrame =
    fromMatches(model, matches, spark, threshold, ranks)
      .join(fromCooccurrences(coocs),
        Seq("targetFromSourceId", "diseaseFromSourceMappedId"), "left_outer")
      .na.fill(0d)
      .select((matchesColumns ++
        Seq("harmonicCooccurrenceSentiment", "cooccurredPublicationCount")).map(col): _*)
}
