package graft.etl

import org.apache.spark.ml.feature.{Word2Vec, Word2VecModel}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding step: turn grounded matches into per-publication entity-ID
  * "sentences" and fit a skip-gram Word2Vec over them (capability-parity
  * rebuild of reference Embedding.scala + spark/Helpers.scala:60–80).
  */
object Embedding {

  /** Reference hyperparameters (reference.conf:84–90) + a fixed seed —
    * the reference leaves the seed to Spark's default (nondeterministic
    * across runs). The seed alone does not make training reproducible:
    * with numPartitions > 1 (the default 16) MLlib sums the partition
    * replicas' float vectors in a reduceByKey, in whatever order the
    * shuffle delivers them, so two fits can differ in the last bits.
    * Only numPartitions = 1 fits are reproducible (PipelineSpec pins
    * that).
    *
    * numPartitions: the reference pins 16; the round-7 isolated fit
    * sweep (SCALE.md "Embedding") measured the optimum scaling with the
    * corpus — ≈ cores at 7.5M bags, and 64 beating 16 by 1.4× at 30M
    * bags. Size it ≈ max(cores, bags / 500k), but no higher than
    * throughput requires: every extra partition is one more
    * asynchronously averaged model replica (MLlib's accuracy caveat).
    * ScaleSoak's `etl_pipeline` stage applies this rule, capped at 128.
    */
  final case class W2VConfig(
      windowSize: Int = 10,
      numPartitions: Int = 16,
      maxIter: Int = 3,
      minCount: Int = 1,
      stepSize: Double = 0.02,
      vectorSize: Int = 100,
      seed: Long = 42L)

  /** Training set: per publication, one term-bag per section rank (the
    * distinct keywordIds of that rank's sections) plus the flattened
    * overall bag (reference filterMatches + regroupMatches,
    * Embedding.scala:13–67).
    *
    * The reference computes the per-rank key sets with a window +
    * dropDuplicates and collects rank lists in physical order; here both
    * levels are plain aggregations with explicit sort keys — same bags,
    * deterministic order, two map-side-combinable shuffles. The inner join
    * with the rank table silently drops unranked sections — that is the
    * reference's semantics for embedding (J7, vs the lenient J6 of the
    * literature index).
    */
  def trainingSet(matches: DataFrame, spark: SparkSession,
      ranks: Seq[SectionRank] = SectionRanks.default): DataFrame = {
    val rankTable = broadcast(SectionRanks.table(spark, ranks))
    val types = Seq("DS", "GP", "CD")
    val perRank = matches
      .filter(col("isMapped") === true && col("type").isInCollection(types))
      .join(rankTable, Seq("section"))
      .groupBy(col("pmid"), col("rank"))
      .agg(sort_array(collect_set(col("keywordId"))).as("keys"))

    perRank
      .groupBy(col("pmid"))
      .agg(transform(
        array_sort(collect_list(struct(col("rank"), col("keys")))),
        s => s.getField("keys")).as("keys"))
      .withColumn("overall", flatten(col("keys")))
      .withColumn("all", concat(col("keys"), array(col("overall"))))
      .select(col("pmid"), explode(col("all")).as("terms"))
  }

  /** Fit the skip-gram model over the term bags (reference
    * makeWord2VecModel, spark/Helpers.scala:60–80). MLlib's Word2Vec is
    * the one deliberate departure from pure SQL execution — its
    * driver-coordinated iterative trainer is the established distributed
    * implementation and matches the reference exactly.
    */
  def fit(training: DataFrame, config: W2VConfig = W2VConfig()): Word2VecModel =
    new Word2Vec()
      .setWindowSize(config.windowSize)
      .setNumPartitions(config.numPartitions)
      .setMaxIter(config.maxIter)
      .setMinCount(config.minCount)
      .setStepSize(config.stepSize)
      .setVectorSize(config.vectorSize)
      .setSeed(config.seed)
      .setInputCol("terms")
      .setOutputCol("synonyms")
      .fit(training)

  /** trainingSet → model in one call (reference generateModel,
    * Embedding.scala:69–79).
    */
  def generateModel(matches: DataFrame, spark: SparkSession,
      config: W2VConfig = W2VConfig(),
      ranks: Seq[SectionRank] = SectionRanks.default): Word2VecModel =
    fit(trainingSet(matches, spark, ranks), config)
}
