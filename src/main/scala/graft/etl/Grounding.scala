package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType
import org.apache.spark.storage.StorageLevel
import graft.text.TextNormalize
import graft.text.TextNormalize.{LabelKeyType, TokenKeyType}

/** NER grounding: build a normalized-label → entity-ID lookup table from
  * the entity universe, repair publication ids, ground free-text NER
  * labels against the LUT, and resolve per-sentence matches and
  * co-occurrences to canonical entity IDs.
  *
  * Capability-parity rebuild of reference Grounding.scala (611 LoC),
  * re-expressed Spark-first:
  *  - all label normalization is expression-level (graft.text), not an
  *    MLlib Pipeline.fit per frame;
  *  - the LUT is one unioned, HLL-annotated frame built for broadcast —
  *    the grounding joins (J1–J3) are broadcast hash joins, never a
  *    shuffle of the sentence corpus;
  *  - the id-repair ladder (J4/J5) keeps the reference's anti-join +
  *    left-outer + coalesce semantics, minus the pointless orderBys
  *    before broadcast (reference Grounding.scala:319–320);
  *  - disambiguation (W3) is the reference's two-level windowed min,
  *    verbatim in semantics (reference Grounding.scala:111–142).
  */
object Grounding {

  /** Labels with grounding scores, one row per (keywordId, text, factor,
    * keyType): name/synonym sources are scored so that exact names beat
    * synonyms beat obsolete labels when several ground to the same
    * normalized key (reference factors, Grounding.scala:396–408, 446–458,
    * 495–500).
    */
  private def scored(c: Column, factor: Double, keyType: String): Column =
    transform(coalesce(c, array()),
      t => struct(t.as("text"), lit(factor).as("factor"), lit(keyType).as("keyType")))

  private def explodeLabels(df: DataFrame, sources: Column*): DataFrame =
    df.withColumn("_lbl", explode(flatten(array(sources: _*))))
      .select(
        col("keywordId"),
        col("_lbl.text").as("text"),
        col("_lbl.factor").as("factor"),
        col("_lbl.keyType").as("keyType"))
      .filter(col("text").isNotNull && length(col("text")) > 0)

  /** Normalized grounding key for each (text, keyType) row, dropping rows
    * whose key normalizes to empty (reference generateKeysColumn,
    * Grounding.scala:367–387).
    */
  private def withKey(df: DataFrame, keyCol: String): DataFrame =
    df.withColumn(keyCol, TextNormalize.keyFor(col("text"), col("keyType")))
      .filter(col(keyCol).isNotNull && length(col(keyCol)) > 0)

  /** Disease labels: name (1.0) + exact/narrow/broad/related synonyms
    * (0.999…0.996), all LT keys (reference transformDiseases,
    * Grounding.scala:389–429).
    */
  def diseaseLabels(diseases: DataFrame): DataFrame =
    explodeLabels(
      diseases.selectExpr("id as keywordId", "name", "synonyms.*"),
      scored(array(col("name")), 1d, LabelKeyType),
      scored(col("hasExactSynonym"), 0.999, LabelKeyType),
      scored(col("hasNarrowSynonym"), 0.998, LabelKeyType),
      scored(col("hasBroadSynonym"), 0.997, LabelKeyType),
      scored(col("hasRelatedSynonym"), 0.996, LabelKeyType))

  /** Target labels: approved name (LT) + approved symbol (TT) at 1.0,
    * name/symbol synonyms + protein accessions at 0.999, obsolete
    * names/symbols at 0.998 (reference transformTargets,
    * Grounding.scala:431–487).
    */
  def targetLabels(targets: DataFrame): DataFrame =
    explodeLabels(
      targets.select(
        col("id").as("keywordId"),
        col("approvedName").as("name"),
        col("approvedSymbol").as("symbol"),
        col("symbolSynonyms.label").as("symbolSynonyms"),
        col("nameSynonyms.label").as("nameSynonyms"),
        col("obsoleteSymbols.label").as("obsoleteSymbols"),
        col("obsoleteNames.label").as("obsoleteNames"),
        array_distinct(coalesce(col("proteinIds.id"), typedLit(Array.empty[String]))).as("accessions")),
      scored(array(col("name")), 1d, LabelKeyType),
      scored(array(col("symbol")), 1d, TokenKeyType),
      scored(col("nameSynonyms"), 0.999, LabelKeyType),
      scored(col("symbolSynonyms"), 0.999, TokenKeyType),
      scored(col("accessions"), 0.999, TokenKeyType),
      scored(col("obsoleteNames"), 0.998, LabelKeyType),
      scored(col("obsoleteSymbols"), 0.998, TokenKeyType))

  /** Drug labels: name / trade names / synonyms, each under both LT and TT
    * keys (reference transformDrugs, Grounding.scala:489–516).
    */
  def drugLabels(drugs: DataFrame): DataFrame =
    explodeLabels(
      drugs.selectExpr("id as keywordId", "name", "tradeNames", "synonyms"),
      scored(array(col("name")), 1d, LabelKeyType),
      scored(array(col("name")), 1d, TokenKeyType),
      scored(col("tradeNames"), 0.999, LabelKeyType),
      scored(col("tradeNames"), 0.999, TokenKeyType),
      scored(col("synonyms"), 0.999, LabelKeyType),
      scored(col("synonyms"), 0.999, TokenKeyType))

  /** The entity LUT: (labelN, type, keywordId, factor,
    * uniqueKeywordIdsPerLabelN). The HLL ambiguity count (rsd 0.01) is the
    * per-normalized-label distinct-entity count that later drives
    * disambiguation (reference loadEntityLUT, Grounding.scala:518–554 —
    * minus its terminal orderBy: the LUT's only consumer broadcasts it, so
    * a range-partitioning sort is pure waste).
    */
  def entityLut(targets: DataFrame, diseases: DataFrame, drugs: DataFrame): DataFrame = {
    val lut = withKey(diseaseLabels(diseases), "labelN").withColumn("type", lit("DS"))
      .unionByName(withKey(targetLabels(targets), "labelN").withColumn("type", lit("GP")))
      .unionByName(withKey(drugLabels(drugs), "labelN").withColumn("type", lit("CD")))
      .select(col("labelN"), col("type"), col("keywordId"), col("factor"))
      .distinct()
    val w = Window.partitionBy(col("type"), col("labelN"))
    lut.withColumn("uniqueKeywordIdsPerLabelN",
      approx_count_distinct(col("keywordId"), 0.01).over(w))
  }

  /** PMID↔PMCID lookup from the public EuropePMC CSV (reference
    * loadEPMCIDs, Grounding.scala:556–561).
    */
  def loadEpmcIds(df: DataFrame): DataFrame =
    df.selectExpr("PMID as pmid_lut", "PMCID as pmcid_lut")
      .filter(col("pmcid_lut").isNotNull && col("pmid_lut").isNotNull &&
        col("pmcid_lut").startsWith("PMC"))
      .distinct()

  /** Publication-id repair + sentence explosion over the raw EPMC frame
    * (reference loadEntities, Grounding.scala:314–350):
    *  1. blank out ""/"0" pmids/pmcids;
    *  2. anti-join: drop pmcid-less rows whose pmid is already covered by
    *     the id LUT (a full-text duplicate of the same publication);
    *  3. recover missing pmids through pmcid → pmid lookup (broadcast
    *     left-outer + coalesce);
    *  4. derive date/year/month/day, explode sentences, lowercase section,
    *     flag non-printable-ASCII sentences.
    * `failed_*` diagnostic flags are kept for the failed-output datasets
    * and swept by `filterSentences`.
    */
  def loadSentences(epmc: DataFrame, epmcIds: DataFrame): DataFrame = {
    val cleaned = epmc
      .withColumn("trace_source", input_file_name())
      .withColumn("pmid",
        when(col("pmid").isNotNull && col("pmid") =!= "" && col("pmid") =!= "0", col("pmid")))
      .withColumn("pmcid",
        when(col("pmcid").isNotNull && col("pmcid") =!= "" && col("pmcid") =!= "0", col("pmcid")))
      .withColumn("failed_pmid", col("pmid").isNull)
      .withColumn("failed_pmcid", col("pmcid").isNull)
      .withColumn("failed_pmcid_and_pmid", col("pmcid").isNull && col("pmid").isNull)
      .join(broadcast(epmcIds.select("pmid_lut")),
        col("pmid_lut") === col("pmid") && col("pmcid").isNull, "left_anti")
      .withColumn("failed_pmid_not_pmcid", col("pmid").isNull && col("pmcid").isNotNull)
      .join(broadcast(epmcIds), col("pmcid") === col("pmcid_lut"), "left_outer")
      .withColumn("pmid", coalesce(col("pmid"), col("pmid_lut")))
      .drop("pmid_lut", "pmcid_lut")
      .withColumn("failed_recover_pmid_not_pmcid",
        col("failed_pmid_not_pmcid") && col("pmid").isNotNull)
      .withColumn("date",
        when(col("pubDate").isNotNull && col("pubDate") =!= "", col("pubDate").cast(DateType)))
      .withColumn("failed_date", col("date").isNull)
      .withColumn("year", when(col("date").isNotNull, year(col("date"))))
      .withColumn("month", when(col("date").isNotNull, month(col("date"))))
      .withColumn("day", when(col("date").isNotNull, dayofmonth(col("date"))))

    cleaned
      .withColumn("sentence", explode(col("sentences")))
      .drop("sentences")
      .selectExpr("*", "sentence.*")
      .drop("sentence")
      .withColumn("section", lower(col("section")))
      .withColumn("failed_section", col("section").isNull)
      .withColumn("failed_sentence", col("text").rlike("[^\\x20-\\x7e]"))
  }

  /** Sweep `failed_*` diagnostics and keep only rows with a pmid and a
    * section (reference filterEntities, Grounding.scala:352–360).
    */
  def filterSentences(df: DataFrame): DataFrame =
    df.drop(df.columns.filter(_.startsWith("failed_")).toSeq: _*)
      .filter(col("pmid").isNotNull && col("section").isNotNull)

  /** Ground the distinct NER labels of the corpus against the LUT:
    * per raw label, compute its candidate keys (DS → LT only; GP/CD → LT
    * and TT), broadcast-join the LUT on (type, labelN), keep the
    * top-factor grounding per normalized label (dense_rank ⇒ ties kept),
    * dedup to one row per (type, label, keywordId) (reference mapEntities,
    * Grounding.scala:160–206).
    *
    * Scale note: the key computation and join run over DISTINCT
    * (type, label) pairs, not over every sentence row — at corpus scale
    * the label vocabulary is orders of magnitude smaller than the match
    * stream, and the key kernel only ever sees the vocabulary.
    */
  def mapEntities(sentences: DataFrame, lut: DataFrame): DataFrame = {
    val labels = sentences
      .select(explode(col("matches")).as("m"))
      .select(col("m.type").as("type"), col("m.label").as("label"))
      .distinct()
      .withColumn("keyTypes",
        when(col("type") === "DS", array(lit(LabelKeyType)))
          .when(col("type").isInCollection(Seq("GP", "CD")),
            array(lit(LabelKeyType), lit(TokenKeyType))))
      .withColumn("keyType", explode(col("keyTypes")))
      .withColumn("labelN", TextNormalize.keyFor(col("label"), col("keyType")))
      .filter(col("labelN").isNotNull && length(col("labelN")) > 0)

    val w = Window.partitionBy(col("type"), col("labelN")).orderBy(col("factor").desc)
    labels
      .join(broadcast(lut), Seq("type", "labelN"), "left_outer")
      .filter(col("keywordId").isNotNull)
      .withColumn("rank", dense_rank().over(w))
      .filter(col("rank") === 1)
      .select("type", "label", "labelN", "keywordId", "uniqueKeywordIdsPerLabelN")
      .dropDuplicates("type", "label", "keywordId")
  }

  /** Ambiguity disambiguation (reference disambiguate,
    * Grounding.scala:111–142): for each grounded keyword, keep only the
    * label occurrences whose per-publication ambiguity (min HLL label
    * count within the pub) is no worse than the keyword's best ambiguity
    * across all pubs — i.e. prefer the contexts where the keyword was
    * matched through its least-ambiguous label.
    */
  def disambiguate(df: DataFrame, keywordCol: String, labelCountsCol: String,
      typeCol: String = "type"): DataFrame = {
    val perPub = Window.partitionBy(col("pmid"), col("pmcid"), col(typeCol), col(keywordCol))
    // the corpus-wide minimum per (type, keyword) is a combinable agg +
    // join-back, NOT a window: a window partitioned by keyword funnels
    // every occurrence of a corpus-hot keyword through one task (key
    // occupancy, the jaccardPairs hot-shingle lesson), while the groupBy
    // min costs one partial per partition and its per-keyword output
    // joins back AQE-broadcast when it fits. min of per-pub minima
    // equals the direct min of the label counts. Callers pass mapped
    // (non-null) keywords, so the equi-join drops nothing.
    val overallMin = df.groupBy(col(typeCol), col(keywordCol))
      .agg(min(col(labelCountsCol)).as("_minOverall"))
    val cols = df.columns.map(col).toSeq
    df.withColumn("_minPerPub", min(col(labelCountsCol)).over(perPub))
      .join(overallMin, Seq(typeCol, keywordCol))
      .filter(col("_minPerPub") <= col("_minOverall"))
      .select(cols: _*)
  }

  private val baseCols: List[Column] = List(
    col("pmid"), col("pmcid"), col("pubDate"), col("date"), col("year"),
    col("month"), col("day"), col("organisms"), col("section"), col("text"),
    col("trace_source"))

  /** Resolve per-sentence matches against the grounded label table
    * (reference resolveEntities matches branch, Grounding.scala:228–256).
    * Returns (valid, failed): valid rows carry the match struct with
    * keywordId/isMapped, failed rows are the unmapped originals.
    */
  def resolveMatches(sentences: DataFrame, mappedLabels: DataFrame): (DataFrame, DataFrame) = {
    val merged = sentences
      .withColumn("match", explode(col("matches")))
      .drop("matches")
      .selectExpr("*", "match.*")
      .drop("match")
      // no broadcast hint: the grounded-label table is vocabulary-sized
      // (can reach GBs at corpus scale) — AQE picks broadcast when it
      // fits and falls back to a skew-aware shuffle join when it doesn't
      .join(mappedLabels, Seq("type", "label"), "left_outer")
      .withColumn("isMapped", col("keywordId").isNotNull)

    val valid = disambiguate(merged.filter(col("isMapped")), "keywordId", "uniqueKeywordIdsPerLabelN")
      .withColumn("match", struct(
        col("endInSentence"), col("label"), col("labelN"), col("sectionEnd"),
        col("sectionStart"), col("startInSentence"), col("type"),
        col("keywordId"), col("isMapped")))
      .select(baseCols :+ col("match"): _*)

    (valid, merged.filter(!col("isMapped")))
  }

  /** Resolve sentence co-occurrences: split the composite "GP-DS" pair
    * type, ground each side independently against the label table, keep
    * pairs with both sides mapped, disambiguate each side (reference
    * resolveEntities cooccurrence branch, Grounding.scala:258–304).
    */
  def resolveCooccurrences(sentences: DataFrame, mappedLabels: DataFrame): (DataFrame, DataFrame) = {
    def side(n: Int): DataFrame = mappedLabels.select(
      col("type").as(s"type$n"), col("label").as(s"label$n"),
      col("labelN").as(s"labelN$n"), col("keywordId").as(s"keywordId$n"),
      col("uniqueKeywordIdsPerLabelN").as(s"uniqueKeywordIdsPerLabelN$n"))

    val merged = sentences
      .withColumn("cooc", explode(col("co-occurrence")))
      .drop("co-occurrence")
      .selectExpr("*", "cooc.*")
      .drop("cooc")
      .withColumn("type1", substring_index(col("type"), "-", 1))
      .withColumn("type2", substring_index(col("type"), "-", -1))
      .drop("type")
      .join(side(1), Seq("type1", "label1"), "left_outer")
      .join(side(2), Seq("type2", "label2"), "left_outer")
      .withColumn("isMapped", col("keywordId1").isNotNull && col("keywordId2").isNotNull)

    val valid = merged.filter(col("isMapped"))
      .transform(disambiguate(_, "keywordId1", "uniqueKeywordIdsPerLabelN1", "type1"))
      .transform(disambiguate(_, "keywordId2", "uniqueKeywordIdsPerLabelN2", "type2"))
      .withColumn("co-occurrence", struct(
        col("end1"), col("end2"), col("sentEvidenceScore").as("evidence_score"),
        col("label1"), col("labelN1"), col("keywordId1"),
        col("label2"), col("labelN2"), col("keywordId2"),
        col("start1"), col("start2"),
        concat_ws("-", col("type1"), col("type2")).as("type"),
        col("type1"), col("type2"), col("isMapped")))
      .select(baseCols :+ col("co-occurrence"): _*)

    (valid, merged.filter(!col("isMapped")))
  }

  /** Full grounding pass: id repair → LUT → label grounding → match +
    * co-occurrence resolution (reference compute, Grounding.scala:563–610),
    * in two phases: [[caches]] then [[resolve]]. It returns the resolved
    * frames and both caches, which the caller frees ([[free]]) once every
    * output is written.
    */
  def compute(epmc: DataFrame, epmcIds: DataFrame, targets: DataFrame,
      diseases: DataFrame, drugs: DataFrame): Map[String, DataFrame] =
    resolve(caches(epmc, epmcIds, targets, diseases, drugs))

  /** The two frames every grounding output reads, persisted
    * MEMORY_AND_DISK and not yet materialized:
    *  - `sentences`, the filtered, id-repaired sentence frame: every
    *    output (matches, co-occurrences, both failed sets, and each
    *    disambiguation self-join) reads it, so without it each one parses
    *    the EPMC JSON and repairs ids again;
    *  - `mappedLabels`, the grounded-label table: it feeds both resolves
    *    (matches and two co-occurrence sides), so without it the
    *    vocabulary scan + key kernel + LUT join subtree runs three times
    *    (reference Grounding.scala:603 persists the same frame DISK_ONLY).
    */
  def caches(epmc: DataFrame, epmcIds: DataFrame, targets: DataFrame,
      diseases: DataFrame, drugs: DataFrame): Map[String, DataFrame] = {
    val idLut = loadEpmcIds(epmcIds)
    val lut = entityLut(targets, diseases, drugs)
    val sentences = filterSentences(loadSentences(graft.core.SchemaTools.replaceSpaces(epmc), idLut))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val mapped = mapEntities(sentences, lut).persist(StorageLevel.MEMORY_AND_DISK)
    Map("sentences" -> sentences, "mappedLabels" -> mapped)
  }

  /** Fill both [[caches]] with one action: counting `mappedLabels` reads
    * every `sentences` partition. Outputs that start after it read the
    * caches instead of racing to build them.
    */
  def materialize(caches: Map[String, DataFrame]): Long = caches("mappedLabels").count()

  /** The match and co-occurrence frames, valid and failed, over the
    * [[caches]]; the caches ride along under their own keys.
    */
  def resolve(caches: Map[String, DataFrame]): Map[String, DataFrame] = {
    val (sentences, mapped) = (caches("sentences"), caches("mappedLabels"))
    val (matches, matchesFailed) = resolveMatches(sentences, mapped)
    val (coocs, coocsFailed) = resolveCooccurrences(sentences, mapped)
    caches ++ Map(
      "matches" -> matches,
      "matchesFailed" -> matchesFailed,
      "cooccurrences" -> coocs,
      "cooccurrencesFailed" -> coocsFailed)
  }

  /** Free the [[caches]] of a grounding result, `mappedLabels` (which
    * reads `sentences`) first.
    */
  def free(grounding: Map[String, DataFrame]): Unit =
    Seq("mappedLabels", "sentences").foreach(grounding(_).unpersist())
}
