package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis features for training-data pipelines: language ID,
  * quality scoring, token counting, document fingerprinting. All
  * codegen'd column expressions over the raw text — no UDFs, no shuffles
  * beyond what the caller aggregates.
  *
  * The oracle-checked queries (graft.queries.TextQueries x1–x4) delegate
  * here, so the library API is exactly what the DuckDB oracle validates.
  */
object TextAnalysis {

  /** Per-language stop-word seed lists for the voting heuristic. Real
    * pipelines would use char-n-gram profiles; the dataflow shape (one
    * map-side score per language, argmax) is identical.
    */
  val stopWordSeeds: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "des"),
    "es" -> Seq("el", "los", "las", "y", "si"))

  /** Count of words present in `stop`. */
  def stopCount(wordsCol: Column, stop: Seq[String]): Column =
    size(filter(wordsCol, w => array_contains(typedLit(stop), w)))

  /** Language prediction by stop-word voting over lowercased words, 'und'
    * (undetermined) when no list scores.
    */
  def langId(text: Column): Column = {
    val w = split(lower(text), " ")
    val s = stopWordSeeds.view.mapValues(stopCount(w, _)).toMap
    when(s("en") >= s("de") && s("en") >= s("fr") && s("en") >= s("es") && s("en") > 0, "en")
      .when(s("de") >= s("fr") && s("de") >= s("es") && s("de") > 0, "de")
      .when(s("fr") >= s("es") && s("fr") > 0, "fr")
      .when(s("es") > 0, "es")
      .otherwise("und")
  }

  /** Whitespace word count (empty tokens excluded). */
  def wordCount(text: Column): Column =
    size(filter(split(text, " "), w => w =!= ""))

  /** Non-alphanumeric character count (quality-signal numerator). */
  def punctCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[^a-z0-9 ]"), lit(0)))

  /** BPE-ish token count: letter runs, digit runs, single punctuation. */
  def tokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Composite quality score: length saturation × (1 − punctuation
    * ratio) — the standard cheap pre-training filter feature.
    */
  def qualityScore(nWords: Column, nPunct: Column, nChars: Column): Column =
    least(nWords.cast("double") / 50, lit(1.0)) * (lit(1) - nPunct.cast("double") / nChars)

  /** Fixed-size word-window chunks with overlap — the sequence-packing
    * precursor: a document of n words becomes max(1, ⌈(n − overlap) /
    * stride⌉) chunks starting every `chunkWords − overlap` words (the
    * last chunk may be shorter). Entirely codegen'd array ops, map-side:
    * chunking 100 TB shuffles nothing.
    */
  def chunks(text: Column, chunkWords: Int = 100, overlap: Int = 20): Column =
    chunksFromWords(filter(split(text, " "), t => t =!= ""), chunkWords, overlap)

  /** chunks() over a pre-tokenized words column. Chunks overlap, so the
    * indexed-transform shape is unavoidable here — pass an ALREADY
    * PROJECTED column (an attribute), not an inline split expression:
    * the lambda re-evaluates whatever it captures once per chunk, and an
    * attribute re-read is free while an inline split is O(words) per
    * chunk (quadratic per document on long docs).
    */
  def chunksFromWords(w: Column, chunkWords: Int = 100, overlap: Int = 20): Column = {
    require(overlap < chunkWords, "overlap must be < chunkWords")
    val stride = chunkWords - overlap
    val nChunks = greatest(lit(1),
      floor((org.apache.spark.sql.functions.size(w) - overlap + (stride - 1))
        .cast("double") / stride).cast("int"))
    transform(sequence(lit(0), nChunks - 1),
      i => array_join(slice(w, i * stride + 1, lit(chunkWords)), " "))
  }

  /** 31-polynomial rolling hash mod 1e9+7 over the character stream — a
    * deterministic content fingerprint computable identically in any
    * engine with a left fold.
    */
  def fingerprint(text: Column): Column =
    aggregate(
      regexp_extract_all(text, lit("[\\s\\S]"), lit(0)),
      lit(0L),
      (acc, c) => (acc * 31 + ascii(c)) % 1000000007L)

  /** Word trigrams as strings (empty below 3 words) — the unit of the
    * intra-document repetition filter: [[TextQuality.wordKgrams]] over
    * the non-empty words.
    */
  def wordTrigrams(text: Column): Column =
    TextQuality.wordKgrams(filter(split(text, " "), t => t =!= ""), 3)

  /** PII scrubbing patterns — email addresses and long digit runs (ids,
    * phone fragments). Both use constructs shared by Java regex and RE2,
    * so a SQL oracle replays them identically.
    */
  val emailPattern = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val longNumberPattern = "[0-9]{6,}"

  def emailCount(text: Column): Column =
    size(regexp_extract_all(text, lit(emailPattern), lit(0)))

  def longNumberCount(text: Column): Column =
    size(regexp_extract_all(text, lit(longNumberPattern), lit(0)))

  /** Redact emails then long digit runs — the standard pre-training PII
    * scrub, map-side. Order matters: the email local part may contain
    * digits that the number pass would otherwise split.
    */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, emailPattern, "[EMAIL]"),
      longNumberPattern, "[NUM]")

  /** Sentence array of `text`: split on sentence punctuation, trim, drop
    * empties — the x5 segmentation as a reusable array column.
    */
  def sentences(text: Column): Column =
    filter(transform(split(text, "[.!?]+"), s => trim(s)), s => length(s) > 0)

  /** Order-preserving first occurrences of `arr`'s elements — the
    * intra-document exact repetition remover (templated/boilerplate
    * sentences repeated inside one document get dropped after their
    * first appearance, everything else keeps its position). Entirely
    * map-side: no explode, no shuffle — the quadratic membership probe
    * runs over a single document's sentence array, never corpus scale,
    * so the operator costs one narrow pass at any corpus size.
    */
  def firstOccurrences(arr: Column): Column =
    filter(arr, (x, i) => array_position(slice(arr, lit(1), i), x) === 0)
}
