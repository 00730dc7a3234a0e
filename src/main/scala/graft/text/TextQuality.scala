package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-quality and contamination operators beyond the per-document
  * column features in [[TextAnalysis]]: Gopher-style repetition
  * fractions (the published pre-training quality filters that need a
  * per-document frequency aggregation, not just array arithmetic) and
  * winnowed k-gram fingerprints for verbatim span-overlap detection —
  * the scalable approximation of exact-substring dedup (a shared run of
  * ≥ k + window − 1 words guarantees a shared fingerprint, so long
  * verbatim overlaps are caught with ~1/window of the k-gram index
  * volume).
  */
object TextQuality {

  /** Non-empty whitespace-split words. */
  private def words(text: Column): Column =
    filter(split(text, " "), w => w =!= "")

  /** Word k-grams of a words-array column: k shifted slices folded
    * pairwise with zip_with, so each slice evaluates once per row no
    * matter how long the document. The indexed form, `transform(seq, i
    * => slice(w, i, k))`, is quadratic: a higher-order lambda re-evaluates
    * any outer expression it captures once per element, re-running the
    * split per index (measured 1 ms/row on 54-word docs). Docs under k
    * words yield an empty array.
    */
  def wordKgrams(w: Column, k: Int): Column = {
    require(k >= 1, s"wordKgrams needs k >= 1, got $k")
    val m = size(w) - (k - 1)
    when(size(w) >= k,
      (1 until k).foldLeft(slice(w, lit(1), m)) { (acc, j) =>
        zip_with(acc, slice(w, lit(1 + j), m), (a, b) => concat(a, lit(" "), b))
      }).otherwise(array().cast("array<string>"))
  }

  /** Gopher-style repetition stats per document (Rae et al. 2021's
    * quality-filter family, §A1.1): the fraction of words taken by the
    * single most frequent unigram / bigram, and the duplicate-5-gram
    * fraction (1 − distinct/total). High values mean templated or
    * looping text.
    *
    * Scale shape: the unigram and bigram frequency tables shuffle on
    * (doc_id, gram) with full map-side partial aggregation, then reduce
    * to one row per doc — the canonical word-count plan, linear at any
    * corpus size. The 5-gram fraction never leaves the map side. The
    * final joins are id-equi-joins between one-row-per-doc frames.
    */
  def gopherStats(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val w = docs.select(col(idCol), words(col(textCol)).as("w"))

    def topFrac(gramCol: Column, out: String): DataFrame =
      w.select(col(idCol), explode(gramCol).as("g"))
        .groupBy(col(idCol), col("g")).agg(count(lit(1)).as("cnt"))
        .groupBy(col(idCol))
        .agg((max(col("cnt")).cast("double") / sum(col("cnt"))).as(out))

    val uni = topFrac(col("w"), "top_unigram_frac")
    val bi = topFrac(wordKgrams(col("w"), 2), "top_bigram_frac")
    val five = w.select(
      col(idCol),
      size(col("w")).cast("long").as("n_words"),
      wordKgrams(col("w"), 5).as("g5"))
      .select(col(idCol), col("n_words"),
        when(size(col("g5")) > 0,
          lit(1.0) - size(array_distinct(col("g5"))).cast("double") / size(col("g5")))
          .otherwise(lit(0.0)).as("dup_5gram_frac"))

    // left joins from the map-side frame: a doc with no words has no
    // unigram rows at all, and its fractions are defined as 0
    five
      .join(uni, Seq(idCol), "left")
      .join(bi, Seq(idCol), "left")
      .na.fill(0.0, Seq("top_unigram_frac", "top_bigram_frac"))
  }

  /** The Gopher QUALITY gates (Rae et al. 2021, appendix A1.1) —
    * complement of [[gopherStats]]' repetition rules: per-document
    * booleans for each published threshold plus the conjunction, so a
    * pipeline can both filter on `passes` and audit WHICH gate a
    * rejected document failed (the operational need the paper calls
    * out — blanket filters hide systematic corpus damage).
    *
    * Gates: word count in [minWords, maxWords]; mean word length in
    * [3, 10]; symbol-to-word ratio (`#` and `...`) ≤ 0.1; ≤ 90% of
    * lines bullet-started; ≤ 30% of lines ellipsis-ended; ≥ 80% of
    * words containing an alphabetic character; ≥ 2 distinct stop words
    * present.
    *
    * Entirely map-side (split + higher-order array folds inside
    * whole-stage codegen, one row in / one row out, no shuffle); ratios
    * are rounded to 6 dp so the booleans AND the diagnostics replay
    * bit-identically cross-engine.
    */
  def gopherQualityGates(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", minWords: Int = 50,
      maxWords: Int = 100000): DataFrame = {
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val w = words(col(textCol))
    val lines = filter(split(col(textCol), "\n"), l => l =!= "")
    val nW = size(w).cast("long")
    val nL = size(lines).cast("long")
    val meanLen = round(
      aggregate(w, lit(0L), (acc, x) => acc + length(x)).cast("double") / nW, 6)
    val nHash = length(col(textCol)) - length(regexp_replace(col(textCol), "#", ""))
    val nEll = (length(col(textCol)) -
      length(regexp_replace(col(textCol), "\\.\\.\\.", ""))) / 3
    val symRatio = round((nHash + nEll).cast("double") / nW, 6)
    val bulletFrac = round(
      size(filter(lines, l => l.rlike("^\\s*[-*•]"))).cast("double") / nL, 6)
    val ellipsisFrac = round(
      size(filter(lines, l => l.rlike("\\.\\.\\.$"))).cast("double") / nL, 6)
    val alphaFrac = round(
      size(filter(w, x => x.rlike("[A-Za-z]"))).cast("double") / nW, 6)
    val nStop = size(filter(
      array(stops.map(lit): _*), sw => array_contains(w, sw)))
    docs
      .select(col(idCol), col(textCol))
      .filter(size(w) > 0 && size(lines) > 0)
      .select(col(idCol),
        nW.as("n_words"), meanLen.as("mean_word_len"),
        symRatio.as("symbol_ratio"), bulletFrac.as("bullet_line_frac"),
        ellipsisFrac.as("ellipsis_line_frac"), alphaFrac.as("alpha_word_frac"),
        nStop.cast("long").as("n_stop_words"))
      .withColumn("passes",
        col("n_words").between(minWords, maxWords) &&
        col("mean_word_len").between(3.0, 10.0) &&
        col("symbol_ratio") <= 0.1 &&
        col("bullet_line_frac") <= 0.9 &&
        col("ellipsis_line_frac") <= 0.3 &&
        col("alpha_word_frac") >= 0.8 &&
        col("n_stop_words") >= 2)
  }

  /** Winnowed document fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003): hash every word k-gram, slide a `window`-wide window
    * over the hash sequence and keep each window's minimum — the
    * guarantee is that any shared word run of length ≥ k + window − 1
    * produces at least one shared fingerprint, at ~1/window of the full
    * k-gram index volume.
    *
    * Entirely map-side (one row per distinct fingerprint per doc);
    * set semantics over window minima sidestep the tie-position
    * subtleties of positional winnowing, and an md5-hex hash makes the
    * lexicographic window-min replayable in any engine. Docs under k
    * words yield no fingerprints; 0 < #grams < window yields exactly
    * one (the global minimum).
    */
  def winnowedFingerprints(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", k: Int = 8, window: Int = 4): DataFrame = {
    require(k >= 1 && window >= 1, s"need k >= 1 and window >= 1, got k=$k window=$window")
    docs
      .select(col(idCol), words(col(textCol)).as("w"))
      .select(col(idCol),
        transform(wordKgrams(col("w"), k), g => md5(g)).as("grams"))
      .filter(size(col("grams")) > 0)
      .select(col(idCol),
        explode(array_distinct(transform(
          sequence(lit(1), greatest(size(col("grams")) - (window - 1), lit(1))),
          i => array_min(slice(col("grams"), i, lit(window)))))).as("fp"))
  }

  /** Verbatim span-overlap pairs over winnowed fingerprints: documents
    * sharing ≥ `minShared` fingerprints — the cross-document
    * contamination / near-verbatim-copy detector (catches long shared
    * passages that token-set Jaccard dilutes away in long documents).
    *
    * Same scale guard as Dedup.jaccardPairs, same shape: `maxFpDf` caps
    * the document frequency of fingerprints admitted to the inverted
    * index (a fingerprint in c docs contributes c² candidate rows) via
    * a combinable groupBy df + broadcast anti-join of the tiny over-cap
    * set. A df WINDOW over the fingerprint key — this function's
    * original shape — materializes each fingerprint's rows in one task,
    * so one corpus-hot boilerplate passage becomes an unsplittable
    * straggler exactly as measured for jaccardPairs at 10M docs
    * (SCALE.md "clean_corpus hot key"); the over-cap set is bounded by
    * index_rows/cap, and boilerplate passages shared corpus-wide are
    * exactly what the cap drops.
    *
    * The id-keyed `repartition` below is load-bearing: `fps` usually
    * arrives as PURE MAP-SIDE lineage ([[winnowedFingerprints]] — no
    * exchange), and both the df aggregation and the index consume it.
    * Without an exchange between, each consumer re-executes the whole
    * fingerprint computation (measured 2.9× wall on the x22 bench after
    * the anti-join rewrite dropped the window's exchange — the window
    * shape computed winnowing once behind its fp shuffle). One UNIFORM
    * doc-keyed exchange restores single execution via AQE stage reuse
    * without reintroducing the fp-keyed hot-partition hazard; the
    * capped self-join's own fp exchange then only ever sees under-cap
    * keys.
    *
    * The cap is a left_outer + IsNull filter rather than the
    * equivalent left_anti ON PURPOSE: Catalyst's
    * PushDownLeftSemiAntiJoin pushes an anti-join below a
    * user-inserted Repartition, leaving the index branch's exchange
    * with a (winnow + anti-join) child that no longer canonically
    * matches the df branch's exchange over raw winnow — so the stage
    * is NOT reused and the fingerprint lineage executes twice anyway
    * (measured: anti 4.46 s vs outer 2.62 s isolated at sf0.1,
    * identical output). No rule reorders an outer join through
    * Repartition, so all three consumers (df agg, index, both
    * self-join sides) hang off ONE canonical exchange.
    */
  def overlapPairs(fps: DataFrame, minShared: Int = 2,
      maxFpDf: Int = 1000, idCol: String = "doc_id"): DataFrame = {
    require(minShared >= 1, s"overlapPairs needs minShared >= 1, got $minShared")
    val mat = fps.repartition(col(idCol))
    val hot = mat.groupBy(col("fp"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxFpDf)
      .select(col("fp").as("hot_fp"))
    val idx = mat.join(broadcast(hot), col("fp") === col("hot_fp"), "left_outer")
      .filter(col("hot_fp").isNull)
      .select(col("fp"), col(idCol))
    idx.alias("a")
      .join(idx.alias("b"),
        col("a.fp") === col("b.fp") && col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("doc1"), col(s"b.$idCol").as("doc2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Cross-document boilerplate removal, the line-level dedup stage of
    * CCNet-style cleaning (Wenzek et al. 2020): a sentence appearing in
    * MORE than `maxDf` distinct documents is boilerplate (cookie
    * banners, navigation, license footers) and is stripped from every
    * document; within-doc repeats of a surviving sentence are kept
    * (that's [[TextAnalysis.firstOccurrences]]'s job).
    *
    * Physical shape: per-document DISTINCT sentences are array ops
    * (map-side), so the document-frequency aggregation is one
    * combinable shuffle over the distinct-sentence key space; the
    * over-threshold survivors collapse to a single sorted-array row
    * that broadcasts back via crossJoin, and the per-document filter is
    * a higher-order lambda over the already-materialized sentence
    * array — the DOCUMENT stream never shuffles. The broadcast is
    * sound because the hot set is small by construction (sentences
    * repeated across >maxDf documents); if a pathological corpus ever
    * produced a non-broadcastable hot set, the fallback is the
    * [[overlapPairs]] discipline: keep sentences exploded and
    * anti-join. The lambda captures only the projected `hot` attribute
    * (house rule: never an inline expression).
    *
    * Returns (idCol, n_sents, n_kept, clean_md5) — md5 of the kept
    * sentences joined by one space, the compact equality the oracle
    * replays.
    */
  def removeBoilerplate(docs: DataFrame, maxDf: Long, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(maxDf >= 1, s"removeBoilerplate needs maxDf >= 1, got $maxDf")
    val sents = docs.select(col(idCol),
      TextAnalysis.sentences(col(textCol)).as("sents"))
    val hot = sents
      .select(explode(array_distinct(col("sents"))).as("sent"))
      .groupBy(col("sent")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .agg(sort_array(collect_list(col("sent"))).as("hot"))
    sents.crossJoin(broadcast(hot))
      .select(col(idCol), col("sents"),
        filter(col("sents"), s => !array_contains(col("hot"), s)).as("kept"))
      .select(col(idCol),
        size(col("sents")).as("n_sents"),
        size(col("kept")).as("n_kept"),
        md5(concat_ws(" ", col("kept"))).as("clean_md5"))
  }

  /** Per-document n-gram NOVELTY: the fraction of a doc's distinct
    * n-grams that occur in NO other document (corpus df = 1) — high
    * novelty marks genuinely fresh text, low novelty marks template /
    * boilerplate / near-copy material that exact and near dedup may
    * have missed, and the score doubles as a memorization-risk audit
    * (a "new" document whose n-grams all exist elsewhere is a recombination).
    *
    * Scale shape: shingles travel as xxhash64 longs (never raw text —
    * Dedup.shingleHashes, 8-byte keys); the
    * per-doc distinct, the df aggregation, and the df join all share
    * one hash-key partitioning (a single exchange feeds all three),
    * then one doc-keyed combinable rollup. No windows, no all-pairs.
    * Documents shorter than n words have no n-grams and are absent.
    */
  def ngramNovelty(docs: DataFrame, n: Int = 3): DataFrame = {
    // shape note (round-9 10M A/B, SCALE.md): a single m-keyed
    // repartition DOES satisfy the distinct + df-agg + join
    // distributions (3 exchanges instead of 4 in the plan), but it
    // measured a WASH on wall (352 vs 375 s), identical shuffle bytes
    // (exchange reuse doesn't fire across the AQE stage boundary), and
    // 2.5× worse p99 task skew — hash-partitioning on m drops the
    // map-side partial of the (doc_id, m) distinct and concentrates the
    // SMJ sort. Refuted and reverted; the distinct's own keying is the
    // better plan.
    // hashed-long shingles (r10): m is identity-only here (df counts,
    // per-doc rollup — never emitted), so the index runs over xxhash64
    // longs instead of md5 hex strings; see Dedup.shingleHashes
    val sh = graft.dedup.Dedup.shingleHashes(docs, n = n)
      .select(col("doc_id"), col("shingle").as("m"))
      .distinct()
    // sh is distinct per (doc, m), so count per m IS document frequency
    val df = sh.groupBy(col("m")).agg(count(lit(1)).as("df"))
    sh.join(df, "m")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        round(col("n_novel") / col("n_shingles"), 6).as("novelty_ratio"))
  }
}
