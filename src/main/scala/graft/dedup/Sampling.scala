package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling/splitting for training-data pipelines. Every
  * assignment is a pure function of the row's id hash — stable under
  * reruns, replans, AQE, and cluster size (a random()-based split is
  * none of those), and fully map-side: no shuffle at any corpus size.
  */
object Sampling {

  /** Raw 16-bit hash bucket (the first four md5 nibbles, 0..65535) — the
    * fine-granularity selector for fractional rates that percent
    * granularity would distort. Strpos-free arithmetic both engines
    * evaluate identically (cf. the SimHash vote nibbles).
    */
  def hashBucket16(id: Column): Column = {
    def nibble(k: Int): Column =
      conv(substring(md5(id.cast("string")), k + 1, 1), 16, 10).cast("int")
    nibble(0) * 4096 + nibble(1) * 256 + nibble(2) * 16 + nibble(3)
  }

  /** 0..99 bucket from the first four md5 nibbles of the id. */
  def hashBucket(id: Column): Column = hashBucket16(id) % 100

  /** Stable train/val/test split labels by id hash. */
  def hashSplit(df: DataFrame, idCol: String, trainPct: Int = 80,
      valPct: Int = 10): DataFrame = {
    require(trainPct + valPct <= 100, "trainPct + valPct must be <= 100")
    val b = hashBucket(col(idCol))
    df.withColumn("split",
      when(b < trainPct, "train")
        .when(b < trainPct + valPct, "val")
        .otherwise("test"))
  }

  /** Deterministic per-stratum downsampling: keep a row iff its hash
    * bucket falls under the stratum's rate. Rates are fractions in
    * [0, 1] at percent granularity; unlisted strata are dropped —
    * the "rebalance a skewed source mix" primitive.
    */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
      rates: Map[String, Double]): DataFrame = {
    val pct = rates.foldLeft(lit(0)) { case (acc, (stratum, rate)) =>
      when(col(strataCol) === stratum, lit(math.round(rate * 100).toInt)).otherwise(acc)
    }
    df.filter(hashBucket(col(idCol)) < pct)
  }

  /** Contrastive training triples (anchor, positive, negative) from a
    * near-duplicate pairs table — the embedding-model training-set miner:
    * each candidate pair (id1, id2) becomes anchor/positive, and the
    * negative is a deterministic pseudo-random corpus pick via a
    * hash-bucket join, never a corpus × pairs cross join. Docs are
    * bucketed by their id's md5 into ~n/perBucket buckets (an in-plan
    * count, broadcast back); each pair targets the bucket of its own
    * pair-key hash and takes the candidate minimizing a per-pair md5 key
    * (min_by — combinable), excluding the pair's own two docs. A pair
    * whose target bucket holds only its own docs drops out —
    * deterministic, and vanishingly rare at any realistic perBucket.
    *
    * Scale shape: bucketing and key arithmetic are map-side; the wide
    * ops are one equi-join on the bucket key (per-pair fan-out bounded
    * by ~perBucket) and one combinable min_by aggregation. No global
    * row-numbering and no dense-id assumption, so sparse/hashed id
    * domains work unchanged.
    */
  def contrastiveTriples(docs: DataFrame, idCol: String, pairs: DataFrame,
      perBucket: Int = 16): DataFrame = {
    require(perBucket > 0, "perBucket must be positive")
    val nB = docs.agg(
      greatest(lit(1L), (count(lit(1)) / lit(perBucket)).cast("long")).as("n_buckets"))
    val bucketed = docs.select(col(idCol).as("cand_id"))
      .crossJoin(broadcast(nB))
      .select(col("cand_id"),
        (hashBucket16(col("cand_id")) % col("n_buckets")).as("bucket"))
    val pairKey = concat_ws("_",
      col("anchor_id").cast("string"), col("positive_id").cast("string"))
    val keyed = pairs
      .select(col("id1").as("anchor_id"), col("id2").as("positive_id"))
      .crossJoin(broadcast(nB))
      .select(col("anchor_id"), col("positive_id"),
        (hashBucket16(pairKey) % col("n_buckets")).as("bucket"))
    // per-(pair, candidate) key: unique by the appended candidate id, so
    // min_by is total-ordered and both engines pick the identical negative
    val candKey = concat(
      md5(concat_ws("_", col("anchor_id").cast("string"),
        col("positive_id").cast("string"), col("cand_id").cast("string"))),
      col("cand_id").cast("string"))
    keyed.join(bucketed, "bucket")
      .filter(col("cand_id") =!= col("anchor_id") && col("cand_id") =!= col("positive_id"))
      .groupBy(col("anchor_id"), col("positive_id"))
      .agg(min_by(col("cand_id"), candKey).as("negative_id"))
  }

  /** Sequence packing: assign documents, in id order, to fixed
    * token-budget training context windows ("packs"). Each doc's pack is
    * `floor(exclusive-prefix-sum(sizes) / budget)` — the contiguous-fill
    * packing a packed-dataset builder produces after sorting (true
    * first-fit bin packing is inherently serial; this is the
    * distributed-friendly semantics, and the last doc of a pack may
    * straddle the boundary).
    *
    * The prefix sum is the textbook two-level distributed form, NOT one
    * global window (`Window.orderBy(id)` funnels the corpus through a
    * single task — the classic 100 TB killer): per-range subtotals
    * (one combinable shuffle on ≤ numRanges keys), exclusive running
    * offsets over that tiny range table (a driver-scale window),
    * broadcast back, then a per-range window that parallelizes across
    * ranges. Identical values to the global cumsum, oracle-checked.
    *
    * Range keys come from the observed id SPAN (one tiny min/max agg
    * joined in-plan), not `id / fixedWidth` — with sparse ids (hashed /
    * snowflake schemes) a fixed width degenerates to one range per
    * document, which is the corpus-wide window again. The mapping
    * id → range is monotone, so pack assignment is invariant to
    * numRanges (SamplingSpec locks this).
    *
    * `idCol` must be numeric with unique values; `sizeCol` is the doc's
    * token count.
    */
  def sequencePacks(df: DataFrame, idCol: String, sizeCol: Column,
      budget: Long, numRanges: Int = 4096): DataFrame = {
    require(budget > 0 && numRanges > 0, "budget and numRanges must be positive")
    val bounds = df.agg(
      min(col(idCol)).cast("double").as("_lo"),
      (max(col(idCol)).cast("double") - min(col(idCol)).cast("double") + 1).as("_span"))
    val toks = df.select(col(idCol), sizeCol.cast("long").as("tokens"))
      .crossJoin(broadcast(bounds))
      .withColumn("rng",
        floor((col(idCol).cast("double") - col("_lo")) * numRanges / col("_span"))
          .cast("long"))
      .drop("_lo", "_span")
    val wr = Window.orderBy(col("rng"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = toks.groupBy(col("rng")).agg(sum(col("tokens")).as("rtot"))
      .withColumn("roff", coalesce(sum(col("rtot")).over(wr), lit(0L)))
      .select(col("rng"), col("roff"))
    val wd = Window.partitionBy(col("rng")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    // carry the budget as column metadata so a downstream pack writer
    // reads it off the frame instead of re-threading the parameter
    val budgetMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("graft.pack.budget", budget).build()
    toks.join(broadcast(offsets), Seq("rng"))
      .withColumn("start", col("roff") + coalesce(sum(col("tokens")).over(wd), lit(0L)))
      .select(col(idCol), col("tokens"), col("start"),
        floor(col("start") / budget).cast("long").as("pack_id", budgetMeta),
        // where the doc's first token lands inside its pack — what a
        // packed-dataset writer seeks to before copying
        (col("start") % budget).as("offset_in_pack", budgetMeta))
  }

  /** Deterministic source-mixture rebalancing — the "mix web/books/code
    * at 60/20/20 under a token budget" primitive: each listed stratum
    * keeps rows at rate `min(1, weight·budget / stratum_tokens)` chosen
    * by id hash; unlisted strata are dropped. Unlike
    * [[stratifiedSample]], the rates are DERIVED from the observed
    * per-stratum token totals — one tiny combinable aggregate broadcast
    * back onto the corpus, which itself passes exactly once, map-side.
    * Sizes accumulate as exact longs and the threshold is a single
    * product/division chain, so both engines compute bit-identical keep
    * sets; selection granularity is the 16-bit id bucket (rate·65536).
    */
  def mixtureSample(df: DataFrame, idCol: String, strataCol: String,
      sizeCol: Column, weights: Map[String, Double], budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val wcol = weights.foldLeft(lit(null).cast("double")) { case (acc, (s, wt)) =>
      when(col(strataCol) === s, lit(wt)).otherwise(acc)
    }
    val totals = df.select(col(strataCol), sizeCol.cast("long").as("_sz"))
      .groupBy(col(strataCol)).agg(sum(col("_sz")).as("_toks"))
    df.withColumn("_w", wcol)
      .filter(col("_w").isNotNull)
      .join(broadcast(totals), Seq(strataCol))
      .filter(hashBucket16(col(idCol)).cast("double") <
        least(lit(1.0), col("_w") * budget / col("_toks")) * 65536.0)
      .drop("_w", "_toks")
  }

  /** Temperature-based source rebalancing — the multilingual α-power
    * mix (rate_s derived from n_s^α, α = 1/2): low-resource strata are
    * up-weighted relative to their share, the standard smoothing between
    * proportional (α=1) and uniform (α=0) sampling. Weights are
    * w_s = √n_s / Σ_t √n_t and each stratum keeps rows at
    * min(1, budget·w_s / n_s) by id hash. α is FIXED at 1/2 because IEEE
    * requires sqrt to be correctly rounded on every engine while
    * pow(x, α) is not — the whole keep-set stays bit-exact
    * cross-engine. The normalizer Σ √n_t folds in stratum order over
    * the tiny per-stratum table so the double sum is
    * order-deterministic. Map-side except two stratum-count
    * aggregations broadcast back; selection granularity is the 16-bit
    * id bucket, as in [[mixtureSample]].
    */
  def temperatureSample(df: DataFrame, idCol: String, strataCol: String,
      sizeCol: Column, budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val totals = df.select(col(strataCol), sizeCol.cast("long").as("_toks"))
      .groupBy(col(strataCol)).agg(sum(col("_toks")).as("_toks"))
      .withColumn("_w", sqrt(col("_toks").cast("double")))
    val z = totals.agg(
      aggregate(
        array_sort(collect_list(struct(col(strataCol).as("s"), col("_w").as("w")))),
        lit(0.0), (a, x) => a + x.getField("w")).as("_z"))
    val rate = least(lit(1.0), lit(budget) * col("_w") / col("_z") / col("_toks"))
    df.join(broadcast(totals), Seq(strataCol))
      .crossJoin(broadcast(z))
      .filter(hashBucket16(col(idCol)).cast("double") < rate * 65536.0)
      .drop("_toks", "_w", "_z")
  }

  /** Fixed-k weighted sampling WITHOUT replacement per stratum —
    * Efraimidis–Spirakis (2006) reservoir keys, exact-arithmetic form:
    * instead of ranking rows by u^(1/w) (whose pow/ln would hang
    * cross-engine determinism on libm rounding), each row's key is the
    * MINIMUM of `w` independent md5 uniforms — the first order
    * statistic of w uniforms, which induces the identical selection
    * distribution for INTEGER weights (P(row A outranks row B) =
    * w_A/(w_A+w_B), the E–S pairwise property) using nothing but hex
    * string comparisons, so both engines agree bit-for-bit. The top-k
    * smallest keys per stratum win.
    *
    * Key computation is per-row array arithmetic (fan-out bounded by
    * the weight, which must be a SMALL positive integer — weights are
    * priorities like quality buckets 1..10, not free-form floats; rows
    * with weight < 1 get a null key and are ranked last, never
    * selected over a real key). Selection is TWO-PHASE (the bm25TopK
    * discipline): a per-(stratum, id-hash shard) top-k bounds the rows
    * any single per-stratum task ever sees at shards·k — a corpus-sized
    * stratum ("web") can no longer funnel its whole row stream through
    * one window task. Every global winner wins its shard, so the output
    * is identical to the single-window form at any shard count.
    */
  def weightedSample(df: DataFrame, idCol: String, strataCol: String,
      weightCol: Column, k: Int, shards: Int = 32): DataFrame = {
    require(k >= 1, s"weightedSample needs k >= 1, got $k")
    // guard BEFORE sequence(): sequence(1, 0) steps backwards in Spark,
    // it does not produce an empty array
    val key = when(weightCol >= 1,
      array_min(transform(sequence(lit(1), weightCol),
        j => md5(concat(col(idCol).cast("string"), lit(":"), j.cast("string"))))))
    val wShard = Window.partitionBy(col(strataCol), col("_shard"))
      .orderBy(col("es_key").asc_nulls_last, col(idCol))
    val w = Window.partitionBy(col(strataCol)).orderBy(col("es_key").asc_nulls_last, col(idCol))
    df.withColumn("es_key", key)
      .withColumn("_shard", pmod(hash(col(idCol)), lit(shards)))
      .withColumn("_sr", row_number().over(wShard))
      .filter(col("_sr") <= k)
      .drop("_shard", "_sr")
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k && col("es_key").isNotNull)
      .drop("_rn")
  }

  /** Deterministic corpus shuffle — the training-order primitive: every
    * row gets a stable pseudo-random 0-based `position` (the order a
    * packed-dataset writer consumes documents in) by ranking rows on the
    * md5 of their id. A pure function of ids: stable under reruns, AQE
    * re-planning, and cluster size, unlike an `orderBy(rand())`.
    *
    * The rank is NOT one corpus-wide `row_number` window (the
    * single-task funnel — same scale killer sequencePacks avoids): the
    * hash's first four hex nibbles form a MONOTONE range key
    * (lexicographic lowercase-hex order equals numeric order), per-range
    * counts roll into exclusive running offsets over the tiny ≤numRanges
    * table, and per-range ranks parallelize across ranges. Concatenated
    * range-local order equals the global (md5, id) order exactly.
    */
  def shuffleOrder(df: DataFrame, idCol: String, numRanges: Int = 4096): DataFrame = {
    require(numRanges > 0 && numRanges <= 65536, "numRanges must be in (0, 65536]")
    val withKey = df
      .withColumn("_h", md5(col(idCol).cast("string")))
      .withColumn("_rng",
        conv(substring(col("_h"), 1, 4), 16, 10).cast("long") * numRanges / 65536L)
    val wr = Window.orderBy(col("_rng"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = withKey.groupBy(col("_rng")).agg(count(lit(1)).as("cnt"))
      .withColumn("_roff", coalesce(sum(col("cnt")).over(wr), lit(0L)))
      .select(col("_rng"), col("_roff"))
    val wd = Window.partitionBy(col("_rng")).orderBy(col("_h"), col(idCol))
    withKey.join(broadcast(offsets), Seq("_rng"))
      .withColumn("position", col("_roff") + row_number().over(wd) - 1)
      .drop("_h", "_rng", "_roff")
  }

  /** Straddle-split spans: one row per (doc, pack) a document touches, so
    * a packed-dataset writer can fill every context window EXACTLY
    * instead of letting a pack's last document overhang. A doc starting
    * at offset_in_pack with more tokens than the pack has room for
    * continues at offset 0 of the next pack(s):
    *
    *   - `offset_in_pack` — where this span starts inside the pack
    *   - `take_tokens`    — how many tokens of the doc this span holds
    *   - `doc_offset`     — where in the DOCUMENT the span starts
    *
    * Per pack, spans tile [0, budget) with no gaps (every interior pack
    * sums to exactly `budget` tokens); per doc, spans concatenate to the
    * whole document (`sum(take_tokens) = tokens`, contiguous
    * doc_offsets). Everything after the sequencePacks prefix sum is
    * map-side (explode over the touched-pack range, fan-out
    * ~1 + tokens/budget), so the scale shape is unchanged. Zero-token
    * docs keep one empty span in their start pack.
    */
  def sequencePackSpans(df: DataFrame, idCol: String, sizeCol: Column,
      budget: Long, numRanges: Int = 4096): DataFrame = {
    val packs = sequencePacks(df, idCol, sizeCol, budget, numRanges)
    val lastPack = greatest(col("pack_id"),
      floor((col("start") + col("tokens") - 1) / budget).cast("long"))
    val spanStart = greatest(col("start"), col("pack") * budget)
    packs
      .select(col(idCol), col("tokens"), col("start"),
        explode(sequence(col("pack_id"), lastPack)).as("pack"))
      .select(col(idCol),
        col("pack").as("pack_id"),
        (spanStart - col("pack") * budget).as("offset_in_pack"),
        (least(col("start") + col("tokens"), (col("pack") + 1) * budget) - spanStart)
          .as("take_tokens"),
        (spanStart - col("start")).as("doc_offset"))
  }

  /** Materialized packed training sequences — the last step of the
    * packing pipeline: [[sequencePackSpans]] assignments joined back to
    * each document's token array, span slices concatenated in pack-offset
    * order into one `tokens` array per context window. Every interior
    * pack holds exactly `budget` tokens (the spans tile — locked by
    * SamplingSpec); only the final pack may be short. Zero-token spans
    * (empty documents) contribute nothing to shard content and are
    * dropped before assembly so per-pack offsets are unique.
    *
    * Scale shape: the spans side inherits sequencePacks' two-level
    * prefix sum; the only new wide ops are the id-keyed join back to the
    * token arrays and one groupBy(pack_id) whose per-key payload is
    * bounded by `budget` tokens plus ~budget/avg_doc_len span structs —
    * a constant per training window, independent of corpus size. The
    * ordered assembly is array_sort + flatten over that bounded list,
    * not a window.
    */
  def packedShards(df: DataFrame, idCol: String, tokensCol: Column,
      budget: Long, numRanges: Int = 4096): DataFrame = {
    val toks = df.select(col(idCol), tokensCol.as("_toks"))
    val spans = sequencePackSpans(toks, idCol, size(col("_toks")), budget, numRanges)
    spans
      .filter(col("take_tokens") > 0)
      .join(toks, Seq(idCol))
      .select(col("pack_id"), col("offset_in_pack"),
        slice(col("_toks"), (col("doc_offset") + 1).cast("int"),
          col("take_tokens").cast("int")).as("piece"))
      .groupBy(col("pack_id"))
      .agg(
        count(lit(1)).as("n_spans"),
        flatten(transform(
          array_sort(collect_list(struct(col("offset_in_pack"), col("piece")))),
          x => x.getField("piece"))).as("tokens"))
      .select(col("pack_id"), col("n_spans"),
        size(col("tokens")).cast("long").as("n_tokens"), col("tokens"))
  }

  /** The budget mixtures' key: tokens `_t`, md5 `_h`, range `_rng`. */
  private def rangeKeyed(df: DataFrame, idCol: String, tokens: Column,
      numRanges: Int): DataFrame = {
    require(numRanges > 0 && numRanges <= 65536, "numRanges must be in (0, 65536]")
    df.withColumn("_t", tokens.cast("long"))
      .withColumn("_h", md5(col(idCol).cast("string")))
      .withColumn("_rng",
        conv(substring(col("_h"), 1, 4), 16, 10).cast("long") * numRanges / 65536L)
  }

  /** Adds `cum_before`, the tokens before each row in its domain's (md5,
    * id) order: the two-level range prefix [[tokenBudgetMixture]] states.
    */
  private def withCumBefore(keyed: DataFrame, idCol: String, domainCol: String): DataFrame = {
    val wr = Window.partitionBy(col(domainCol)).orderBy(col("_rng"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = keyed.groupBy(col(domainCol), col("_rng"))
      .agg(sum(col("_t")).as("_rtok"))
      .withColumn("_roff", coalesce(sum(col("_rtok")).over(wr), lit(0L)))
      .select(col(domainCol), col("_rng"), col("_roff"))
    val wd = Window.partitionBy(col(domainCol), col("_rng"))
      .orderBy(col("_h"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    keyed.join(broadcast(offsets), Seq(domainCol, "_rng"))
      .withColumn("cum_before", col("_roff") + coalesce(sum(col("_t")).over(wd), lit(0L)))
  }

  /** Token-budget mixture: per domain, take documents in the stable
    * pseudo-random (md5(id), id) order until the domain's token budget
    * is spent — the "N billion tokens of web, M of code" recipe step
    * that [[temperatureSample]]'s rate-based variant can't pin to an
    * exact token count. A document is kept iff the tokens of prior kept
    * documents are still under budget, so the FIRST budget-crossing doc
    * is included (the pack-straddle convention: budgets fill, never
    * starve) and the kept set is a prefix of the domain's hash order —
    * stable under reruns and cluster size.
    *
    * The per-domain running sum is NOT one window partition per domain
    * (a corpus-hot domain would be a single-task funnel — the
    * shuffleOrder/weightedSample discipline): md5's first four nibbles
    * form a monotone range key, per-(domain, range) token sums roll
    * into exclusive offsets over the tiny ≤numRanges-per-domain table,
    * and in-range prefixes parallelize across (domain, range). Output:
    * (idCol, domainCol, n_tokens, cum_before) for kept rows only.
    */
  def tokenBudgetMixture(df: DataFrame, idCol: String, domainCol: String,
      tokens: Column, budgetPerDomain: Long, numRanges: Int = 4096): DataFrame = {
    require(budgetPerDomain > 0, "budgetPerDomain must be positive")
    withCumBefore(rangeKeyed(df, idCol, tokens, numRanges), idCol, domainCol)
      .filter(col("cum_before") < budgetPerDomain)
      .select(col(idCol), col(domainCol), col("_t").as("n_tokens"), col("cum_before"))
  }

  /** EPOCH-aware mixture — [[tokenBudgetMixture]] generalized to the
    * data-constrained regime (Muennighoff et al. 2023: repeat scarce
    * domains up to a few epochs rather than under-train): when a
    * domain's token budget exceeds its corpus, emit ⌊budget/avail⌋ FULL
    * epochs (capped at `maxEpochs`), then fill the remainder with a
    * partial epoch taken in the stable (md5(id), id) order — the x49
    * first-crossing semantics per epoch. A domain at the cap gets
    * exactly maxEpochs full epochs and NO partial (repeating further is
    * the quality cliff the cap exists for); a domain richer than its
    * budget degenerates to tokenBudgetMixture at epoch 0.
    *
    * Output: (idCol, domainCol, epoch, n_tokens) — one row per (doc,
    * epoch) kept. Scale shape: the per-domain availability is one
    * combinable agg broadcast back; full epochs are a map-side explode
    * (≤ maxEpochs rows per doc); the partial epoch reuses the
    * funnel-free two-level range construction, never one window
    * partition per domain.
    */
  def epochMixture(df: DataFrame, idCol: String, domainCol: String,
      tokens: Column, budgetPerDomain: Long, maxEpochs: Int = 4,
      numRanges: Int = 4096): DataFrame = {
    require(budgetPerDomain > 0, "budgetPerDomain must be positive")
    require(maxEpochs >= 1, "maxEpochs must be >= 1")
    val withKey = rangeKeyed(df, idCol, tokens, numRanges)
    // ANSI-safe integer division: a zero-token domain takes no epochs
    val avail = withKey.groupBy(col(domainCol))
      .agg(sum(col("_t")).as("_avail"))
      .withColumn("_fe",
        when(col("_avail") > 0,
          least(lit(maxEpochs.toLong), expr(s"$budgetPerDomain div _avail")))
          .otherwise(lit(0L)))
      .withColumn("_rem", lit(budgetPerDomain) - col("_fe") * col("_avail"))
    val joined = withKey.join(broadcast(avail), Seq(domainCol))
    val full = joined.filter(col("_fe") > 0)
      .select(col(idCol), col(domainCol), col("_t").as("n_tokens"),
        explode(sequence(lit(0), (col("_fe") - 1).cast("int"))).as("epoch"))
      .select(col(idCol), col(domainCol), col("epoch"), col("n_tokens"))
    // partial epoch _fe: the tokenBudgetMixture construction against the
    // per-domain remainder (same ordering, same first-crossing rule)
    val inPartial = joined.filter(col("_fe") < maxEpochs && col("_rem") > 0)
    val partial = withCumBefore(inPartial, idCol, domainCol)
      .filter(col("cum_before") < col("_rem"))
      .select(col(idCol), col(domainCol), col("_fe").cast("int").as("epoch"),
        col("_t").as("n_tokens"))
    full.unionByName(partial)
  }
}
