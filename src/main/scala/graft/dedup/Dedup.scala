package graft.dedup

import graft.core.{Checkpoints, Fixpoint}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Document deduplication at corpus scale: exact, MinHash+LSH, SimHash and
  * n-gram-Jaccard near-dup — each shaped so the shuffle carries hashes and
  * ids, never the document payloads, and no stage materializes N² pairs.
  *
  * Used by the oracle-checked queries in graft.queries.TextQueries (d1–d5)
  * and directly available as a library API.
  */
object Dedup {

  /** (doc_id, shingle) word n-grams. Documents with fewer than `n` words
    * drop out. The explosion is map-side only — every consumer aggregates
    * or hashes before any shuffle.
    */
  def shingles(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      n: Int = 3): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      explode(graft.text.TextQuality.wordKgrams(split(col(textCol), " "), n)).as("shingle"))

  /** (doc_id, shingle: long) hashed word n-grams — the narrow twin of
    * [[shingles]] for consumers that only ever compare shingles by
    * EQUALITY (inverted indexes, df caps, intersection counts): the
    * xxhash64 runs directly over the n-token array slice, so no shingle
    * string is ever built (no zip_with lambda chain, no concat
    * allocations) and everything downstream shuffles 8-byte longs
    * instead of ~30–40-byte strings (guide §2.3/§4; the x36 exactDupSpans
    * construction at n=3). Token arrays join with single spaces, so the
    * string form is injective in the token sequence and both forms
    * induce the same shingle equivalence classes (modulo 2⁻⁶⁴
    * collisions). `w` is a projected attribute, so the per-position
    * slice is a cheap array view, never a re-split (the
    * TextQuality.wordKgrams house rule).
    */
  def shingleHashes(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", n: Int = 3): DataFrame = {
    val w = split(col(textCol), " ")
    docs.filter(size(w) >= n)
      .select(col(idCol).as("doc_id"), w.as("w"))
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("w")) - (n - 1))).as("pos"), col("w"))
      .select(col("doc_id"), xxhash64(slice(col("w"), col("pos"), lit(n))).as("shingle"))
  }

  /** Exact dedup by content hash: one row per distinct text with the
    * canonical (minimum) id and the duplicate count. Shuffles 32-char
    * hashes, not documents.
    */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_dups"))

  /** Per-permutation MinHash signature aggregates over a hashed-shingle
    * stream (column `m` = md5(shingle)). Permutation k is the hex
    * rotation by k — a bijection on hash strings, so min-under-rotation
    * is an independent MinHash permutation at 1/k the hashing cost of
    * seeded re-hashing.
    */
  def minhashSigs(numPerms: Int): Seq[Column] =
    (1 to numPerms).map(h =>
      min(concat(substring(col("m"), h + 1, 32 - h), substring(col("m"), 1, h))).as(s"sig$h"))

  /** (doc_id, sig1..sigP) MinHash signature table. 8 permutations by
    * default: 4 bands of 2 under LSH, enough resolution to separate
    * est_sim levels {0, 1/8 … 1} for real dedup thresholds.
    */
  def minhashSignatures(docs: DataFrame, numPerms: Int = 8): DataFrame = {
    val sigs = minhashSigs(numPerms)
    shingles(docs)
      .select(col("doc_id"), md5(col("shingle")).as("m"))
      .groupBy(col("doc_id"))
      .agg(sigs.head, sigs.tail: _*)
  }

  /** LSH candidate pairs from banded signatures: docs sharing a band
    * bucket are compared, estimated similarity = matching-signature
    * fraction. The join shuffles on the band hash — never all pairs.
    */
  def minhashCandidates(signatures: DataFrame, numPerms: Int = 8, bandSize: Int = 2): DataFrame = {
    require(numPerms % bandSize == 0, "numPerms must divide into bands")
    val bands = (1 to numPerms).grouped(bandSize).toSeq
      .map(g => md5(concat(g.map(h => col(s"sig$h")): _*)))
    val banded = signatures.withColumn("band", explode(array(bands: _*)))
    val a = banded.alias("a")
    val b = banded.alias("b")
    val matches = (1 to numPerms)
      .map(h => when(col(s"a.sig$h") === col(s"b.sig$h"), 1).otherwise(0))
      .reduce(_ + _)
    a.join(b, col("a.band") === col("b.band") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"),
        (matches / numPerms.toDouble).as("est_sim"))
      .distinct()
  }

  /** Incremental near-dup detection: candidates of a NEW batch against
    * the STANDING corpus's signature index — the operational shape of
    * dedup at 100 TB, where each data drop is checked against an
    * already-materialized signature table instead of re-signing and
    * re-pairing the whole corpus. Bands both sides, joins new × corpus
    * on the band hash (shuffle keyed on bands, proportional to the NEW
    * batch + matching corpus buckets, never corpus²), estimates
    * similarity by matching-signature fraction. Returns
    * (new_id, corpus_id, est_sim).
    */
  def incrementalMinhashCandidates(newSigs: DataFrame, corpusSigs: DataFrame,
      numPerms: Int = 8, bandSize: Int = 2): DataFrame = {
    require(numPerms % bandSize == 0, "numPerms must divide into bands")
    def banded(df: DataFrame): DataFrame = {
      val bands = (1 to numPerms).grouped(bandSize).toSeq
        .map(g => md5(concat(g.map(h => col(s"sig$h")): _*)))
      df.withColumn("band", explode(array(bands: _*)))
    }
    val matches = (1 to numPerms)
      .map(h => when(col(s"n.sig$h") === col(s"c.sig$h"), 1).otherwise(0))
      .reduce(_ + _)
    banded(newSigs).alias("n")
      .join(banded(corpusSigs).alias("c"), col("n.band") === col("c.band"))
      .select(col("n.doc_id").as("new_id"), col("c.doc_id").as("corpus_id"),
        (matches / numPerms.toDouble).as("est_sim"))
      .distinct()
  }

  /** SimHash over word hashes: `bits`-wide signature where bit b is the
    * sign of the per-word vote sum — near-dups differ in few bits. One
    * fully map-side-combinable aggregation. 64-bit by default: with
    * 16-bit LSH bands the bucket space is 4 × 65536 and keeps growing
    * with real band-value entropy, versus the 64 total buckets a 16-bit
    * signature allows (which degenerates the candidate join to ~N²/64 on
    * a large corpus).
    */
  def simhash(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      bits: Int = 64): DataFrame = {
    require(bits % 4 == 0 && bits <= 64, "bits must be a multiple of 4, <= 64")
    // hash each word ONCE in a projection — the bit-votes then read
    // nibbles of the same md5 value instead of re-hashing per bit
    def nibble(k: Int): Column = conv(substring(col("h"), k + 1, 1), 16, 10).cast("int")
    def vote(b: Int): Column =
      sum(when(floor(nibble(b / 4) / math.pow(2, b % 4).toInt) % 2 === 1, 1).otherwise(-1)).as(s"v$b")
    val votes = (0 until bits).map(vote)
    // bitwiseOR, not +: bit 63's value is Long.MinValue and ANSI-mode
    // addition would overflow-check; OR of disjoint bits is exact
    val sig = (0 until bits).map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(0L))
      .reduce(_ bitwiseOR _)
    docs.select(col(idCol).as("doc_id"), explode(split(col(textCol), " ")).as("word"))
      .select(col("doc_id"), md5(col("word")).as("h"))
      .groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), sig.as("simhash"))
  }

  /** Band `b` of the signature, masked to its low `bandBits` bits.
    * (sig >> k) & mask is shift-kind-agnostic (only low bandBits bits
    * survive the mask), so Spark's arithmetic shiftright matches the
    * oracle's >> on negative signatures too. bandBits == 64 (the
    * maxHamming = 0 degenerate: one band is the whole signature) is
    * special-cased — Scala shift counts are mod 64, so (1L << 64) - 1
    * would evaluate to 0 and map EVERY signature to band_val 0, turning
    * the band join into a silent cross product.
    */
  private def bandValue(b: Int, bandBits: Int): Column =
    if (bandBits >= 64) col("simhash")
    else shiftright(col("simhash"), b * bandBits).bitwiseAND(lit((1L << bandBits) - 1))

  /** SimHash near-dup pairs with Hamming distance ≤ `maxHamming`, found
    * via the band pigeonhole: split the signature into `maxHamming + 1`
    * bands — any pair within the distance budget agrees on at least one
    * band, so candidates come from band-equality bucket joins (shuffling
    * on (band_no, band_value), never N² pairs) and the exact Hamming
    * filter runs only on candidates. At 64 bits / 4 bands each band
    * carries 16 bits, so the bucket key space is 4 × 2^16 per-band values
    * and in-bucket pair counts stay proportional to true near-dup density
    * rather than N²/constant.
    */
  def simhashPairs(sigs: DataFrame, bits: Int = 64, maxHamming: Int = 3): DataFrame = {
    val nBands = maxHamming + 1
    val bandBits = bits / nBands
    require(bits % nBands == 0, s"bits must divide into ${nBands} bands")
    // bandValue's bandBits >= 64 branch returns the WHOLE signature,
    // correct only because signatures are 64-bit Longs; a wider `bits`
    // would pass the divisibility check yet silently weaken the
    // pigeonhole guarantee (round-8 ADVICE)
    require(bits <= 64, "signatures are 64-bit Longs; bits must be <= 64")
    val banded = sigs.select(
      col("doc_id"), col("simhash"),
      posexplode(array((0 until nBands).map(bandValue(_, bandBits)): _*))
        .as(Seq("band_no", "band_val")))
    val hamming = bit_count(expr("a.simhash ^ b.simhash"))
    banded.alias("a")
      .join(banded.alias("b"),
        col("a.band_no") === col("b.band_no") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"),
        hamming.as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Batch-vs-index hamming candidates — [[simhashPairs]]' banding in
    * the incremental (d9) shape: each NEW signature bands against the
    * STANDING index only, never index × index, so a drop's admission
    * cost tracks the drop. Works over any 64-bit hamming signature
    * (text SimHash, image dHash — the frames share the `simhash`
    * column name by design). Output: (new_id, corpus_id, hamming).
    */
  def incrementalHammingCandidates(newSigs: DataFrame, corpusSigs: DataFrame,
      bits: Int = 64, maxHamming: Int = 3): DataFrame = {
    val nBands = maxHamming + 1
    val bandBits = bits / nBands
    require(bits % nBands == 0, s"bits must divide into ${nBands} bands")
    require(bits <= 64, "signatures are 64-bit Longs; bits must be <= 64")
    def banded(df: DataFrame): DataFrame = df.select(
      col("doc_id"), col("simhash"),
      posexplode(array((0 until nBands).map(bandValue(_, bandBits)): _*))
        .as(Seq("band_no", "band_val")))
    banded(newSigs).alias("n")
      .join(banded(corpusSigs).alias("c"),
        col("n.band_no") === col("c.band_no") &&
          col("n.band_val") === col("c.band_val"))
      .select(col("n.doc_id").as("new_id"), col("c.doc_id").as("corpus_id"),
        bit_count(expr("n.simhash ^ c.simhash")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** SimHash near-dup pairs via COMBINATORIAL (block-pair) pigeonhole
    * banding — the 10⁸+-doc scale path the sf1 soak motivated: with B
    * blocks and hamming ≤ r (r ≤ B − 2), at most r blocks differ, so
    * some PAIR of blocks matches exactly between any true near-dup.
    * Keying candidates on (block-pair id, val_i, val_j) roughly SQUARES
    * the effective bucket space (~2^(2·bits/B) per combo vs
    * 2^(bits/(r+1)) for single-band banding) at the cost of C(B,2)
    * emitted rows per doc — the Manku/Jain/Sarma table construction.
    * Output is IDENTICAL to [[simhashPairs]] (both bandings are complete
    * for the Hamming budget; DedupSpec locks set equality): choose by
    * corpus size — single-band for small corpora, this one where
    * N/2^16 bucket occupancy drives quadratic candidate volume
    * (measured in the soak: 77k candidates @500k docs → 939k @2.5M).
    */
  def simhashPairsCombinatorial(sigs: DataFrame, bits: Int = 64,
      maxHamming: Int = 3, blocks: Int = 5): DataFrame = {
    require(blocks >= maxHamming + 2,
      "need blocks >= maxHamming + 2 so an untouched block PAIR survives")
    require(blocks <= bits && bits <= 64, "blocks must not exceed bits (<= 64)")
    val base = bits / blocks
    val widths = (0 until blocks).map(b => if (b < bits % blocks) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _)
    def blockVal(b: Int): Column =
      shiftright(col("simhash"), offsets(b)).bitwiseAND(lit((1L << widths(b)) - 1))
    val combos = for { i <- 0 until blocks; j <- i + 1 until blocks } yield (i, j)
    val keyed = sigs.select(col("doc_id"), col("simhash"),
      posexplode(array(combos.map { case (i, j) =>
        struct(blockVal(i).as("vi"), blockVal(j).as("vj"))
      }: _*)).as(Seq("combo", "k")))
    val hamming = bit_count(expr("a.simhash ^ b.simhash"))
    keyed.alias("a")
      .join(keyed.alias("b"),
        col("a.combo") === col("b.combo") && col("a.k") === col("b.k") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"),
        hamming.as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Corpus-hot shingles — the diagnostic twin of jaccardPairs'
    * document-frequency cap: the top-k n-grams by document frequency
    * above `minDf` are the site boilerplate / license headers / template
    * text a cleaning pipeline should strip. One map-side shingle
    * explosion, one combinable count, a k-row ordered result.
    */
  def hotShingles(docs: DataFrame, minDf: Long = 2L, k: Int = 20): DataFrame =
    shingles(docs).distinct()
      .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .orderBy(col("df").desc, col("shingle"))
      .limit(k)

  /** Duplicate-cluster resolution: assign every document appearing in a
    * candidate near-dup pair the minimum doc_id of its connected
    * component — the step that turns pairwise evidence into canonical
    * groups for corpus dedup.
    *
    * Min-label propagation with pointer doubling: each round, every node
    * takes the least of its own label, its neighbors' labels, and its
    * label's label (the "label of label" self-join — Wyllie-style pointer
    * jumping, the same shortcutting idea as Kiveris et al.'s
    * large-star/small-star contraction). Plain neighbor propagation
    * converges in O(diameter) rounds, so a pathological dup chain longer
    * than maxIter would silently split; the jump step halves every
    * label-chain each round, giving O(log diameter) convergence —
    * maxIter=20 covers components a million hops across. The per-round
    * work is two shuffles on doc_id/label at candidate-set scale (pairs,
    * not corpus); rounds run on [[graft.core.Fixpoint]], so
    * non-convergence throws instead of returning split clusters.
    */
  def clusters(pairs: DataFrame, maxIter: Int = 20): DataFrame =
    clustersWithRounds(pairs, maxIter)._1

  /** As clusters(), also returning the rounds taken — the convergence
    * observability hook (DedupSpec asserts the O(log n) bound on a long
    * path graph).
    *
    * `maxIter` bounds the pointer-doubling loop AFTER the contraction,
    * not the whole run: the two init rounds (outer and quotient) come on
    * top, so the reported round count can reach `maxIter + 2`. The
    * returned frame is backed by two retained checkpoints, the outer
    * init labels and the loop's final round; the caller owns them. On
    * any throw (non-convergence included) every block this call
    * persisted is freed first.
    *
    * Structure (r11): init (absorbing round 1) → ONE-TIME GRAPH
    * CONTRACTION → pointer-doubling loop on the contracted graph →
    * compose. After the init round, edge (u, v) is rewritten to
    * (label(u), label(v)); self-loops (both endpoints already agreed)
    * are dropped and the survivors deduplicated. Every intra-component
    * edge whose endpoints reached a common label vanishes, so the loop
    * that follows propagates over the label-QUOTIENT graph instead of
    * the full candidate edge set — on the dense dedup graphs this
    * library builds, that is a collapse of orders of magnitude
    * (OPTIMIZATION_r11.md "clusters() contraction and second jump":
    * d17's image graph, 1.54 M edges → 54 after one init round; output
    * diff vs the uncontracted loop = 0). The final
    * labels compose: out(v) = rep(label₁(v)), where labels absent from
    * the contracted graph are provably converged (all-equal labels in a
    * component mean the shared label is the component min, because the
    * min node's label is always itself) and pass through unchanged.
    * At scale the contraction pays one edge-sized relabel join to make
    * every subsequent round quotient-sized — the Kiveris et al.
    * contraction idea applied once, where it is cheapest.
    */
  def clustersWithRounds(pairs: DataFrame, maxIter: Int = 20): (DataFrame, Int) = {
    // maxIter <= 0 would run no round and mis-report as non-convergence
    require(maxIter > 0, s"clusters() needs maxIter > 0, got $maxIter")
    // candidate-volume-sized, scan-only edges: serialized; the init and
    // contraction shuffle the same tiny rows as the rounds, so they run
    // inside the driver's advisory scope too
    val symmetric = graft.graph.Graph.undirected(
      pairs.select(col("doc1").as("src"), col("doc2").as("dst"))).distinct()
    Fixpoint.withCheckpoint(symmetric, StorageLevel.MEMORY_AND_DISK_SER) { edges =>
      // INIT ABSORBS ROUND 1 (r11): with labels = self, the first round's
      // jump is a no-op and its prop reduces to "min over self and
      // neighbors" — computable directly at init as groupBy(dst).min(src)
      // (the edge set is symmetric, so every node appears as dst and its
      // srcs are exactly its neighbors). State equals the old round-1
      // output exactly: label(v) = min(v, N(v)).
      val initLabels = edges.groupBy(col("dst").as("doc_id"))
        .agg(min(col("src")).as("nmin"))
        .select(col("doc_id"), least(col("doc_id"), col("nmin")).as("label"))
        .localCheckpoint()
      // initLabels is kept only on success (the result reads it)
      try {
        // contract: relabel both edge endpoints through the init labels, drop
        // the (now converged) self-loops, dedupe. The row count is observed
        // during the checkpoint action itself so the empty-quotient short
        // circuit costs no extra job.
        val (cEdges, nQuotient) = Fixpoint.checkpointObserved(edges
          .join(initLabels.select(col("doc_id").as("src"), col("label").as("ls")), "src")
          .join(initLabels.select(col("doc_id").as("dst"), col("label").as("ld")), "dst")
          .filter(col("ls") =!= col("ld"))
          .select(col("ls").as("src"), col("ld").as("dst"))
          .distinct(), StorageLevel.MEMORY_AND_DISK_SER, count(lit(1)))
        // dead once contracted: free it now, not at the scope's exit
        Checkpoints.unpersistCheckpoint(edges)
        if (nQuotient == 0L) {
          // every component agreed on one label at init — already the
          // component min (the min node's label is itself)
          Checkpoints.unpersistCheckpoint(cEdges)
          (initLabels.select(col("doc_id"), col("label").as("canonical_id")), 1)
        } else {
          val qInit = cEdges.groupBy(col("dst").as("doc_id"))
            .agg(min(col("src")).as("nmin"))
            .select(col("doc_id"), least(col("doc_id"), col("nmin")).as("label"))
          // node-sized label rounds, re-read thrice per round: deserialized
          val (last, innerRounds) =
            try Fixpoint.run(qInit, StorageLevel.MEMORY_AND_DISK, maxIter,
              Some(Fixpoint.Zero(count(when(col("nextLabel") =!= col("prevLabel"), 1)),
                changed => s"clusters() has $changed labels still moving past the graph " +
                  s"contraction (${maxIter + 2} rounds counting the two init rounds) — with " +
                  "pointer doubling this means a component ~4^maxIter hops across; raise maxIter")))(
              labelRound(cEdges))
            finally Checkpoints.unpersistCheckpoint(cEdges)
          val rep = last.select(col("doc_id"), col("nextLabel").as("label"))
          // compose: quotient-resolved representative of my init label; init
          // labels outside the quotient were converged already (see scaladoc)
          val out = initLabels
            .join(rep.select(col("doc_id").as("label"), col("label").as("rlabel")),
              Seq("label"), "left")
            .select(col("doc_id"),
              coalesce(col("rlabel"), col("label")).as("canonical_id"))
          // rounds = outer init + quotient init + inner loop rounds (each of
          // the two inits absorbs a propagation round)
          (out, 2 + innerRounds)
        }
      } catch {
        case e: Throwable =>
          Checkpoints.unpersistCheckpoint(initLabels)
          throw e
      }
    }
  }

  /** One pointer-doubling min-label round over the SYMMETRIC, eagerly
    * checkpointed quotient `edges`: `prev` is the init (doc_id, label)
    * frame in round 1 and the previous round's (doc_id, nextLabel,
    * prevLabel) checkpoint after it. Rounds run on [[Fixpoint.run]]
    * until no label changes.
    */
  private def labelRound(edges: DataFrame)(prev: DataFrame, round: Int): DataFrame = {
    // CONVERGED-COMPONENT FRONTIER: only labels that CHANGED last round
    // feed the edge-propagation join. Skipping an unchanged src loses
    // nothing — its current label was already propagated to every
    // neighbor in the round after it last changed (round 1 propagates
    // everyone), and labels only ever decrease — so per-round output is
    // bit-identical while the join's build side shrinks geometrically as
    // components converge; once the frontier fits the broadcast
    // threshold, AQE drops the edge-side shuffle entirely. The frontier
    // is a filter-projection of the round's checkpoint — no extra
    // materialization or lineage. The init frontier is the set the
    // absorbed first round changed (label ≠ self) — the same invariant
    // ("everyone's label has been propagated to every neighbor in the
    // round after it last changed") holds because the init's
    // neighbor-min is, by edge symmetry, exactly round 1's propagation.
    val (labels, frontier) =
      if (round == 1) (prev, prev.filter(col("label") =!= col("doc_id")))
      else (prev.select(col("doc_id"), col("nextLabel").as("label")),
        prev.filter(col("nextLabel") =!= col("prevLabel"))
          .select(col("doc_id"), col("nextLabel").as("label")))
    val prop = edges.join(frontier.select(col("doc_id").as("src"), col("label")), "src")
      .groupBy(col("dst").as("doc_id"))
      .agg(min(col("label")).as("nlabel"))
    // pointer jump: the label of my label (labels is keyed by every
    // doc_id and labels only ever hold doc_ids, so the lookup is total)
    val jump = labels
      .select(col("doc_id").as("label"), col("label").as("plabel"))
    val half = labels.join(prop, Seq("doc_id"), "left")
      .join(jump, Seq("label"), "left")
      .select(col("doc_id"),
        least(col("label"),
          coalesce(col("nlabel"), col("label")),
          coalesce(col("plabel"), col("label"))).as("l1"),
        col("label").as("prevLabel"))
    // SECOND pointer jump (r11): label-of-label-of-label — the chain to
    // the component min contracts ~4x per round instead of ~2x, so the
    // loop converges in ~log4 rounds. After the one-time contraction the
    // per-round frames are quotient-sized and each round is dominated by
    // its fixed scheduling cost, so trading one more label-keyed join
    // per round for ~half the rounds is a direct win; the output is
    // unchanged — every jump application is monotone toward the same
    // min-label fixpoint (OPTIMIZATION_r11.md: the 2j variant matched
    // the one-jump loop with diff 0).
    val jump2 = labels
      .select(col("doc_id").as("l1"), col("label").as("plabel2"))
    half.join(jump2, Seq("l1"), "left")
      .select(col("doc_id"),
        least(col("l1"), coalesce(col("plabel2"), col("l1"))).as("nextLabel"),
        col("prevLabel"))
  }

  /** Quality-aware canonical selection over resolved duplicate clusters:
    * instead of [[clusters]]' min-id canonical (fine for identity, wrong
    * for curation — the lowest id is often the worst-OCR'd or truncated
    * copy), each cluster keeps the member with the HIGHEST quality
    * score, id-ascending on ties. This is the "keep best duplicate"
    * policy of production pre-training dedup.
    *
    * `clusters` is [[clusters]]' output (doc_id, canonical_id);
    * `quality` carries (idCol, qualityCol). One equi-join re-attaches
    * quality (AQE-broadcastable when the clustered set is small —
    * clusters cover only docs that appeared in a candidate pair, a
    * sliver of the corpus) and one combinable `max_by` aggregation picks
    * the representative — a single shuffle on cluster key with map-side
    * partials, so a pathological giant cluster flattens before the
    * exchange; no window, no sort. Returns (cluster_id, rep_id,
    * rep_quality rounded to 6 for cross-engine output stability,
    * n_members).
    */
  def clusterRepresentatives(clusters: DataFrame, quality: DataFrame,
      idCol: String = "doc_id", qualityCol: String = "q"): DataFrame =
    clusters.join(quality, Seq(idCol))
      .groupBy(col("canonical_id").as("cluster_id"))
      .agg(
        max_by(col(idCol), struct(col(qualityCol), (-col(idCol)).as("nid"))).as("rep_id"),
        round(max(col(qualityCol)), 6).as("rep_quality"),
        count(lit(1)).as("n_members"))

  /** Embedding-cosine near-duplicate document pairs — the semantic
    * dedup flavor (catches paraphrases and re-encodings that defeat
    * lexical MinHash/SimHash). Candidates come from multi-table
    * random-hyperplane LSH over the embedding column (Ann.lshPairs:
    * shuffles on (table, bucket) keys whose space grows with `bits`,
    * never N² pairs), verified by exact cosine, then document metadata is
    * re-attached by id. The verified pair table is tiny relative to the
    * corpus, so the metadata joins are plain equi-joins AQE promotes to
    * broadcast when they fit.
    */
  def embeddingNearDups(embeddings: DataFrame, documents: DataFrame,
      dim: Int = 64, bits: Int = 16, tables: Int = 4,
      minSim: Double = 0.35): DataFrame = {
    val pairs = graft.ann.Ann.lshPairs(embeddings, dim, bits, tables, minSim)
    val meta = documents.select(col("doc_id"), col("source"))
    pairs
      .join(meta.select(col("doc_id").as("id1"), col("source").as("src1")), Seq("id1"))
      .join(meta.select(col("doc_id").as("id2"), col("source").as("src2")), Seq("id2"))
      .select(col("id1"), col("id2"), round(col("sim"), 6).as("sim"),
        col("src1"), col("src2"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication for training corpora — cluster the embedding space
    * with deterministic k-means (Ann.kmeansCells), compute cosine only
    * WITHIN each cluster, and drop every vector that has a
    * smaller-id near-duplicate (cos ≥ `tau`) in its cell. Returns the
    * kept (vec_id, cell) rows.
    *
    * Scale shape: clustering bounds the pair candidates to Σ n_c² —
    * the paper's own cost model; k grows with the corpus so cells stay
    * bounded and the in-cell self-join is an equi-join on the cell key,
    * never a cartesian. The keep rule (no smaller-id neighbor above
    * tau) is deterministic and needs no transitive closure — one
    * anti-join instead of an iterative clustering pass.
    */
  def semanticDedup(embeddings: DataFrame, k: Int = 8, iters: Int = 1,
      tau: Double = 0.95, dim: Int = 0): DataFrame = {
    // the (vec_id, cell) assignment feeds BOTH sides of the in-cell
    // self-join and the final anti-join; without the cut Catalyst
    // re-executes the full Lloyd chain once per consumer (measured 3×
    // in the d11 plan). Two id columns per row — far cheaper to hold
    // than to recompute, the termFreqs/clusters() discipline.
    // serialized: (vec_id, cell) is corpus-sized and scan-only across
    // its three consumers (both self-join sides + the anti-join) — the
    // SCALE.md 40M storage-level rule
    val cells = graft.ann.Ann.kmeansCells(embeddings, k, iters, dim)
      .localCheckpoint(false, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val e = embeddings
      .select(col("vec_id"),
        graft.functions.VectorOps.toDoubleArray(col("embedding")).as("e"))
      .join(cells, Seq("vec_id"))
    val dropped = e.select(col("vec_id").as("id1"), col("e").as("e1"), col("cell"))
      .join(e.select(col("vec_id").as("id2"), col("e").as("e2"), col("cell")), Seq("cell"))
      .filter(col("id1") < col("id2"))
      .filter(graft.functions.VectorOps.cosine(col("e1"), col("e2")) >= tau)
      .select(col("id2").as("vec_id")).distinct()
    e.join(dropped, Seq("vec_id"), "left_anti").select(col("vec_id"), col("cell"))
  }

  /** n-gram Jaccard pairs above `minJaccard`, via a shingle inverted
    * index: self-join on shingle → |A∩B|; per-doc set sizes → |A∪B|.
    * Shuffles on the shingle key, never N² pairs.
    *
    * `maxShingleDf` caps the document frequency of shingles admitted to
    * the index — the standard scale guard: a shingle appearing in k
    * documents contributes k² candidate rows to the self-join, so corpus
    * stop-phrases ("of the …") make the uncapped index quadratic on any
    * real corpus. Jaccard is computed consistently over the capped
    * shingle universe (sizes AND intersections), so it equals the true
    * n-gram Jaccard whenever no shared shingle is corpus-hot, and only
    * loses pairs whose sole similarity evidence is stop-phrases.
    */
  def jaccardPairs(docs: DataFrame, minJaccard: Double = 0.5,
      maxShingleDf: Int = 1000): DataFrame = {
    val jac = col("n_inter").cast("double") / (col("na") + col("nb") - col("n_inter"))
    cappedShingleIntersections(docs, maxShingleDf)
      .filter(jac >= minJaccard)
      .select(col("doc1"), col("doc2"), jac.as("jaccard"))
  }

  /** Directed n-gram CONTAINMENT pairs: |A∩B| / min(|A|, |B|) over the
    * same capped shingle universe as [[jaccardPairs]]. Containment is
    * the asymmetric near-dup measure Jaccard cannot see: an excerpt
    * fully embedded in a much longer document scores containment ≈ 1
    * while its Jaccard ≈ |excerpt|/|doc| ≈ 0 — the quote / boilerplate
    * / subset-page relationship a training-data pipeline must catch
    * (Broder 1997's "containment" resemblance twin). Output is one row
    * per unordered pair (doc1 < doc2) with both capped set sizes, the
    * intersection, and the containment of the SMALLER set, filtered at
    * `minContainment`.
    *
    * Scale shape is identical to [[jaccardPairs]] — one capped shingle
    * inverted index, equi-join on the shingle key, never N² pairs.
    */
  def containmentPairs(docs: DataFrame, minContainment: Double = 0.9,
      maxShingleDf: Int = 1000): DataFrame = {
    val cont = col("n_inter").cast("double") / least(col("na"), col("nb"))
    cappedShingleIntersections(docs, maxShingleDf)
      .filter(cont >= minContainment)
      .select(col("doc1"), col("doc2"), col("na"), col("nb"),
        col("n_inter"), cont.as("containment"))
  }

  /** Shared core of [[jaccardPairs]] / [[containmentPairs]]: per-pair
    * shingle-set intersection counts with both set sizes, over the
    * DF-capped shingle universe — (doc1, doc2, na, nb, n_inter) with
    * doc1 < doc2. Sizes and intersections are computed over the SAME
    * capped universe, so any set measure derived from them is
    * self-consistent (equals the true n-gram measure whenever no shared
    * shingle is corpus-hot, loses only pairs whose sole evidence is
    * stop-phrases).
    */
  private def cappedShingleIntersections(docs: DataFrame,
      maxShingleDf: Int): DataFrame = {
    // df via groupBy + EXPLICITLY BROADCAST anti-join of the OVER-CAP
    // set, not a whole-partition window: a window must materialize each
    // shingle's rows in one task, so one corpus-hot shingle (boilerplate
    // suffix; the 10M soak's "and of note" at df = 0.96·N) serializes
    // ~N rows through a single straggler task that neither AQE nor more
    // shuffle partitions can split — windows repartition by COUNT,
    // never by key occupancy. The groupBy's count is map-side
    // combinable (the hot key costs one partial per input partition)
    // and its output is only the shingles ABOVE the cap — bounded by
    // index_rows/cap and in practice tiny (boilerplate phrases).
    // The broadcast hint is LOAD-BEARING, not advisory style: the 10M
    // isolated A/B measured the unhinted shape planning a sort-merge
    // anti-join — a SECOND full shuffle of the 340M-row index (11.2 GB
    // vs 5.6) whose hot-key partition became a 613 s straggler, WORSE
    // than the window shape it replaced (722 s, max task 421 s); AQE
    // did not promote the join on its own because the agg-filter
    // output has no usable size estimate at plan time. With the hint
    // the cap costs one combinable agg plus a map-side hash probe —
    // no sort, no second index shuffle, no key-occupancy task
    // (SCALE.md "clean_corpus hot key", round 7).
    // dist feeds three downstream consumers (the hot-set agg, the
    // per-doc sizes agg, and the pair self-join) — and that is FINE
    // as-is: within one action Spark reuses the distinct's exchange
    // across all three (ReusedExchange), so the explode+md5 map lineage
    // runs once. A localCheckpoint here was tried and REFUTED by the
    // 2.5M stage-detail A/B (SCALE.md "clean_corpus decomposition",
    // round 7): identical stage structure and shuffle bytes either way
    // (proof no re-execution existed to cut), but the checkpoint paid
    // 3× the task CPU serializing the 75M-row index into the block
    // store and reading it back. localCheckpoint earns its cost only
    // across ITERATED plans whose subtrees are not canonically equal
    // (semanticDedup's Lloyd rounds, clusters' pointer doubling) —
    // never for plain multi-consumer lineage in a single action.
    // hashed-long shingles (r10): this core only ever compares shingles
    // by equality, so the whole index — distinct, df agg, anti-join,
    // self-join — runs over xxhash64 longs instead of shingle strings;
    // see [[shingleHashes]] for the equivalence argument
    val dist = shingleHashes(docs).distinct()
    val hot = dist.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxShingleDf)
      .select(col("shingle"))
    val sh = dist.join(broadcast(hot), Seq("shingle"), "left_anti")
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val a = sh.alias("a")
    val b = sh.alias("b")
    val inter = a
      .join(b, col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .agg(count(lit(1)).as("n_inter"))
    // no broadcast hint on sizes: it is one row per document — tiny at
    // test scale, but far beyond broadcast range on a real corpus. AQE
    // promotes it to broadcast when it actually fits.
    inter
      .join(sizes.select(col("doc_id"), col("n").as("na")),
        col("doc1") === col("doc_id")).drop("doc_id")
      .join(sizes.select(col("doc_id"), col("n").as("nb")),
        col("doc2") === col("doc_id")).drop("doc_id")
  }

  /** Exact duplicate SPANS across documents — the exact-substring dedup
    * of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better"), relationally: every length-`k` token window is
    * hashed at every position, positions sharing a hash across two
    * documents become match points, and runs of consecutive match
    * points along a (doc1, doc2, pos1−pos2) diagonal merge into maximal
    * spans (start1, start2, span_tokens). Unlike the winnowed
    * fingerprints (x21/x22) this reports EXACT maximal overlap extents,
    * the evidence needed to actually cut the span out of one copy.
    *
    * Scale shape: the position index is map-side (n−k+1 hashes per doc,
    * an 8-byte xxhash64 of the token window — never the token payload),
    * corpus-hot
    * windows (license headers, boilerplate) are dropped by the same
    * broadcast-anti-join df cap as [[jaccardPairs]] — the quadratic
    * guard — and the diagonal run-merge is a per-(pair, diagonal)
    * gaps-and-islands window, keyed far finer than any corpus-wide
    * partition. Nothing materializes N²: candidate volume is bounded by
    * df-capped hash collisions exactly like every pair generator here.
    */
  def exactDupSpans(docs: DataFrame, k: Int = 20, maxWindowDf: Int = 10,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("w"))
      .filter(size(col("w")) >= k)
    // w is a projected attribute, so the per-position slice is a cheap
    // array view, not a re-split (the TextQuality.wordKgrams house rule).
    // positions feeds both the hot-set agg and the pair self-join, and
    // UNLIKE jaccardPairs (whose distinct() puts a canonical exchange
    // below the branch point) this lineage is pure map-side — with no
    // shared exchange, each consumer re-executes the explode+md5 scan.
    // The uniform doc-keyed repartition is that shared cut, and the cap
    // join is left_outer + IsNull instead of the equivalent left_anti
    // because PushDownLeftSemiAntiJoin would reorder an anti below the
    // repartition and split the canonical exchange again (the
    // TextQuality.overlapPairs scaladoc has the full mechanism;
    // measured here: 2.30 s → 1.29 s isolated at sf0.1, identical
    // output).
    // xxhash64 DIRECTLY over the token-array slice (r10, guide §2.3/§4):
    // the hash is internal candidate plumbing — positions match on
    // window EQUALITY and the df cap counts distinct docs per window
    // content, so any collision-free hash yields the identical span set
    // (the oracle keeps its md5-hex and agrees because both sides only
    // ever compare a window with itself). The previous
    // substring(md5(array_join(...)), 1, 16) built a k-token string and
    // ran a cryptographic digest per position (the x36/x45 stage
    // profile: 60–120 s task CPU at sf0.1, nearly all in this map) and
    // shuffled a 16-char key; xxhash64 hashes the UnsafeArrayData
    // in place and ships 8 bytes.
    val positions = words
      .select(col("doc_id"), explode(sequence(lit(1), size(col("w")) - (k - 1))).as("pos"),
        col("w"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        xxhash64(slice(col("w"), col("pos"), lit(k))).as("h"))
      .repartition(col("doc_id"))
    val hot = positions.groupBy(col("h"))
      .agg(count_distinct(col("doc_id")).as("df"))
      .filter(col("df") > maxWindowDf)
      .select(col("h").as("hot_h"))
    val idx = positions.join(broadcast(hot), col("h") === col("hot_h"), "left_outer")
      .filter(col("hot_h").isNull)
      .select(col("h"), col("doc_id"), col("pos"))
    val matches = idx.select(col("h"), col("doc_id").as("doc1"), col("pos").as("pos1"))
      .join(idx.select(col("h"), col("doc_id").as("doc2"), col("pos").as("pos2")), Seq("h"))
      .filter(col("doc1") < col("doc2"))
      .select(col("doc1"), col("doc2"), col("pos1"), col("pos2"))
    val diag = Window.partitionBy(col("doc1"), col("doc2"), col("d"))
      .orderBy(col("pos1"))
    matches
      .withColumn("d", col("pos1") - col("pos2"))
      .withColumn("island", col("pos1") - row_number().over(diag))
      .groupBy(col("doc1"), col("doc2"), col("d"), col("island"))
      .agg(min(col("pos1")).as("start1"), min(col("pos2")).as("start2"),
        (count(lit(1)) + (k - 1)).as("span_tokens"))
      .select(col("doc1"), col("doc2"), col("start1"), col("start2"), col("span_tokens"))
  }

  /** Remove later occurrences of cross-document duplicate spans — the
    * cleaning step of Lee et al. 2022 ("Deduplicating Training Data
    * Makes Language Models Better"): [[exactDupSpans]] finds every
    * k-token run shared between two documents; this cuts each span's
    * SECOND occurrence (the higher doc id, so one copy always survives
    * and a clique of n copies keeps exactly its lowest-id member's
    * text) and reassembles the surviving tokens.
    *
    * Per-document work after the span join: cut intervals are merged
    * with a per-doc running-max window (interval count is bounded by
    * doc length, never corpus-shaped), the merged set rides one
    * doc-keyed join as a small struct array, and token filtering is a
    * positional higher-order lambda — no token-level shuffle, text
    * crosses the wire once. Intra-document repetition is a different
    * operator ([[graft.text.TextQuality]] repetition rules); spans here
    * are cross-doc by construction (doc1 < doc2).
    *
    * Output: (doc_id, n_kept, clean_text) for EVERY input document —
    * uncut docs pass through whole; a fully-duplicated doc keeps zero
    * tokens and an empty string.
    */
  def removeDupSpans(docs: DataFrame, k: Int = 20, maxWindowDf: Int = 10,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spans = exactDupSpans(docs, k, maxWindowDf, textCol, idCol)
    val cuts = spans.select(col("doc2").as("doc_id"), col("start2").as("s"),
      (col("start2") + col("span_tokens")).as("e"))
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("s"), col("e"))
    val pmax = max(col("e")).over(wOrd.rowsBetween(Window.unboundedPreceding, -1))
    val merged = cuts
      .withColumn("newg",
        when(pmax.isNull || col("s") > pmax, lit(1)).otherwise(lit(0)))
      .withColumn("g", sum(col("newg")).over(wOrd))
      .groupBy(col("doc_id"), col("g"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("s"), col("e"))).as("ivs"))
    docs.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("w"))
      .join(merged, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        when(col("ivs").isNull, col("w")).otherwise(
          filter(col("w"), (_, i) =>
            !exists(col("ivs"), iv => i + 1 >= iv("s") && i + 1 < iv("e"))))
          .as("kept"))
      .select(col("doc_id"), size(col("kept")).as("n_kept"),
        array_join(col("kept"), " ").as("clean_text"))
  }


  /** Sorted-neighborhood near-dup pairs (Hernández & Stolfo 1995): sort
    * the corpus by a blocking key and compare each document only with its
    * next `windowSize − 1` neighbors in sort order — candidate volume is
    * exactly `(windowSize − 1) · N`, linear by construction where even
    * banded LSH is collision-bounded. The complementary blocking
    * strategy to the shingle/signature generators above: it catches
    * near-dups whose edits fall OUTSIDE the compared prefix (they still
    * sort adjacently) and costs one edit-distance evaluation per
    * neighbor pair.
    *
    * The classic pitfall is windows that stop at block/partition
    * boundaries, silently losing cross-boundary neighbors. Here the sort
    * rank is GLOBAL without a global sort: documents range-bucket by the
    * first `rangePrefix` characters of the key (a prefix of the sort key,
    * so range order extends key order), per-range `row_number` windows
    * rank locally, and broadcast cumulative range counts lift local ranks
    * to global ones — the shuffleOrder/sequencePacks two-level pattern.
    * Neighbor pairing is then a plain equi-join on rank (probe side
    * explodes each doc into `windowSize − 1` rank keys — bounded fan-out,
    * perfectly uniform join keys). Per-range window occupancy is the
    * range's document count; `rangePrefix` is the occupancy knob (longer
    * prefix → more, smaller ranges) for corpora whose keys concentrate
    * on few prefixes.
    *
    * Emits (doc_a, doc_b, dist) for neighbor pairs whose
    * `levenshtein(probe_a, probe_b) ≤ maxDist`, probes being the first
    * `probeLen` characters — the bounded-cost comparator; raise
    * `probeLen` for higher precision at linearly higher comparator cost.
    */
  def sortedNeighborhoodPairs(docs: DataFrame, windowSize: Int = 4,
      maxDist: Int = 12, keyLen: Int = 24, probeLen: Int = 40,
      rangePrefix: Int = 2, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(windowSize >= 2, "windowSize must pair each doc with ≥ 1 neighbor")
    require(rangePrefix >= 1 && rangePrefix <= keyLen,
      "rangePrefix must be a prefix of the sort key")
    import org.apache.spark.sql.expressions.Window
    val base = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        substring(col(textCol), 1, probeLen).as("probe"),
        substring(col(textCol), 1, keyLen).as("_key"))
      .withColumn("_rng", substring(col("_key"), 1, rangePrefix))
    // offsets: one row per distinct range prefix (≤ alphabet^rangePrefix)
    // — the only Window.orderBy, over ranges, never documents
    val wr = Window.orderBy(col("_rng"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy(col("_rng")).agg(count(lit(1)).as("cnt"))
      .withColumn("_roff", coalesce(sum(col("cnt")).over(wr), lit(0L)))
      .select(col("_rng"), col("_roff"))
    val wd = Window.partitionBy(col("_rng")).orderBy(col("_key"), col("doc_id"))
    val ranked = base.join(broadcast(offsets), Seq("_rng"))
      .withColumn("rnk", col("_roff") + row_number().over(wd) - 1)
      .select(col("doc_id"), col("probe"), col("rnk"))
    val probes = ranked.select(col("doc_id").as("doc_a"),
        col("probe").as("probe_a"), col("rnk"),
        explode(sequence(lit(1), lit(windowSize - 1))).as("_j"))
      .select(col("doc_a"), col("probe_a"), (col("rnk") + col("_j")).as("rnk"))
    probes
      .join(ranked.select(col("doc_id").as("doc_b"), col("probe").as("probe_b"),
        col("rnk")), Seq("rnk"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("probe_a"), col("probe_b")).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
  }
}
