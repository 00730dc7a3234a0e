package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorOps

/** Product quantization (Jégou, Douze, Schmid, "Product Quantization
  * for Nearest Neighbor Search", TPAMI 2011) — the compression step that
  * completes the ANN ladder (brute → LSH → IVF → int8 → PQ): the vector
  * is split into `m` subvectors, each quantized against its own
  * `k`-centroid codebook, so a dim-D float vector becomes `m` small
  * integers (64 floats → 4 bytes at m=4, k≤256) and search scores
  * against codes + a per-query lookup table instead of raw vectors
  * (asymmetric distance computation, ADC — §IV.A of the paper).
  *
  * Everything is deterministic and engine-replayable, the kmeansCells
  * discipline: seeds are the k smallest vec_ids' subvectors, assignment
  * is an L2-distance argmin with a (dist asc, cell asc) tie-break,
  * centroid updates are exact decimal means. A SQL oracle reproduces
  * codebooks, codes, and ADC ranks bit-for-bit (v10/v11).
  *
  * 100 TB shape: codebooks are tiny (m·k subvectors) and ride every
  * stage as broadcasts; the corpus is touched only by map-side subvector
  * projection plus per-(vec, sub) combinable argmin aggregates — one
  * shuffle of m rows per vector, no window over the corpus, nothing
  * quadratic. ADC never reads corpus vectors at all: it joins the code
  * stream against a broadcast LUT of query×codebook partial products —
  * the whole point of PQ at scale, the scan bandwidth drops by the
  * compression ratio (dim·4 bytes → m codes).
  */
object Pq {

  private def toD(c: Column): Column = VectorOps.toDoubleArray(c)

  /** Map-side subvector projection: m rows (vec_id, sub, se) per vector,
    * sub ∈ [0, m), se = the sub-th length-`subDim` slice. The slice
    * bounds are plain column arithmetic — no lambda captures.
    */
  private[ann] def subvectors(vecs: DataFrame, m: Int, subDim: Int): DataFrame =
    vecs.select(col("vec_id"), col("e"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"))
      .select(col("vec_id"), col("sub"),
        slice(col("e"), col("sub") * subDim + 1, lit(subDim)).as("se"))

  /** Nearest-codebook-entry assignment as a MAP-SIDE argmin (the
    * assignCells discipline, Ann.scala): the per-subspace codebook is
    * packed to one array row and broadcast, and each (vec, sub) row
    * picks its code via `array_min` over (dist, cell) structs — NO
    * exchange. The previous broadcast-join + `groupBy(vec_id, sub)`
    * min_by shape shuffled corpus×m rows CARRYING THE SUBVECTOR ARRAYS
    * once per assignment (every Lloyd round plus the final encode) for
    * an argmin the broadcast side fully determines. Tie-break
    * (dist asc, cell asc) is unchanged and total because cell is unique
    * per candidate; the empty-books case stays empty via the inner
    * equi-join on sub.
    */
  private[ann] def assignCodes(subs: DataFrame, books: DataFrame): DataFrame = {
    val packed = books.groupBy(col("sub"))
      .agg(collect_list(struct(col("cell"), col("ce"))).as("cands"))
    subs.join(broadcast(packed), Seq("sub"))
      .select(col("vec_id"), col("sub"), col("se"),
        array_min(transform(col("cands"), b =>
          struct(VectorOps.l2Dist(col("se"), b.getField("ce")).as("dist"),
            b.getField("cell").as("cell")))).as("best"))
      .select(col("vec_id"), col("sub"), col("se"),
        col("best").getField("cell").as("cell"))
  }

  /** Per-subspace codebooks (sub, cell, ce: array<double>) via `iters`
    * Lloyd rounds over all m subspaces IN ONE PLAN — the subspace index
    * is just another grouping key, so m codebooks train for the price of
    * one pass per round: a broadcast of m·k centroid subvectors against
    * a no-shuffle corpus scan plus one (sub, cell, dim) combinable
    * aggregation. Seeds are the k smallest vec_ids' subvectors (the
    * seed window sorts k·m rows, never the corpus).
    */
  def codebooks(embeddings: DataFrame, dim: Int, m: Int, k: Int,
      iters: Int = 1): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sd = dim / m
    val vecs = embeddings.select(col("vec_id"), toD(col("embedding")).as("e"))
    val seedW = Window.partitionBy(col("sub")).orderBy(col("vec_id"))
    var books = subvectors(vecs.orderBy(col("vec_id")).limit(k), m, sd)
      .select(col("sub"),
        (row_number().over(seedW) - 1).cast("int").as("cell"),
        col("se").as("ce"))
    val subs = subvectors(vecs, m, sd)
    (1 to iters).foreach { _ =>
      // single-exchange wide centroid fold per Lloyd round (r11): the
      // subvector width sd is static here, so the posexplode →
      // groupBy(sub, cell, dim) → groupBy(sub, cell) two-step collapses
      // to one combinable aggregation with identical decimal arithmetic
      // (Ann.centroidVectors).
      books = Ann.centroidVectors(assignCodes(subs, books),
        Seq("sub", "cell"), col("se"), sd)
    }
    books
  }

  /** PQ codes, exploded as (vec_id, sub, code) — the storage layout a
    * columnar index keeps (one small-int column per subspace); use
    * [[packedCodes]] for the array-per-vector view.
    */
  def encode(embeddings: DataFrame, books: DataFrame, dim: Int, m: Int): DataFrame = {
    val sd = dim / m
    val vecs = embeddings.select(col("vec_id"), toD(col("embedding")).as("e"))
    assignCodes(subvectors(vecs, m, sd), books)
      .select(col("vec_id"), col("sub"), col("cell").as("code"))
  }

  /** (vec_id, codes: array<int>) with codes[j] the subspace-j code. */
  def packedCodes(codes: DataFrame): DataFrame =
    codes.groupBy(col("vec_id"))
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("code")))),
        s => s.getField("code")).as("codes"))

  /** ADC top-k: approximate cosine of query q against vector v from
    * codes alone — <q, v̂> = Σ_j <q_j, c_{j,code_j}> and ‖v̂‖² =
    * Σ_j ‖c_{j,code_j}‖², both read from a per-query LUT of the m·k
    * query×centroid partial products. The corpus side touches ONLY the
    * code stream: broadcast-join it to the LUT, per-(query, vec)
    * combinable sum (the m code rows of a vector are co-located after
    * explode, so the partial agg reduces them map-side), then the usual
    * per-query top-k window. Zero-norm guard matches VectorOps.cosine.
    */
  /** Per-query ADC lookup table: for every (query, sub, code), the
    * query-subvector × codebook-entry inner product and the entry's
    * squared norm — m·k rows per query, broadcast by construction.
    */
  private def adcLut(q: DataFrame, books: DataFrame, m: Int, sd: Int): DataFrame =
    broadcast(
      subvectors(q.select(col("query_id").as("vec_id"), col("qe").as("e")), m, sd)
        .select(col("vec_id").as("query_id"), col("sub"), col("se").as("qs"))
        .join(books, Seq("sub"))
        .select(col("query_id"), col("sub"), col("cell").as("code"),
          VectorOps.dot(col("qs"), col("ce")).as("ip"),
          VectorOps.sumSq(col("ce")).as("csq")))

  /** ADC partial sums → approximate cosine → per-query top-k via the
    * k-bounded combinable aggregator (functions.TopKAgg) rather than a
    * per-query window whose partition occupancy is the whole code table
    * per query — map-side partials cap the exchange at ≤ topK rows per
    * (query, partition). Identical ordering and output.
    */
  private def adcRank(scored0: DataFrame, q: DataFrame, topK: Int): DataFrame = {
    val qnorms = broadcast(q.select(col("query_id"), VectorOps.l2Norm(col("qe")).as("qn")))
    val scored = scored0
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("ip")).as("aip"), sqrt(sum(col("csq"))).as("vn"))
      .join(qnorms, Seq("query_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        when(col("qn") * col("vn") === 0.0, lit(0.0))
          .otherwise(col("aip") / (col("qn") * col("vn"))).as("sim"))
    scored
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAgg.topK(topK)(col("sim"), col("neighbor_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("i", "e")))
      .select(col("query_id"), col("e.id").as("neighbor_id"),
        col("e.score").as("sim"), (col("i") + 1).cast("int").as("rank"))
  }

  def adcTopK(embeddings: DataFrame, queries: DataFrame, dim: Int, m: Int,
      k: Int, topK: Int, iters: Int = 1): DataFrame = {
    val sd = dim / m
    val books = codebooks(embeddings, dim, m, k, iters)
    val codes = encode(embeddings, books, dim, m)
    val q = queries.select(col("vec_id").as("query_id"), toD(col("embedding")).as("qe"))
    adcRank(codes.join(adcLut(q, books, m, sd), Seq("sub", "code")), q, topK)
  }

  /** IVF-PQ search (the IVFADC layout of Jégou et al. §V, with shared
    * global codebooks over raw vectors rather than per-cell residual
    * encoding — the "IVF-Flat-PQ" variant; residual encoding is a
    * recall refinement, not a different plan shape): a k-means coarse
    * quantizer routes each query to its `nprobe` nearest cells, and ADC
    * scores ONLY the code stream of those cells. This is the composition
    * a billion-vector index actually runs — neither half suffices alone:
    * IVF bounds WHICH vectors are scanned (nprobe/kCells of the corpus),
    * PQ bounds the BYTES per scanned vector (m codes, never dim floats).
    *
    * 100 TB shape: codes ride with their cell key, so the probe is one
    * equi-join on `cell` against the broadcast-sized routing table
    * (|queries|·nprobe rows), then the broadcast ADC LUT join — the
    * corpus-side stream is scanned once, pruned to the routed cells
    * BEFORE any shuffle, and raw vectors are never read after indexing.
    * The cell assignment feeds two consumers (centroid build and the
    * code join) as plain shared lineage — exchange reuse dedupes the
    * Lloyd chain within the action (the round-7 A/B showed a
    * localCheckpoint on such multi-consumer lineage costs 3× the CPU
    * for zero saved work; a REAL index would be a persisted table).
    */
  def ivfAdcTopK(embeddings: DataFrame, queries: DataFrame, dim: Int, m: Int,
      k: Int, kCells: Int, nprobe: Int, topK: Int, iters: Int = 1): DataFrame = {
    val sd = dim / m
    // NOTE (r11 A/B, refuted alternative): carrying the vector/cell
    // through a kmeansAssigned frame to delete the two corpus joins
    // below was measured SLOWER (v13 3.07 → 3.41 s) — without the
    // vec_id exchange the assignment's map-side cosine chain (2 Lloyd
    // passes × k cells) re-executes once per consumer, while the join
    // shape shares one execution through the reused exchange. The
    // joins stay; the centroid folds are the wide single-exchange form.
    val cells = Ann.kmeansCells(embeddings, kCells, iters, dim)
    val cents = Ann.centroidVectors(embeddings.join(cells, Seq("vec_id")),
      Seq("cell"), col("embedding"), dim)
    val q = queries.select(col("vec_id").as("query_id"), toD(col("embedding")).as("qe"))
    val wRoute = Window.partitionBy(col("query_id")).orderBy(col("csim").desc, col("cell"))
    val routed = q.crossJoin(broadcast(cents))
      .select(col("query_id"), col("cell"),
        VectorOps.cosine(col("qe"), col("ce")).as("csim"))
      .withColumn("rn", row_number().over(wRoute))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("cell"))
    val books = codebooks(embeddings, dim, m, k, iters)
    val codes = encode(embeddings, books, dim, m)
    val probed = codes.join(cells, Seq("vec_id"))
      .join(broadcast(routed), Seq("cell"))
      .join(adcLut(q, books, m, sd), Seq("query_id", "sub", "code"))
    adcRank(probed, q, topK)
  }

  /** Two-stage PQ retrieval: ADC generates `coarseK` candidates per
    * query from codes alone, then ONLY those candidates rerank exactly
    * against full-precision embeddings (same shape as
    * [[Ann.int8RerankKnn]] — coarse pass scans the compressed index,
    * the exact join touches |queries|·coarseK rows, never the corpus).
    * Pure ADC at hard compression is a candidate generator, not a
    * ranker: on the near-random test embeddings recall@10 is 0.30 at
    * m=4/k=16 alone but 0.91 (m=4) / 0.94 (m=8) after exact rerank of
    * the ADC top-128 — `coarseK/topK` is the recall knob.
    */
  def adcRerankTopK(embeddings: DataFrame, queries: DataFrame, dim: Int, m: Int,
      k: Int, topK: Int, coarseK: Int = 32, iters: Int = 1): DataFrame = {
    val coarse = adcTopK(embeddings, queries, dim, m, k, coarseK, iters)
      .select(col("query_id"), col("neighbor_id"))
    Ann.exactRerank(coarse, embeddings, queries, topK)
  }
}
