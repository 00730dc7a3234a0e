package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorOps
import graft.functions.Exact.decSum

/** Approximate-nearest-neighbor search over embedding columns
  * (`array<float>` → double math): brute-force as the exact baseline,
  * sign-projection LSH buckets and IVF (centroid cells) as the scale
  * paths. Everything is codegen'd column folds — no UDFs — and every
  * plan shape is chosen for the 100 TB case: query sets broadcast,
  * candidate generation shuffles on bucket/cell keys, never N² pairs.
  *
  * The oracle-checked queries (graft.queries.VectorQueries v1–v5)
  * delegate here.
  */
object Ann {

  private def toD(c: Column): Column = VectorOps.toDoubleArray(c)

  /** Exact top-k neighbors for a (broadcastable) query set: one
    * no-shuffle map stage over the candidates + the k-bounded combinable
    * top-k aggregator (functions.TopKAgg) — NOT a per-query window,
    * whose partition occupancy is the whole corpus per query: the map
    * side reduces every partition to ≤ k rows per query BEFORE the
    * exchange, so the shuffle carries ≤ k·queries·partitions rows
    * instead of the scored corpus. Ordering (sim DESC, neighbor_id) and
    * output are identical to the window form (AnnSpec pins recall and
    * the int8 coarseK ≥ N equality against this).
    */
  def bruteForceKnn(candidates: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val sim = VectorOps.cosine(col("qe"), col("ne"))
    candidates.select(col("vec_id").as("neighbor_id"), toD(col("embedding")).as("ne"))
      .crossJoin(broadcast(
        queries.select(col("vec_id").as("query_id"), toD(col("embedding")).as("qe"))))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), sim.as("sim"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAgg.topK(k)(col("sim"), col("neighbor_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("i", "e")))
      .select(col("query_id"), col("e.id").as("neighbor_id"),
        col("e.score").as("sim"), (col("i") + 1).cast("int").as("rank"))
  }

  /** Deterministic sparse hyperplane coefficient for (table, bit, dim):
    * 0 for ~3 of 4 dims (sparse random projection à la Achlioptas — only
    * the sign of the dot product matters, so the scale constant is
    * dropped), else ±1. A pure integer mix, so the Spark plan and the SQL
    * oracle bake in identical hyperplanes.
    */
  def coeff(table: Int, bit: Int, dim: Int): Int = {
    var x = table * 0x9E3779B9 + bit * 0x85EBCA6B + dim * 0xC2B2AE35
    x ^= x >>> 16; x *= 0x45D9F3B; x ^= x >>> 13; x *= 0x45D9F3B; x ^= x >>> 16
    if ((x & 3) != 0) 0 else if (((x >>> 2) & 1) == 0) 1 else -1
  }

  /** The non-zero (dim, sign) terms of hyperplane (table, bit); never
    * empty (an all-zero hyperplane would waste the bit).
    */
  def hyperplaneTerms(table: Int, bit: Int, dim: Int): Seq[(Int, Int)] = {
    val terms = (0 until dim).flatMap { d =>
      val c = coeff(table, bit, d)
      if (c == 0) None else Some((d, c))
    }
    if (terms.nonEmpty) terms else Seq(((table + bit) % dim, 1))
  }

  /** `bits`-wide random-hyperplane sign code for one LSH table: bit b is
    * the sign of the sparse ±1 dot product with hyperplane (table, b).
    * The dot is a left-fold of additions/subtractions in term order, so
    * an oracle spelling the same chain reproduces it bit-for-bit.
    * `embedding` must already be an array<double>. Implemented as a
    * native expression (HyperplaneCodeExpression) — the equivalent
    * composed fold generates bits × terms inline code and trips Janino's
    * method limits.
    */
  def hyperplaneCode(embedding: Column, dim: Int, bits: Int, table: Int): Column =
    HyperplaneCodeExpression(embedding, dim, bits, table)

  /** Oracle twin of [[hyperplaneCode]]: ANSI SQL computing the identical
    * `bits`-wide sign code for one table over a DOUBLE[] column named
    * `arr` (1-indexed), spelling out the same left-fold term chains so a
    * SQL engine reproduces the Spark code bit-for-bit.
    */
  def hyperplaneCodeSql(table: Int, bits: Int, dim: Int, arr: String = "e"): String = {
    def dotSql(b: Int): String =
      "0.0" + hyperplaneTerms(table, b, dim).map { case (d, c) =>
        (if (c > 0) " + " else " - ") + s"$arr[${d + 1}]"
      }.mkString
    (0 until bits)
      .map(b => s"(CASE WHEN (${dotSql(b)}) > 0 THEN ${1 << b} ELSE 0 END)")
      .mkString(" + ")
  }

  /** Candidate pairs from `tables` independent LSH tables of 2^bits
    * buckets each, similarity filtered. The join shuffles on
    * (table_no, bucket) — with 16-bit codes the per-table bucket space is
    * 65536 and grows with the `bits` parameter, so in-bucket pair counts
    * track true neighbor density instead of N²/constant (the failure mode
    * of a fixed 8-bit code); independent tables recover the recall a
    * single long code gives up.
    *
    * Vectors ride the band-key shuffle so exchange volume is bounded by
    * the corpus (N·tables·dim), not by candidate volume (SCALE.md "LSH
    * pair-generation payload tradeoff" measures the ids-only rejoin plan).
    */
  def lshPairs(embeddings: DataFrame, dim: Int = 64, bits: Int = 16, tables: Int = 4,
      minSim: Double = 0.2): DataFrame = {
    val c = embeddings.select(col("vec_id"), toD(col("embedding")).as("e"))
      .select(col("vec_id"), col("e"),
        posexplode(array((0 until tables).map(t => hyperplaneCode(col("e"), dim, bits, t)): _*))
          .as(Seq("table_no", "bucket")))
    val sim = VectorOps.cosine(col("a.e"), col("b.e"))
    c.alias("a")
      .join(c.alias("b"),
        col("a.table_no") === col("b.table_no") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"), sim.as("sim"))
      .filter(col("sim") >= minSim)
      .distinct()
  }

  /** Per-cell centroids as (cell, dim, centroid) — exact decimal means so
    * any engine reproduces them bit-for-bit. One map-side-combinable
    * shuffle on (cell, dim).
    */
  def centroidComponents(embeddings: DataFrame, cellCol: String): DataFrame =
    embeddings
      .select(col(cellCol).as("cell"), posexplode(col("embedding")).as(Seq("dim0", "v")))
      .groupBy(col("cell"), (col("dim0") + 1).as("dim"))
      .agg((decSum(col("v").cast("double")) / count(lit(1))).as("centroid"))

  /** Centroids assembled into vectors: (cell, ce: array<double>). */
  def centroids(embeddings: DataFrame, cellCol: String): DataFrame =
    centroidComponents(embeddings, cellCol)
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("centroid")))),
        s => s.getField("centroid")).as("ce"))

  /** Centroid vectors via ONE wide combinable aggregation (r11, guide
    * §2.1/§2.3): when the vector width is statically known, the
    * two-step shape ([[centroidComponents]]' posexplode →
    * groupBy(key, dim) decimal mean → groupBy(key) collect/sort) pays
    * two exchanges and a ×dim row blowup whose (key, dim) hashing
    * dominates the actual arithmetic. Here each component is its own
    * `sum(decimal)` aggregate in a single groupBy(keys) — identical
    * arithmetic element for element (cast double → decimal(30,10) sum,
    * cast back, divide by the group count), so results are bit-equal
    * under any partitioning, but the plan is one exchange carrying one
    * partial row per (key, partition) and zero exploded rows.
    * Assumes uniform-width vectors (every caller's contract; a ragged
    * array would change the per-component count semantics vs the
    * explode shape).
    */
  private[ann] def centroidVectors(rows: DataFrame, keys: Seq[String],
      vec: Column, dim: Int): DataFrame = {
    require(dim > 0, s"centroidVectors needs a positive dim, got $dim")
    val sums = (0 until dim).map(i =>
      decSum(element_at(vec, i + 1).cast("double")).as(s"_cs$i"))
    val aggs = sums :+ count(lit(1)).as("_cn")
    rows.groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select((keys.map(col) :+
        array((0 until dim).map(i => col(s"_cs$i") / col("_cn")): _*).as("ce")): _*)
  }

  /** Deterministic k-means cell assignment — the coarse quantizer that
    * makes IVF self-contained (ivfSearch's cell column no longer has to
    * be caller-supplied; C scales with the corpus by choosing k). Lloyd
    * iterations with engine-reproducible steps: seeds are the k smallest
    * vec_ids' vectors, assignment is cosine argmax with a (sim desc,
    * cell) tie-break, centroid updates are exact decimal means — so a
    * SQL oracle replays the identical arithmetic. Each round is one
    * broadcast of k centroid vectors (KBs–MBs) against a no-shuffle
    * corpus scan plus one (cell, dim) map-side-combinable aggregation;
    * `iters` is fixed (no driver-side convergence loop).
    */
  def kmeansCells(embeddings: DataFrame, k: Int, iters: Int = 1,
      dim: Int = 0): DataFrame =
    kmeansAssigned(embeddings, k, iters, dim).select(col("vec_id"), col("cell"))

  /** As [[kmeansCells]] but keeping the double-array vector column on
    * the assignment: (vec_id, e, cell). Lets a composition (ivfAdcTopK)
    * build post-assignment centroids and cell-keyed code streams
    * WITHOUT re-joining the corpus on vec_id — the assignment is pure
    * map-side lineage over the scan, so carrying `e` costs nothing and
    * each downstream corpus join it replaces was two exchanges plus a
    * sort (r11).
    */
  private[graft] def kmeansAssigned(embeddings: DataFrame, k: Int,
      iters: Int = 1, dim: Int = 0): DataFrame = {
    val vecs = embeddings.select(col("vec_id"), toD(col("embedding")).as("e"))
    // the global-orderBy window below funnels through ONE task — fine
    // here and only here, because its input is the k seed rows the
    // TakeOrderedAndProject limit already reduced (k ≪ corpus, chosen by
    // the caller); never apply this shape to a corpus-sized frame
    val seedW = Window.orderBy(col("vec_id"))
    var cents = vecs.orderBy(col("vec_id")).limit(k)
      .select((row_number().over(seedW) - 1).cast("int").as("cell"), col("e").as("ce"))
    var assigned = assignCells(vecs, cents)
    (1 to iters).foreach { _ =>
      // dim > 0 (caller knows the vector width): single-exchange wide
      // centroid fold — bit-identical arithmetic, half the exchanges,
      // no ×dim explode (see centroidVectors). dim = 0 keeps the
      // width-agnostic explode shape.
      cents =
        if (dim > 0) centroidVectors(assigned, Seq("cell"), col("e"), dim)
        else {
          val comps = assigned
            .select(col("cell"), posexplode(col("e")).as(Seq("dim0", "v")))
            .groupBy(col("cell"), (col("dim0") + 1).as("dim"))
            .agg((decSum(col("v")) / count(lit(1))).as("centroid"))
          comps.groupBy(col("cell"))
            .agg(transform(array_sort(collect_list(struct(col("dim"), col("centroid")))),
              s => s.getField("centroid")).as("ce"))
        }
      assigned = assignCells(vecs, cents)
    }
    assigned.select(col("vec_id"), col("e"), col("cell"))
  }

  /** Nearest-centroid assignment as a MAP-SIDE argmax, no exchange at
    * all: the k centroids are packed into ONE broadcast row (k is the
    * caller's coarse-quantizer size — KBs to MBs), and each vector picks
    * its cell via `array_max` over the per-candidate (sim, −cell)
    * structs. The previous shape (broadcast crossJoin to N×k candidate
    * rows, then a `groupBy(vec_id).max_by` whose partials reduced
    * map-side) still paid one full-corpus exchange carrying the RAW
    * VECTORS per Lloyd round — at iters rounds the corpus crossed the
    * wire iters+1 times for an argmin the broadcast side fully
    * determines. Tie-break matches the old aggregate exactly:
    * (sim desc, cell asc) encoded as max over struct(sim, −cell) —
    * total because cell is unique per candidate — and the kernel
    * arithmetic is the same [[VectorOps.cosine]] evaluated per element
    * (tight interpreted loop; the HOF lambda itself is k boxed calls
    * per row, amortized against removing the exchange). The empty-cents
    * filter keeps the degenerate case identical to the old crossJoin
    * (no centroids → no output rows, not null cells).
    */
  private[ann] def assignCells(vecs: DataFrame, cents: DataFrame): DataFrame = {
    val packed = cents
      .agg(collect_list(struct(col("cell"), col("ce"))).as("cands"))
      .filter(size(col("cands")) > 0)
    vecs.crossJoin(broadcast(packed))
      .select(col("vec_id"), col("e"),
        array_max(transform(col("cands"), c =>
          struct(VectorOps.cosine(col("e"), c.getField("ce")).as("sim"),
            (-c.getField("cell")).as("neg_cell")))).as("best"))
      .select(col("vec_id"), col("e"),
        (-col("best").getField("neg_cell")).as("cell"))
  }

  /** Symmetric int8 scalar quantization of the embedding column — the
    * 4× storage/bandwidth compressor an embedding store runs before
    * indexing: per-vector scale = maxabs/127, code_i = round(v_i·127 /
    * maxabs) ∈ [−127, 127], reconstruction v̂_i = code_i·scale with
    * per-component error ≤ scale/2. Zero vectors quantize to zero codes
    * with scale 0. Entirely map-side.
    *
    * The per-vector maxabs is PROJECTED before the code transform — a
    * lambda capturing the `array_max(transform(…))` expression inline
    * would re-reduce the whole vector once per component (O(dim²) per
    * row, see TextQuality.wordKgrams).
    */
  def quantizeInt8(embeddings: DataFrame, embCol: String = "embedding"): DataFrame =
    embeddings
      .withColumn("_e", toD(col(embCol)))
      .withColumn("_maxabs", array_max(transform(col("_e"), x => abs(x))))
      .withColumn("codes", when(col("_maxabs") > 0,
          transform(col("_e"), x => round(x * lit(127.0) / col("_maxabs")).cast("int")))
        .otherwise(transform(col("_e"), _ => lit(0))))
      .withColumn("scale", when(col("_maxabs") > 0, col("_maxabs") / 127.0)
        .otherwise(lit(0.0)))
      .drop("_e", "_maxabs")

  /** Two-stage compressed retrieval over the int8-quantized corpus: a
    * coarse top-`coarseK` pass scores queries against RECONSTRUCTED
    * vectors (`code · scale` — the 4× smaller representation that is
    * what a 100 TB index actually scans), then the survivors rerank
    * EXACTLY against the full-precision embeddings. Scoring is
    * asymmetric (ADC-style): queries stay full precision. Returns the
    * exact top-k OF the coarse candidate set — `coarseK/k` is the
    * compression-recall knob, and with coarseK ≥ corpus size the result
    * equals bruteForceKnn exactly (AnnSpec locks both properties).
    */
  def int8RerankKnn(embeddings: DataFrame, queries: DataFrame, k: Int,
      coarseK: Int = 32): DataFrame = {
    val recon = quantizeInt8(embeddings).select(col("vec_id"),
      transform(col("codes"), c => c.cast("double") * col("scale")).as("embedding"))
    val coarse = bruteForceKnn(recon, queries, coarseK)
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(coarse, embeddings, queries, k)
  }

  /** The exact second stage every two-stage retrieval shares: join the
    * coarse (query_id, neighbor_id) candidates to the full-precision
    * embeddings, score by cosine, and keep each query's top `k` (sim
    * desc, neighbor_id asc). Queries broadcast: they are the small side.
    */
  private[ann] def exactRerank(coarse: DataFrame, embeddings: DataFrame,
      queries: DataFrame, k: Int): DataFrame = {
    val sim = VectorOps.cosine(col("qe"), col("ne"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    coarse
      .join(embeddings.select(col("vec_id").as("neighbor_id"),
        toD(col("embedding")).as("ne")), Seq("neighbor_id"))
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        toD(col("embedding")).as("qe"))), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), sim.as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Sign-bit (1-bit) signature of an embedding: bit i set iff
    * component i > 0, packed into one Long — 64× smaller than the
    * float[64] it summarizes, the billion-vector candidate layout one
    * rung below int8 (64 bits vs 64 bytes vs 256 bytes per vector).
    * Same static-unroll shape as [[graft.dedup.Dedup.simhash]]'s bit
    * votes: 64 codegen'd when-terms OR'd (bitwiseOR, not +, because bit
    * 63 is Long.MinValue and ANSI addition would overflow-check).
    */
  def binarySig(e: Column, dim: Int): Column = {
    require(dim >= 1 && dim <= 64, "binary signatures pack into one Long; dim must be <= 64")
    (0 until dim).map(i => when(element_at(e, i + 1) > 0, lit(1L << i)).otherwise(0L))
      .reduce(_ bitwiseOR _)
  }

  /** Two-stage retrieval over 1-bit signatures: coarse top-`coarseK`
    * per query by Hamming distance between sign signatures (xor +
    * bit_count over Longs — the cheapest possible scan per candidate),
    * then exact cosine rerank of the survivors. Asymmetric like
    * [[int8RerankKnn]]: queries stay full precision for the rerank. The
    * coarse ranking is the k-bounded combinable [[bruteForceKnn]] shape
    * (TopKAgg on (−hamming, id) — never a corpus-occupancy window), so
    * the scan shuffles ≤ coarseK·queries·partitions rows of
    * (query, id, hamming) longs. With coarseK ≥ corpus size the result
    * equals bruteForceKnn exactly (AnnSpec locks it); at production
    * sizes coarseK/k is the recall knob, with 1-bit recall sitting
    * below int8's for the same coarseK — the price of 8× further
    * compression.
    */
  def binaryRerankKnn(embeddings: DataFrame, queries: DataFrame, k: Int,
      coarseK: Int = 32, dim: Int = 64): DataFrame = {
    // a vector wider than dim would sign only its first dim components
    // and silently degrade coarse recall (unlike int8RerankKnn, which
    // covers the full vector); a narrower one would read element_at
    // nulls as unset bits — both are caller errors, so fail the job
    // loudly instead (checked per row, codegen'd, no extra pass)
    def checkedSig(e: Column): Column =
      when(size(e) === dim, binarySig(e, dim))
        .otherwise(raise_error(concat(
          lit(s"binaryRerankKnn: embedding length "), size(e).cast("string"),
          lit(s" != dim $dim — sign bits would cover only the first $dim components"))))
    val cand = embeddings.select(col("vec_id").as("neighbor_id"),
      checkedSig(toD(col("embedding"))).as("nsig"))
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      checkedSig(toD(col("embedding"))).as("qsig")))
    // ranking key: hamming ASC with id-ascending ties = TopKAgg's
    // (score DESC, id ASC) on the negated distance
    val coarse = cand.crossJoin(q)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (-bit_count(col("qsig").bitwiseXOR(col("nsig")))).cast("double").as("score"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAgg.topK(coarseK)(col("score"), col("neighbor_id")).as("top"))
      .select(col("query_id"), explode(col("top").getField("id")).as("neighbor_id"))
    exactRerank(coarse, embeddings, queries, k)
  }

  /** IVF search: route each query to its `nprobe` nearest centroid cells,
    * then exact top-k within those cells only. The fine search shuffles on
    * the cell key; with C cells it scans ~nprobe/C of the corpus per
    * query. nprobe=1 is the cheapest but loses neighbors sitting just
    * across a cell boundary — the first recall complaint a real user
    * files; nprobe=2–4 recovers most boundary losses for a linear (not
    * quadratic) candidate-budget increase. Every vector lives in exactly
    * one cell, so probing more cells never duplicates a candidate and the
    * top-k window needs no dedup.
    */
  def ivfSearch(embeddings: DataFrame, cellCol: String, queries: DataFrame, k: Int,
      nprobe: Int = 1): DataFrame = {
    val cents = centroids(embeddings, cellCol)
    val toCent = VectorOps.cosine(col("qe"), col("ce"))
    val wAssign = Window.partitionBy(col("query_id")).orderBy(col("csim").desc, col("cell"))
    val assigned = queries
      .select(col("vec_id").as("query_id"), toD(col("embedding")).as("qe"))
      .crossJoin(broadcast(cents))
      .select(col("query_id"), col("qe"), col("cell"), toCent.as("csim"))
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("qe"), col("cell"))

    val sim = VectorOps.cosine(col("qe"), col("ne"))
    // fine-search top-k in two bounded phases: a per-(query, probed
    // cell) combinable top-k flattens each cell's candidate stream
    // map-side (per-query window occupancy would otherwise be
    // nprobe·N/C — linear in the corpus at fixed cell count), then the
    // final per-query window ranks at most nprobe·k survivors. Every
    // global winner wins its cell, so the result is identical to the
    // single-window form; `cell` rides through phase 1's group key.
    val wTop = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    embeddings
      .select(col(cellCol).as("cell"), col("vec_id").as("neighbor_id"),
        toD(col("embedding")).as("ne"))
      .join(assigned, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("cell"), col("neighbor_id"), sim.as("sim"))
      .groupBy(col("query_id"), col("cell"))
      .agg(graft.functions.TopKAgg.topK(k)(col("sim"), col("neighbor_id")).as("top"))
      .select(col("query_id"), col("cell"), explode(col("top")).as("e"))
      .select(col("query_id"), col("cell"), col("e.id").as("neighbor_id"),
        col("e.score").as("sim"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
  }
}
