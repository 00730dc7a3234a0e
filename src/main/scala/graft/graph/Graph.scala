package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph primitives over plain edge-list DataFrames
  * (`src`, `dst` long columns, undirected, src < dst, no duplicates —
  * the shape every pair generator in graft.dedup emits).
  *
  * Cluster/connected-component resolution lives in
  * [[graft.dedup.Dedup.clusters]] (pointer-doubling min-label
  * propagation); this module adds the counting-style primitives a
  * similarity-graph analysis needs on top of the pair streams.
  */
object Graph {

  /** Per-node degree of the undirected edge list: one combinable shuffle
    * over the exploded endpoints.
    */
  def degrees(edges: DataFrame): DataFrame =
    edges.select(explode(array(col("src"), col("dst"))).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("degree"))

  /** Triangle enumeration by degree orientation — the shape that survives
    * skewed similarity graphs (Suri & Vassilvitskii, WWW 2011 "Counting
    * triangles and the curse of the last reducer").
    *
    * A naive wedge join enumerates d(v)² wedges at every node, and a hub
    * node (a boilerplate cluster, a stop-phrase bucket) with d = 10⁶
    * owns 10¹² wedges in one task — the exact hot-key failure the 10M
    * soaks kept finding. Orienting every edge from its (degree, id)-lower
    * endpoint to its higher one makes each triangle countable exactly
    * once AND bounds out-degree by O(√m), so total wedge volume is
    * O(m^{3/2}) no matter how skewed the degree distribution is: the hub
    * keeps its million edges but almost all point INTO it and contribute
    * no wedges.
    *
    * Three shuffles (degree agg, wedge self-join on the low endpoint,
    * closing-edge equi-join); output is each triangle once as
    * (x, y, z), x < y < z by node id.
    */
  def triangles(edges: DataFrame): DataFrame = {
    val deg = degrees(edges)
    // orient each edge from (degree, id)-low to high; carry the head's
    // rank so the wedge join can order its two heads without re-joining.
    // EAGER CHECKPOINT (r11 A/B — VERDICT item 8): the oriented frame
    // feeds THREE consumers (both wedge-join sides + the closing-edge
    // semi-join), so an un-cut lineage re-executes the caller's edge
    // derivation (g1/g4: an md5 self-join over the tripled corpus) and
    // the two degree joins once per consumer. Serialized blocks — the
    // frame is edge-volume-sized and scan-only (the clusters() storage
    // rule).
    val oriented0 = edges
      .join(deg.withColumnRenamed("node", "src").withColumnRenamed("degree", "sdeg"), "src")
      .join(deg.withColumnRenamed("node", "dst").withColumnRenamed("degree", "ddeg"), "dst")
      .select(
        when(col("sdeg") < col("ddeg") ||
          (col("sdeg") === col("ddeg") && col("src") < col("dst")), col("src"))
          .otherwise(col("dst")).as("lo"),
        when(col("sdeg") < col("ddeg") ||
          (col("sdeg") === col("ddeg") && col("src") < col("dst")), col("dst"))
          .otherwise(col("src")).as("hi"),
        greatest(col("sdeg"), col("ddeg")).as("hideg"))
    val oriented = oriented0.localCheckpoint(true,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val o1 = oriented.select(col("lo"), col("hi").as("b"), col("hideg").as("bdeg"))
    val o2 = oriented.select(col("lo"), col("hi").as("c"), col("hideg").as("cdeg"))
    val closing = oriented.select(col("lo").as("b"), col("hi").as("c"))
    o1.join(o2, Seq("lo"))
      // each unordered head pair once, in orientation order (deg, id)
      .filter(col("bdeg") < col("cdeg") ||
        (col("bdeg") === col("cdeg") && col("b") < col("c")))
      .join(closing, Seq("b", "c"), "left_semi")
      .select(
        least(col("lo"), col("b"), col("c")).as("x"),
        (col("lo") + col("b") + col("c") - least(col("lo"), col("b"), col("c"))
          - greatest(col("lo"), col("b"), col("c"))).as("y"),
        greatest(col("lo"), col("b"), col("c")).as("z"))
  }

  /** Synchronous k-core peeling, `rounds` rounds: each round drops every
    * node whose CURRENT degree is below `k`, then the edges touching it.
    * After enough rounds this converges to the k-core — the maximal
    * subgraph where every node keeps ≥ k neighbors, the standard lens
    * for separating template/boilerplate communities (dense, high-core)
    * from chance near-dup collisions (trees and chains, peeled in the
    * first rounds) in a similarity graph.
    *
    * Fixed `rounds` is the driver-checkable contract (the intermediate
    * state is deterministic, so an external engine can replay it round
    * by round); [[kCore]] iterates to the fixpoint. Per round: one
    * combinable degree aggregation plus two semi-joins against the
    * node-sized survivor set — edge-linear, no N² anywhere, and the
    * peel only shrinks the frame. Every round EAGER-checkpoints the
    * surviving edges (serialized blocks — the frame is scan-only and
    * edge-volume-sized, the [[graft.dedup.Dedup.clusters]] storage
    * rule) and frees the superseded generation: each round's plan reads
    * the edge set THREE times (degree agg + both semi-joins), so an
    * un-cut lineage re-executes the upstream pair generator 3^rounds
    * times — measured at 45 s vs 1.1 s for a 3-round peel over the g3
    * fixture's md5 self-join at sf0.1.
    */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame =
    graft.core.AqeHints.withTinyRowAdvisory(edges.sparkSession) {
      val ser = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
      var e = edges.select(col("src"), col("dst")).localCheckpoint(true, ser)
      for (_ <- 1 to rounds) {
        val survivors = degrees(e).filter(col("degree") >= k).select(col("node"))
        val next = e
          .join(survivors.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
          .join(survivors.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
          // the Seq-key join hoists its key first — keep (src, dst) order
          .select(col("src"), col("dst"))
          .localCheckpoint(true, ser)
        graft.core.Checkpoints.unpersistCheckpoint(e)
        e = next
      }
      e
    }

  /** The converged k-core: peel until the edge set is stable. Each
    * round materializes a count (the convergence test) — the peel's
    * round count is bounded by the graph's degeneracy ordering depth,
    * ≤ diameter-ish in practice; `maxIter` guards pathological chains
    * and THROWS rather than returning a half-peeled subgraph as if it
    * were the core.
    */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 50): DataFrame = {
    var e = edges.select(col("src"), col("dst"))
    var n = e.count()
    var iter = 0
    while (iter < maxIter) {
      val next = kCorePeel(e, k, rounds = 1) // checkpointed on return
      val m = next.count()
      // free the superseded generation (no-op for the raw input on the
      // first round) — retention stays one generation over any depth
      graft.core.Checkpoints.unpersistCheckpoint(e)
      if (m == n) return next
      e = next; n = m; iter += 1
    }
    graft.core.Checkpoints.unpersistCheckpoint(e)
    throw new IllegalStateException(
      s"k-core did not converge in $maxIter rounds ($n edges remaining)")
  }

  /** Fixed-round BFS distances from a seed set over the undirected edge
    * list — the seed-propagation primitive (distance-from-trusted-
    * domains is a standard crawl quality signal; distance-from-known-
    * contamination the standard audit one). Returns (node, dist) for
    * every node within `rounds` hops of a seed; unreached nodes are
    * absent, seeds are distance 0, and a node reachable several ways
    * gets the minimum.
    *
    * Per round: one equi-join of the frontier-so-far against the
    * adjacency plus one combinable min — edge-linear, hub-safe (a hub's
    * in-edges meet in a map-side-combinable min, never a cross
    * product). Rounds eager-checkpoint and free the superseded
    * generation (the [[kCorePeel]] discipline: the distance frame is
    * read by the next round's join AND union, so an un-cut lineage
    * doubles per round).
    */
  def bfsDistances(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame =
    graft.core.AqeHints.withTinyRowAdvisory(edges.sparkSession) {
      val ser = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
      // Checkpoint the adjacency ONCE (the [[kCorePeel]] discipline):
      // every round is its own eager action, so a lazy `und` re-executes
      // the caller's edge derivation — for the g5 fixture, an md5
      // self-join over the tripled corpus — once per round.
      val und = edges.select(col("src"), col("dst"))
        .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
        .localCheckpoint(true, ser)
      var dist = seeds.select(col("node")).distinct()
        .withColumn("dist", lit(0L)).localCheckpoint(true, ser)
      for (_ <- 1 to rounds) {
        val next = und.join(dist, und("src") === dist("node"))
          .select(col("dst").as("node"), (col("dist") + 1).as("dist"))
          .unionByName(dist)
          .groupBy(col("node")).agg(min(col("dist")).as("dist"))
          .localCheckpoint(true, ser)
        graft.core.Checkpoints.unpersistCheckpoint(dist)
        dist = next
      }
      graft.core.Checkpoints.unpersistCheckpoint(und)
      dist
    }

  /** Synchronous label propagation (Raghavan et al. 2007), `rounds`
    * fixed iterations with deterministic ties: every node starts
    * labelled by its own id; each round it adopts the label most
    * frequent among its neighbors, ties broken by MINIMUM label.
    * Detects near-dup/template communities the transitive-closure
    * clusters (Dedup.clusters) merge too eagerly — LPA keeps weakly
    * bridged communities apart because one bridge edge is outvoted.
    *
    * Fixed-round semantics on purpose: sync LPA can 2-cycle on
    * bipartite regions, so a fixpoint loop need not terminate; a fixed
    * budget is deterministic at any partitioning (votes are exact
    * counts, ties exact mins) and is how LPA is run in practice.
    *
    * Per round: one equi-join of labels against the adjacency and two
    * combinable aggregations — vote counts groupBy (node, label), then
    * argmax as min(struct(-cnt, label)) — so a hub's votes partial-
    * aggregate map-side and nothing materializes a neighborhood in one
    * task. Rounds eager-checkpoint serialized and free the superseded
    * generation (the [[bfsDistances]] discipline). Parallel edges count
    * as extra votes; feed a deduped edge list for simple-graph voting.
    *
    * AQE (measured, SCALE.md "label_propagation at 40M"): vote rows
    * are 16-byte longs but CPU-heavy to aggregate, so AQE's BYTE-based
    * partition coalescing (advisory 64 MB) rebuilds the few-fat-tasks
    * pathology on any requested partition count — at 40M edges,
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes=8m` was 2.2×
    * wall and 2.1× CPU BETTER than the default. Since round 9 the 8 MB
    * advisory is applied BY DEFAULT for the duration of the rounds via
    * [[graft.core.AqeHints.withTinyRowAdvisory]] (also [[kCorePeel]],
    * [[bfsDistances]], and [[graft.dedup.Dedup.clusters]]); [[pageRank]]
    * stays lazy — its plan executes at the caller's sink, outside any
    * scope this function could manage, so callers materializing huge
    * pageRank runs should apply the same advisory at their sink.
    */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame =
    graft.core.AqeHints.withTinyRowAdvisory(edges.sparkSession) {
      val ser = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
      // Checkpoint the adjacency ONCE (the [[kCorePeel]] discipline):
      // each of the `rounds` eager actions PLUS the label seeding would
      // otherwise re-execute the caller's edge derivation from scratch.
      val und = edges.select(col("src"), col("dst"))
        .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
        .localCheckpoint(true, ser)
      var labels = und.select(col("src").as("node")).distinct()
        .withColumn("label", col("node")).localCheckpoint(true, ser)
      for (_ <- 1 to rounds) {
        val next = und.join(labels, und("src") === labels("node"))
          .groupBy(col("dst"), col("label"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy(col("dst").as("node"))
          .agg(min(struct((-col("cnt")).as("neg_cnt"), col("label"))).as("best"))
          .select(col("node"), col("best").getField("label").as("label"))
          .localCheckpoint(true, ser)
        graft.core.Checkpoints.unpersistCheckpoint(labels)
        labels = next
      }
      graft.core.Checkpoints.unpersistCheckpoint(und)
      labels
    }

  /** Per-node local clustering coefficient over the undirected edge
    * list: 2·t(v) / (deg(v)·(deg(v)−1)), 0 for degree-1 nodes. High
    * transitivity marks template communities (everything near-dups
    * everything — a mirror farm, a boilerplate family); low coefficient
    * at high degree marks hub artifacts (one page accidentally similar
    * to many unrelated ones). Triangle counts come from the
    * degree-oriented [[triangles]] join (O(m^{3/2}) wedges), degrees
    * from one combinable agg; the rational is exact in doubles far
    * beyond any realistic degree.
    */
  def clusteringCoefficient(edges: DataFrame): DataFrame = {
    val t = triangles(edges)
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
    degrees(edges)
      .join(t, Seq("node"), "left_outer")
      .na.fill(0L, Seq("triangles"))
      .select(col("node"), col("degree"), col("triangles"),
        when(col("degree") < 2, lit(0.0))
          .otherwise(lit(2.0) * col("triangles") /
            (col("degree") * (col("degree") - 1))).as("coeff"))
  }

  /** Fixed-iteration PageRank over the undirected edge list, in exact
    * fixed-point arithmetic: ranks are longs scaled by `scale`, each
    * node splits its rank over its neighbors by integer division, and
    * the damping step is `(15·scale + 85·Σcontrib) div 100` — every
    * operation is integral, so the result is bit-identical under any
    * partitioning, AQE re-plan, or engine (float PageRank is
    * summation-order-dependent and cannot be hash-compared across
    * engines; the div-truncation "leak" is the price of determinism and
    * is bounded by deg/scale per node per iteration).
    *
    * Each iteration is one equi-join of the (cached-lineage-friendly)
    * adjacency against the current rank vector plus one combinable sum —
    * the rank vector is node-sized, never edge-sized, and hot hubs
    * concentrate into a map-side-combinable aggregation exactly like any
    * skewed groupBy. For iteration counts beyond the default few, cut
    * lineage with localCheckpoint every ~10 rounds (the
    * [[graft.dedup.Dedup.clusters]] discipline).
    */
  def pageRank(edges: DataFrame, iterations: Int = 3, scale: Long = 1000000L): DataFrame = {
    val directed = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
    val deg = directed.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val adjacency = directed.join(deg, "src")
    var ranks = deg.select(col("src").as("node"), lit(scale).as("rank"))
    for (_ <- 1 to iterations) {
      ranks = adjacency
        .join(ranks, adjacency("src") === ranks("node"))
        .select(col("dst"), expr("rank div deg").as("contrib"))
        .groupBy(col("dst"))
        .agg(sum(col("contrib")).as("s"))
        .select(col("dst").as("node"),
          expr(s"(15 * $scale + 85 * s) div 100").as("rank"))
    }
    ranks
  }
}
