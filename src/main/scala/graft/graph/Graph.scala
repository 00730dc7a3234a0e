package graft.graph

import graft.core.Fixpoint
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

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

  /** Edge-volume-sized frames are stored serialized (the Fixpoint rule). */
  private val Ser = StorageLevel.MEMORY_AND_DISK_SER

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
    // frame is edge-volume-sized and scan-only (the Fixpoint storage
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
    val oriented = oriented0.localCheckpoint(true, Ser)
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

  /** The symmetric edge list (src, dst) ∪ (dst, src) of an undirected
    * (`src`, `dst`) edge frame — the adjacency every neighbor join reads.
    */
  def undirected(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))

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
    * peel only shrinks the frame. Rounds run on [[graft.core.Fixpoint]].
    */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame =
    Fixpoint.run(edges.select(col("src"), col("dst")), Ser, rounds)((e, _) => peel(e, k))._1

  /** The converged k-core: peel until the edge set is stable. The peel's
    * round count is bounded by the graph's degeneracy ordering depth,
    * ≤ diameter-ish in practice; `maxIter` guards pathological chains
    * and THROWS rather than returning a half-peeled subgraph as if it
    * were the core. Rounds run on [[graft.core.Fixpoint]], converging on
    * an unchanged observed edge count.
    */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 50): DataFrame =
    Fixpoint.run(edges.select(col("src"), col("dst")), Ser, maxIter,
      Some(Fixpoint.Unchanged(count(lit(1)), n => s"k-core has $n edges remaining")))(
      (e, _) => peel(e, k))._1

  /** One peel round: the edges whose endpoints both have degree ≥ k. */
  private def peel(e: DataFrame, k: Int): DataFrame = {
    val survivors = degrees(e).filter(col("degree") >= k).select(col("node"))
    e.join(survivors.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
      .join(survivors.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
      // the Seq-key join hoists its key first — keep (src, dst) order
      .select(col("src"), col("dst"))
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
    * product). Every round re-reads the adjacency, so it is
    * checkpointed once; rounds run on [[graft.core.Fixpoint]].
    */
  def bfsDistances(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame =
    Fixpoint.withCheckpoint(undirected(edges), Ser) { und =>
      val seeded = seeds.select(col("node")).distinct().withColumn("dist", lit(0L))
      Fixpoint.run(seeded, Ser, rounds) { (dist, _) =>
        und.join(dist, und("src") === dist("node"))
          .select(col("dst").as("node"), (col("dist") + 1).as("dist"))
          .unionByName(dist)
          .groupBy(col("node")).agg(min(col("dist")).as("dist"))
      }._1
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
    * task. The seeding and every round re-read the adjacency, so it is
    * checkpointed once; rounds run on [[graft.core.Fixpoint]], whose
    * tiny-row advisory was measured on this loop. Parallel edges count
    * as extra votes; feed a deduped edge list for simple-graph voting.
    */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame =
    Fixpoint.withCheckpoint(undirected(edges), Ser) { und =>
      val seeded = und.select(col("src").as("node")).distinct().withColumn("label", col("node"))
      Fixpoint.run(seeded, Ser, rounds) { (labels, _) =>
        und.join(labels, und("src") === labels("node"))
          .groupBy(col("dst"), col("label"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy(col("dst").as("node"))
          .agg(min(struct((-col("cnt")).as("neg_cnt"), col("label"))).as("best"))
          .select(col("node"), col("best").getField("label").as("label"))
      }._1
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
    * skewed groupBy. The plan stays lazy and executes at the caller's
    * sink (no checkpoint, no tiny-row advisory); for iteration counts
    * beyond the default few, run the rounds on [[graft.core.Fixpoint]]
    * instead, which cuts lineage per round.
    */
  def pageRank(edges: DataFrame, iterations: Int = 3, scale: Long = 1000000L): DataFrame = {
    val directed = undirected(edges)
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
