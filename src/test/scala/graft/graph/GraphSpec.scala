package graft.graph

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {

  import spark.implicits._

  private def edgesDf(es: (Long, Long)*) =
    es.toDF("src", "dst")

  behavior of "Graph.triangles"

  it should "enumerate each triangle of a clique exactly once" in {
    // K4 on {1,2,3,4} → C(4,3) = 4 triangles
    val k4 = edgesDf((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val got = Graph.triangles(k4).as[(Long, Long, Long)].collect().toSet
    got shouldBe Set((1L, 2L, 3L), (1L, 2L, 4L), (1L, 3L, 4L), (2L, 3L, 4L))
  }

  it should "find no triangles in a star, even at a high-degree hub" in {
    // hub 0 with 50 leaves: d(hub)=50 but orientation points leaves→hub,
    // so no wedge forms at the hub — the skew-survival property
    val star = edgesDf((1L to 50L).map(i => (0L, i)): _*)
    Graph.triangles(star).count() shouldBe 0L
  }

  it should "match the naive three-way join on a pseudo-random graph" in {
    // deterministic irregular graph on 60 nodes: ring + distance-2
    // chords (guaranteed triangles) + scattered long-range edges
    val edges = spark.range(0, 60)
      .selectExpr("id as src",
        "explode(array((id + 1) % 60, (id + 2) % 60, (id * id + 7 * id + 3) % 60)) as dst")
      .selectExpr("least(src, dst) as src", "greatest(src, dst) as dst")
      .filter($"src" < $"dst").distinct()
    val naive = {
      val e = edges
      e.as("e1")
        .join(e.as("e2"), col("e1.dst") === col("e2.src"))
        .join(e.as("e3"),
          col("e3.src") === col("e1.src") && col("e3.dst") === col("e2.dst"), "left_semi")
        .select(col("e1.src").as("x"), col("e1.dst").as("y"), col("e2.dst").as("z"))
        .as[(Long, Long, Long)].collect().toSet
    }
    val got = Graph.triangles(edges).as[(Long, Long, Long)].collect().toSet
    got shouldBe naive
    got.size should be > 0
  }

  behavior of "Graph.pageRank"

  it should "match a driver-side fixed-point reference on a small graph" in {
    val es = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 3L), (3L, 4L), (0L, 4L))
    val scale = 1000000L
    // independent reference: same integer fixed-point recurrence
    val adj = es.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val deg = adj.view.mapValues(_.size.toLong).toMap
    var r = adj.keys.map(_ -> scale).toMap
    for (_ <- 1 to 3) {
      val contrib = adj.toSeq.flatMap { case (u, ns) => ns.map(v => v -> r(u) / deg(u)) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      r = r.keys.map(n => n -> (15L * scale + 85L * contrib.getOrElse(n, 0L)) / 100L).toMap
    }
    val got = Graph.pageRank(edgesDf(es: _*), iterations = 3, scale = scale)
      .as[(Long, Long)].collect().toMap
    got shouldBe r
  }

  it should "read its checkpointed orientation as three scans, with no degree aggregate under them" in {
    // the orientation feeds both wedge-join sides and the closing-edge
    // semi-join; uncut, each consumer re-runs the degree aggregate and
    // the caller's edge lineage
    val p = Graph.triangles(edgesDf((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)))
      .queryExecution.executedPlan.toString
    "Scan ExistingRDD".r.findAllIn(p).size shouldBe 3
    p should not include "HashAggregate"
  }

  it should "be invariant to partitioning (exact integer arithmetic)" in {
    val edges = spark.range(0, 300)
      .selectExpr("id % 40 as src", "(id * 13 + 5) % 40 as dst")
      .filter($"src" < $"dst").distinct()
    val a = Graph.pageRank(edges.repartition(1), 3).as[(Long, Long)].collect().toMap
    val b = Graph.pageRank(edges.repartition(7), 3).as[(Long, Long)].collect().toMap
    a shouldBe b
  }

  behavior of "Graph.kCorePeel / kCore"

  // triangle {1,2,3} plus a tail 3-4-5-6: the triangle is the 2-core;
  // the tail peels one node per round from the free end
  private val coreEdges = edgesDf((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))

  it should "peel exactly one frontier per round" in {
    def nodes(df: org.apache.spark.sql.DataFrame): Set[Long] =
      Graph.degrees(df).select($"node").as[Long].collect().toSet
    nodes(Graph.kCorePeel(coreEdges, 2, 1)) shouldBe Set(1L, 2L, 3L, 4L, 5L) // 6 dropped
    nodes(Graph.kCorePeel(coreEdges, 2, 2)) shouldBe Set(1L, 2L, 3L, 4L)     // then 5
    nodes(Graph.kCorePeel(coreEdges, 2, 3)) shouldBe Set(1L, 2L, 3L)         // then 4
  }

  it should "converge to the maximal k-core, not the first stable-looking prefix" in {
    val core = Graph.kCore(coreEdges, 2)
      .as[(Long, Long)].collect().toSet
    core shouldBe Set((1L, 2L), (2L, 3L), (1L, 3L))
    // 3-core of a triangle is empty
    Graph.kCore(coreEdges, 3).count() shouldBe 0L
  }

  it should "throw rather than return a half-peeled graph when maxIter is too small" in {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[IllegalStateException] {
      Graph.kCore(coreEdges, 2, maxIter = 1)
    }
    // the throw frees the last peeled generation
    spark.sparkContext.getPersistentRDDs.keySet.diff(before) shouldBe empty
  }

  behavior of "Graph.bfsDistances"

  it should "expand one hop per round, keep minima, and omit unreached nodes" in {
    // path 1-2-3-4-5-6 plus a shortcut 1-4: node 4 is 1 hop via the
    // shortcut (not 3 via the path); 6 is unreachable in 2 rounds
    val g = edgesDf((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (1L, 4L))
    val seeds = Seq(1L).toDF("node")
    val m = Graph.bfsDistances(g, seeds, rounds = 2)
      .as[(Long, Long)].collect().toMap
    m shouldBe Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 2L)
  }

  it should "treat edges as undirected and dedupe seed rows" in {
    val g = edgesDf((10L, 20L))
    val m = Graph.bfsDistances(g, Seq(20L, 20L).toDF("node"), rounds = 1)
      .as[(Long, Long)].collect().toMap
    m shouldBe Map(20L -> 0L, 10L -> 1L)
  }

  it should "free the adjacency and every round's blocks when it throws" in {
    val g = edgesDf((1L, 2L), (2L, 3L))
    val seeds = Seq(1L, 2L).toDF("node").select(
      when($"node" === 2L, raise_error(lit("bad seed"))).otherwise($"node").cast("long").as("node"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[Exception] {
      Graph.bfsDistances(g, seeds, rounds = 2)
    }
    e.getMessage should include("bad seed")
    spark.sparkContext.getPersistentRDDs.keySet.diff(before) shouldBe empty
  }

  behavior of "Graph.labelPropagation"

  it should "collapse a clique-plus-pendant to the minimum label in two rounds" in {
    // round 1 (hand-computed): 1→2, 2→1, 3→1, 4→3; round 2: all → 1
    val g = edgesDf((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
    val r1 = Graph.labelPropagation(g, rounds = 1)
      .as[(Long, Long)].collect().toMap
    r1 shouldBe Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 3L)
    val r2 = Graph.labelPropagation(g, rounds = 2)
      .as[(Long, Long)].collect().toMap
    r2 shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L)
  }

  it should "honour the fixed round budget on bipartite oscillation" in {
    // a path is bipartite: sync LPA 2-cycles instead of converging, so
    // round 1 and round 2 states differ and both are exact
    val g = edgesDf((1L, 2L), (2L, 3L), (3L, 4L))
    Graph.labelPropagation(g, rounds = 1).as[(Long, Long)].collect().toMap shouldBe
      Map(1L -> 2L, 2L -> 1L, 3L -> 2L, 4L -> 3L)
    Graph.labelPropagation(g, rounds = 2).as[(Long, Long)].collect().toMap shouldBe
      Map(1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 2L)
  }

  it should "break vote ties by minimum label and weight parallel edges" in {
    val star = edgesDf((0L, 5L), (0L, 6L), (0L, 7L))
    Graph.labelPropagation(star, rounds = 1)
      .as[(Long, Long)].collect().toMap.apply(0L) shouldBe 5L
    // a doubled edge casts two votes: label 9 outvotes the smaller 5
    val multi = edgesDf((0L, 9L), (0L, 9L), (0L, 5L))
    Graph.labelPropagation(multi, rounds = 1)
      .as[(Long, Long)].collect().toMap.apply(0L) shouldBe 9L
  }

  behavior of "Graph.clusteringCoefficient"

  it should "score cliques 1, paths 0, and mixed nodes by the exact rational" in {
    // triangle {1,2,3} with a pendant 4 on node 3
    val g = edgesDf((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val m = Graph.clusteringCoefficient(g)
      .select($"node", $"coeff").as[(Long, Double)].collect().toMap
    m(1L) shouldBe 1.0
    m(2L) shouldBe 1.0
    m(3L) shouldBe (1.0 / 3.0) +- 1e-12 // one triangle over C(3,2) wedges
    m(4L) shouldBe 0.0                  // degree 1 → defined as 0
  }
}
