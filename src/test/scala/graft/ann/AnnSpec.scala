package graft.ann

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Retrieval-quality checks over the real embeddings table: IVF must
  * agree with brute force when the true neighbor shares the query's cell.
  */
class AnnSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet").cache()

  "bruteForceKnn" should "return k ranked neighbors excluding the query" in {
    val knn = Ann.bruteForceKnn(emb, emb.filter(col("vec_id") < 3), k = 5).cache()
    knn.groupBy("query_id").count().as[(Long, Long)].collect().foreach(_._2 shouldBe 5L)
    knn.filter(col("query_id") === col("neighbor_id")).count() shouldBe 0
    // ranks are 1..5 and similarity is non-increasing in rank
    val sims = knn.filter(col("query_id") === 0).orderBy("rank")
      .select("sim").as[Double].collect()
    sims.toSeq shouldBe sims.sortBy(-_).toSeq
  }

  "int8RerankKnn" should "equal brute force when coarseK covers the corpus" in {
    val n = emb.count().toInt
    val queries = emb.filter(col("vec_id") < 5)
    val exact = Ann.bruteForceKnn(emb, queries, k = 3)
      .select("query_id", "neighbor_id", "rank")
    val full = Ann.int8RerankKnn(emb, queries, k = 3, coarseK = n)
      .select("query_id", "neighbor_id", "rank")
    // candidate set = whole corpus → the exact rerank IS brute force
    full.exceptAll(exact).count() shouldBe 0
    exactAllCount(exact) shouldBe exactAllCount(full)
  }

  it should "keep high recall at a 32-candidate coarse pass over int8 codes" in {
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Ann.bruteForceKnn(emb, queries, k = 3)
      .select(col("query_id"), col("neighbor_id"))
    val rer = Ann.int8RerankKnn(emb, queries, k = 3, coarseK = 32)
      .select(col("query_id"), col("neighbor_id"))
    val overlap = exact.intersect(rer).count().toDouble
    // int8 reconstruction error is <= scale/2 per component — a 32-wide
    // coarse pass must retain nearly all true top-3 neighbors
    overlap / exact.count() should be >= 0.9
  }

  private def exactAllCount(df: org.apache.spark.sql.DataFrame): Long = df.count()

  "binarySig" should "pack sign bits into the expected Long" in {
    // components 0, 2, 63 positive → bits 0, 2, 63; zeros and negatives unset
    val e = Array.fill(64)(0.0f)
    e(0) = 0.5f; e(2) = 1e-9f; e(63) = 3.0f; e(1) = -0.5f
    val sig = Seq((1L, e.toSeq)).toDF("vec_id", "embedding")
      .select(Ann.binarySig(graft.functions.VectorOps.toDoubleArray(col("embedding")), 64))
      .as[Long].head()
    sig shouldBe ((1L << 0) | (1L << 2) | (1L << 63))
  }

  "binaryRerankKnn" should "equal brute force when coarseK covers the corpus" in {
    val n = emb.count().toInt
    val queries = emb.filter(col("vec_id") < 5)
    val exact = Ann.bruteForceKnn(emb, queries, k = 3)
      .select("query_id", "neighbor_id", "rank")
    val full = Ann.binaryRerankKnn(emb, queries, k = 3, coarseK = n)
      .select("query_id", "neighbor_id", "rank")
    full.exceptAll(exact).count() shouldBe 0
    exactAllCount(exact) shouldBe exactAllCount(full)
  }

  it should "retain most true neighbors through a 32-candidate sign-bit coarse pass" in {
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Ann.bruteForceKnn(emb, queries, k = 3)
      .select(col("query_id"), col("neighbor_id"))
    val rer = Ann.binaryRerankKnn(emb, queries, k = 3, coarseK = 32)
      .select(col("query_id"), col("neighbor_id"))
    val overlap = exact.intersect(rer).count().toDouble
    // 1 bit/component keeps only direction octants — recall at 32
    // candidates sits below int8's but must stay well above chance
    overlap / exact.count() should be >= 0.6
  }

  "ivfSearch" should "match brute force whenever the true top-1 is in the query's cell" in {
    val brute = Ann.bruteForceKnn(emb, emb.filter(col("vec_id") < 10), k = 1)
      .select(col("query_id"), col("neighbor_id").as("true_top"))
    val labels = emb.select(col("vec_id"), col("label"))
    val ivf = Ann.ivfSearch(emb, "label", emb.filter(col("vec_id") < 10), k = 1)
      .filter(col("rank") === 1)
      .select(col("query_id"), col("neighbor_id").as("ivf_top"), col("cell"))

    val joined = brute
      .join(labels.select(col("vec_id").as("true_top"), col("label").as("true_label")), "true_top")
      .join(ivf, "query_id")
    // when the true neighbor lives in the probed cell, IVF finds it
    val comparable = joined.filter(col("true_label") === col("cell"))
    comparable.count() should be > 0L
    comparable.filter(col("ivf_top") =!= col("true_top")).count() shouldBe 0
  }

  it should "recover cross-boundary neighbors at nprobe=2" in {
    // query 100 routes to cell 0 (its centroid is closest) but its true
    // nearest neighbor (0.6, 0.8) lives in cell 1, whose centroid is
    // dragged away by an outlier — the textbook nprobe=1 recall loss
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.95f, 0.05f), 0),
      (2L, Array(0.6f, 0.8f), 1),
      (3L, Array(-0.9f, 0.44f), 1))
      .toDF("vec_id", "embedding", "label")
    val query = Seq((100L, Array(0.8f, 0.6f), 9)).toDF("vec_id", "embedding", "label")

    val p1 = Ann.ivfSearch(corpus, "label", query, k = 1, nprobe = 1)
      .select("neighbor_id").as[Long].collect()
    val p2 = Ann.ivfSearch(corpus, "label", query, k = 1, nprobe = 2)
      .select("neighbor_id").as[Long].collect()
    val brute = Ann.bruteForceKnn(corpus, query, k = 1)
      .select("neighbor_id").as[Long].collect()

    brute shouldBe Array(2L)  // (0.6, 0.8) at cosine 0.96
    p1 should not be brute    // cell 0 only: best is vec 1 at ~0.83
    p2 shouldBe brute         // probing the second cell recovers it

    // at equal k the candidate budget only doubles, never squares: the
    // probed cells are disjoint, so candidates = |cell A| + |cell B|
    Ann.ivfSearch(corpus, "label", query, k = 10, nprobe = 2).count() shouldBe 4L
  }

  "quantizeInt8" should "bound reconstruction error by scale/2 and handle zero vectors" in {
    val q = Ann.quantizeInt8(emb).cache()
    q.count() shouldBe emb.count()
    // codes in [-127, 127]; |v - code*scale| <= scale/2 per component
    val bad = q.select(col("vec_id"), col("scale"),
        graft.functions.VectorOps.toDoubleArray(col("embedding")).as("e"), col("codes"))
      .select(explode(arrays_zip(col("e"), col("codes"))).as("z"), col("scale"))
      .select(col("z.e").as("v"), col("z.codes").as("c"), col("scale"))
      .filter(abs(col("c")) > 127 ||
        abs(col("v") - col("c") * col("scale")) > col("scale") / 2 + 1e-12)
    bad.count() shouldBe 0

    val zero = Seq((1L, Array(0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val zq = Ann.quantizeInt8(zero).head()
    zq.getAs[Seq[Int]]("codes") shouldBe Seq(0, 0, 0)
    zq.getAs[Double]("scale") shouldBe 0.0
  }

  "hyperplane_code" should "be registered as a SQL function via GraftExtensions" in {
    val viaSql = spark.sql(
      "SELECT hyperplane_code(array(1.0d, -2.0d, 0.5d, 3.0d), 4, 8, 0) AS c").head().getInt(0)
    val viaColumn = spark.range(1)
      .select(Ann.hyperplaneCode(array(lit(1.0), lit(-2.0), lit(0.5), lit(3.0)), 4, 8, 0).as("c"))
      .head().getInt(0)
    viaSql shouldBe viaColumn
  }

  "graft_cosine / graft_l2_norm" should "be SQL-callable and match the Column API" in {
    val viaSql = spark.sql(
      "SELECT graft_cosine(array(1.0d, 2.0d, 3.0d), array(3.0d, 2.0d, 1.0d)) AS c, " +
        "graft_l2_norm(array(3.0d, 4.0d)) AS n").head()
    val viaColumn = spark.range(1).select(
      graft.functions.VectorOps.cosine(
        array(lit(1.0), lit(2.0), lit(3.0)), array(lit(3.0), lit(2.0), lit(1.0))).as("c"),
      graft.functions.VectorOps.l2Norm(array(lit(3.0), lit(4.0))).as("n")).head()
    viaSql.getDouble(0) shouldBe viaColumn.getDouble(0)
    viaSql.getDouble(1) shouldBe 5.0
  }

  it should "bind each graft_cosine argument exactly once in the resolved plan" in {
    // the kernel needs each vector in three places (guard, divisor, dot);
    // the builder must bind the argument once (lambda variable), not
    // splice the subtree per occurrence — a non-deterministic argument
    // would otherwise evaluate independently per site and give an
    // inconsistent result
    emb.select(col("embedding").as("e1"), col("embedding").as("e2"))
      .createOrReplaceTempView("bind_once")
    val analyzed = spark.sql(
      "SELECT graft_cosine(e1, e2) AS c FROM bind_once").queryExecution.analyzed
    Seq("e1", "e2").foreach { name =>
      val refs = analyzed.expressions.map(_.collect {
        case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
          if a.name == name => a
      }.size).sum
      withClue(s"occurrences of $name in the analyzed kernel:") { refs shouldBe 1 }
    }
  }

  "assignCells" should "pick each vector's cell map-side with no corpus exchange" in {
    // a Window.partitionBy(vec_id) would shuffle all N×k candidate rows
    // (carrying full vectors) once per Lloyd round, and even the old
    // groupBy(vec_id).max_by shape paid one full-corpus exchange; the
    // packed-codebook array_max computes the argmax per row, so the only
    // exchange left is the SinglePartition one packing the k centroids
    val vecs = emb.select(col("vec_id"),
      graft.functions.VectorOps.toDoubleArray(col("embedding")).as("e"))
    val cents = vecs.limit(4).select(
      (col("vec_id") % 4).cast("int").as("cell"), col("e").as("ce"))
    val plan = Ann.assignCells(vecs, cents).queryExecution.executedPlan.toString()
    plan should not include "Window"
    plan should include("array_max")
    // NO hash exchange anywhere: the corpus side never shuffles, the
    // centroid side moves by broadcast
    plan.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning") shouldBe 0
  }

  it should "agree with the groupBy/max_by assignment it replaced" in {
    // semantic lock for the map-side reshape: same argmax, same
    // (sim desc, cell asc) tie-break, for every vector
    val vecs = emb.select(col("vec_id"),
      graft.functions.VectorOps.toDoubleArray(col("embedding")).as("e"))
    val cents = vecs.limit(4).select(
      (col("vec_id") % 4).cast("int").as("cell"), col("e").as("ce"))
    val sim = graft.functions.VectorOps.cosine(col("e"), col("ce"))
    val legacy = vecs.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("e"), col("cell"), sim.as("sim"))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("e"), col("cell")),
        struct(col("sim"), (-col("cell")).as("neg_cell"))).as("best"))
      .select(col("vec_id"), col("best.cell").as("cell"))
    val got = Ann.assignCells(vecs, cents).select(col("vec_id"), col("cell"))
    got.exceptAll(legacy).count() shouldBe 0
    legacy.exceptAll(got).count() shouldBe 0
    got.count() shouldBe vecs.count()
  }

  "centroidVectors" should "agree exactly with the explode-shape centroid fold it replaces" in {
    // semantic lock for the r11 single-exchange wide fold: per-component
    // decimal(30,10) sums divided by the group count must be BIT-equal
    // to the posexplode → groupBy(cell, dim) → collect/sort chain under
    // any partitioning (both are order-insensitive decimal arithmetic)
    val dim = 64
    val assigned = emb.select(col("vec_id"),
        graft.functions.VectorOps.toDoubleArray(col("embedding")).as("e"))
      .withColumn("cell", (col("vec_id") % 5).cast("int"))
      .repartition(7)
    val legacy = assigned
      .select(col("cell"), posexplode(col("e")).as(Seq("dim0", "v")))
      .groupBy(col("cell"), (col("dim0") + 1).as("dim"))
      .agg((graft.functions.Exact.decSum(col("v")) / count(lit(1))).as("centroid"))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("centroid")))),
        s => s.getField("centroid")).as("ce"))
    val got = Ann.centroidVectors(assigned, Seq("cell"), col("e"), dim)
    got.exceptAll(legacy).count() shouldBe 0
    legacy.exceptAll(got).count() shouldBe 0
    got.count() shouldBe 5
    // and the wide fold's plan has ONE hash exchange (the explode shape
    // pays two: (cell, dim) then (cell))
    val plan = got.queryExecution.executedPlan.toString()
    plan.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning") shouldBe 1
  }

  "kmeansCells" should "produce identical assignments with and without the static-dim fold" in {
    val wide = Ann.kmeansCells(emb, k = 8, iters = 2, dim = 64)
    val explode = Ann.kmeansCells(emb, k = 8, iters = 2)
    wide.exceptAll(explode).count() shouldBe 0
    explode.exceptAll(wide).count() shouldBe 0
  }

  "kmeansCells" should "partition the corpus and feed ivfSearch end to end" in {
    val cells = Ann.kmeansCells(emb, k = 8, iters = 2).cache()
    cells.count() shouldBe emb.count()
    cells.select("cell").distinct().count() should be > 1L
    cells.filter(col("cell") < 0 || col("cell") >= 8).count() shouldBe 0
    // self-contained IVF: kmeans cells replace the caller-supplied label
    val celled = emb.join(cells, "vec_id")
    val hits = Ann.ivfSearch(celled, "cell", emb.filter(col("vec_id") < 5), k = 3)
    hits.groupBy("query_id").count().as[(Long, Long)].collect().foreach(_._2 shouldBe 3L)
    // nprobe=1 routes each query to exactly its own cell: a query vector
    // that is IN the corpus must be routed to the cell it was assigned
    val routed = hits.select(col("query_id"), col("cell")).distinct()
      .join(cells.select(col("vec_id").as("query_id"), col("cell").as("own")), "query_id")
    routed.filter(col("cell") =!= col("own")).count() shouldBe 0
  }

  "lshPairs" should "only pair vectors sharing a table bucket and respect the floor" in {
    val pairs = Ann.lshPairs(emb, dim = 64, bits = 16, tables = 2, minSim = 0.2).cache()
    pairs.filter(col("sim") < 0.2).count() shouldBe 0
    // every emitted pair collides in at least one of the two tables
    val codes = emb.select(
      col("vec_id") +: (0 until 2).map(t =>
        Ann.hyperplaneCode(graft.functions.VectorOps.toDoubleArray(col("embedding")), 64, 16, t)
          .as(s"c$t")): _*)
    val check = pairs
      .join(codes.select(col("vec_id").as("id1"), col("c0").as("a0"), col("c1").as("a1")), "id1")
      .join(codes.select(col("vec_id").as("id2"), col("c0").as("b0"), col("c1").as("b1")), "id2")
    check.filter(col("a0") =!= col("b0") && col("a1") =!= col("b1")).count() shouldBe 0
  }

  it should "always recall an exact duplicate, in a bucket space that grows with bits" in {
    // identical vectors get identical codes in every table -> guaranteed pair
    val dup = emb.filter(col("vec_id") === 0)
      .select(lit(99999L).as("vec_id"), col("embedding"), col("label"))
    val planted = emb.select(col("vec_id"), col("embedding"), col("label")).unionByName(dup)
    val pairs = Ann.lshPairs(planted, dim = 64, bits = 16, tables = 2, minSim = 0.2)
    pairs.filter(col("id1") === 0 && col("id2") === 99999L).count() shouldBe 1L

    // the parameterized bucket space is the scale knob: more bits -> more
    // occupied buckets (the old fixed 8-bit code capped at 256 total)
    def occupied(bits: Int): Long = emb
      .select(Ann.hyperplaneCode(
        graft.functions.VectorOps.toDoubleArray(col("embedding")), 64, bits, 0).as("b"))
      .distinct().count()
    val b6 = occupied(6)
    val b16 = occupied(16)
    b6 should be <= 64L
    b16 should be > (3 * b6)
  }
}
