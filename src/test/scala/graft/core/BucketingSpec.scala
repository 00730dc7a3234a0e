package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Bucketed-table layout: the co-located-join path for repeatedly joined
  * fact tables (SURVEY.md §7 scale posture). Pre-shuffling a table into
  * buckets by its join/aggregation key through Spark's own
  * `bucketBy`/`sortBy`/`saveAsTable` makes every later equi-join or
  * groupBy on that key shuffle-free; bucket metadata lives in the catalog.
  */
class BucketingSpec extends SparkSpec {

  "bucketed tables" should "join without a shuffle exchange" in {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val ord = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_totalprice")

    li.write.mode("overwrite").bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("li_bkt")
    ord.write.mode("overwrite").bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("ord_bkt")

    // force a sort-merge join so the assertion is about bucketing, not
    // broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("li_bkt")
        .join(spark.table("ord_bkt"), col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString()
      // control: the same join over plain parquet DOES shuffle
      val control = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .queryExecution.executedPlan.toString()
      control should include("Exchange hashpartitioning")
      // both sides read pre-bucketed: no hashpartitioning exchange anywhere
      plan should not include "Exchange hashpartitioning"
      // and the result is right
      joined.count() shouldBe li.join(ord, col("l_orderkey") === col("o_orderkey")).count()
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  it should "aggregate on the bucket key without a shuffle" in {
    val agg = spark.table("li_bkt").groupBy("l_orderkey").agg(sum("l_quantity"))
    agg.queryExecution.executedPlan.toString() should not include "Exchange hashpartitioning"
    agg.count() should be > 0L
  }

  it should "serve IVF search from a persistent index without reshuffling the index side" in {
    // the 100 TB ANN posture: the index is a cell-bucketed TABLE, not an
    // in-memory structure — centroid aggregation AND the fine-search join
    // both reuse the on-disk partitioning, so only the (small) query side
    // ever shuffles, at any index size
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val indexed = emb.join(graft.ann.Ann.kmeansCells(emb, k = 8), "vec_id")
    indexed.write.mode("overwrite").bucketBy(4, "cell").sortBy("cell")
      .saveAsTable("ivf_idx")

    // force non-broadcast joins: at scale the query batch is too big to
    // broadcast, which is exactly when the index side must not reshuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val queries = emb.filter(col("vec_id") < 5)
      def search(index: org.apache.spark.sql.DataFrame) =
        graft.ann.Ann.ivfSearch(index, "cell", queries, k = 3, nprobe = 2)
      def exchanges(df: org.apache.spark.sql.DataFrame): Int =
        "Exchange hashpartitioning".r
          .findAllIn(df.queryExecution.executedPlan.toString()).size

      val overTable = search(spark.table("ivf_idx"))
      val overParquet = search(indexed)
      // bucketing removes the index-side exchanges (centroid agg + join);
      // remaining exchanges move only query-sized data
      exchanges(overTable) should be < exchanges(overParquet)
      // identical results either way
      overTable.collect().toSet shouldBe overParquet.collect().toSet
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }
}
