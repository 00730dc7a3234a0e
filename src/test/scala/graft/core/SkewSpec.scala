package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SkewSpec extends SparkSpec {
  import spark.implicits._

  // a deliberately skewed frame: one hot key with 10k rows, 50 cold keys
  private lazy val skewed = spark.range(10000).select(lit("hot").as("k"), lit(1.0).as("v"))
    .unionByName(spark.range(50).select(concat(lit("cold"), col("id")).as("k"), lit(2.0).as("v")))

  "saltedCount" should "match the plain groupBy count" in {
    val plain = skewed.groupBy("k").count().as[(String, Long)].collect().toMap
    val salted = Skew.saltedCount(skewed, Seq("k")).as[(String, Long)].collect().toMap
    salted shouldBe plain
  }

  "saltedJoin" should "equal the plain inner join" in {
    val right = Seq(("hot", "H"), ("cold1", "C1"), ("cold2", "C2")).toDF("k", "tag")
    val plain = skewed.join(right, "k").groupBy("k", "tag").count()
      .as[(String, String, Long)].collect().toSet
    val salted = Skew.saltedJoin(skewed, right, "k").groupBy("k", "tag").count()
      .as[(String, String, Long)].collect().toSet
    salted shouldBe plain
  }

  it should "spread the hot key across salt partitions" in {
    val salts = 8
    val perSalt = skewed.filter(col("k") === "hot")
      .withColumn("_salt",
        pmod(spark_partition_id() + monotonically_increasing_id(), lit(salts)))
      .groupBy("_salt").count().count()
    perSalt should be > 1L // the hot key no longer lands on a single reducer
  }
}
