package org.apache.spark.sql

import org.apache.spark.rdd.RDDOperationScope
import org.apache.spark.storage.RDDInfo

/** Spark-private reads the specs need to lock plan shapes and cache
  * hygiene: the number of cache-manager entries, and the operation scopes
  * an RDD was created under.
  */
object GraftTestBridge {
  def cachedEntries(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries

  /** The RDD's operation scope and its parents, innermost first. */
  def scopeNames(rdd: RDDInfo): Seq[String] = {
    def names(s: RDDOperationScope): Seq[String] = s.name +: s.parent.toSeq.flatMap(names)
    rdd.scope.toSeq.flatMap(names)
  }
}
