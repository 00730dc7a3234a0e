package graft.core

import org.apache.spark.sql.SparkSession

/** SparkSession factory with graft's scale posture baked in (reference
  * spark/Helpers.scala:38–58, rebuilt for Spark 4.x):
  *  - AQE on (coalesced shuffle partitions + skew-join splitting — the
  *    reference ran Spark 3.1 where AQE was off by default);
  *  - graft.GraftExtensions registered (native SQL functions);
  *  - shuffle parallelism from the caller, NOT the 200 default — on a
  *    real cluster pass ~2–3× total cores; AQE coalesces down from there;
  *  - bounded driver results (the reference set maxResultSize=0 ⇒
  *    unbounded — one wide collect away from an OOM'd driver);
  *  - LAST_WIN map-key dedup and a generous broadcast timeout, as the
  *    reference required.
  */
object Sessions {
  def builder(
      appName: String = "graft",
      master: Option[String] = None,
      shufflePartitions: Int = math.max(2, Runtime.getRuntime.availableProcessors())): SparkSession.Builder = {
    val b = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      .config("spark.sql.broadcastTimeout", "3000")
      .config("spark.driver.maxResultSize", "4g")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // zstd beats snappy ~30-40% on size at comparable speed — at 100 TB
      // the storage + IO saving dominates the marginal CPU
      .config("spark.sql.parquet.compression.codec", "zstd")
    master.fold(b)(b.master)
  }
}
