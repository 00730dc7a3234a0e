package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import graft.streaming.{CrawlFetch, CrawlStream}

/** Latest-wins crawl-CDC streaming soak — CrawlStream's runtime twin of
  * MediaStreamSoak: drives the RocksDB URL state over many micro-batches
  * of a GROWING crawl frontier and records per-batch latency, state
  * rows, and state store size, so "state is one (ts, hash) per distinct
  * URL, never per-fetch" is measured rather than asserted.
  *
  * Batch shape (one parquet file = one micro-batch):
  *   - batch 0: `GRAFT_CRAWL_INITIAL` first-sight URLs (all `new`);
  *   - batch b ≥ 1: `GRAFT_CRAWL_NEW` fresh URLs (`new`) +
  *     `GRAFT_CRAWL_REVISITS` revisits of batch-0 URLs at a newer ts —
  *     even revisit slots carry per-batch content (`changed`), odd ones
  *     repeat the original content (`unchanged`) — plus
  *     `GRAFT_CRAWL_STALE` late deliveries at ts 1 (`stale`).
  *
  * Pass criteria:
  *   - per-batch status counts exactly match the planted structure;
  *   - state rows after batch b = initial + b·new (∝ DISTINCT URLs: the
  *     ~11× more fetches processed never enter state);
  *   - per-batch wall flat as state grows (admission reads one key per
  *     fetch — never scans the standing index);
  *   - the stream's surviving non-stale frontier equals the batch
  *     latest-wins replay over every fetch ever delivered (the
  *     CrawlStreamSpec agreement property, at soak scale).
  */
object CrawlStreamSoak {

  def main(args: Array[String]): Unit = {
    val initial = sys.env.getOrElse("GRAFT_CRAWL_INITIAL", "1000000").toLong
    val newPer = sys.env.getOrElse("GRAFT_CRAWL_NEW", "500000").toLong
    val revisits = sys.env.getOrElse("GRAFT_CRAWL_REVISITS", "500000").toLong
    val stale = sys.env.getOrElse("GRAFT_CRAWL_STALE", "100000").toLong
    val batches = sys.env.getOrElse("GRAFT_CRAWL_BATCHES", "10").toInt
    require(revisits <= initial, "revisits target batch-0 URLs and must fit in them")
    require(revisits % 2 == 0, "revisits split evenly into changed/unchanged")
    val cpus = RegistryRunner.cpus
    val spark = RegistryRunner.localBuilder("graft-crawl-stream-soak")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // fetch generator, entirely as distributed expressions. ts layout:
    // batch b's fresh fetches carry ts 10 + 1000·b; revisits 11 + 1000·b
    // (strictly newer than every prior touch of that URL); stale rows
    // ts 1 (older than everything, b >= 1 only).
    def batchFetches(b: Int) = {
      val fresh =
        if (b == 0) spark.range(0L, initial, 1, cpus)
          .selectExpr("concat('u', id) as canonical_url",
            s"${10 + 1000L * b}L as fetch_ts", "concat('c', id) as content_hash")
        else spark.range(initial + (b - 1) * newPer, initial + b * newPer, 1, cpus)
          .selectExpr("concat('u', id) as canonical_url",
            s"${10 + 1000L * b}L as fetch_ts", "concat('c', id) as content_hash")
      if (b == 0) fresh.as[CrawlFetch]
      else {
        val rev = spark.range(0L, revisits, 1, cpus).selectExpr(
          "concat('u', id) as canonical_url",
          s"${11 + 1000L * b}L as fetch_ts",
          // even slots: fresh content per batch (changed); odd: the
          // batch-0 content verbatim (unchanged)
          s"if(id % 2 = 0, concat('c', id, 'b', $b), concat('c', id)) as content_hash")
        val late = spark.range(0L, stale, 1, cpus).selectExpr(
          "concat('u', id) as canonical_url", "1L as fetch_ts",
          "'late' as content_hash")
        fresh.unionByName(rev).unionByName(late).as[CrawlFetch]
      }
    }

    val root = java.nio.file.Files.createTempDirectory("graft-crawl-soak").toString
    val landing = s"$root/landing"
    val outDir = s"$root/updates"
    val t0 = System.nanoTime()
    (0 until batches).foreach { b =>
      batchFetches(b).coalesce(1).write.parquet(f"$landing/b$b%04d.parquet")
    }
    System.err.println(f"[crawl-soak] setup ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // per-batch state metrics from the progress stream (rows in the
    // RocksDB store + its on-disk/memory footprint)
    final case class StateObs(rows: Long, bytes: Long)
    val stateObs = new java.util.concurrent.ConcurrentHashMap[Long, StateObs]
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val ops = e.progress.stateOperators
        if (ops.nonEmpty)
          stateObs.put(e.progress.batchId,
            StateObs(ops(0).numRowsTotal, ops(0).memoryUsedBytes))
      }
    })

    var walls = Vector.empty[(Long, Double)]
    var tBatch = System.nanoTime()
    val stream = spark.readStream
      .schema(batchFetches(0).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$landing/*.parquet")
      .as[CrawlFetch]
    val q = CrawlStream.latestWins(stream)
      .writeStream
      .option("checkpointLocation", s"$root/chk")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[graft.streaming.CrawlUpdate], batchId: Long) =>
        df.withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outDir)
        val sec = (System.nanoTime() - tBatch) / 1e9
        walls :+= ((batchId, sec))
        System.err.println(f"[crawl-soak] batch $batchId%2d  $sec%6.2f s")
        tBatch = System.nanoTime()
      }
      .start()
    q.awaitTermination()
    // the final batch's progress event can trail awaitTermination
    Thread.sleep(1000)

    // ---- accounting over the written updates (one read, grouped) ----
    val updates = spark.read.parquet(outDir).cache()
    val counts = updates.groupBy("batch_id", "status").count()
      .as[(Long, String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => r._2 -> r._3).toMap).toMap
    var violations = Vector.empty[String]
    def expect(b: Long, status: String, want: Long): Unit = {
      val got = counts.getOrElse(b, Map.empty).getOrElse(status, 0L)
      if (got != want) violations :+= s"batch $b $status: got $got want $want"
    }
    (0 until batches).foreach { b =>
      if (b == 0) {
        expect(b, "new", initial)
        expect(b, "changed", 0); expect(b, "unchanged", 0); expect(b, "stale", 0)
      } else {
        expect(b, "new", newPer)
        expect(b, "changed", revisits / 2)
        expect(b, "unchanged", revisits / 2)
        expect(b, "stale", stale)
      }
    }
    // state rows ∝ distinct URLs, never per-fetch
    (0 until batches).foreach { b =>
      Option(stateObs.get(b.toLong)).foreach { o =>
        val want = initial + b * newPer
        if (o.rows != want) violations :+= s"batch $b state rows: got ${o.rows} want $want"
      }
    }
    // frontier agreement: stream's surviving non-stale frontier per URL
    // == batch latest-wins replay over every fetch delivered
    val frontier = updates.filter(col("status") =!= "stale")
      .groupBy("canonical_url")
      .agg(max(struct(col("fetch_ts"), col("content_hash"))).as("s"))
      .select(col("canonical_url"), col("s.fetch_ts"), col("s.content_hash"))
    val replay = spark.read.parquet(s"$landing/*.parquet")
      .groupBy("canonical_url")
      // the (ts DESC, hash ASC) total order as one orderable struct:
      // max ts wins; within a tie the SMALLEST hash wins, so order by
      // (ts, negated-hash) ... hashes are strings, so replay argmin via
      // min_by with a (ts DESC surrogate, hash) — use max_by on ts with
      // min hash tiebreak expressed as a two-level agg
      .agg(max(col("fetch_ts")).as("max_ts"))
      .join(spark.read.parquet(s"$landing/*.parquet"),
        Seq("canonical_url"))
      .filter(col("fetch_ts") === col("max_ts"))
      .groupBy("canonical_url")
      .agg(max(col("fetch_ts")).as("fetch_ts"), min(col("content_hash")).as("content_hash"))
    val diff = frontier.exceptAll(replay).count() + replay.exceptAll(frontier).count()
    if (diff != 0) violations :+= s"frontier disagreement rows: $diff"

    val totalSec = walls.map(_._2).sum
    val wallJs = walls.sortBy(_._1).map { case (b, s) =>
      val o = Option(stateObs.get(b)).getOrElse(StateObs(-1, -1))
      s"""{"batch":$b,"sec":$s,"state_rows":${o.rows},"state_bytes":${o.bytes}}"""
    }.mkString("[", ",", "]")
    println(s"""{"metric":"crawl_stream_soak_total","value":$totalSec,"unit":"sec",""" +
      s""""initial":$initial,"new_per_batch":$newPer,"revisits":$revisits,""" +
      s""""stale":$stale,"batches":$batches,""" +
      s""""fetches_per_sec":${((initial + (batches - 1) * (newPer + revisits + stale)) / totalSec).toLong},""" +
      s""""violations":${violations.map(v => "\"" + v + "\"").mkString("[", ",", "]")},""" +
      s""""batches_detail":$wallJs}""")
    require(violations.isEmpty, s"soak violations: ${violations.mkString("; ")}")
    spark.stop()
  }
}
