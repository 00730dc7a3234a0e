package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.multimodal.{ImageHash, MediaRow}
import graft.streaming.MediaStream

/** Image-admission streaming soak — MediaStream's runtime twin of
  * StreamSoak: drives the growing dHash index over many micro-batches of
  * REAL PNG payloads and records per-batch latency, planted-dup
  * accounting, the corrupt-blob quarantine, and the block-manager
  * generation bound.
  *
  * Batch shape: `GRAFT_STREAM_BATCHES` parquet files of
  * `GRAFT_STREAM_BATCH_DOCS` images each (one file = one micro-batch).
  * Ids ≡ 7 (mod 50) in batch b ≥ 1 carry the IMAGE of id − S − 1 from
  * the previous batch (an id that was itself plain and therefore
  * admitted) — flaggable only because the index grows. Ids ≡ 13
  * (mod 50) are truncated payloads → the quarantine path, exercised
  * every batch. Pass criteria: flagged ≈ S/50 per batch after the
  * first, rejected = S/50 every batch, persisted_rdds constant, and
  * per-batch seconds flat as the index accumulates (the index holds
  * 8-byte hashes — admission never re-decodes the corpus, the measured
  * decode-once posture from SCALE.md's image A/B).
  */
object MediaStreamSoak {

  private def pngFor(seed: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      9, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 9) {
        val v = java.lang.Long.remainderUnsigned(
          scala.util.hashing.byteswap64(seed * 72 + y * 9 + x), 251).toInt
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** (doc_id, media_type, payload) image frame: seed = own id except the
    * planted cross-batch copies; corrupt slots get truncated bytes.
    */
  private def images(spark: SparkSession, from: Long, until: Long,
      copyBack: Long, parts: Int): DataFrame = {
    import spark.implicits._
    spark.range(from, until, 1, parts).selectExpr(
        "id as doc_id",
        s"""case when id % 50 = 7 and $copyBack > 0 then id - $copyBack
           |     else id end as seed""".stripMargin,
        "cast(id % 50 = 13 as boolean) as corrupt")
      .as[(Long, Long, Boolean)]
      .mapPartitions { it =>
        it.map { case (id, seed, corrupt) =>
          val bytes = pngFor(seed)
          MediaRow(id, "image/png",
            if (corrupt) java.util.Arrays.copyOf(bytes, 8) else bytes)
        }
      }.toDF()
  }

  def main(args: Array[String]): Unit = {
    val initial = sys.env.getOrElse("GRAFT_STREAM_INITIAL", "50000").toLong
    val batchDocs = sys.env.getOrElse("GRAFT_STREAM_BATCH_DOCS", "20000").toLong
    val batches = sys.env.getOrElse("GRAFT_STREAM_BATCHES", "10").toInt
    require(batchDocs % 50 == 0 && initial % 50 == 0,
      "initial/batch sizes must be multiples of the 50-id block")
    val spark = RegistryRunner.localBuilder("graft-media-stream-soak").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val landing = java.nio.file.Files.createTempDirectory("graft-media-soak").toString
    System.err.println(s"[media-soak] hashing initial corpus ($initial images)")
    val t0 = System.nanoTime()
    val initialHashes = ImageHash.dhashDocs(
      images(spark, 0, initial, copyBack = 0, RegistryRunner.cpus)
        .filter(col("doc_id") % 50 =!= 13).as[MediaRow], spark)
    (0 until batches).foreach { b =>
      val from = initial + b * batchDocs
      // batch b>=1's ≡7 slots copy id − S − 1 (≡ 6 mod 50, plain,
      // admitted one batch earlier)
      images(spark, from, from + batchDocs,
        copyBack = if (b > 0) batchDocs + 1 else 0, RegistryRunner.cpus)
        .coalesce(1).write.parquet(f"$landing/b$b%04d.parquet")
    }
    System.err.println(f"[media-soak] setup ${(System.nanoTime() - t0) / 1e9}%.1f s")

    val stream = spark.readStream
      .schema(images(spark, 0, 1, 0, 1).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$landing/*.parquet")

    final case class Obs(batchId: Long, sec: Double, admitted: Long, flagged: Long,
        rejected: Long, persistedRdds: Int)
    var obs = Vector.empty[Obs]
    var tBatch = System.nanoTime()
    val writer = MediaStream.imageAdmissionWriter(stream, initialHashes,
      maxHamming = 3,
      out => {
        val row = out.admitted.agg(count(lit(1)), min("doc_id"), max("doc_id")).head()
        val admitted = row.getLong(0)
        val expectFrom = initial + out.batchId * batchDocs
        require(row.getLong(1) == expectFrom,
          s"batch ${out.batchId} delivered out of order — accounting invalid")
        val flagged = out.flagged.count()
        val rejected = out.rejected.count()
        obs :+= Obs(out.batchId, (System.nanoTime() - tBatch) / 1e9, admitted,
          flagged, rejected, spark.sparkContext.getPersistentRDDs.size)
        System.err.println(f"[media-soak] batch ${out.batchId}%2d " +
          f"${obs.last.sec}%6.2f s  admitted $admitted%6d  flagged $flagged%5d  " +
          f"rejected $rejected%5d  persisted_rdds ${obs.last.persistedRdds}%d")
        tBatch = System.nanoTime()
      })
    val q = MediaStream.backfill(writer)
    q.awaitTermination()

    val totalSec = obs.map(_.sec).sum
    val js = obs.map(o =>
      s"""{"batch":${o.batchId},"sec":${o.sec},"admitted":${o.admitted},""" +
        s""""flagged":${o.flagged},"rejected":${o.rejected},""" +
        s""""persisted_rdds":${o.persistedRdds}}""").mkString("[", ",", "]")
    println(s"""{"metric":"media_stream_soak_total","value":$totalSec,"unit":"sec",""" +
      s""""initial":$initial,"batch_docs":$batchDocs,"batches":$batches,""" +
      s""""images_per_sec":${(batchDocs * batches / totalSec).toLong},""" +
      s""""flagged_total":${obs.map(_.flagged).sum},""" +
      s""""rejected_total":${obs.map(_.rejected).sum},""" +
      s""""max_persisted_rdds":${obs.map(_.persistedRdds).max},"batches_detail":$js}""")
    spark.stop()
  }
}
