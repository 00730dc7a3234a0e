package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.multimodal.{ImageHash, MediaRow}
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

class MediaStreamSpec extends SparkSpec {
  import spark.implicits._

  // deterministic gradient PNGs; ids 0/500/900 hash >=16 hamming bits
  // apart, so only the planted near-copies (delta variant of the same
  // img id) can flag at maxHamming = 3
  private def png(imgId: Long, delta: Int): Array[Byte] =
    ImageHash.gradientPng(imgId, delta)

  private def row(id: Long, imgId: Long, delta: Int): MediaRow =
    MediaRow(id, "image/png", png(imgId, delta))

  "MediaStream" should "admit, flag against a growing index, and quarantine corrupt blobs" in {
    val landing = Files.createTempDirectory("graft-media-landing").toFile.getAbsolutePath
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    def persistedNew = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore

    // standing corpus: one image (img 0)
    val corpus = Seq(row(0L, 0L, 0)).toDS()
    val initialHashes = ImageHash.dhashDocs(corpus, spark)

    // batch A: 10 near-dups corpus img 0 (one-pixel variant); 11 novel;
    // 12 is an undecodable truncated payload → quarantine.
    // batch B: 20 near-dups img 500 — admitted in a PRIOR batch, so only
    // a growing index can flag it; 21 novel.
    Seq(row(10L, 0L, 3), row(11L, 500L, 0),
        MediaRow(12L, "image/png", png(0L, 0).take(8)))
      .toDS().coalesce(1).write.parquet(s"$landing/f1")
    Seq(row(20L, 500L, 3), row(21L, 900L, 0))
      .toDS().coalesce(1).write.parquet(s"$landing/f2")

    val stream = spark.readStream.schema(corpus.toDF().schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$landing/f*")

    var admitted = Vector.empty[Long]
    var flagged = Vector.empty[Long]
    var rejected = Vector.empty[Long]
    val writer = MediaStream.imageAdmissionWriter(stream, initialHashes,
      maxHamming = 3,
      out => {
        admitted ++= out.admitted.select("doc_id").as[Long].collect()
        flagged ++= out.flagged.select("doc_id").as[Long].collect()
        rejected ++= out.rejected.select("doc_id").as[Long].collect()
      })
    // a writer that is built and never started holds nothing
    persistedNew shouldBe empty
    val q = LiteratureStream.backfill(writer)
    q.awaitTermination(120000)

    flagged.toSet shouldBe Set(10L, 20L) // vs corpus AND vs earlier batch
    admitted.toSet shouldBe Set(11L, 21L)
    rejected.toSet shouldBe Set(12L) // quarantined, never indexed

    // the CorpusStream bound carries over: nothing outlives the query
    eventually(timeout(30.seconds), interval(200.millis)) { persistedNew shouldBe empty }
  }
}
