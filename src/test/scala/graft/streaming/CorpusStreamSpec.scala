package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.dedup.Dedup
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

class CorpusStreamSpec extends SparkSpec {
  import spark.implicits._

  private def doc(i: Long, seed: Long): (Long, String) =
    (i, (1 to 12).map(w => s"s${seed}w$w").mkString(" "))

  "CorpusStream" should "flag near-dups against a growing index across micro-batches" in {
    val landing = Files.createTempDirectory("graft-corpus-landing").toFile.getAbsolutePath
    // the session is JVM-shared across suites, so the block-manager
    // checks below are on the RDDs this stream persists
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    def persistedNew = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore

    // standing corpus: docs 0 and 1
    val corpus = Seq(doc(0L, 0L), doc(1L, 1L)).toDF("doc_id", "text")
    val initialSigs = Dedup.minhashSignatures(corpus)

    // batch A (file 1): doc 10 duplicates corpus doc 0; doc 11 is novel.
    // batch B (file 2): doc 20 duplicates doc 11 — admitted in a PRIOR
    // batch, so only a growing index can flag it; doc 21 is novel.
    Seq(doc(10L, 0L), doc(11L, 5L)).toDF("doc_id", "text")
      .coalesce(1).write.json(s"$landing/f1")
    Seq(doc(20L, 5L), doc(21L, 6L)).toDF("doc_id", "text")
      .coalesce(1).write.json(s"$landing/f2")

    val schema = corpus.schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .json(s"$landing/f*")

    var admitted = Vector.empty[Long]
    var flagged = Vector.empty[Long]
    var levels = Vector.empty[StorageLevel]
    val writer = CorpusStream.admissionWriter(stream, initialSigs, minSim = 0.8,
      out => {
        admitted ++= out.admitted.select("doc_id").as[Long].collect().sorted
        flagged ++= out.flagged.select("doc_id").as[Long].collect().sorted
        levels ++= spark.sparkContext.getPersistentRDDs.values.map(_.getStorageLevel)
      })
    // a writer that is built and never started holds nothing
    persistedNew shouldBe empty
    val q = LiteratureStream.backfill(writer)
    q.awaitTermination(120000)

    flagged.toSet shouldBe Set(10L, 20L) // vs corpus AND vs earlier batch
    admitted.toSet shouldBe Set(11L, 21L)

    // storage-level pin: the standing index grows with the admitted
    // corpus and must live SERIALIZED in the block manager while the
    // stream runs (SCALE.md 40M storage-level rule) — a regression to
    // deserialized default only hurts at scale, so it must fail here
    levels should contain (StorageLevel.MEMORY_AND_DISK_SER)

    // nothing outlives the query: superseded index generations and
    // per-batch signatures are freed after each fold, and the last
    // generation when the query ends (a listener event, then an async
    // unpersist, so poll)
    eventually(timeout(30.seconds), interval(200.millis)) { persistedNew shouldBe empty }
  }
}
