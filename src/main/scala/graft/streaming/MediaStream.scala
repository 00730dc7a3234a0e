package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.dedup.Dedup
import graft.multimodal.{ImageHash, MediaRow}

/** Streaming IMAGE admission — the multimodal twin of
  * [[CorpusStream]]: each micro-batch of binary image payloads is
  * real-decoded, perceptually hashed (ImageHash.dHash), and
  * hamming-checked against a STANDING hash index before entering the
  * corpus. Matches the measured 100 TB posture for image dedup
  * (SCALE.md "Image near-dup banding A/B"): decode is the dominant cost
  * and happens exactly once per admitted image — the index stores the
  * 8-byte hash, and re-checks band against it without ever re-decoding
  * the corpus.
  *
  * The index GROWS with admissions (the CorpusStream discipline, the
  * same [[QueryState.indexFold]]: eager serialized checkpoints per fold,
  * the superseded generation freed, and nothing outlives the query).
  * Undecodable payloads are QUARANTINED to `rejected` — they are
  * neither admitted nor indexed, so a corrupt blob can never poison the
  * index or silently enter the corpus.
  *
  * Sink contract: consume all three frames WITHIN the callback (the
  * CorpusStream.admissionWriter contract — the batch's checkpoint blocks
  * are freed when the callback returns, and a retained frame fails hard
  * on its missing checkpoint rather than reading stale state).
  *
  * Scale shape per batch: one decode+hash pass over the batch
  * (arrival-rate-sized, map-side); the band join touches only index rows
  * sharing a 16-bit band value with the batch — never corpus × batch.
  */
object MediaStream {

  final case class ImageAdmissions(batchId: Long, admitted: DataFrame,
      flagged: DataFrame, rejected: DataFrame)

  /** Build the writer: `media` is a streaming (doc_id, media_type,
    * payload) frame; `initialHashes` the standing (doc_id, simhash)
    * index (ImageHash.dhashDocs output — text SimHash signatures plug in
    * unchanged if the corpus mixes modalities on the same hamming
    * budget). A batch image within `maxHamming` bits of any index entry
    * is flagged.
    */
  def imageAdmissionWriter(media: DataFrame, initialHashes: DataFrame,
      maxHamming: Int, sink: ImageAdmissions => Unit): DataStreamWriter[Row] =
    QueryState.indexFold(media, initialHashes)(
      batch => {
        val spark = batch.sparkSession
        import spark.implicits._
        val rows = batch.select(col("doc_id"), col("media_type"), col("payload")).as[MediaRow]
        ImageHash.dhashDocs(rows, spark, lenient = true)
      },
      (hashes, index) => Dedup.incrementalHammingCandidates(hashes, index, maxHamming = maxHamming)
    ) { (batchId, batch, hashes, dupIds) =>
      val decoded = hashes.select(col("doc_id"))
      sink(ImageAdmissions(batchId,
        batch.join(decoded, Seq("doc_id"), "left_semi").join(dupIds, Seq("doc_id"), "left_anti"),
        batch.join(dupIds, Seq("doc_id"), "left_semi"),
        batch.join(decoded, Seq("doc_id"), "left_anti")))
    }
}
