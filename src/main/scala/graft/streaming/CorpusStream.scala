package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.dedup.Dedup

/** Streaming training-data admission: each micro-batch of raw documents
  * is near-dup-checked against a STANDING MinHash signature index before
  * entering the corpus — the d9 batch-vs-index shape (the operational
  * dedup at 100 TB: the corpus's signatures are materialized once, each
  * drop bands against them) under Structured Streaming execution.
  *
  * The index GROWS: admitted documents' signatures fold into it after
  * every batch, so a duplicate of an earlier admitted batch is flagged
  * too, not just duplicates of the initial corpus ([[QueryState.indexFold]]:
  * serialized eager checkpoints per fold, the superseded generation and
  * the batch's signatures freed after each, and nothing outlives the
  * query). The writer checkpoints nothing until its first non-empty batch.
  * Intra-batch duplicates are the batch operators' job (run
  * Dedup.exact/minhashCandidates on the batch before admission if
  * drops can contain self-dups); this writer's contract is
  * batch-vs-corpus.
  *
  * Scale shape per batch: signatures are one combinable aggregation over
  * the batch (arrival-rate-sized); the band join touches only index rows
  * sharing a band hash with the batch — never corpus × batch.
  */
object CorpusStream {

  final case class BatchAdmissions(batchId: Long, admitted: DataFrame, flagged: DataFrame)

  /** Build the writer: `docs` is a streaming (doc_id, text) frame;
    * `initialSigs` is the standing corpus signature index
    * (Dedup.minhashSignatures output). `sink` receives each batch's
    * admitted and flagged documents.
    *
    * Sink contract: consume (write/count/collect) `admitted` and
    * `flagged` WITHIN the callback. foreachBatch semantics already scope
    * a batch's validity to its invocation, and here the failure mode is
    * hard, not stale: both frames read checkpoint blocks that this
    * writer unpersists right after `sink` returns (the index-fold
    * storage bound), and localCheckpoint leaves no lineage to recompute
    * them from — a retained frame evaluated later fails with a missing
    * checkpoint block, it does not silently reread old state.
    */
  def admissionWriter(docs: DataFrame, initialSigs: DataFrame,
      minSim: Double, sink: BatchAdmissions => Unit): DataStreamWriter[Row] =
    QueryState.indexFold(docs, initialSigs)(
      Dedup.minhashSignatures(_),
      (sigs, index) => Dedup.incrementalMinhashCandidates(sigs, index)
        .filter(col("est_sim") >= minSim)) { (batchId, batch, _, dupIds) =>
      sink(BatchAdmissions(batchId,
        batch.join(dupIds, Seq("doc_id"), "left_anti"),
        batch.join(dupIds, Seq("doc_id"), "left_semi")))
    }
}
