package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.streaming.CorpusStream

/** Streaming-admission soak: drives CorpusStream's growing near-dup index
  * over many micro-batches at scale and records what the batch-side soak
  * (ScaleSoak) cannot — per-batch latency as the index grows, and the
  * block-manager generation bound the per-fold unpersist discipline
  * claims (core.Checkpoints).
  *
  * Corpus shape: a standing corpus of `GRAFT_STREAM_INITIAL` docs is
  * signed up-front; `GRAFT_STREAM_BATCHES` parquet files of
  * `GRAFT_STREAM_BATCH_DOCS` each land in a directory consumed with
  * `maxFilesPerTrigger=1` (one file = one micro-batch) under
  * Trigger.AvailableNow. Every batch plants `batch_docs/50` EXACT copies
  * of the PREVIOUS batch's content (id ≡ 7 mod 50 copies id − batch_docs)
  * — flaggable only because the index grows with admissions, which is the
  * property under soak; the admitted remainder folds into the index.
  *
  * Output: one JSON line with per-batch {sec, input_rows, admitted,
  * flagged, persisted_rdds} plus totals. The pass criteria read off the
  * numbers: flagged ≈ batch_docs/50 every batch after the first,
  * persisted_rdds constant (one retained index generation) instead of
  * growing by ~2/batch, and per-batch seconds flat-to-logarithmic as the
  * index accumulates admissions.
  */
object StreamSoak {

  def main(args: Array[String]): Unit = {
    val initial = sys.env.getOrElse("GRAFT_STREAM_INITIAL", "100000").toLong
    val batchDocs = sys.env.getOrElse("GRAFT_STREAM_BATCH_DOCS", "100000").toLong
    val batches = sys.env.getOrElse("GRAFT_STREAM_BATCHES", "25").toInt
    val spark = RegistryRunner.localBuilder("graft-stream-soak").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val landing = java.nio.file.Files.createTempDirectory("graft-stream-soak").toString

    // batch b covers ids [initial + b·S, initial + (b+1)·S): ids ≡ 1,2
    // (mod 50) duplicate their block leader intra-batch; ids ≡ 7 (mod 50)
    // with a predecessor batch copy a PLAIN doc (seed = own id, so its
    // text is reproducible here) one batch earlier: seed id − S − 1,
    // which is ≡ 6 (mod 50) — not itself a dup/copy — and was therefore
    // ADMITTED in batch b−1. Only a GROWING index can flag these.
    require(batchDocs % 50 == 0 && initial % 50 == 0,
      "initial/batch sizes must be multiples of the 50-doc dup block")
    def batch(b: Int) = {
      val from = initial + b * batchDocs
      val until = from + batchDocs
      spark.range(from, until).selectExpr(
        "id as doc_id",
        s"""case when id % 50 in (1, 2) then (id div 50) * 50
           |     when id % 50 = 7 and id >= ${initial + batchDocs} then id - $batchDocs - 1
           |     else id end as seed""".stripMargin,
        "cast(false as boolean) as near")
        .selectExpr("doc_id", s"${ScaleSoak.textFromSeedSql} as text")
    }
    // the standing corpus uses the same generator family, so cross-batch
    // copies of batch-0 content hash into comparable shingle space
    val corpus = ScaleSoak.documents(spark, initial)

    System.err.println(s"[stream-soak] signing initial corpus ($initial docs)")
    val t0 = System.nanoTime()
    val initialSigs = graft.dedup.Dedup.minhashSignatures(corpus)
    (0 until batches).foreach { b =>
      batch(b).coalesce(1).write.parquet(f"$landing/b$b%04d.parquet")
    }
    System.err.println(f"[stream-soak] setup ${(System.nanoTime() - t0) / 1e9}%.1f s")

    val schema = corpus.schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$landing/*.parquet")

    // per-batch observations recorded inside the sink (single-threaded
    // per query); wall time brackets the WHOLE foreachBatch including
    // the index fold, which progress.batchDuration also covers
    final case class Obs(batchId: Long, sec: Double, admitted: Long, flagged: Long,
        persistedRdds: Int)
    var obs = Vector.empty[Obs]
    var tBatch = System.nanoTime()
    val writer = CorpusStream.admissionWriter(stream, initialSigs, minSim = 0.8,
      out => {
        // one pass over admitted gets the count AND the batch's id window.
        // The flagged ≈ batch_docs/50 pass criterion assumes the source
        // delivers b0000..bNNNN in order (mtime with path tiebreak — the
        // zero-padded names make it deterministic, but nothing upstream
        // enforces it), so assert batch b actually carries batch b's ids:
        // block leaders (id ≡ 0, 49 mod 50) are always admitted, making
        // admitted's min/max the window edges
        val row = out.admitted.agg(count(lit(1)), min("doc_id"), max("doc_id")).head()
        val admitted = row.getLong(0)
        val expectFrom = initial + out.batchId * batchDocs
        require(row.getLong(1) == expectFrom &&
          row.getLong(2) == expectFrom + batchDocs - 1,
          s"batch ${out.batchId} delivered out of order: ids " +
            s"[${row.getLong(1)}, ${row.getLong(2)}], expected " +
            s"[$expectFrom, ${expectFrom + batchDocs - 1}] — per-batch flagged " +
            "accounting is invalid for this run")
        val flagged = out.flagged.count()
        obs :+= Obs(out.batchId, (System.nanoTime() - tBatch) / 1e9, admitted, flagged,
          spark.sparkContext.getPersistentRDDs.size)
        System.err.println(f"[stream-soak] batch ${out.batchId}%2d " +
          f"${obs.last.sec}%6.2f s  admitted $admitted%7d  flagged $flagged%6d  " +
          f"persisted_rdds ${obs.last.persistedRdds}%d")
        tBatch = System.nanoTime()
      })
    val q = CorpusStream.backfill(writer)
    q.awaitTermination()

    val totalSec = obs.map(_.sec).sum
    val js = obs.map(o =>
      s"""{"batch":${o.batchId},"sec":${o.sec},"admitted":${o.admitted},""" +
        s""""flagged":${o.flagged},"persisted_rdds":${o.persistedRdds}}""")
      .mkString("[", ",", "]")
    println(s"""{"metric":"stream_soak_total","value":$totalSec,"unit":"sec",""" +
      s""""initial":$initial,"batch_docs":$batchDocs,"batches":$batches,""" +
      s""""docs_per_sec":${(batchDocs * batches / totalSec).toLong},""" +
      s""""admitted_total":${obs.map(_.admitted).sum},""" +
      s""""flagged_total":${obs.map(_.flagged).sum},""" +
      s""""max_persisted_rdds":${obs.map(_.persistedRdds).max},"batches_detail":$js}""")
    spark.stop()
  }
}
