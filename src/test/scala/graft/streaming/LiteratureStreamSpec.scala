package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.etl.Fixtures
import org.apache.spark.sql.GraftTestBridge
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

class LiteratureStreamSpec extends SparkSpec {

  // the session's cache-manager entries and persisted RDDs
  private def held = (GraftTestBridge.cachedEntries(spark),
    spark.sparkContext.getPersistentRDDs.keySet.toSet)

  // nothing cached or persisted beyond `before`, once a query has ended
  // (a listener event, then an async unpersist, so poll)
  private def nothingBeyond(before: (Int, Set[Int])): Unit =
    eventually(timeout(30.seconds), interval(200.millis)) {
      held._1 shouldBe before._1
      held._2.diff(before._2) shouldBe empty
    }

  "LiteratureStream" should "ground documents incrementally via foreachBatch" in {
    val landing = Files.createTempDirectory("graft-landing").toFile.getAbsolutePath
    // batch-write the fixture corpus as the landing JSON; schema from the
    // static read (streams need explicit schemas)
    val staticDocs = Fixtures.epmc(spark)
    staticDocs.write.mode("overwrite").json(landing)

    val stream = spark.readStream.schema(staticDocs.schema).json(landing)

    val before = held
    var matchTotal = 0L
    var coocTotal = 0L
    var batches = 0
    val writer = LiteratureStream.groundingWriter(
      stream,
      Fixtures.epmcIds(spark),
      Fixtures.targets(spark),
      Fixtures.diseases(spark),
      Fixtures.drugs(spark),
      out => {
        batches += 1
        matchTotal += out.matches.count()
        coocTotal += out.cooccurrences.count()
      })

    val q = LiteratureStream.backfill(writer)
    // awaitTermination(ms) returns false on timeout — assert it, or a
    // slow run under full-suite contention asserts against partial counts
    assert(q.awaitTermination(300000), "stream did not terminate in 300 s")

    nothingBeyond(before)
    batches should be >= 1
    // same totals as the batch pipeline over the same corpus
    matchTotal shouldBe 9L
    coocTotal shouldBe 2L
  }

  it should "survive a mid-input crash and replay exactly-once" in {
    val landing = Files.createTempDirectory("graft-landing2").toFile.getAbsolutePath
    val checkpoint = Files.createTempDirectory("graft-ckpt").toFile.getAbsolutePath
    val out = Files.createTempDirectory("graft-stream-out").toFile.getAbsolutePath
    // each run frees its cached lookups when it ends, by failure or drain
    val before = held
    val staticDocs = Fixtures.epmc(spark)
    staticDocs.write.mode("overwrite").json(landing)

    def stream = spark.readStream
      .schema(staticDocs.schema)
      .option("maxFilesPerTrigger", "1") // several micro-batches, not one
      .json(landing)

    def writer(sink: LiteratureStream.BatchOutputs => Unit) =
      LiteratureStream.groundingWriter(
        stream, Fixtures.epmcIds(spark), Fixtures.targets(spark),
        Fixtures.diseases(spark), Fixtures.drugs(spark), sink)
        .option("checkpointLocation", checkpoint)

    // run 1: the sink WRITES its output, then dies before the checkpoint
    // commits — the worst-case window for double-counting on restart
    val base = LiteratureStream.parquetSink(out)
    var crashed = false
    val crashingSink: LiteratureStream.BatchOutputs => Unit = o => {
      base(o)
      if (!crashed) { crashed = true; throw new RuntimeException("injected crash") }
    }
    val q1 = LiteratureStream.backfill(writer(crashingSink))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination(300000)
    }
    crashed shouldBe true
    nothingBeyond(before)

    // run 2: same checkpoint — the engine replays the uncommitted batch
    // with the SAME batchId; the overwrite-by-batch sink rewrites it
    // instead of appending a duplicate
    val q2 = LiteratureStream.backfill(writer(base))
    assert(q2.awaitTermination(300000), "replay stream did not terminate in 300 s")
    nothingBeyond(before)

    // totals match the batch pipeline exactly — an appending sink would
    // have double-counted the replayed batch
    val matches = spark.read.parquet(s"$out/matches")
    matches.count() shouldBe 9L
    spark.read.parquet(s"$out/cooccurrences").count() shouldBe 2L
    // and the input really was split across micro-batches
    matches.select("batch_id").distinct().count() should be > 1L
  }
}
