package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQueryListener}
import org.apache.spark.storage.StorageLevel

import graft.core.Checkpoints

/** The frames one run of a `foreachBatch` query holds across its
  * micro-batches: eager local checkpoints and caches. A frame is freed
  * when its holder calls [[free]], or else when the query terminates
  * (drained, stopped or failed), so nothing a writer built on
  * [[QueryState.fold]] creates outlives its query.
  */
final class QueryState private () {
  private val held = scala.collection.mutable.Map.empty[DataFrame, () => Unit]

  /** Eager `localCheckpoint` of `df` at `level`, held. */
  def checkpoint(df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    hold(df.localCheckpoint(true, level), Checkpoints.unpersistCheckpoint)

  /** `df.cache()`, held. */
  def cache(df: DataFrame): DataFrame = hold(df.cache(), _.unpersist())

  /** Free held frames now; a frame this state does not hold is ignored. */
  def free(dfs: DataFrame*): Unit = dfs.foreach(df => synchronized(held.remove(df)).foreach(_()))

  private def hold(df: DataFrame, release: DataFrame => Unit): DataFrame =
    synchronized { held(df) = () => release(df); df }

  private def freeAll(): Unit = free(synchronized(held.keys.toSeq): _*)
}

object QueryState {

  /** `input.writeStream.foreachBatch` as a fold over the query's
    * non-empty micro-batches: `init` builds the state on the first one,
    * and `step` maps (state, batch, batchId) to the next. Both create
    * what they keep through the run's [[QueryState]], so a writer never
    * started creates nothing, and an ended query leaves nothing behind.
    *
    * Each run of the writer has its own state, keyed by the run id of the
    * active query named by the batch thread's `sql.streaming.queryId`
    * property: a restart from the same checkpoint keeps the query id and
    * may begin before the previous run's end is heard. That end arrives
    * through a self-removing listener on the input's session; a batch's
    * own `sparkSession` is a clone whose listeners never hear it.
    */
  def fold[S](input: DataFrame)(init: QueryState => S)(
      step: (QueryState, S, DataFrame, Long) => S): DataStreamWriter[Row] = {
    val streams = input.sparkSession.streams
    val runs = new ConcurrentHashMap[String, (QueryState, S)]
    input.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      if (!batch.isEmpty) {
        val id = batch.sparkSession.sparkContext.getLocalProperty("sql.streaming.queryId")
        val run = streams.get(id).runId.toString
        val (qs, s) = Option(runs.get(run)).getOrElse {
          val qs = new QueryState
          streams.addListener(new StreamingQueryListener {
            override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
            override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
            override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
              if (e.runId.toString == run) { streams.removeListener(this); runs.remove(run); qs.freeAll() }
          })
          (qs, init(qs))
        }
        runs.put(run, (qs, step(qs, s, batch, batchId)))
        ()
      }
    }
  }

  /** The standing-index fold of both admission writers: the index starts
    * as `initial` and grows by each batch's admitted keys, so a batch is
    * checked against the corpus AND every earlier admission. Per batch,
    * `keys(batch)` (doc_id plus key columns) is checkpointed,
    * `matches(keys, index)` gives (new_id, …) candidates, and
    * `sink(batchId, batch, keys, dupIds)` consumes the batch; then the
    * unmatched keys fold into the next generation, and the superseded
    * generation and the batch's keys are freed.
    *
    * Each fold is an eager checkpoint, so lineage stays constant instead
    * of growing one union per batch. The index lives SERIALIZED: it grows
    * with the admitted corpus and is only scanned by the band join (the
    * SCALE.md 40M scan-only checkpoint rule; deserialized rows would
    * amplify it ~5×). It is still the full index, so an indefinitely
    * lived stream should keep it as an appendable table and restart
    * from it.
    */
  private[streaming] def indexFold(input: DataFrame, initial: DataFrame)(
      keys: DataFrame => DataFrame, matches: (DataFrame, DataFrame) => DataFrame)(
      sink: (Long, DataFrame, DataFrame, DataFrame) => Unit): DataStreamWriter[Row] = {
    val ser = StorageLevel.MEMORY_AND_DISK_SER
    fold(input)(_.checkpoint(initial, ser)) { (qs, index, batch, batchId) =>
      val batchKeys = qs.checkpoint(keys(batch))
      val dupIds = matches(batchKeys, index).select(col("new_id").as("doc_id")).distinct()
      sink(batchId, batch, batchKeys, dupIds)
      val next = qs.checkpoint(
        index.unionByName(batchKeys.join(dupIds, Seq("doc_id"), "left_anti")), ser)
      qs.free(index, batchKeys)
      next
    }
  }
}
