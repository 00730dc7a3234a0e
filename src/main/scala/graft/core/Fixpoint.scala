package graft.core

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.storage.StorageLevel

/** The eager round driver behind `Dedup.clusters`' label rounds and
  * `Graph`'s kCorePeel, kCore, bfsDistances and labelPropagation. The
  * caller supplies generation 0 and one round's lazy plan; the driver
  * owns the round discipline:
  *
  *  - Each generation is EAGERLY `localCheckpoint`ed and the superseded
  *    one freed ([[Checkpoints.unpersistCheckpoint]]) once the next is
  *    materialized. A round reads the previous generation several times
  *    (the peel: degree agg + two semi-joins), so an un-cut lineage
  *    re-executes everything upstream 3^rounds times — 45 s vs 1.1 s for
  *    a 3-round peel over the g3 fixture's md5 self-join at sf0.1.
  *  - The storage level is the call site's. Edge-volume-sized scan-only
  *    frames use `MEMORY_AND_DISK_SER`: at 40M soak docs deserialized
  *    edge blocks (~360 MB row-object partitions) drove a shuffle-write
  *    OOM, while serialized blocks fit a fraction of the heap and spill
  *    cleanly. Node-sized frames re-read several times per round (the
  *    clusters label rounds) stay deserialized `MEMORY_AND_DISK`: the
  *    round-6 A/B showed serialization CPU is pure cost when blocks fit.
  *  - Rounds aggregate 16-byte rows that are CPU-heavy per row, so all of
  *    it runs under [[AqeHints.withTinyRowAdvisory]] (SCALE.md
  *    "label_propagation at 40M": 2.2× wall at AQE's 64 MB default).
  *  - [[run]] runs a fixed budget, or stops at the first round its
  *    [[Until]] accepts, judged on an aggregate the round's own
  *    checkpoint action observes (no extra job), and throws
  *    `IllegalStateException` after its round cap without one.
  *  - If a round throws, the live generation is freed first (a checkpoint
  *    job failing in its result stage leaves its own RDD to Spark's
  *    ContextCleaner: Spark returns no handle to it). On success only the
  *    returned generation stays persisted, owned by the caller.
  */
object Fixpoint {

  /** When a converging [[run]] is done, judged on `metric`, an aggregate
    * over each round's output; `stalled` describes its last value.
    */
  sealed trait Until {
    def metric: Column
    def stalled: Long => String
  }

  /** Done once a round's metric equals the previous generation's (the
    * generation-0 checkpoint is observed too).
    */
  final case class Unchanged(metric: Column, stalled: Long => String) extends Until

  /** Done once a round's metric is zero. */
  final case class Zero(metric: Column, stalled: Long => String) extends Until

  /** Run rounds from `init`: `step(previous, round)` is round `round`'s
    * lazy plan over the previous generation. With no `until`, exactly
    * `cap` rounds run (`cap <= 0` returns the checkpointed `init`); with
    * one, rounds stop after the first it accepts, and `cap` rounds
    * without one throw. Returns the last generation and the round count.
    */
  def run(init: DataFrame, level: StorageLevel, cap: Int, until: Option[Until] = None)(
      step: (DataFrame, Int) => DataFrame): (DataFrame, Int) =
    AqeHints.withTinyRowAdvisory(init.sparkSession) {
      def checkpoint(df: DataFrame, metric: Option[Column]): (DataFrame, Long) =
        metric.fold((df.localCheckpoint(true, level), 0L))(checkpointObserved(df, level, _))
      var (current, last) = checkpoint(init, until.collect { case Unchanged(m, _) => m })
      var round = 0
      var done = false
      try {
        while (!done && round < cap) {
          round += 1
          val (next, m) = checkpoint(step(current, round), until.map(_.metric))
          Checkpoints.unpersistCheckpoint(current)
          current = next
          done = until.exists {
            case Unchanged(_, _) => m == last
            case Zero(_, _)      => m == 0L
          }
          last = m
        }
        for (u <- until if !done)
          throw new IllegalStateException(
            s"fixpoint did not converge in $cap rounds: ${u.stalled(last)}")
        (current, round)
      } catch {
        case e: Throwable =>
          Checkpoints.unpersistCheckpoint(current)
          throw e
      }
    }

  /** Checkpoint `input`, a frame every round re-reads (an adjacency),
    * under the advisory; run `body` on it; free it on every exit.
    */
  def withCheckpoint[T](input: DataFrame, level: StorageLevel)(body: DataFrame => T): T =
    AqeHints.withTinyRowAdvisory(input.sparkSession) {
      val held = input.localCheckpoint(true, level)
      try body(held) finally Checkpoints.unpersistCheckpoint(held)
    }

  /** Eagerly checkpoint `df` and return it with the aggregate `metric`
    * that same action observed. The wait is bounded: an observation
    * whose listener event is dropped would otherwise hang forever, so
    * after 30 s the metric is recomputed over the materialized blocks.
    */
  def checkpointObserved(df: DataFrame, level: StorageLevel, metric: Column): (DataFrame, Long) = {
    val obs = Observation()
    val cp = df.observe(obs, metric.as("m")).localCheckpoint(true, level)
    val m =
      try Await.result(obs.future, 30.seconds).getAs[Long]("m")
      catch {
        case _: java.util.concurrent.TimeoutException => cp.agg(metric).head().getLong(0)
      }
    (cp, m)
  }
}
