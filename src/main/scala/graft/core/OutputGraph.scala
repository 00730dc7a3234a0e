package graft.core

import java.util.concurrent.{CompletableFuture, ConcurrentLinkedQueue, LinkedBlockingQueue, ThreadPoolExecutor,
  TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

/** Dependent tasks on a thread pool that lives for one [[OutputGraph.run]]:
  * each task starts as soon as the tasks it names have finished, so
  * independent Spark actions (writes, a model fit) overlap instead of
  * queueing behind each other, and the driver plans one action while
  * another runs.
  *
  * The pool's threads are started by the thread that calls `run`, before
  * any task: they inherit its Spark local properties (job group,
  * description, active session), so every job a task runs belongs to the
  * caller as if it had run it itself.
  *
  * Failure: once any task (or the caller's `build`) throws, tasks that
  * have not started complete without running, except [[always]] tasks.
  * `run` waits for every task that has started, stops the pool and joins
  * its threads, then rethrows the first exception as it was thrown, with
  * later ones attached as suppressed.
  */
final class OutputGraph private (pool: ThreadPoolExecutor) {

  private val tasks = new ConcurrentLinkedQueue[CompletableFuture[_]]
  private val failures = new ConcurrentLinkedQueue[Throwable]

  /** A finished task: what an input already on disk depends on. */
  val done: CompletableFuture[Unit] = CompletableFuture.completedFuture(())

  /** Run `body` once every task in `after` has succeeded; the result
    * completes exceptionally, without running `body`, when one of them
    * failed or any task of the run has failed.
    */
  def task[A](after: CompletableFuture[_]*)(body: => A): CompletableFuture[A] =
    track(CompletableFuture.allOf(after: _*).thenApplyAsync[A](_ => {
      if (!failures.isEmpty) throw OutputGraph.Skipped
      recorded(body)
    }, pool))

  /** Run `body` once every task in `after` has finished, succeeded or
    * not: a cleanup of what those tasks read.
    */
  def always(after: CompletableFuture[_]*)(body: => Unit): CompletableFuture[Unit] =
    track(CompletableFuture.allOf(after: _*).handleAsync[Unit]((_, _) => recorded(body), pool))

  private def recorded[A](body: => A): A =
    try body
    catch { case e: Throwable => failures.add(e); throw e }

  private def track[A](f: CompletableFuture[A]): CompletableFuture[A] = { tasks.add(f); f }
}

object OutputGraph {

  private object Skipped extends RuntimeException("skipped after an earlier failure", null, false, false)

  /** Build a graph with `build` on the calling thread and run its tasks on
    * `threads` pool threads named `name-<i>`; return once every task has
    * finished and the pool's threads have ended.
    */
  def run(threads: Int, name: String)(build: OutputGraph => Unit): Unit = {
    val started = new ConcurrentLinkedQueue[Thread]
    val ids = new AtomicInteger
    val pool = new ThreadPoolExecutor(threads, threads, 0L, TimeUnit.MILLISECONDS,
      new LinkedBlockingQueue[Runnable], (r: Runnable) => {
        val t = new Thread(r, s"$name-${ids.incrementAndGet()}")
        t.setDaemon(true)
        started.add(t)
        t
      })
    pool.prestartAllCoreThreads()
    val g = new OutputGraph(pool)
    try build(g)
    catch { case e: Throwable => g.failures.add(e) }
    finally {
      // every task completes (runs, is skipped, or fails with a dependency),
      // so this returns once the last started task has finished
      CompletableFuture.allOf(g.tasks.asScala.toSeq: _*).handle[Unit]((_, _) => ()).join()
      pool.shutdown()
      started.asScala.foreach(_.join())
    }
    g.failures.asScala.toList match {
      case first :: later =>
        later.filterNot(_ eq first).foreach(first.addSuppressed)
        throw first
      case Nil =>
    }
  }
}
