package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftBenchBridge, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Per-layer attribution for the traced run, kept entirely outside graft.
  *
  * A span wraps one call into a graft layer. While it is open the calling
  * thread's Spark job group is the layer name, so a listener can charge
  * every job, stage and task to the layer that caused it. Spans nest; a
  * layer's wall time is the self time of its spans (duration minus the
  * part covered by child spans), so layer walls add up to the traced
  * iteration. Spans stay in memory and are written out at the end.
  *
  * A production entry point that is called unchanged (EtlMain.run) runs in
  * an `actions` span instead: Spark's laziness runs each layer's work in
  * the action that consumes it, so the listener charges each action (a SQL
  * execution, or a job outside one) to the layer a classifier names from
  * the action's plan and call site. The action's wall time is the time
  * since the previous action ended, so it includes the driver work that
  * led to it; what follows the last action is unattributed.
  *
  * Jobs started by threads graft owns (a streaming query's micro-batch
  * thread sets its own job group) are charged through `alias`.
  */
final class Tracer(spark: SparkSession) {

  final case class Span(id: Int, parent: Int, name: String, layer: String, startNs: Long, endNs: Long,
      startMs: Long, endMs: Long)

  /** One Spark action of an `actions` span: its layer, a label, and its
    * start and end (epoch ms).
    */
  final case class Action(layer: String, label: String, startMs: Long, endMs: Long)

  private final class Acc {
    var stages, tasks, runMs, gcMs, shuffleRead, shuffleWrite, spill = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }

  private final case class Job(group: String, exec: Option[Long], stageIds: Seq[Int], details: String,
      startMs: Long, var endMs: Long = -1L)

  private final case class Exec(plan: String, details: String, startMs: Long, var endMs: Long = -1L,
      var planMs: Long = 0L)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 1
  private val counts = mutable.LinkedHashMap.empty[String, Double]
  private val gauges = mutable.LinkedHashMap.empty[String, Double]
  private val aliases = mutable.Map.empty[String, String]
  private val classifiers = mutable.Map.empty[String, (String, String) => String]

  // listener state, written on the listener-bus thread and read in report()
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val execs = mutable.Map.empty[Long, Exec]
  private val rootExec = mutable.Map.empty[Long, Long]
  private val byStage = mutable.Map.empty[Int, Acc]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val details = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
      jobs(e.jobId) = Job(prop("spark.jobGroup.id").getOrElse(""),
        prop("spark.sql.execution.id").map(_.toLong), e.stageIds, details, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      byStage.getOrElseUpdate(e.stageInfo.stageId, new Acc).stages += 1
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        execs(s.executionId) = Exec(s.physicalPlanDescription, s.details, s.time)
        rootExec(s.executionId) = s.rootExecutionId.getOrElse(s.executionId)
      }
      case end: SparkListenerSQLExecutionEnd => Tracer.this.synchronized {
        execs.get(end.executionId).foreach { x =>
          x.endMs = end.time
          x.planMs = GraftBenchBridge.planningMs(end)
        }
      }
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val a = byStage.getOrElseUpdate(e.stageId, new Acc)
      a.tasks += 1
      a.taskMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  spark.sparkContext.addSparkListener(listener)

  def stop(): Unit = {
    GraftBenchBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
  }

  /** Run `f` as a call into `layer`; `name` labels the span (default: the layer). */
  def span[A](layer: String, name: String = "")(f: => A): A = {
    val sc = spark.sparkContext
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(0)
    val prevGroup = Option(sc.getLocalProperty("spark.jobGroup.id"))
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(layer, if (name.isEmpty) layer else name)
    open = id :: open
    val (t0, m0) = (System.nanoTime(), System.currentTimeMillis())
    try f
    finally {
      spans += Span(id, parent, if (name.isEmpty) layer else name, layer, t0, System.nanoTime(), m0,
        System.currentTimeMillis())
      open = open.tail
      prevGroup match {
        case Some(g) => sc.setJobGroup(g, prevDesc)
        case None    => sc.clearJobGroup()
      }
    }
  }

  /** Run `f`, an unchanged production entry point, as the span `name`, and
    * charge each Spark action it runs to the layer `classify(plan, callSite)`
    * returns: `plan` is the physical plan of a SQL execution (empty for a
    * job outside one), `callSite` the long call site, innermost frame first.
    * An empty layer leaves the action unattributed.
    */
  def actions[A](name: String, classify: (String, String) => String)(f: => A): A = {
    synchronized { classifiers(name) = classify }
    span(name)(f)
  }

  /** Charge jobs of Spark job group `group` (e.g. a streaming query's run id) to `layer`. */
  def alias(group: String, layer: String): Unit = synchronized { aliases(group) = layer }

  /** Add to a named count (rows out, leaked blocks). */
  def count(name: String, n: Double): Unit = counts(name) = counts.getOrElse(name, 0d) + n

  /** Set a named value that does not add up over iterations (a ratio, a size). */
  def gauge(name: String, v: Double): Unit = gauges(name) = v

  private def rootOf(exec: Long): Long = rootExec.getOrElse(exec, exec)

  /** Layer of every job and of every root SQL execution with jobs: inside
    * an `actions` span the layer of the action, else the job group (or the
    * group's alias).
    */
  private def layers: (Map[Int, String], Map[Long, String]) = {
    val execLayer = mutable.Map.empty[Long, String]
    val jobLayer = jobs.map { case (id, j) =>
      val layer = (classifiers.get(j.group), j.exec.map(rootOf)) match {
        case (Some(classify), Some(x)) => execLayer.getOrElseUpdate(x, classify(
          execs.collect { case (xid, e) if rootOf(xid) == x => e.plan }.mkString("\n"),
          execs.get(x).fold(j.details)(_.details)))
        case (Some(classify), None) => classify("", j.details)
        case (None, x) =>
          val l = aliases.getOrElse(j.group, j.group)
          x.foreach(execLayer.getOrElseUpdate(_, l))
          l
      }
      id -> layer
    }.toMap
    (jobLayer, execLayer.toMap)
  }

  /** The actions of every `actions` span, in the order they ended. */
  def actionRecords: Seq[Action] = synchronized {
    val (jobLayer, execLayer) = layers
    val inActions = jobs.filter(j => classifiers.contains(j._2.group)).toSeq
    val fromExecs = inActions.flatMap(_._2.exec).map(rootOf).distinct.flatMap { x =>
      execs.get(x).map(e => Action(execLayer(x), s"sql $x", e.startMs, e.endMs))
    }
    val plain = inActions.collect { case (id, j) if j.exec.isEmpty =>
      Action(jobLayer(id), s"job $id", j.startMs, j.endMs)
    }
    (fromExecs ++ plain).sortBy(_.endMs)
  }

  /** Wall time per layer, in seconds: self time of plain spans, plus for an
    * `actions` span the time from the end of one action to the end of the
    * next, charged to the later action's layer.
    */
  private def wallSeconds: Map[String, Double] = {
    val childNs = spans.groupBy(_.parent).view.mapValues(_.map(s => s.endNs - s.startNs).sum).toMap
    val self = spans.groupBy(_.layer).view.mapValues(_.map { s =>
      (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9
    }.sum).toMap
    val moved = mutable.Map.empty[String, Double].withDefaultValue(0d)
    for (root <- spans if classifiers.contains(root.layer)) {
      var prev = root.startMs
      for (a <- actionRecords if a.endMs >= root.startMs && a.endMs <= root.endMs) {
        val seg = math.max(0L, a.endMs - prev) / 1e3
        prev = math.max(prev, a.endMs)
        if (a.layer.nonEmpty) {
          moved(a.layer) += seg
          moved(root.layer) -= seg
        }
      }
    }
    (self.keySet ++ moved.keySet).map(k => k -> (self.getOrElse(k, 0d) + moved(k))).toMap
  }

  /** Per-layer metrics (`<layer>.<metric>`) for the layers `names`, over `cores` task
    * slots; sums are per traced iteration (`iterations` of them ran), and
    * `trace.unattributed_s` is the part of the iteration span `root` no
    * layer accounts for.
    */
  def report(names: Seq[String], cores: Int, iterations: Int, root: String): Map[String, Double] = synchronized {
    val wallOf = wallSeconds
    val (layerOfJob, execLayer) = layers
    val stageLayer = for ((id, j) <- jobs; s <- j.stageIds) yield s -> layerOfJob(id)
    val execPlan = execs.toSeq.flatMap { case (id, x) => execLayer.get(rootOf(id)).map(_ -> x.planMs) }
    names.flatMap { layer =>
      val accs = byStage.collect { case (s, a) if stageLayer.get(s).contains(layer) => a }
      val durs = accs.flatMap(_.taskMs).toArray.sorted
      def pct(p: Double) = if (durs.isEmpty) 0d else durs(math.min(durs.length - 1, (p * durs.length).toInt)).toDouble
      val n = iterations.toDouble
      val wall = wallOf.getOrElse(layer, 0d) / n
      val taskS = accs.map(_.runMs).sum / 1e3 / n
      val mb = 1024d * 1024d * n
      Seq(
        "wall_s" -> wall,
        "jobs" -> layerOfJob.count(_._2 == layer) / n,
        "stages" -> accs.map(_.stages).sum / n,
        "tasks" -> accs.map(_.tasks).sum / n,
        "task_s" -> taskS,
        "busy_frac" -> (if (wall > 0) taskS / (wall * cores) else 0d),
        "task_p50_ms" -> pct(0.5),
        "task_p99_ms" -> pct(0.99),
        "shuffle_read_mb" -> accs.map(_.shuffleRead).sum / mb,
        "shuffle_write_mb" -> accs.map(_.shuffleWrite).sum / mb,
        "spill_mb" -> accs.map(_.spill).sum / mb,
        "gc_s" -> accs.map(_.gcMs).sum / 1e3 / n,
        "plan_s" -> execPlan.collect { case (l, ms) if l == layer => ms }.sum / 1e3 / n,
        "rows_out" -> counts.getOrElse(s"$layer.rows_out", 0d) / n
      ).map { case (k, v) => s"$layer.$k" -> v }
    }.toMap ++
      counts.collect { case (k, v) if !k.endsWith(".rows_out") => k -> v / iterations } ++
      gauges + ("trace.unattributed_s" -> wallOf.getOrElse(root, 0d) / iterations)
  }

  def spanRecords: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs))
}
