package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BusHatch
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Span kinds, outermost first. A `layer` span wraps one call into a
  * module of the program; a `check` span wraps an output check, whose jobs
  * are attributed but left out of every figure. */
object Kind {
  val Workload = "workload"; val Pass = "pass"; val Op = "op"
  val Layer = "layer"; val Check = "check"
}

final class Span(val id: Int, val parent: Int, val kind: String, val name: String,
    val startMs: Long, val startNs: Long, val gc0Ms: Long) {
  var endMs: Long = -1L
  var endNs: Long = -1L
  var gcMs: Long = 0L
  def wallS: Double = (endNs - startNs) / 1e9
}

/** One Spark job as the listener saw it, with the task metrics of its
  * stages summed in. `span` is the id the benchmark thread had set as a
  * local property when the job was submitted (-1: none). */
final class JobRec(val id: Int, val span: Int, val startMs: Long) {
  @volatile var endMs: Long = -1L
  var tasks = 0L; var runMs = 0L; var cpuNs = 0L
  var inputBytes = 0L; var shuffleWriteBytes = 0L; var spillBytes = 0L
  var outputBytes = 0L
}

object Gc {
  def millis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}

/** Records spans (workload -> pass -> op -> layer call) on the benchmark's
  * own thread and attributes Spark jobs to them through the local property
  * `perfbench.span`. Threads started inside a span (streaming queries)
  * inherit the property; jobs without it, or with the id of a span that
  * had already ended, count as unattributed. Everything stays in memory
  * until [[report]]. With `enabled = false` every span call only runs its
  * body, so the untraced run adds no listener and no property. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer.Prop

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  // (start ms, duration ms) of each planning phase of finished executions
  private val planning = new ConcurrentLinkedQueue[(Long, Long)]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toInt).getOrElse(-1)
      val j = new JobRec(e.jobId, span, e.time)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = stageJob.get(e.stageId)
      val m = e.taskMetrics
      if (j != null && m != null) j.synchronized {
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.values.foreach(p => planning.add((p.startTimeMs, p.durationMs)))
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def span[T](kind: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption.map(_.id).getOrElse(-1)
      val s = new Span(spans.size, parent, kind, name, System.currentTimeMillis(),
        System.nanoTime(), Gc.millis())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Prop, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        s.gcMs = Gc.millis() - s.gc0Ms
        stack = stack.tail
        sc.setLocalProperty(Prop, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Drains the listener bus, detaches the listeners and folds spans and
    * jobs into the per-layer figures, plus one row per operation name
    * (summed over passes). `cores` is the session's N. */
  def report(layers: Seq[String], cores: Int): Tracer.Report = {
    require(enabled)
    BusHatch.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)

    val byId = spans.map(s => s.id -> s).toMap
    // innermost layer span at or above a span; None outside any layer call
    def layerOf(id: Int): Option[Span] = {
      var cur = byId.get(id)
      while (cur.exists(s => s.kind != Kind.Layer && s.kind != Kind.Check))
        cur = byId.get(cur.get.parent)
      cur.filter(_.kind == Kind.Layer)
    }
    def opOf(id: Int): Option[Span] = {
      var cur = byId.get(id)
      while (cur.exists(_.kind != Kind.Op)) cur = byId.get(cur.get.parent)
      cur
    }
    def inCheck(id: Int): Boolean = {
      var cur = byId.get(id)
      while (cur.exists(_.kind != Kind.Check)) cur = byId.get(cur.get.parent)
      cur.isDefined
    }
    val root = spans.find(_.kind == Kind.Workload).get
    val window = jobs.values.asScala.toSeq
      .filter(j => j.startMs >= root.startMs && j.startMs <= root.endMs)
    // a job whose span had already ended was attributed by a stale property
    def attributed(j: JobRec): Boolean = byId.get(j.span)
      .exists(s => j.startMs >= s.startMs - 1 && j.startMs <= s.endMs + 1)
    val (good, unattributed) = window.partition(attributed)
    val counted = good.filterNot(j => inCheck(j.span))
    import Tracer.{idleS, uncoveredS}
    val children = spans.groupBy(_.parent)
    def selfS(s: Span): Double = s.wallS - ((s.endMs - s.startMs) / 1000.0 -
      uncoveredS(s, children.getOrElse(s.id, Nil).toSeq.map(k => (k.startMs, k.endMs))))
    val plans = planning.asScala.toSeq
    // innermost span open at `ms`: children are created after their parents
    def spanAt(ms: Long): Option[Span] = spans.filter(s => s.startMs <= ms && ms <= s.endMs)
      .maxByOption(_.id)

    val out = mutable.LinkedHashMap.empty[String, Double]
    layers.foreach { layer =>
      val ls = spans.filter(s => s.kind == Kind.Layer && s.name == layer).toSeq
      val ids = ls.map(_.id).toSet
      val js = counted.filter(j => layerOf(j.span).exists(l => ids.contains(l.id)))
      val jsBySpan = js.groupBy(j => layerOf(j.span).get.id)
      def sum(f: JobRec => Long): Double = js.map(f).sum.toDouble
      out(s"$layer.calls") = ls.size
      out(s"$layer.wall_s") = ls.map(_.wallS).sum
      out(s"$layer.self_s") = ls.map(selfS).sum
      out(s"$layer.planning_s") = plans.filter { case (t, _) =>
        spanAt(t).flatMap(s => layerOf(s.id)).exists(l => ids.contains(l.id))
      }.map(_._2).sum / 1000.0
      out(s"$layer.jobs") = js.size
      out(s"$layer.tasks") = sum(_.tasks)
      out(s"$layer.task_s") = sum(_.runMs) / 1000.0
      out(s"$layer.cpu_s") = sum(_.cpuNs) / 1e9
      out(s"$layer.input_bytes") = sum(_.inputBytes)
      out(s"$layer.shuffle_write_bytes") = sum(_.shuffleWriteBytes)
      out(s"$layer.spill_bytes") = sum(_.spillBytes)
      out(s"$layer.output_bytes") = sum(_.outputBytes)
      out(s"$layer.gc_s") = ls.map(_.gcMs).sum / 1000.0
      out(s"$layer.driver_idle_s") = ls.map(s => idleS(s, jsBySpan.getOrElse(s.id, Nil))).sum
    }
    val ops = spans.filter(_.kind == Kind.Op).toSeq
    val opJobs = counted.filter(j => opOf(j.span).isDefined).groupBy(j => opOf(j.span).get.id)
    val opWall = ops.map(_.wallS).sum
    out("driver_idle_share") = ops.map(s => idleS(s, opJobs.getOrElse(s.id, Nil))).sum / opWall
    out("core_busy_share") = opJobs.values.flatten.map(_.runMs).sum / 1000.0 / (opWall * cores)
    out("unattributed_job_s") = unattributed.map(j => math.max(0L, j.endMs - j.startMs) / 1000.0).sum
    out("input_bytes") = counted.filter(j => opOf(j.span).isDefined).map(_.inputBytes).sum.toDouble
    val opRows = ops.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, same) =>
      val js = same.flatMap(s => opJobs.getOrElse(s.id, Nil))
      name -> Seq("calls" -> same.size.toDouble, "wall_s" -> same.map(_.wallS).sum,
        "jobs" -> js.size.toDouble, "task_s" -> js.map(_.runMs).sum / 1000.0,
        "driver_idle_s" -> same.map(s => idleS(s, opJobs.getOrElse(s.id, Nil))).sum)
    }
    Tracer.Report(out, opRows)
  }
}

object Tracer {
  val Prop = "perfbench.span"

  final case class Report(layers: mutable.LinkedHashMap[String, Double],
      ops: Seq[(String, Seq[(String, Double)])])

  /** Seconds of the span's interval that no interval in `iv` covers. */
  def uncoveredS(s: Span, iv: Seq[(Long, Long)]): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    (s.endMs - s.startMs - covered).max(0L) / 1000.0
  }

  /** Driver idle: the span's wall time minus the union of its jobs. */
  def idleS(s: Span, js: Seq[JobRec]): Double =
    uncoveredS(s, js.map(j => (j.startMs, math.max(j.startMs, j.endMs))))
}
