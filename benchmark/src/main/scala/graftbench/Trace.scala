package graftbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Wraps each public engine call the benchmark makes. Untraced runs use
  * [[NoTrace]], which only runs the call. */
trait Probe {
  def apply[T](phase: String)(body: => T): T

  /** Traces `body`, one public call that makes further public calls, as
    * a run of phases cut at its SQL executions. `cut` names the phase a
    * top-level SQL execution starts and a key for the call behind it;
    * an execution whose key repeats the previous cut's continues that
    * call. The time before the first cut is phase `first`. */
  def split[T](first: String, cut: SqlExec => Option[(String, String)])(body: => T): T
}

object NoTrace extends Probe {
  def apply[T](phase: String)(body: => T): T = body
  def split[T](first: String, cut: SqlExec => Option[(String, String)])(body: => T): T = body
}

/** A top-level SQL execution as Spark announced it: when it started,
  * its call site (the calling thread's stack) and its physical plan. */
final case class SqlExec(start: Long, callSite: String, plan: String)

/** One phase's totals over the traced calls. Times in ms, bytes raw. */
final case class PhaseStats(calls: Long, wallMs: Double, planMs: Double,
    gapMs: Double, jobs: Long, taskMs: Double, gcMs: Double,
    shuffleBytes: Long, csvBytesRead: Long)

/** Splits each traced call's wall time into query planning, Spark jobs,
  * task work, GC and shuffle volume.
  *
  * A span is recorded around each call (name, start, end). Spark's
  * listener events and the JVM's GC notifications arrive asynchronously
  * and are held in memory; they are attributed to spans by time, which
  * is exact here because one client thread issues the calls one after
  * another. Nothing is written until [[stats]] is read at the end of the
  * run.
  *  - jobs: every job whose start falls inside the span;
  *  - task_ms, shuffle: the tasks of those jobs' stages;
  *  - plan_ms: every analysis, optimization and planning phase, from the
  *    query executions' trackers, that started inside the span;
  *  - gap_ms: span wall minus the union of its job intervals (work on
  *    the calling thread: listing, manifest IO, commits, planning);
  *  - gc_ms: every collection that started inside the span (local mode
  *    runs tasks in this JVM, so this is all GC the call caused).
  * A [[Probe.split]] span becomes one span per phase it was cut into;
  * the cut spans tile it, so their walls add up to its wall. */
final class Tracer(spark: SparkSession) extends Probe {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.HashMap.empty[Int, StageAcc]
  private val plans = mutable.ArrayBuffer.empty[Stamp]
  private val execs = mutable.ArrayBuffer.empty[SqlExec]
  private val gcs = mutable.ArrayBuffer.empty[Stamp]
  /** Split spans in which no SQL execution was cut. */
  var uncut = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobs(e.jobId) = new Job(e.time, e.stageIds, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      val acc = stages.getOrElseUpdate(e.stageInfo.stageId, new StageAcc)
      acc.csv = e.stageInfo.rddInfos.exists(_.scope.exists(_.name.startsWith("Scan csv")))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val acc = stages.getOrElseUpdate(e.stageId, new StageAcc)
        acc.taskMs += m.executorRunTime
        acc.shuffle += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        acc.input += m.inputMetrics.bytesRead
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart if x.rootExecutionId.forall(_ == x.executionId) =>
        Tracer.this.synchronized { execs += SqlExec(x.time, x.details, x.physicalPlanDescription) }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    // a write's execution shares its DataFrame's tracker, so each phase
    // is placed by its own start: the analysis where the frame was built
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      plans ++= qe.tracker.phases.values.map(p => Stamp(p.startTimeMs, p.durationMs))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = record(qe)
  }

  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
  private val gcListener = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val gc = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
        Tracer.this.synchronized { gcs += Stamp(jvmStart + gc.getStartTime, gc.getDuration) }
      }
  }
  private val gcEmitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    .collect { case e: NotificationEmitter => e }

  private var attached = false
  /** Summed wall time of every traced call so far. */
  @volatile var spanMs = 0.0

  /** Start receiving events. Detached, the tracer costs nothing, so a
    * run can alternate traced and untraced iterations. */
  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    gcEmitters.foreach(_.addNotificationListener(gcListener, null, null))
    attached = true
  }

  /** Deliver every queued event, then stop receiving. */
  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    gcEmitters.foreach(_.removeNotificationListener(gcListener))
    attached = false
  }

  private def drain(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)

  private def span[T](phase: String, cut: Option[(String, SqlExec => Option[(String, String)])])(
      body: => T): T = {
    val t0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.currentTimeMillis()
      synchronized { spans += Span(phase, t0, t1, cut); spanMs += t1 - t0 }
    }
  }

  def apply[T](phase: String)(body: => T): T = span(phase, None)(body)

  def split[T](first: String, cut: SqlExec => Option[(String, String)])(body: => T): T =
    span(first, Some(first -> cut))(body)

  /** A split span as the spans of its phases; any other span as itself. */
  private def cutUp(s: Span): Seq[Span] = s.cut.fold(Seq(s)) { case (first, cut) =>
    var key: Option[String] = None
    val cuts = execs.filter(e => e.start >= s.start && e.start <= s.end).sortBy(_.start)
      .flatMap(e => cut(e).flatMap { case (phase, k) =>
        val fresh = !key.contains(k)
        key = Some(k)
        if (fresh) Some(phase -> e.start) else None
      })
    if (cuts.isEmpty) uncut += 1
    val starts = (first -> s.start) +: cuts.toSeq
    val ends = starts.drop(1).map(_._2) :+ s.end
    starts.zip(ends).zipWithIndex.map { case (((phase, a), b), i) =>
      Span(phase, a, b, None, closed = i == starts.size - 1)
    }
  }

  /** Per-phase totals over every traced call, in first-call order. */
  def stats(): Seq[(String, PhaseStats)] = {
    drain()
    synchronized {
      val byPhase = mutable.LinkedHashMap.empty[String, PhaseStats]
      val jobList = jobs.values.toSeq.sortBy(_.start)
      uncut = 0
      spans.flatMap(cutUp).foreach { s =>
        val inSpan = jobList.filter(j => s.holds(j.start))
        val covered = union(inSpan.map(j => (math.max(j.start, s.start), math.min(j.end, s.end))))
        val st = inSpan.flatMap(_.stages).distinct.flatMap(stages.get)
        val plan = plans.filter(p => s.holds(p.start)).map(_.ms).sum
        val gc = gcs.filter(g => s.holds(g.start)).map(_.ms).sum
        val wall = (s.end - s.start).toDouble
        val add = PhaseStats(1, wall, plan.toDouble, wall - covered, inSpan.size,
          st.map(_.taskMs).sum.toDouble, gc.toDouble, st.map(_.shuffle).sum,
          st.filter(_.csv).map(_.input).sum)
        byPhase(s.phase) = byPhase.get(s.phase).fold(add)(p => PhaseStats(
          p.calls + add.calls, p.wallMs + add.wallMs, p.planMs + add.planMs,
          p.gapMs + add.gapMs, p.jobs + add.jobs, p.taskMs + add.taskMs,
          p.gcMs + add.gcMs, p.shuffleBytes + add.shuffleBytes,
          p.csvBytesRead + add.csvBytesRead))
      }
      byPhase.toSeq
    }
  }

}

object Tracer {
  /** A traced call, or one phase of a split call. Phases cut from one
    * call hold the instants in [start, end), the last one [start, end]. */
  private final case class Span(phase: String, start: Long, end: Long,
      cut: Option[(String, SqlExec => Option[(String, String)])], closed: Boolean = true) {
    def holds(t: Long): Boolean = t >= start && (t < end || closed && t == end)
  }
  private final class Job(val start: Long, val stages: Seq[Int], var end: Long)
  /** Something that took `ms` from `start`: a planning phase, a GC. */
  private final case class Stamp(start: Long, ms: Long)
  private final class StageAcc(var taskMs: Long = 0L, var shuffle: Long = 0L,
      var input: Long = 0L, var csv: Boolean = false)

  /** Total length of a set of intervals, overlaps counted once. */
  private def union(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}
