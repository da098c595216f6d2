package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.BusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Span recorder and Spark listener of the traced run.
  *
  * Spans: workload → operation → phase (build, exec, drain, or a snapshot
  * call) → Spark job, plus a `plan` span for each query execution's
  * Catalyst optimization and physical planning, taken from its
  * `QueryPlanningTracker` and nested under the phase it ran in. Every span
  * of one operation carries that operation's id. Jobs are attributed
  * through a local property the driver thread sets when it opens a phase;
  * task metrics reach their job through the stage. All spans stay in
  * memory until [[write]]. */
final class Tracer(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stageJob = mutable.HashMap.empty[Int, Span]
  private val pendingPlans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  private var current: Span = _

  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  /** Open a span under the innermost open one; jobs launched until it
    * closes are attributed to it. */
  def open(kind: String, name: String, op: Int): Span = synchronized {
    val parent = Option(current).map(_.id).getOrElse(-1)
    val s = Span(spans.size, op, kind, name, parent, nowUs)
    spans += s
    current = s
    sc.setLocalProperty(Prop, s.id.toString)
    s
  }

  def close(s: Span): Unit = synchronized {
    s.endUs = nowUs
    current = if (s.parent >= 0) spans(s.parent) else null
    sc.setLocalProperty(Prop, Option(current).map(_.id.toString).orNull)
  }

  def span[T](kind: String, name: String, op: Int)(body: => T): T = {
    val s = open(kind, name, op)
    try body finally close(s)
  }

  /** Wait until every event posted so far has reached the listeners, then
    * hang the operation's planning spans under the phase that ran them. */
  def settle(opSpan: Span): Unit = {
    BusAccess.drain(sc)
    synchronized {
      val phases = spans.filter(s => s.parent == opSpan.id)
      pendingPlans.foreach { case (st, en) =>
        // tracker and job times have millisecond resolution
        val home = phases.find(p => p.startUs - 1000 <= st && st < p.endUs).getOrElse(opSpan)
        val s = Span(spans.size, opSpan.op, "plan", "plan", home.id, st)
        s.endUs = math.max(st, en)
        spans += s
      }
      pendingPlans.clear()
    }
  }

  // ---------------------------------------------------------- Spark side

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
      .map(_.toInt).filter(_ < spans.size)
    val op = parent.map(spans(_).op).getOrElse(-1)
    val s = Span(spans.size, op, "job", s"job ${e.jobId}", parent.getOrElse(-1),
      e.time * 1000L)
    s.counts = new Counts
    s.counts.jobs = 1
    spans += s
    e.stageIds.foreach(stageJob(_) = s)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    spans.reverseIterator.find(s => s.kind == "job" && s.name == s"job ${e.jobId}")
      .foreach(_.endUs = e.time * 1000L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.counts.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageJob.get(e.stageId).foreach { s =>
      val c = s.counts
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.runMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.input += m.inputMetrics.bytesRead
      c.output += m.outputMetrics.bytesWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planned(qe)

  private def planned(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    for (o <- ph.get("optimization"); p <- ph.get("planning"))
      pendingPlans += ((o.startTimeMs * 1000L, p.endTimeMs * 1000L))
  }

  def all: Seq[Span] = synchronized(spans.toList)

  /** One JSON object per span, one span a line. */
  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.foreach { s =>
      val c = Option(s.counts).map(c =>
        s""","jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
          s""""cpu_ns":${c.cpuNs},"run_ms":${c.runMs},"gc_ms":${c.gcMs},""" +
          s""""shuffle_write":${c.shuffleWrite},"shuffle_read":${c.shuffleRead},""" +
          s""""spill":${c.spill},"input":${c.input},"output":${c.output}""").getOrElse("")
      w.write(s"""{"id":${s.id},"op":${s.op},"kind":"${s.kind}",""" +
        s""""name":${Json.str(s.name)},"parent":${s.parent},""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs}$c}""")
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  val Prop = "perfbench.span"

  final class Counts {
    var jobs, stages, tasks, cpuNs, runMs, gcMs = 0L
    var shuffleWrite, shuffleRead, spill, input, output = 0L
  }

  final case class Span(id: Int, op: Int, kind: String, name: String,
      parent: Int, startUs: Long) {
    var endUs: Long = startUs
    var counts: Counts = _
  }
}
