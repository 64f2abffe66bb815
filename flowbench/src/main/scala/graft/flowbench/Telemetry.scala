package graft.flowbench

import java.io.{File, PrintWriter}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.logical.Command
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.graft.{FlowEdge, FlowNode, FlowNodeType, FlowStreamSink}
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans: name, start, end, parent span and the operation they
  * belong to. Nothing is written until [[write]] at the end of the run.
  * When disabled, [[apply]] is a plain call. */
final class Tracer(@volatile var enabled: Boolean) {
  import Tracer.Span
  private val spans = ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private var nextId = 0
  @volatile var op: Long = 0L

  def apply[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val parent = stack.get.headOption.getOrElse(-1)
      val id = synchronized { nextId += 1; nextId }
      stack.set(id :: stack.get)
      val opId = op
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        synchronized { spans += Span(opId, id, parent, name, t0, t1) }
      }
    }

  /** Durations (ms) of every span with this name. */
  def ms(name: String): Seq[Double] = synchronized(spans.filter(_.name == name).map(_.ms).toSeq)

  def size: Int = synchronized(spans.size)

  def write(file: File): Unit = synchronized {
    val w = new PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"op":${s.op},"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

object Tracer {
  final case class Span(op: Long, id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }
}

/** Per-stage executor telemetry from the scheduler's own events (one record
  * per completed stage, not interval sums), plus job starts, task
  * durations and how long SQL-execution-end events waited in the bus.
  * Each stage carries the operation whose job ran it: the job's
  * [[StageLog.OpProperty]] local property, or -1. */
final class StageLog extends SparkListener {
  import StageLog._

  private val stages = ArrayBuffer[Stage]()
  private val taskMs = ArrayBuffer[Long]()
  private val busWaitMs = ArrayBuffer[Long]()
  private val opOfStage = scala.collection.mutable.Map[Int, Long]()
  private var jobs = 0

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages += Stage(i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
      m.executorRunTime, m.executorCpuTime, m.executorDeserializeCpuTime, m.jvmGCTime,
      m.executorDeserializeTime, m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
      m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.recordsRead, m.peakExecutionMemory, i.numTasks, opOfStage.getOrElse(i.stageId, -1L))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null) taskMs += e.taskInfo.duration
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty))).foreach { op =>
      e.stageIds.foreach(id => opOfStage(id) = op.toLong)
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      synchronized { busWaitMs += System.currentTimeMillis() - end.time }
    case _ =>
  }

  /** Everything recorded since the previous take. */
  def take(): Snapshot = synchronized {
    val s = Snapshot(stages.toSeq, jobs, taskMs.toSeq, busWaitMs.toSeq)
    stages.clear(); taskMs.clear(); busWaitMs.clear(); opOfStage.clear(); jobs = 0
    s
  }
}

object StageLog {
  /** The local property that names the operation a job belongs to. */
  val OpProperty = "flowbench.op"

  /** `cpuNs` and `deserCpuNs` are the tasks' thread CPU time running and
    * deserializing; `op` is the operation whose job ran the stage, or -1. */
  final case class Stage(submitMs: Long, endMs: Long, runMs: Long, cpuNs: Long, deserCpuNs: Long,
      gcMs: Long, deserMs: Long, shufBytes: Long, shufRecords: Long, fetchWaitMs: Long,
      spillBytes: Long, recordsRead: Long, peakMem: Long, tasks: Int, op: Long) {
    def taskCpuMs: Double = (cpuNs + deserCpuNs) / 1e6
  }
  final case class Snapshot(stages: Seq[Stage], jobs: Int, taskMs: Seq[Long], busWaitMs: Seq[Long])
}

/** Catalyst phase times and rule counts of every executed query, the count
  * of queries the audit listener is expected to record, and, for each
  * timed action, when its audit record's append returned. Registered after
  * the audit listener, so on the shared listener thread it runs once that
  * query's append has returned. */
final class PlanLog(audit: AuditSink, actionName: String) extends QueryExecutionListener {
  import PlanLog.Snapshot

  private val phaseMs = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
  private val intervals = ArrayBuffer[(Long, Long)]()
  private var rules = 0L
  private var effective = 0L
  private var audited = 0
  private val actionAppend = ArrayBuffer[Option[Long]]()

  /** The rule `SQLFlowListener.onSuccess` uses to pick the queries it records. */
  private def isAudited(qe: QueryExecution): Boolean = qe.optimizedPlan match {
    case _: DataWritingCommand => true
    case _: Command => false
    case _ => true
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      phaseMs(name) += p.durationMs
      intervals += ((p.startTimeMs, p.endTimeMs))
    }
    qe.tracker.rules.values.foreach { r =>
      rules += r.numInvocations; effective += r.numEffectiveInvocations
    }
    if (isAudited(qe)) audited += 1
    if (funcName == actionName)
      actionAppend += audit.appendReturnNs(s"query_${Integer.toHexString(qe.hashCode)}")
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { if (funcName == actionName) actionAppend += None }

  def take(): Snapshot = synchronized {
    val s = Snapshot(phaseMs.toMap, intervals.toSeq, rules, effective, audited, actionAppend.toSeq)
    phaseMs.clear(); intervals.clear(); rules = 0L; effective = 0L; audited = 0; actionAppend.clear()
    s
  }
}

object PlanLog {
  final case class Snapshot(phaseMs: Map[String, Long], phaseIntervals: Seq[(Long, Long)],
      rules: Long, effectiveRules: Long, audited: Int, actionAppendNs: Seq[Option[Long]])
}

/** Wraps the audit listener's sink: counts records and failures, times each
  * append, checks that the record's query node carries `durationMs`, and
  * remembers when each query's append returned. */
final class AuditSink(inner: FlowStreamSink, tracer: Tracer) extends FlowStreamSink {
  private val returned = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val appendMs = ArrayBuffer[Double]()
  private var records = 0
  private var failures = 0
  private var missingDuration = 0

  override def append(nodes: Seq[FlowNode], edges: Seq[FlowEdge], options: Map[String, String]): Unit = {
    val t0 = System.nanoTime()
    try tracer("sinks.append")(inner.append(nodes, edges, options))
    catch { case e: Throwable => synchronized { failures += 1 }; throw e }
    val t1 = System.nanoTime()
    val query = nodes.filter(_.tpe == FlowNodeType.Query)
    synchronized {
      records += 1
      appendMs += (t1 - t0) / 1e6
      if (query.isEmpty || !query.forall(_.props.contains("durationMs"))) missingDuration += 1
    }
    query.foreach(q => returned.put(q.ident, t1))
  }

  def appendReturnNs(queryIdent: String): Option[Long] =
    Option(returned.remove(queryIdent)).map(_.longValue)

  /** (records, failures, records missing durationMs, append times in ms) since the last take. */
  def take(): (Int, Int, Int, Seq[Double]) = synchronized {
    val s = (records, failures, missingDuration, appendMs.toSeq)
    records = 0; failures = 0; missingDuration = 0; appendMs.clear()
    s
  }
}

/** Times the audit listener's `onSuccess` as a span (traced runs only),
  * and adds up the CPU time it used on the listener thread (every run). */
final class TimedListener(inner: QueryExecutionListener, tracer: Tracer) extends QueryExecutionListener {
  private var cpuNs = 0L

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val c0 = Cpu.threadNs()
    try tracer("listeners.on_success")(inner.onSuccess(funcName, qe, durationNs))
    finally { val c = Cpu.threadNs() - c0; synchronized { cpuNs += c } }
  }

  /** CPU time `onSuccess` used since the last take, in ms. */
  def takeCpuMs(): Double = synchronized { val ms = cpuNs / 1e6; cpuNs = 0L; ms }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    inner.onFailure(funcName, qe, exception)
}
