package graft.flowbench

import java.io.File

import scala.collection.mutable
import scala.util.{Failure, Random, Success, Try}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.graft.{GraphVizSink, ListenerBusDrain, SQLFlowListener}

import graft.SparkEntry
import graft.queries.DedupQueries

/** `inventory-sf0.1`: inventory entries from `SparkEntry.queries` over the
  * sf0.1 tables, one entry per operation, each checked against its pinned
  * output row count. An `SQLFlowListener(GraphVizSink())` records the
  * lineage of every query.
  *
  * The timed action is `foreachPartition`, which computes every column of
  * every row and discards it. The noop-sink write `graft.Bench` times is
  * a V2 write command, which the audit listener skips like every other
  * command, so under it the audit path would do no work. */
final class InventoryWorkload(spark: SparkSession, dataDir: String, pinFile: File, tr: Tracer,
    work: File) extends Workload {
  import InventoryWorkload._

  private val entries: Seq[(String, Long)] = Pins.read(pinFile).map(r => r(0) -> r(1).toLong)
  private val stageLog = new StageLog
  private val auditDir = new File(work, "audit")
  private val auditSink = new AuditSink(GraphVizSink(), tr)
  private val planLog = new PlanLog(auditSink, ActionName)
  private val audit = new TimedListener(
    SQLFlowListener(auditSink, options = Map("outputDirPath" -> auditDir.getPath)), tr)
  /** Each successful entry's operation id and driver-thread CPU time (ms),
    * until its stages are attributed when the pass ends. */
  private val driverCpu = mutable.ArrayBuffer[(Long, Double)]()
  /** When each timed action returned (None if it failed), in order, until
    * paired with its audit record. */
  private val actionReturns = mutable.ArrayBuffer[Option[Long]]()
  /** The traced entries of the current pass, attributed when it ends. */
  private val windows = mutable.ArrayBuffer[Window]()

  val nominalPassS = 2.5

  def setup(): Unit = {
    require(entries.forall(e => SparkEntry.queries.contains(e._1)), "pinned entry missing from the inventory")
    spark.sparkContext.addSparkListener(stageLog)
    spark.listenerManager.register(audit)
    spark.listenerManager.register(planLog)
    spark.range(1000).selectExpr("sum(id)").collect()
    // untimed, checked passes in name order: the first run of each plan
    // pays code generation, and passes keep getting faster until the JIT
    // has compiled the driver-side planning code
    (1 to WarmPasses).foreach { _ =>
      val warm = new Pass(traced = false)
      entries.foreach { case (name, rows) => runEntry(name, rows, warm) }
      endPass(warm)
    }
  }

  def runPass(rng: Random, p: Pass): Unit = {
    DedupQueries.releaseShared()
    spark.catalog.clearCache()
    System.gc()
    rng.shuffle(entries).foreach { case (name, rows) => runEntry(name, rows, p) }
    endPass(p)
  }

  /** Timed: building the entry's DataFrame and its action, up to the
    * action's return. The row-count check is outside the timer. Traced
    * and untraced entries do the same work between timers; a traced one
    * only also reads the codegen counters and keeps its window, and both
    * are attributed when the pass ends. The entry's CPU time is the
    * driver thread's between the timers plus its jobs' task CPU time,
    * which the stage records carry once the pass ends. */
  private def runEntry(name: String, pinnedRows: Long, p: Pass): Unit = {
    tr.op += 1
    attempted += 1
    val op = tr.op
    (1 to ReferenceRuns).foreach(_ => p.reference())
    spark.sparkContext.setLocalProperty(StageLog.OpProperty, op.toString)
    val compileNs0 = CodeGenerator.compileTime
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val classes0 = CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount
    val e0 = System.currentTimeMillis()
    val c0 = Cpu.threadNs()
    val t0 = System.nanoTime()
    val result = Try {
      val df = tr("entry.build")(SparkEntry.queries(name)(spark, dataDir))
      val obs = Observation()
      val observed = df.observe(obs, count(lit(1)).as("rows"))
      tr("entry.action")(observed.foreachPartition((it: Iterator[Row]) => it.foreach(_ => ())))
      obs
    }
    val t1 = System.nanoTime()
    val c1 = Cpu.threadNs()
    val e1 = System.currentTimeMillis()
    spark.sparkContext.setLocalProperty(StageLog.OpProperty, null)
    val wallMs = (t1 - t0) / 1e6
    actionReturns += (if (result.isSuccess) Some(t1) else None)
    if (p.traced) {
      val compileMs = (CodeGenerator.compileTime - compileNs0) / 1e6
      p.add("codegen.compile_ms", compileMs)
      p.add("codegen.compiles", (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0).toDouble)
      p.add("codegen.class_kb", (CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount - classes0) *
        CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getSnapshot.getMean / 1024.0)
      windows += Window(e0, e1, wallMs, compileMs)
    }
    result match {
      case Failure(e) => fail(s"$name: $e")
      case Success(obs) =>
        p.opMs += wallMs
        p.sample(s"entry.$name", wallMs)
        driverCpu += ((op, (c1 - c0) / 1e6))
        val rows = waitRows(obs)
        p.add("executor.output_rows", rows.toDouble)
        if (rows != pinnedRows) fail(s"$name: $rows rows, pinned $pinnedRows")
    }
  }

  /** Layers plus gap against one traced entry's wall. Catalyst is the sum of
    * the phase intervals inside the entry's window, stage-covered time the
    * union of the stage intervals inside it, and the gap the window neither
    * covers, less codegen compilation. Overlapping phases, or phases running
    * under stages, leave a residual. */
  private def account(w: Window, stages: Seq[StageLog.Stage], plans: PlanLog.Snapshot, p: Pass): Unit = {
    val stageIv = stages.map(s => (s.submitMs, s.endMs))
    val coveredMs = Stats.covered(stageIv, w.startMs, w.endMs).toDouble
    val catalystMs = plans.phaseIntervals.map(iv => Stats.covered(Seq(iv), w.startMs, w.endMs)).sum.toDouble
    val gapMs = (w.endMs - w.startMs) - Stats.covered(stageIv ++ plans.phaseIntervals, w.startMs, w.endMs) -
      w.compileMs
    val residualMs = catalystMs + w.compileMs + coveredMs + gapMs - w.wallMs
    p.sample("driver.gap_ms", gapMs)
    p.sample("accounting.residual_ms", math.abs(residualMs))
    p.add("driver.covered_ms", coveredMs)
    p.add("driver.wall_ms", w.wallMs)
    if (math.abs(residualMs) > math.max(AccountingToleranceMs, AccountingToleranceShare * w.wallMs))
      p.add("accounting.mismatched_entries", 1)
  }

  /** Bounded wait for the observed row count, outside the timer. Before
    * the metrics arrive, `Observation.getOrEmpty` can throw instead of
    * returning an empty map (it reads the schema of an empty row), so a
    * throw also means "not yet". */
  private def waitRows(obs: Observation): Long = {
    def observed(): Map[String, Any] = Try(ListenerBusDrain.observed(obs)).getOrElse(Map.empty)
    val deadline = System.nanoTime() + 10000000000L
    var m = observed()
    while (m.isEmpty && System.nanoTime() < deadline) { Thread.sleep(1); m = observed() }
    m.get("rows") match {
      case Some(n: Long) => n
      case _ => -1L
    }
  }

  private def drain(): Unit =
    if (!ListenerBusDrain.drain(spark.sparkContext, 10000L)) fail("listener bus did not drain in 10 s")

  private def attribute(s: StageLog.Snapshot, p: Pass): Seq[StageLog.Stage] = {
    // each entry's CPU time; task CPU of stages no timed entry ran, and the
    // audit listener's, count only in the pass's CPU time
    val taskCpu = s.stages.groupMapReduce(_.op)(_.taskCpuMs)(_ + _)
    driverCpu.foreach { case (op, ms) => p.opCpuMs += ms + taskCpu.getOrElse(op, 0.0) }
    p.cpuS = (driverCpu.map(_._2).sum + s.stages.map(_.taskCpuMs).sum + audit.takeCpuMs()) / 1e3
    driverCpu.clear()
    s.stages.foreach { st =>
      p.add("executor.run_s", st.runMs / 1e3)
      p.add("executor.cpu_s", st.cpuNs / 1e9)
      p.add("executor.gc_ms", st.gcMs.toDouble)
      p.add("executor.deserialize_ms", st.deserMs.toDouble)
      p.add("executor.shuffle_write_mb", st.shufBytes / 1048576.0)
      p.add("executor.shuffle_records", st.shufRecords.toDouble)
      p.add("executor.shuffle_fetch_wait_ms", st.fetchWaitMs.toDouble)
      p.add("executor.spill_mb", st.spillBytes / 1048576.0)
      p.add("executor.records_read", st.recordsRead.toDouble)
      p.add("executor.tasks", st.tasks.toDouble)
      p.counts("executor.peak_exec_mem_mb") = math.max(p.counts("executor.peak_exec_mem_mb"), st.peakMem / 1048576.0)
    }
    p.add("executor.stages", s.stages.size.toDouble)
    p.add("driver.jobs", s.jobs.toDouble)
    s.taskMs.foreach(t => p.sample("executor.task_ms", t.toDouble))
    s.busWaitMs.foreach(t => p.sample("listeners.bus_wait_ms", t.toDouble))
    s.stages
  }

  private def attribute(s: PlanLog.Snapshot, p: Pass): PlanLog.Snapshot = {
    s.phaseMs.foreach { case (k, v) => p.add(s"catalyst.${k}_ms", v.toDouble) }
    p.add("catalyst.rules", s.rules.toDouble)
    p.add("catalyst.effective_rules", s.effectiveRules.toDouble)
    p.add("audit.expected", s.audited.toDouble)
    s.actionAppendNs.zip(actionReturns).foreach {
      case (Some(appended), Some(returned)) => p.sample("audit_lag_ms", (appended - returned) / 1e6)
      case _ => p.add("audit.unmatched", 1)
    }
    actionReturns.remove(0, math.min(actionReturns.size, s.actionAppendNs.size))
    s
  }

  /** Attribution of the pass's stages, queries and traced entries, and
    * the checks of the audit records it produced. */
  private def endPass(p: Pass): Unit = {
    drain()
    val stages = attribute(stageLog.take(), p)
    val plans = attribute(planLog.take(), p)
    windows.foreach(account(_, stages, plans, p))
    windows.clear()
    if (actionReturns.nonEmpty) {
      fail(s"${actionReturns.size} timed actions without an audit record")
      actionReturns.clear()
    }
    val (records, failures, missingDuration, appendMs) = auditSink.take()
    p.add("listeners.records", records)
    p.add("listeners.failures", failures)
    appendMs.foreach(p.sample("sinks.append_ms", _))
    p.add("sinks.written_kb", dirBytes(auditDir) / 1024.0)
    deleteTree(auditDir)
    if (failures > 0) fail(s"$failures audit appends failed")
    if (missingDuration > 0) fail(s"$missingDuration audit records without durationMs")
    if (records != p.counts("audit.expected").toInt)
      fail(s"audit delivered $records records for ${p.counts("audit.expected").toInt} queries")
    if (p.counts("audit.unmatched") > 0)
      fail(s"${p.counts("audit.unmatched").toInt} timed actions without an audit record")
  }

  def report(untraced: Seq[Pass]): Seq[Metric] = {
    entries.foreach { case (name, _) =>
      System.err.println(f"[flowbench] entry $name%-28s p50 ${Stats.median(Stats.pooled(untraced, s"entry.$name"))}%10.1f ms")
    }
    val xs = untraced.flatMap(_.opMs)
    val lag = Stats.pooled(untraced, "audit_lag_ms")
    Seq(Metric("entry_p50_ms", Stats.pct(xs, 50), "ms", xs.size),
      Metric("entry_p90_ms", Stats.pct(xs, 90), "ms", xs.size),
      Metric("executor_cpu_s", Stats.median(untraced.map(_.counts("executor.cpu_s"))), "s", untraced.size),
      Metric("audit_lag_p50_ms", Stats.pct(lag, 50), "ms", lag.size),
      Metric("audit_delivered_ratio",
        untraced.map(_.counts("listeners.records")).sum / math.max(1.0, untraced.map(_.counts("audit.expected")).sum),
        "ratio", untraced.size))
  }

  def layers(traced: Seq[Pass]): Map[String, Double] = {
    def pp(n: String) = Stats.perPass(traced, n)
    def p50(n: String) = Stats.median(Stats.pooled(traced, n))
    val onSuccess = tr.ms("listeners.on_success")
    val perPass = Seq("executor.run_s", "executor.cpu_s", "executor.gc_ms", "executor.deserialize_ms",
      "executor.shuffle_write_mb", "executor.shuffle_records", "executor.shuffle_fetch_wait_ms",
      "executor.spill_mb", "executor.records_read", "executor.output_rows", "executor.stages",
      "executor.tasks", "driver.jobs", "codegen.compile_ms", "codegen.compiles", "codegen.class_kb",
      "catalyst.parsing_ms", "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
      "listeners.records", "listeners.failures", "sinks.written_kb", "accounting.mismatched_entries")
    perPass.map(n => n -> pp(n)).toMap ++ Map(
      "executor.peak_exec_mem_mb" -> (if (traced.isEmpty) 0.0 else traced.map(_.counts("executor.peak_exec_mem_mb")).max),
      "executor.task_p50_ms" -> p50("executor.task_ms"),
      "executor.cpu_per_run" -> pp("executor.cpu_s") / math.max(1e-9, pp("executor.run_s")),
      "catalyst.effective_rule_ratio" -> pp("catalyst.effective_rules") / math.max(1.0, pp("catalyst.rules")),
      "driver.gap_ms" -> p50("driver.gap_ms"),
      "driver.stage_cover_ratio" -> pp("driver.covered_ms") / math.max(1.0, pp("driver.wall_ms")),
      "accounting.residual_p90_ms" -> Stats.pct(Stats.pooled(traced, "accounting.residual_ms"), 90),
      "listeners.on_success_p50_ms" -> Stats.pct(onSuccess, 50),
      "listeners.on_success_p90_ms" -> Stats.pct(onSuccess, 90),
      "listeners.bus_wait_ms" -> p50("listeners.bus_wait_ms"),
      "sinks.append_ms" -> p50("sinks.append_ms"))
  }

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum else f.length()

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}

object InventoryWorkload {
  /** A traced entry's clock window (epoch ms), wall and codegen time (ms). */
  private final case class Window(startMs: Long, endMs: Long, wallMs: Double, compileMs: Double)

  val WarmPasses = 3
  /** Reference runs before each entry. */
  val ReferenceRuns = 4

  /** The SQL-execution name Spark gives `Dataset.foreachPartition`. */
  val ActionName = "foreachPartition"
  /** An entry's layers plus gap may differ from its wall by this much:
    * phase and stage times are whole milliseconds, the wall is not. */
  val AccountingToleranceMs = 5.0
  val AccountingToleranceShare = 0.05

  /** Pin rows: entry name and its output row count on `dir`. */
  def pins(spark: SparkSession, dir: String, names: Seq[String]): Seq[Seq[String]] = names.map { n =>
    Seq(n, SparkEntry.queries(n)(spark, dir).count().toString)
  }
}
