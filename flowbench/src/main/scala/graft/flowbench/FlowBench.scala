package graft.flowbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files
import java.util.Locale

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** A metric printed for people: name, value, unit and sample count. */
final case class Metric(name: String, value: Double, unit: String, n: Int)

/** One closed-loop workload: a single driver thread issues each operation
  * after the previous one returned. */
trait Workload {
  var attempted = 0L
  var failed = 0L
  protected def fail(msg: String): Unit = synchronized {
    failed += 1
    if (failed <= 20) System.err.println(s"[flowbench] FAILED $msg")
  }
  /** How long one pass takes on an idle 4-core machine, in seconds: a run
    * of `--seconds s` makes s ÷ this many passes (at least one). */
  def nominalPassS: Double
  /** Everything before the first timed operation. */
  def setup(): Unit
  /** One full pass over the workload's operations, in an order drawn from `rng`. */
  def runPass(rng: Random, p: Pass): Unit
  /** The workload's own end-to-end figures, from untraced passes. */
  def report(untraced: Seq[Pass]): Seq[Metric]
  /** Per-layer figures, from traced passes; missing layers read 0. */
  def layers(traced: Seq[Pass]): Map[String, Double]
}

/** Entry point; `run.py` builds the classpath and passes
  * `--mode run|pin --root <checkout> --work <scratch dir>`. */
object FlowBench {

  /** Per-layer metrics every workload reports (the JSON line, `--trace 1`). */
  val PerLayer: Seq[(String, String)] = Seq(
    "SQLFlowApi.dataset_graph_ms" -> "ms", "SQLFlowApi.root_hash_ms" -> "ms",
    "SQLFlowApi.catalog_graph_ms" -> "ms",
    "FlowAnalysis.analyze_ms" -> "ms", "FlowAnalysis.contract_ms" -> "ms",
    "FlowAnalysis.plan_nodes" -> "count", "FlowAnalysis.graph_nodes" -> "count",
    "FlowAnalysis.graph_edges" -> "count", "FlowAnalysis.contracted_edges" -> "count",
    "FlowAnalysis.max_depth" -> "count", "FlowAnalysis.edges_per_plan_node" -> "ratio",
    "sinks.render_ms" -> "ms", "sinks.render_kb" -> "KB", "sinks.append_ms" -> "ms",
    "sinks.written_kb" -> "KB",
    "listeners.on_success_p50_ms" -> "ms", "listeners.on_success_p90_ms" -> "ms",
    "listeners.bus_wait_ms" -> "ms", "listeners.records" -> "count", "listeners.failures" -> "count",
    "catalyst.parsing_ms" -> "ms", "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms", "catalyst.effective_rule_ratio" -> "ratio",
    "codegen.compile_ms" -> "ms", "codegen.compiles" -> "count", "codegen.class_kb" -> "KB",
    "executor.run_s" -> "s", "executor.cpu_s" -> "s", "executor.gc_ms" -> "ms",
    "executor.deserialize_ms" -> "ms", "executor.shuffle_write_mb" -> "MB",
    "executor.shuffle_records" -> "count", "executor.shuffle_fetch_wait_ms" -> "ms",
    "executor.spill_mb" -> "MB", "executor.records_read" -> "count", "executor.output_rows" -> "count",
    "executor.peak_exec_mem_mb" -> "MB", "executor.stages" -> "count", "executor.tasks" -> "count",
    "executor.task_p50_ms" -> "ms", "executor.cpu_per_run" -> "ratio",
    "driver.jobs" -> "count", "driver.gap_ms" -> "ms", "driver.stage_cover_ratio" -> "ratio",
    "accounting.residual_p90_ms" -> "ms", "accounting.mismatched_entries" -> "count",
    "trace.overhead_pct" -> "%", "trace.spans" -> "count")

  val Workloads = Seq("lineage-tpcds", "inventory-sf0.1")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val root = new File(opts("root")).getAbsoluteFile
    val work = new File(opts("work")).getAbsoluteFile
    work.mkdirs()
    val nproc = Runtime.getRuntime.availableProcessors
    val spark = session(math.min(nproc, MaxCores), work)
    try opts.getOrElse("mode", "run") match {
      case "run" => run(spark, root, work, opts, math.min(nproc, SetupThreads))
      case "pin" => pin(spark, root, opts)
    } finally spark.stop()
  }

  /** Cores for `local[N]`: N ≤ nproc, and capped so machines with more
    * cores run the same shape. Two executor threads leave the other cores
    * of a 4-core machine to the driver, listener, JIT and GC threads; the
    * sf0.1 entries are too small to need more. */
  val MaxCores = 2
  /** Threads for independent set-up work. */
  val SetupThreads = 4

  /** The session every workload runs in. The pins below are `graft.Bench`'s
    * reproducibility settings, applied identically to every run;
    * NOTES.md gives the reason for each. */
  def session(cores: Int, work: File): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("flowbench")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
    .config("spark.sql.codegen.cache.maxEntries", "4096")
    .config("spark.buffer.pageSize", "8m")
    .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
    .config("spark.local.dir", new File(work, "local").getPath)
    .getOrCreate()

  private def workload(name: String, spark: SparkSession, root: File, work: File, tr: Tracer,
      traceRun: Boolean, setupThreads: Int): Workload =
    name match {
      case "lineage-tpcds" => new LineageWorkload(spark, root, tr, keepOutputs = traceRun, setupThreads)
      case "inventory-sf0.1" => new InventoryWorkload(spark, new File(root, "flowbench/data/sf0.1").getPath,
        new File(root, "flowbench/pins/inventory-sf0.1.tsv"), tr, work)
      case other => sys.error(s"unknown workload $other (one of ${Workloads.mkString(", ")})")
    }

  private def run(spark: SparkSession, root: File, work: File, opts: Map[String, String],
      setupThreads: Int): Unit = {
    val t0Ms = opts("t0-ms").toLong
    val seconds = opts("seconds").toDouble
    val traceRun = opts("trace") == "1"
    val tr = new Tracer(false)
    val w = workload(opts("workload"), spark, root, work, tr, traceRun, setupThreads)
    val setupStart = System.currentTimeMillis()
    w.setup()
    val setupWallS = (System.currentTimeMillis() - t0Ms) / 1e3
    val setupRawCpuS = Cpu.processNs() / 1e9
    // the reference runs only after the set-up clock has stopped
    Reference.warmUp()
    val setupRefMs = Stats.median((1 to SetupReferenceRuns).map(_ => Reference.runNs() / 1e6))
    val setupCpuS = setupRawCpuS * Reference.NominalMs / setupRefMs
    System.err.println(f"[flowbench] set-up: ${(setupStart - t0Ms) / 1e3}%.1f s to the session, " +
      f"${(System.currentTimeMillis() - setupStart) / 1e3}%.1f s workload set-up, $setupRawCpuS%.1f s CPU, " +
      f"reference $setupRefMs%.3f ms")
    val rng = new Random(opts("seed").toLong)
    val passes = ArrayBuffer[Pass]()
    // a fixed number of whole passes, so a slow machine measures the same
    // work as a fast one; a traced run alternates untraced and traced
    // passes so the tracing overhead is measured in one process
    val passCount = math.max(if (traceRun) 2 else 1, math.round(seconds / w.nominalPassS).toInt)
    while (passes.size < passCount) {
      val p = new Pass(traced = traceRun && passes.size % 2 == 1)
      tr.enabled = p.traced
      val t0 = System.nanoTime()
      w.runPass(rng, p)
      // the pass's own figure is its timed operations only: checks, waits
      // and attribution between them are not part of it
      p.wallS = p.opMs.sum / 1e3
      val rawCpuS = p.cpuS
      p.toReferenceSpeed()
      passes += p
      System.err.println(f"[flowbench] pass ${passes.size} traced=${p.traced} timed ${p.wallS}%.2f s " +
        f"of ${(System.nanoTime() - t0) / 1e9}%.2f s, CPU $rawCpuS%.2f s, reference " +
        f"${Stats.median(p.refMs.toSeq)}%.3f ms (${p.refMs.size} runs), gc ${gcMs()} ms")
    }
    tr.enabled = false
    val heapMb = liveHeapMb(spark)
    val untraced = passes.filterNot(_.traced).toSeq
    val traced = passes.filter(_.traced).toSeq
    val ops = untraced.flatMap(_.opMs)
    val opsCpu = untraced.flatMap(_.opCpuMs)
    // the JSON line carries CPU times: on a shared host, wall-clock times
    // move with the host's load between runs of the same code
    val e2e = Seq(
      Metric("setup_s", setupCpuS, "s", 1),
      Metric("op_cpu_p50_ms", Stats.pct(opsCpu, 50), "ms", opsCpu.size),
      Metric("op_cpu_p75_ms", Stats.pct(opsCpu, 75), "ms", opsCpu.size),
      Metric("pass_cpu_s", Stats.median(untraced.map(_.cpuS)), "s", untraced.size),
      Metric("live_heap_mb", heapMb, "MB", 1))
    val wall = Seq(
      Metric("setup_wall_s", setupWallS, "s", 1),
      Metric("op_p50_ms", Stats.pct(ops, 50), "ms", ops.size),
      Metric("op_p75_ms", Stats.pct(ops, 75), "ms", ops.size),
      Metric("pass_s", Stats.median(untraced.map(_.wallS)), "s", untraced.size))
    val own = w.report(untraced)
    (e2e ++ wall ++ own).foreach(m => println(f"metric ${m.name}%-24s ${fmt(m.value)}%14s ${m.unit}%-6s n=${m.n}"))
    val metrics: Seq[(String, Double, String)] =
      if (!traceRun) e2e.map(m => (m.name, m.value, m.unit))
      else {
        tr.write(new File(work, "spans.jsonl"))
        val overhead = 100.0 * (Stats.median(traced.map(_.cpuS)) / Stats.median(untraced.map(_.cpuS)) - 1)
        val layer = w.layers(traced) ++ Map("trace.overhead_pct" -> overhead, "trace.spans" -> tr.size.toDouble)
        PerLayer.map { case (n, u) =>
          val v = layer.getOrElse(n, 0.0)
          println(f"layer  $n%-36s ${fmt(v)}%14s $u")
          (n, if (v.isNaN) 0.0 else v, u)
        }
      }
    val bad = metrics.filter(m => m._2.isNaN || m._2.isInfinite)
    if (bad.nonEmpty) w.failed += 1
    val correct = w.failed == 0 && w.attempted > 0
    println("FLOWBENCH_RESULT " +
      s"""{"correct":$correct,"attempted":${w.attempted},"failed":${w.failed},"metrics":{""" +
      metrics.map { case (n, v, u) => s""""$n":{"value":${fmt(v)},"unit":"$u"}""" }.mkString(",") + "}}")
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else String.format(Locale.ROOT, "%.6f", Double.box(v))

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  }

  /** Heap the last full collection left in use, in MB, measured once at
    * the end of the timed run. Caches are dropped first. Spark's
    * context cleaner frees broadcast blocks and shuffle state only after a
    * collection has found their handles unreachable, on its own thread, so
    * the collections are spaced to let it run. The figure is each heap
    * pool's usage at the end of the last collection, so what other threads
    * allocate right after it does not count. */
  private def liveHeapMb(spark: SparkSession): Double = {
    import scala.jdk.CollectionConverters._
    graft.queries.DedupQueries.releaseShared()
    spark.catalog.clearCache()
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(CleanerWaitMs) }
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed).sum / 1048576.0
  }

  val CleanerWaitMs = 200L
  /** Reference runs after set-up, to scale its CPU time. */
  val SetupReferenceRuns = 100

  /** Prints the pin rows a workload's checks read (see derive_pins.py). */
  private def pin(spark: SparkSession, root: File, opts: Map[String, String]): Unit = {
    spark.sparkContext.setLogLevel("ERROR")
    val rows = opts("workload") match {
      case "lineage-tpcds" => LineageWorkload.pins(spark, root)
      case _ => InventoryWorkload.pins(spark, opts("dir"), opts("entries").split(",").toSeq)
    }
    rows.foreach(r => println("PIN " + r.mkString("\t")))
    opts.get("oracles").foreach { f =>
      val names = opts.get("entries").toSeq.flatMap(_.split(","))
      val oracles = graft.SparkEntry.oracleSql.filter(e => names.contains(e._1))
      def q(s: String) = "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
      Files.writeString(new File(f).toPath,
        oracles.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",\n", "}"))
    }
  }
}

/** Runs `f` on every item on `threads` threads and returns the results in
  * order; for set-up work only, the timed passes run on one thread. */
object Parallel {
  def map[A, B](items: Seq[A], threads: Int)(f: A => B): IndexedSeq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try items.map(a => pool.submit(new java.util.concurrent.Callable[B] { def call(): B = f(a) }))
      .map(_.get).toIndexedSeq
    finally pool.shutdown()
  }
}

/** Tab-separated pin files; `#` starts a comment line. */
object Pins {
  def read(f: File): Seq[Array[String]] =
    Files.readAllLines(f.toPath).toArray(Array.empty[String]).toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t"))
}
