package graft.flowbench

import java.io.File

import scala.collection.mutable
import scala.util.{Failure, Random, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.flowbench.Internals
import org.apache.spark.sql.graft.{FlowAnalysis, FlowEdge, FlowNode, FlowNodeType, GraphVizSink, SQLFlow}
import org.apache.spark.sql.graft.implicits._

/** `lineage-tpcds`: the 103 TPC-DS queries over the 24 schema-only tables
  * of the lineage golden corpus. Each query is built and optimized once in
  * set-up; an operation is one of four public calls on it. No Spark job
  * runs, so the lineage layers do nearly all the work. `keepOutputs` is
  * set for traced runs only: untraced runs keep no outputs, so none of
  * them is in the heap figure. */
final class LineageWorkload(spark: SparkSession, root: File, tr: Tracer, keepOutputs: Boolean,
    threads: Int) extends Workload {
  import LineageWorkload._

  private val base = new File(root, "src/test/resources/tpcds-flow-tests")
  private var queries: IndexedSeq[Query] = IndexedSeq.empty
  /** Untraced output of every (query, kind); a traced run's first pass is
    * untraced, and every traced call must reproduce it. */
  private val reference = mutable.Map[(String, Int), String]()
  private lazy val cachedFn = Internals.isCachedFn(spark)

  val nominalPassS = 9.0

  def setup(): Unit = {
    val t0 = System.nanoTime()
    read(new File(base, "schema.sql")).split(";").map(_.trim).filter(_.nonEmpty).foreach(spark.sql)
    val pins = Pins.read(new File(root, PinFile)).map(r => r.head -> r.tail.map(_.toInt)).toMap
    val files = new File(base, "inputs").listFiles().filter(_.getName.endsWith(".sql")).sortBy(_.getName).toSeq
    queries = Parallel.map(files, threads) { f =>
      val name = f.getName.stripSuffix(".sql")
      val df = spark.sql(read(f))
      Internals.optimizedPlan(df)
      val golden = Array(s"$name.dot", s"$name.contracted.dot")
        .map(g => read(new File(base, s"results/$g")))
      Query(name, df, golden, pins.getOrElse(name, sys.error(s"no pinned lineage size for $name")))
    }
    // untimed, checked calls while the optimizer and the lineage walk are
    // JIT-compiled: both per-Dataset kinds on every query, in parallel, and
    // the catalog kinds, which share view `v`, on every WarmEvery-th query
    val t1 = System.nanoTime()
    attempted += 2 * queries.size
    Parallel.map(queries, threads)(q => Seq(0, 1).foreach(warm(q, _)))
    val t2 = System.nanoTime()
    for (q <- queries.indices.by(WarmEvery).map(queries); k <- Seq(2, 3)) {
      attempted += 1
      warm(q, k)
    }
    System.err.println(f"[flowbench] set-up: queries built ${(t1 - t0) / 1e9}%.1f s, " +
      f"per-Dataset warm-up ${(t2 - t1) / 1e9}%.1f s, catalog warm-up ${(System.nanoTime() - t2) / 1e9}%.1f s")
  }

  private def warm(q: Query, k: Int): Unit = Try(call(q, k, None)) match {
    case Success((out, _, _)) => check(q, k, out)
    case Failure(e) => fail(s"${q.name} ${Kinds(k)}: $e")
  }

  def runPass(rng: Random, p: Pass): Unit = {
    val round = mutable.Map[String, Double]().withDefaultValue(0.0)
    val roundCpu = mutable.Map[String, Double]().withDefaultValue(0.0)
    rng.shuffle(for (q <- queries; k <- Kinds.indices) yield (q, k)).zipWithIndex.foreach { case ((q, k), i) =>
      if (i % ReferenceEvery == 0) p.reference()
      tr.op += 1
      attempted += 1
      Try(call(q, k, if (p.traced) Some(p) else None)) match {
        case Success((out, ms, cpuMs)) =>
          p.sample(Kinds(k), ms)
          round(q.name) += ms
          roundCpu(q.name) += cpuMs
          if (check(q, k, out)) {
            if (!p.traced) { if (keepOutputs) reference((q.name, k)) = out }
            else if (!reference.get((q.name, k)).contains(out))
              fail(s"${q.name} ${Kinds(k)}: traced composition differs from the untraced call")
          }
        case Failure(e) => fail(s"${q.name} ${Kinds(k)}: $e")
      }
    }
    p.opMs ++= round.values
    p.opCpuMs ++= roundCpu.values
    p.cpuS = roundCpu.values.sum / 1e3
  }

  /** One timed call; `traced` = Some(pass) composes the call from the public
    * functions it is made of, with a span around each. Returns the printed
    * graph, the call's latency and its CPU time on the calling thread, in ms;
    * the call does all its work on that thread. */
  private def call(q: Query, k: Int, traced: Option[Pass]): (String, Double, Double) = {
    if (k >= 2) q.df.createOrReplaceTempView("v")
    val c0 = Cpu.threadNs()
    val t0 = System.nanoTime()
    val out = traced match {
      case None => k match {
        case 0 => q.df.printAsSQLFlow()
        case 1 => q.df.printAsSQLFlow(contracted = true)
        case _ => SQLFlow.printAsSQLFlow(spark, contracted = k == 3)
      }
      case Some(p) => composed(q, k, p)
    }
    val t1 = System.nanoTime()
    (out, (t1 - t0) / 1e6, (Cpu.threadNs() - c0) / 1e6)
  }

  private def composed(q: Query, k: Int, p: Pass): String = {
    var plan: LogicalPlan = null
    var g: FlowAnalysis.Graph = null
    val (nodes, edges): (Seq[FlowNode], Seq[FlowEdge]) =
      if (k < 2) tr("SQLFlowApi.dataset_graph") {
        plan = Internals.optimizedPlan(q.df)
        val rootName = tr("SQLFlowApi.root_hash")(s"query_${math.abs(plan.semanticHash()).toString}")
        g = tr("FlowAnalysis.analyze")(FlowAnalysis.analyze(plan, rootName, FlowNodeType.Query, cachedFn))
        if (k == 1) tr("FlowAnalysis.contract")(FlowAnalysis.contract(g)) else (g.nodes, g.edges)
      } else tr("SQLFlowApi.catalog_graph")(SQLFlow.catalogGraph(spark, contracted = k == 3))
    val out = tr("sinks.render")(GraphVizSink().toGraphString(nodes, edges))
    p.sample("sinks.render_kb", out.length / 1024.0)
    if (plan != null) {
      p.add("FlowAnalysis.plan_nodes", plan.collectWithSubqueries { case n => n }.size)
      p.add("FlowAnalysis.graph_nodes", g.nodes.size)
      p.add("FlowAnalysis.graph_edges", g.edges.size)
      if (k == 1) p.add("FlowAnalysis.contracted_edges", edges.size)
      p.counts("FlowAnalysis.max_depth") = math.max(p.counts("FlowAnalysis.max_depth"), depth(plan))
    }
    out
  }

  private def check(q: Query, k: Int, out: String): Boolean = {
    val ok =
      if (k >= 2) normalize(out) == q.golden(k - 2)
      else dotSize(out) == (q.pin(2 * k), q.pin(2 * k + 1))
    if (!ok) fail(s"${q.name} ${Kinds(k)}: output differs from " +
      (if (k >= 2) "the committed golden" else s"the pinned node/edge counts, got ${dotSize(out)}"))
    ok
  }

  def report(untraced: Seq[Pass]): Seq[Metric] = {
    def lat(name: String, kinds: String*): Seq[Metric] = {
      val xs = kinds.flatMap(Stats.pooled(untraced, _))
      Seq(Metric(s"${name}_p50_ms", Stats.pct(xs, 50), "ms", xs.size),
        Metric(s"${name}_p90_ms", Stats.pct(xs, 90), "ms", xs.size))
    }
    lat("lineage_plain", Kinds(0)) ++ lat("lineage_contracted", Kinds(1)) ++
      lat("catalog_print", Kinds(2), Kinds(3))
  }

  def layers(traced: Seq[Pass]): Map[String, Double] = {
    def p50(span: String) = Stats.median(tr.ms(span))
    val perPass = Seq("FlowAnalysis.plan_nodes", "FlowAnalysis.graph_nodes", "FlowAnalysis.graph_edges",
      "FlowAnalysis.contracted_edges", "FlowAnalysis.max_depth").map(n => n -> Stats.perPass(traced, n))
    val renderKb = Stats.pooled(traced, "sinks.render_kb")
    Map(
      "SQLFlowApi.dataset_graph_ms" -> p50("SQLFlowApi.dataset_graph"),
      "SQLFlowApi.root_hash_ms" -> p50("SQLFlowApi.root_hash"),
      "SQLFlowApi.catalog_graph_ms" -> p50("SQLFlowApi.catalog_graph"),
      "FlowAnalysis.analyze_ms" -> p50("FlowAnalysis.analyze"),
      "FlowAnalysis.contract_ms" -> p50("FlowAnalysis.contract"),
      "FlowAnalysis.edges_per_plan_node" ->
        Stats.perPass(traced, "FlowAnalysis.graph_edges") / math.max(1.0, Stats.perPass(traced, "FlowAnalysis.plan_nodes")),
      "sinks.render_ms" -> p50("sinks.render"),
      "sinks.render_kb" -> (if (renderKb.isEmpty) 0.0 else renderKb.sum / renderKb.size)
    ) ++ perPass
  }
}

object LineageWorkload {
  private final case class Query(name: String, df: DataFrame, golden: Array[String], pin: Array[Int])

  val PinFile = "flowbench/pins/tpcds-dataset.tsv"
  val WarmEvery = 2
  /** One reference run before every this many calls. */
  val ReferenceEvery = 4
  /** Sample names of the four calls, in the order `call` numbers them. */
  val Kinds = IndexedSeq("dataset_plain", "dataset_contracted", "catalog_plain", "catalog_contracted")

  def read(f: File): String = java.nio.file.Files.readString(f.toPath)

  /** The golden comparison of `TPCDSFlowSpec`: trimmed, non-empty lines, sorted. */
  def normalize(dot: String): String =
    dot.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq.sorted.mkString("\n")

  /** (node count, edge count) of a printed GraphViz graph. */
  def dotSize(dot: String): (Int, Int) = {
    val lines = dot.linesIterator.map(_.trim).toSeq
    (lines.count(l => l.startsWith("\"") && l.contains("\" [color=")),
      lines.count(l => l.startsWith("\"") && l.contains(" -> ")))
  }

  /** Depth of the plan tree, counting subquery plans as children. */
  def depth(plan: LogicalPlan): Int = {
    var max = 0
    val stack = mutable.Stack[(LogicalPlan, Int)]((plan, 1))
    while (stack.nonEmpty) {
      val (n, d) = stack.pop()
      max = math.max(max, d)
      (n.children ++ n.subqueries).foreach(c => stack.push((c, d + 1)))
    }
    max
  }

  /** Pin rows: per query, plain nodes/edges then contracted nodes/edges. */
  def pins(spark: SparkSession, root: File): Seq[Seq[String]] = {
    val base = new File(root, "src/test/resources/tpcds-flow-tests")
    read(new File(base, "schema.sql")).split(";").map(_.trim).filter(_.nonEmpty).foreach(spark.sql)
    new File(base, "inputs").listFiles().filter(_.getName.endsWith(".sql")).sortBy(_.getName).toSeq.map { f =>
      val df = spark.sql(read(f))
      val (pn, pe) = SQLFlow.datasetGraph(df)
      val (cn, ce) = SQLFlow.datasetGraph(df, contracted = true)
      Seq(f.getName.stripSuffix(".sql"), pn.size, pe.size, cn.size, ce.size).map(_.toString)
    }
  }
}
