package org.apache.spark.sql.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The per-view lineage memo of `SQLFlow.catalogGraph`: a hit skips the
  * optimizer, and after every change that can alter a view's graph the
  * call returns exactly what it returns with no memo at all. The memo-free
  * reference is the same call after the memos are dropped from the stored
  * plans. A counting optimizer rule, installed for the whole suite, tells
  * hits (no optimizer run) from misses. */
class CatalogMemoSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("catalog-memo-spec")
    .getOrCreate()

  private object CountingRule extends Rule[LogicalPlan] {
    val runs = new AtomicInteger
    def apply(plan: LogicalPlan): LogicalPlan = { runs.incrementAndGet(); plan }
  }

  private val tables = Seq("memo_t", "memo_u")
  private val views = Seq("memo_a", "memo_r", "memo_s", "memo_v", "memo_w")
  private val persistentView = "memo_p"

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sql(s"DROP VIEW IF EXISTS $persistentView")
    tables.foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      // `x` is read by no view, so column pruning shows in the graph
      spark.sql(s"CREATE TABLE $t (k INT, s STRING, x DOUBLE) USING parquet")
      spark.sql(s"INSERT INTO $t VALUES (1, 'a', 0.5), (2, 'b', 1.5), (3, 'a', 2.5)")
    }
    spark.experimental.extraOptimizations = Seq(CountingRule)
    // the memo is only used while nothing is cached, and suites sharing
    // this session may leave data cached
    spark.catalog.clearCache()
  }

  override def afterAll(): Unit = {
    try {
      spark.experimental.extraOptimizations = Nil
      views.foreach(spark.catalog.dropTempView)
      spark.sql(s"DROP VIEW IF EXISTS $persistentView")
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    } finally super.afterAll()
  }

  private def catalog = spark.asInstanceOf[ClassicSession].sessionState.catalog

  /** (output, optimizer runs during the call) */
  private def graph(contracted: Boolean = false): ((Seq[FlowNode], Seq[FlowEdge]), Int) = {
    val before = CountingRule.runs.get
    val out = SQLFlow.catalogGraph(spark, contracted)
    (out, CountingRule.runs.get - before)
  }

  private def memoFree(contracted: Boolean = false): (Seq[FlowNode], Seq[FlowEdge]) = {
    catalog.getTempViewNames().foreach { n =>
      catalog.getTempView(n).foreach(v => SQLFlow.viewMemo.remove(v.child))
    }
    val (out, runs) = graph(contracted)
    assert(runs > 0, "the memo-free call did not optimize")
    out
  }

  private def defineV(): Unit =
    spark.table("memo_t").filter(col("k") > 0).groupBy("s").agg(sum("k").as("total"))
      .createOrReplaceTempView("memo_v")

  /** Each test starts from `memo_v` alone, its memo stored by one call. */
  private def fresh(): (Seq[FlowNode], Seq[FlowEdge]) = {
    views.foreach(spark.catalog.dropTempView)
    defineV()
    val (first, runs) = graph()
    assert(runs > 0)
    first
  }

  private def tableNode(out: (Seq[FlowNode], Seq[FlowEdge])): FlowNode =
    out._1.find(n => n.tpe == FlowNodeType.Table && n.ident.endsWith("memo_t")).get

  test("a hit runs no optimizer rule and returns what a miss returns") {
    val first = fresh()
    val (again, runs) = graph()
    assert(runs == 0, "second call optimized again")
    assert(again === first)
    val (contracted, contractedRuns) = graph(contracted = true)
    assert(contractedRuns == 0, "the contracted call did not reuse the memo")
    assert(contracted === memoFree(contracted = true))
    assert(again === memoFree())
  }

  test("hits on two views in one call hand the uid counter on") {
    fresh()
    spark.table("memo_u").filter(col("k") < 3).select("s").createOrReplaceTempView("memo_a")
    graph()
    val (out, runs) = graph()
    assert(runs == 0, "a view was optimized again")
    assert(out === memoFree())
  }

  test("redefining the view gives the memo-free output") {
    val first = fresh()
    spark.table("memo_t").select(col("s"), (col("k") + 1).as("k1")).createOrReplaceTempView("memo_v")
    val (out, runs) = graph()
    assert(runs > 0)
    assert(out !== first)
    assert(out === memoFree())
  }

  test("a conf that alters optimization gives the memo-free output") {
    val first = fresh()
    val key = "spark.sql.optimizer.excludedRules"
    spark.conf.set(key, "org.apache.spark.sql.catalyst.optimizer.ColumnPruning")
    try {
      val (out, runs) = graph()
      assert(runs > 0)
      assert(out !== first)
      assert(out === memoFree())
    } finally spark.conf.unset(key)
    assert(graph()._1 === first)
  }

  test("caching a table after the first call gives the memo-free output") {
    val first = fresh()
    // the first matches only the optimized filter, which has the inferred
    // not-null check, so the optimizer input is unchanged; caching the
    // whole table then changes the input too
    Seq(spark.table("memo_t").filter(col("k").isNotNull && col("k") > 0),
        spark.table("memo_t")).foreach { cached =>
      cached.cache().count()
      try {
        val (out, runs) = graph()
        assert(runs > 0)
        assert(out._1.exists(_.isCached), out._1.mkString("\n"))
        assert(out !== first)
        assert(out === memoFree())
      } finally cached.unpersist(blocking = true)
      assert(graph()._1 === first)
    }
  }

  test("changing the extra optimizer rules gives the memo-free output") {
    val first = fresh()
    object DropFilters extends Rule[LogicalPlan] {
      def apply(plan: LogicalPlan): LogicalPlan = plan.transform { case Filter(_, child) => child }
    }
    spark.experimental.extraOptimizations = Seq(CountingRule, DropFilters)
    try {
      val (out, runs) = graph()
      assert(runs > 0)
      assert(out !== first)
      assert(out === memoFree())
    } finally spark.experimental.extraOptimizations = Seq(CountingRule)
  }

  test("a view that sorts earlier shifts the uid counter and gives the memo-free output") {
    val first = fresh()
    spark.table("memo_u").filter(col("k") < 3).select("s").createOrReplaceTempView("memo_a")
    val (out, _) = graph()
    val ids = out._1.map(_.uniqueId).toSet
    assert(!first._1.forall(n => ids(n.uniqueId)), "memo_v's plan-node uids did not shift")
    assert(out === memoFree())
  }

  test("a view that sorts later and cuts memo_v's plan gives the memo-free output") {
    val first = fresh()
    // memo_v's filtered scan now substitutes to memo_w: the optimizer input
    // changes while the uid counter's start does not
    spark.table("memo_t").filter(col("k") > 0).createOrReplaceTempView("memo_w")
    val (out, _) = graph()
    assert(out._1.exists(n => n.ident == "memo_w" && n.tpe == FlowNodeType.View))
    assert(out !== first)
    assert(out === memoFree())
  }

  test("props a caller mutates do not reach the next call") {
    val first = fresh()
    first._1.foreach(_.props("mutated") = "yes")
    tableNode(first).props("sizeInBytes") = "0"
    val (out, runs) = graph()
    assert(runs == 0, "second call optimized again")
    assert(out._1.forall(!_.props.contains("mutated")))
    assert(tableNode(out).props("sizeInBytes") != "0")
    assert(out === memoFree())
  }

  test("spark.catalog.refreshTable gives the memo-free output") {
    val first = fresh()
    spark.sql("INSERT INTO memo_t VALUES (4, 'c', 3.5), (5, 'd', 4.5)")
    spark.catalog.refreshTable("memo_t")
    val (out, runs) = graph()
    assert(runs == 0, "the view's plan is unchanged, so the call should hit")
    assert(tableNode(out).props("sizeInBytes") != tableNode(first).props("sizeInBytes"),
      tableNode(out).props)
    assert(out === memoFree())
  }

  test("a view that reads an RDD keeps no memo: its lineage can be registered later") {
    fresh()
    val schema = StructType(Seq(StructField("k", IntegerType)))
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(1), Row(2))), schema)
      .filter(col("k") > 1).createOrReplaceTempView("memo_r")
    val (before, _) = graph()
    val rdd = catalog.getTempView("memo_r").get.child.collectFirst { case l: LogicalRDD => l.rdd }.get
    val source = spark.table("memo_t").select("k").asInstanceOf[ClassicDataset[_]]
      .queryExecution.optimizedPlan
    RddLineage.register(rdd, RddLineage.Derivation(source, Nil, "Registered"))
    val (after, runs) = graph()
    assert(runs > 0, "the view over the RDD was not optimized again")
    assert(after._1.exists(_.ident == "Registered"), after._1.mkString("\n"))
    assert(after !== before)
    assert(after === memoFree())
  }

  /** A repeat call, and a call after redefining `name` with `define`,
    * give the memo-free output; the view is analyzed again on each call,
    * so its memo never hits. */
  private def reparsed(name: String, define: String => Unit): Unit = {
    fresh()
    define("SELECT s, k FROM memo_t WHERE k > 1")
    val (out, _) = graph()
    assert(out._1.exists(n => n.ident.endsWith(name) && n.tpe == FlowNodeType.View))
    val (again, runs) = graph()
    assert(runs > 0, s"$name was not optimized again")
    assert(again === out)
    assert(again === memoFree())
    define("SELECT s FROM memo_u WHERE k < 3")
    val (redefined, _) = graph()
    assert(redefined !== out)
    assert(redefined === memoFree())
  }

  test("a SQL-created temp view gives the memo-free output, repeated and redefined") {
    reparsed("memo_s", q => spark.sql(s"CREATE OR REPLACE TEMP VIEW memo_s AS $q"))
  }

  test("a persistent view gives the memo-free output, repeated and redefined") {
    try reparsed(persistentView, q => spark.sql(s"CREATE OR REPLACE VIEW $persistentView AS $q"))
    finally spark.sql(s"DROP VIEW IF EXISTS $persistentView")
  }
}
