package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The per-Dataset lineage memo of `SQLFlow.datasetGraph`: a repeat call
  * on the same Dataset reuses the kept graph, and after every change that
  * can alter that graph the call returns exactly what it returns with no
  * memo at all. The memo-free reference is the same call after the memo is
  * dropped from the plan. A hit hands out the kept graph's attribute
  * lists themselves, which tells hits from misses. */
class DatasetMemoSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("dataset-memo-spec")
    .getOrCreate()

  private val table = "dsmemo_t"

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"CREATE TABLE $table (k INT, s STRING, x DOUBLE) USING parquet")
    spark.sql(s"INSERT INTO $table VALUES (1, 'a', 0.5), (2, 'b', 1.5), (3, 'a', 2.5)")
    // the memo is only used while nothing is cached, and suites sharing
    // this session may leave data cached
    spark.catalog.clearCache()
  }

  override def afterAll(): Unit = {
    try spark.sql(s"DROP TABLE IF EXISTS $table")
    finally super.afterAll()
  }

  private def optimized(df: DataFrame): LogicalPlan =
    df.asInstanceOf[ClassicDataset[_]].queryExecution.optimizedPlan

  private def kept(df: DataFrame): Option[FlowAnalysis.Graph] = SQLFlow.datasetMemo.get(optimized(df))

  /** (output, whether the call reused the kept graph) */
  private def graph(df: DataFrame): ((Seq[FlowNode], Seq[FlowEdge]), Boolean) = {
    val before = kept(df)
    val out = SQLFlow.datasetGraph(df)
    (out, before.exists(g => g.nodes.map(_.attributes).corresponds(out._1.map(_.attributes))(_ eq _)))
  }

  private def memoFree(df: DataFrame, contracted: Boolean = false): (Seq[FlowNode], Seq[FlowEdge]) = {
    SQLFlow.datasetMemo.remove(optimized(df))
    SQLFlow.datasetGraph(df, contracted)
  }

  /** A new Dataset with its memo stored by one call. */
  private def fresh(): (DataFrame, (Seq[FlowNode], Seq[FlowEdge])) = {
    val df = spark.table(table).filter(col("k") > 0).groupBy("s").agg(sum("k").as("total"))
    val (first, hit) = graph(df)
    assert(!hit)
    assert(kept(df).isDefined, "the first call kept no memo")
    (df, first)
  }

  private def tableNode(out: (Seq[FlowNode], Seq[FlowEdge])): FlowNode =
    out._1.find(n => n.tpe == FlowNodeType.Table && n.ident.endsWith(table)).get

  test("a repeat call reuses the graph and returns what a miss returns") {
    val (df, first) = fresh()
    val (again, hit) = graph(df)
    assert(hit, "the second call walked the plan again")
    assert(again === first)
    val contracted = SQLFlow.datasetGraph(df, contracted = true)
    assert(contracted === memoFree(df, contracted = true))
    assert(again === memoFree(df))
  }

  test("caching a table after the first call gives the memo-free output") {
    val (df, first) = fresh()
    val cached = spark.table(table)
    cached.cache().count()
    try {
      val (out, hit) = graph(df)
      assert(!hit)
      assert(out._1.exists(_.isCached), out._1.mkString("\n"))
      assert(out === memoFree(df))
    } finally cached.unpersist(blocking = true)
    assert(graph(df)._1 === first)
  }

  test("a graph made while data is cached is not kept") {
    val df = spark.table(table).select("s")
    // optimized before caching, so the plan reads the table, not the cache
    optimized(df)
    val cached = spark.table(table)
    cached.cache().count()
    try {
      assert(SQLFlow.datasetGraph(df)._1.exists(_.isCached))
      assert(kept(df).isEmpty)
    } finally cached.unpersist(blocking = true)
    val (out, _) = graph(df)
    assert(!out._1.exists(_.isCached), out._1.mkString("\n"))
    assert(out === memoFree(df))
  }

  test("props a caller mutates do not reach the next call") {
    val (df, first) = fresh()
    first._1.foreach(_.props("mutated") = "yes")
    tableNode(first).props("sizeInBytes") = "0"
    val (out, hit) = graph(df)
    assert(hit, "the second call walked the plan again")
    assert(out._1.forall(!_.props.contains("mutated")))
    assert(tableNode(out).props("sizeInBytes") != "0")
    assert(out === memoFree(df))
  }

  test("a refreshed table's statistics are read again") {
    val (df, first) = fresh()
    spark.sql(s"INSERT INTO $table VALUES (4, 'c', 3.5), (5, 'd', 4.5)")
    spark.catalog.refreshTable(table)
    val (out, hit) = graph(df)
    assert(hit, "the Dataset's plan is unchanged, so the call should reuse its graph")
    assert(tableNode(out).props("sizeInBytes") != tableNode(first).props("sizeInBytes"),
      tableNode(out).props)
    assert(out === memoFree(df))
  }

  test("a plan derived by transforming a memoized plan does not reuse its graph") {
    val df = spark.table(table).filter(col("k") > 0).select("s", "k")
    val first = SQLFlow.datasetGraph(df)
    val derived = optimized(df).transform { case Filter(_, child) => child }
    val ddf = TestPlanBridge.dfFromPlan(spark, derived)
    // Catalyst copied the memo onto the derived plan
    assert(SQLFlow.datasetMemo.tagged(optimized(ddf)).exists(_._1 eq optimized(df)))
    assert(kept(ddf).isEmpty)
    val (out, hit) = graph(ddf)
    assert(!hit)
    assert(out !== first)
    assert(out === memoFree(ddf))
  }

  test("a plan that reads an RDD keeps no memo: its lineage can be registered later") {
    val schema = StructType(Seq(StructField("k", IntegerType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(1), Row(2))), schema)
      .filter(col("k") > 1)
    val before = SQLFlow.datasetGraph(df)
    assert(kept(df).isEmpty)
    val rdd = optimized(df).collectFirst { case l: LogicalRDD => l.rdd }.get
    RddLineage.register(rdd, RddLineage.Derivation(
      optimized(spark.table(table).select("k")), Nil, "Registered"))
    val after = SQLFlow.datasetGraph(df)
    assert(after._1.exists(_.ident == "Registered"), after._1.mkString("\n"))
    assert(after !== before)
  }
}
