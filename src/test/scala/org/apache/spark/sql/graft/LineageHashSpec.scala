package org.apache.spark.sql.graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The hashes lineage computes on copies of the caller's plans: the
  * per-Dataset root ident and every table node's `semanticHash` prop equal
  * the hashes of an independently built copy of the query, view
  * substitution by hash still cuts at view boundaries, and no lineage call
  * leaves a canonicalized plan or a cached schema on a plan it did not
  * create. Runs over the 103 TPC-DS queries of `TPCDSFlowSpec`. */
class LineageHashSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("lineage-hash-spec")
    .getOrCreate()

  private val base = new File("src/test/resources/tpcds-flow-tests")

  private lazy val schemaStatements: Seq[String] =
    Files.readString(new File(base, "schema.sql").toPath)
      .split(";").map(_.trim).filter(_.nonEmpty).toSeq

  private lazy val tableNames: Seq[String] = schemaStatements.flatMap { ddl =>
    "CREATE TABLE `(\\w+)`".r.findFirstMatchIn(ddl).map(_.group(1))
  } :+ "hash_t"

  private val views = Seq("v", "hash_base", "hash_top")

  override def beforeAll(): Unit = {
    super.beforeAll()
    tableNames.foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    // the lineage memos are only used while nothing is cached, and suites
    // sharing this session may leave data cached
    spark.catalog.clearCache()
    schemaStatements.foreach(spark.sql(_))
    spark.sql("CREATE TABLE hash_t (k INT, s STRING) USING parquet")
  }

  override def afterAll(): Unit = {
    try {
      views.foreach(spark.catalog.dropTempView)
      tableNames.foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    } finally super.afterAll()
  }

  private def optimized(df: DataFrame): LogicalPlan =
    df.asInstanceOf[ClassicDataset[_]].queryExecution.optimizedPlan

  private def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[ClassicDataset[_]].queryExecution.analyzed

  private def storedPlan(view: String): LogicalPlan =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.catalog
      .getTempView(view).get.child

  /** Whether a Catalyst lazy value field of `QueryPlan` holds its value. */
  private def forced(fieldName: String)(p: LogicalPlan): Boolean = {
    val holder = {
      val f = classOf[QueryPlan[_]].getDeclaredField(fieldName)
      f.setAccessible(true)
      f.get(p)
    }
    val cached = holder.getClass.getDeclaredField("cached")
    cached.setAccessible(true)
    cached.get(holder) match {
      case r: AtomicReference[_] => r.get != null
      case _ => false
    }
  }

  /** Every plan node of `plans`, subquery plans included, whose
    * canonicalized plan or schema is cached. */
  private def pinned(plans: LogicalPlan*): Seq[(String, LogicalPlan)] =
    for {
      p <- plans
      n <- p.collectWithSubqueries { case n => n }
      kind <- Seq("_canonicalized", "_schema") if forced(kind)(n)
    } yield (kind, n)

  private def samePins(before: Seq[(String, LogicalPlan)], after: Seq[(String, LogicalPlan)]) =
    before.size == after.size && before.zip(after).forall { case ((k1, a), (k2, b)) => k1 == k2 && (a eq b) }

  test("the 103 TPC-DS queries: root and table hashes equal a fresh copy's, no plan keeps a lazy") {
    val inputs = new File(base, "inputs").listFiles().filter(_.getName.endsWith(".sql")).sortBy(_.getName)
    assert(inputs.length === 103)
    var tables = 0
    var ownPlans = 0
    inputs.foreach { f =>
      val text = Files.readString(f.toPath)
      val df = spark.sql(text)
      df.createOrReplaceTempView("v")
      val plans = Seq(analyzed(df), optimized(df), storedPlan("v"))
      val before = pinned(plans: _*)

      val (nodes, _) = SQLFlow.datasetGraph(df)
      SQLFlow.datasetGraph(df, contracted = true)
      SQLFlow.catalogGraph(spark)
      SQLFlow.catalogGraph(spark, contracted = true)
      val after = pinned(plans: _*)
      assert(samePins(before, after),
        s"${f.getName}: lineage left ${after.diff(before).map(x => s"${x._1} on ${x._2.nodeName}")}")

      // reference values from an independently built copy of the query;
      // where the copy canonicalizes differently (an ExistenceJoin keeps
      // its `exists` attribute's id), from the Dataset's own plan
      val copy = optimized(spark.sql(text))
      val ref = if (copy.sameResult(optimized(df))) copy else { ownPlans += 1; optimized(df) }
      val root = nodes.filter(_.tpe == FlowNodeType.Query)
      assert(root.map(_.ident) === Seq(s"query_${math.abs(ref.semanticHash())}"), f.getName)
      val leafHashes = ref.collectWithSubqueries {
        case l: LogicalRelation if l.catalogTable.isDefined =>
          l.catalogTable.get.qualifiedName -> l.semanticHash().toString
      }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      nodes.filter(_.tpe == FlowNodeType.Table).foreach { n =>
        tables += 1
        assert(leafHashes.getOrElse(n.ident, Set.empty).contains(n.props("semanticHash")),
          s"${f.getName}: ${n.ident} ${n.props} vs ${leafHashes.get(n.ident)}")
      }
    }
    assert(tables > 103)
    assert(ownPlans < 10, s"$ownPlans of 103 queries canonicalize differently when built again")
  }

  test("two views sharing a non-trivial subplan: substitution by hash cuts at the view") {
    views.foreach(spark.catalog.dropTempView)
    val shared = spark.table("hash_t").filter(col("k") > 0).groupBy("s").agg(sum("k").as("total"))
    shared.createOrReplaceTempView("hash_base")
    val top = shared.filter(col("total") > 1).select("s")
    top.createOrReplaceTempView("hash_top")
    val plans = Seq(analyzed(shared), analyzed(top), storedPlan("hash_base"), storedPlan("hash_top"))
    val before = pinned(plans: _*)
    // the second call reuses the kept hashes and graphs
    val calls = (1 to 2).map(_ => SQLFlow.catalogGraph(spark, contracted = true))
    assert(calls(0) === calls(1))
    val (_, edges) = calls(0)
    val into = edges.groupBy(_.toId).map { case (k, es) => k -> es.map(_.fromId).toSet }
    assert(into("hash_top") === Set("hash_base"), edges.map(_.show).mkString("\n"))
    assert(into("hash_base") === Set("spark_catalog.default.hash_t"))
    assert(samePins(before, pinned(plans: _*)))
    assert(SQLFlow.impactedBy(spark, "spark_catalog.default.hash_t") === Seq("hash_base", "hash_top"))
  }
}
