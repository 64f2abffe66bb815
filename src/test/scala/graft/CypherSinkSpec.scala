package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.graft.{CypherFileSink, FlowEdge, FlowNode, FlowNodeType, MermaidSink}

/** Statement-stream semantics of the Cypher sink, asserting the reference's
  * Neo4j invariants (Neo4jAuraSink.scala:124-141,161-214): per-label unique
  * constraints, MERGE-not-CREATE for every graph element, idempotent
  * re-append, and per-edge `dstNodeIds` accumulation that stops at
  * Query/View boundaries. */
class CypherSinkSpec extends AnyFunSuite {

  private def node(id: String, tpe: FlowNodeType, cols: Seq[String] = Seq("c0")) =
    FlowNode(id, id, cols, "c0 INT", tpe)

  // table -> plan -> query, the minimal listener-shaped graph
  private val chainNodes = Seq(
    node("t1", FlowNodeType.Table),
    node("Project_1", FlowNodeType.Plan),
    node("query_1", FlowNodeType.Query))
  private val chainEdges = Seq(
    FlowEdge("t1", Some(0), "Project_1", Some(0)),
    FlowEdge("Project_1", Some(0), "query_1", Some(0)))

  private def statements(s: String): Seq[String] = s.split("\n").toSeq.filter(_.nonEmpty)

  test("unique constraints per label, and MERGE-not-CREATE for graph elements") {
    val body = CypherFileSink().toGraphString(chainNodes, chainEdges)
    for (l <- Seq("table", "view", "query", "plan")) {
      assert(body.contains(s"CREATE CONSTRAINT unique_${l}_node_uid IF NOT EXISTS"),
        s"missing $l constraint")
    }
    assert(body.contains("IS UNIQUE"))
    // every non-constraint statement must be a MERGE — CREATE of a node or
    // relationship would duplicate elements on re-load
    statements(body).filterNot(_.startsWith("CREATE CONSTRAINT")).foreach { st =>
      assert(st.contains("MERGE"), s"non-MERGE graph statement: $st")
      assert(!st.contains("CREATE ("), s"CREATE used for a graph element: $st")
    }
  }

  test("re-appending the same graph yields an identical statement stream (idempotent load)") {
    val dir = Files.createTempDirectory("cypher_spec").toFile
    val sink = CypherFileSink()
    val opts = Map("outputDirPath" -> dir.getAbsolutePath)
    sink.append(chainNodes, chainEdges, opts)
    sink.append(chainNodes, chainEdges, opts)
    val body = new String(Files.readAllBytes(
      new java.io.File(dir, "sqlflow_append.cypher").toPath))
    val stmts = statements(body)
    val (first, second) = stmts.splitAt(stmts.length / 2)
    assert(first === second, "two appends of one graph must emit identical statements")
    // MERGE-by-uid makes the double load collapse to one node set
    val mergedUids = stmts.filter(_.startsWith("MERGE (n:Node")).map(_.split("'")(1))
    assert(mergedUids.distinct.sorted === Seq("Project_1", "query_1", "t1"))
  }

  test("edges carry downstream query ids with ON CREATE / ON MATCH accumulation") {
    val body = CypherFileSink().toGraphString(chainNodes, chainEdges)
    val edgeStmts = statements(body).filter(_.contains("transformInto"))
    assert(edgeStmts.length === 2)
    edgeStmts.foreach { st =>
      assert(st.contains("ON CREATE SET r.dstNodeIds = ['query_1']"), st)
      assert(st.contains("ON MATCH SET r.dstNodeIds = r.dstNodeIds + ['query_1']"), st)
    }
  }

  test("dstNodeIds dedupes over a diamond and stops at view boundaries") {
    // diamond: t1 feeds two plans that both reach query_1 → collected once
    val diamondNodes = chainNodes :+ node("Filter_1", FlowNodeType.Plan)
    val diamondEdges = chainEdges ++ Seq(
      FlowEdge("t1", Some(0), "Filter_1", Some(0)),
      FlowEdge("Filter_1", Some(0), "query_1", Some(0)))
    val d = CypherFileSink().toGraphString(diamondNodes, diamondEdges)
    statements(d).filter(_.contains("{uid: 't1'}")).filter(_.contains("transformInto"))
      .foreach(st => assert(st.contains("r.dstNodeIds = ['query_1']"), st))

    // t1 -> p -> view_a -> p2 -> query_1: edges upstream of the view see
    // ONLY the view; the view's consumers belong to the view's own edges
    val vNodes = Seq(node("t1", FlowNodeType.Table), node("Project_1", FlowNodeType.Plan),
      node("view_a", FlowNodeType.View), node("Project_2", FlowNodeType.Plan),
      node("query_1", FlowNodeType.Query))
    val vEdges = Seq(
      FlowEdge("t1", Some(0), "Project_1", Some(0)),
      FlowEdge("Project_1", Some(0), "view_a", Some(0)),
      FlowEdge("view_a", Some(0), "Project_2", Some(0)),
      FlowEdge("Project_2", Some(0), "query_1", Some(0)))
    val v = CypherFileSink().toGraphString(vNodes, vEdges)
    val up = statements(v).filter(_.contains("(a:Node {uid: 't1'})"))
    up.foreach(st => assert(st.contains("r.dstNodeIds = ['view_a']"), st))
    val fromView = statements(v).filter(_.contains("(a:Node {uid: 'view_a'})"))
    fromView.foreach(st => assert(st.contains("r.dstNodeIds = ['query_1']"), st))

    // t1 -> 150 plan nodes -> query_1: no hop cap may cut the consumer list
    val longIds = "t1" +: (1 to 150).map(i => s"Project_$i") :+ "query_1"
    val longNodes = node("t1", FlowNodeType.Table) +:
      longIds.tail.init.map(node(_, FlowNodeType.Plan)) :+ node("query_1", FlowNodeType.Query)
    val longEdges = longIds.sliding(2).map(p => FlowEdge(p(0), Some(0), p(1), Some(0))).toSeq
    val first = statements(CypherFileSink().toGraphString(longNodes, longEdges))
      .filter(st => st.contains("(a:Node {uid: 't1'})") && st.contains("transformInto"))
    assert(first.nonEmpty)
    first.foreach(st => assert(st.contains("r.dstNodeIds = ['query_1']"), st))
  }

  test("mermaid imgFormat degrades to .mmd when mmdc is absent") {
    val dir = Files.createTempDirectory("mmd_spec").toFile
    val out = new java.io.File(dir, "flow")
    MermaidSink().write(chainNodes, chainEdges,
      Map("outputDirPath" -> out.getAbsolutePath, "imgFormat" -> "svg"))
    assert(new java.io.File(out, "sqlflow.mmd").isFile)
    // no mmdc in this container: the svg must NOT exist, and no exception
    assert(!new java.io.File(out, "sqlflow.svg").exists())
  }
}
