package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.plans.logical.LeafNode
import org.scalatest.funsuite.AnyFunSuite

/** `FlowAnalysis.merge`, the catalog-mode merge of per-view packed graphs:
  * nodes dedupe by uid in first-occurrence order with `cached` ORed in,
  * edges dedupe in first-occurrence order, within one graph and across
  * graphs. */
class GraphMergeSpec extends AnyFunSuite {

  /** A packed graph of `nodes` (uid, type, attributes, cached) and `edges`
    * (from uid, from column, to uid, to column; -1 for a node-level end),
    * rooted at its last node. */
  private def graph(nodes: Seq[(String, FlowNodeType, Seq[String], Boolean)],
      edges: (String, Int, String, Int)*): FlowAnalysis.Graph = {
    val index = nodes.map(_._1).zipWithIndex.toMap
    new FlowAnalysis.Graph(
      nodes.map(_._1).toArray, nodes.map(_._1).toArray, nodes.map(_._3).toArray,
      Array.fill(nodes.size)(""), nodes.map(_._2).toArray, nodes.map(_._4).toArray,
      new Array[LeafNode](nodes.size), new Array[Int](nodes.size),
      edges.flatMap { case (a, i, b, j) => Seq(index(a), i, index(b), j) }.toArray,
      Array.emptyIntArray, nodes.size - 1)
  }

  private val table = ("t", FlowNodeType.Table, Seq("a", "b"), false)
  private val ckpt = ("ckpt_rdd7", FlowNodeType.Plan, Seq("a"), false)
  private val v1 = ("v1", FlowNodeType.View, Seq("a"), false)

  /** v1 over a checkpoint of t, with one edge twice. */
  private def view1 = graph(Seq(table, ckpt, ("Project_0000001", FlowNodeType.Plan, Seq("a"), false), v1),
    ("t", -1, "ckpt_rdd7", -1),
    ("ckpt_rdd7", 0, "Project_0000001", 0),
    ("ckpt_rdd7", 0, "Project_0000001", 0),
    ("Project_0000001", 0, "v1", 0))

  /** v2 over v1 and the same checkpoint, t cached here only, one edge twice
    * and one edge also in [[view1]]. */
  private def view2 = graph(Seq(v1, table.copy(_4 = true), ckpt, ("v2", FlowNodeType.View, Seq("a", "b"), false)),
    ("t", -1, "ckpt_rdd7", -1),
    ("v1", 0, "v2", 0),
    ("ckpt_rdd7", 0, "v2", 1),
    ("v1", 0, "v2", 0))

  private def shown(g: FlowAnalysis.Graph): (Seq[(String, Boolean)], Seq[String]) =
    (g.nodes.map(n => (n.uniqueId, n.isCached)), g.edges.map(_.show))

  test("two views: nodes and edges dedupe in first-occurrence order, cached ORed in") {
    assert(shown(FlowAnalysis.merge(Seq(view1, view2))) === ((
      Seq("t" -> true, "ckpt_rdd7" -> false, "Project_0000001" -> false, "v1" -> false, "v2" -> false),
      Seq(
        """"t" -> "ckpt_rdd7"""",
        """"ckpt_rdd7":0 -> "Project_0000001":0""",
        """"Project_0000001":0 -> "v1":0""",
        """"v1":0 -> "v2":0""",
        """"ckpt_rdd7":0 -> "v2":1"""))))
    // the other order keeps view2's order, and t stays cached
    assert(shown(FlowAnalysis.merge(Seq(view2, view1))) === ((
      Seq("v1" -> false, "t" -> true, "ckpt_rdd7" -> false, "v2" -> false, "Project_0000001" -> false),
      Seq(
        """"t" -> "ckpt_rdd7"""",
        """"v1":0 -> "v2":0""",
        """"ckpt_rdd7":0 -> "v2":1""",
        """"ckpt_rdd7":0 -> "Project_0000001":0""",
        """"Project_0000001":0 -> "v1":0"""))))
  }

  test("one view: its repeated edge is dropped once and the result kept") {
    val g = view1
    val merged = FlowAnalysis.merge(Seq(g))
    assert(shown(merged) === ((
      Seq("t" -> false, "ckpt_rdd7" -> false, "Project_0000001" -> false, "v1" -> false),
      Seq(
        """"t" -> "ckpt_rdd7"""",
        """"ckpt_rdd7":0 -> "Project_0000001":0""",
        """"Project_0000001":0 -> "v1":0"""))))
    assert(FlowAnalysis.merge(Seq(g)) eq merged)
  }

  test("one view with nothing repeated is its own merge") {
    val g = graph(Seq(table, v1), ("t", 0, "v1", 0), ("t", 1, "v1", 0), ("t", -1, "v1", -1))
    assert(FlowAnalysis.merge(Seq(g)) eq g)
  }
}
