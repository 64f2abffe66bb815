package org.apache.spark.sql.graft

import scala.collection.immutable.ArraySeq
import scala.collection.mutable

import org.apache.spark.sql.catalyst.catalog.HiveTableRelation
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.LeftExistence
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Column-level lineage extraction over optimized Catalyst logical plans.
  *
  * Re-derivation of the reference's analysis (behavioral spec in SURVEY.md
  * §2.1; reference: /root/reference/src/main/scala/org/apache/spark/sql/flow/
  * SQLFlow.scala:357-479 uncontracted, :606-836 contracted) with a different
  * architecture:
  *
  *   - ONE recursive pass builds the full (uncontracted) graph, tracking for
  *     every live attribute the (node, columnIndex) it was last produced
  *     at ([[FlowAnalysis.Binding]]);
  *   - contracted mode is a graph CONTRACTION of that result (reachability
  *     from leaf columns to root columns, plus equi-join bridge pairs
  *     recorded during the pass), not a second parallel analyzer;
  *   - node uids are deterministic (per-analysis counter), unlike the
  *     reference's random digests (SQLFlow.scala:909-912) — golden tests
  *     stay stable across JVMs.
  */
object FlowAnalysis {

  /** Column `idx` of the node at index `node` of the graph being built. */
  case class Binding(node: Int, idx: Int)

  /** Result of one analysis pass, stored packed: one array slot per node,
    * four Ints per edge (from node, from column, to node, to column, with
    * -1 for a node-level end) and per equi-join bridge pair (used only by
    * contracted mode, reference: SQLFlow.scala:638-657). Uids, idents and
    * DDL strings are interned, so graphs share them. No `props` map is
    * stored: [[nodes]] builds fresh ones, with statistics read when called
    * from the leaf a node was made of (a refreshed table reports new sizes
    * through the same leaf), as a new analysis would read them; callers may
    * mutate them. `FlowNode` and `FlowEdge` objects are built by [[nodes]]
    * and [[edges]] only. A graph made by [[merge]] has no root (-1) and no
    * bridges: nothing contracts it. */
  final class Graph private[graft] (
      private[FlowAnalysis] val uids: Array[String],
      private[FlowAnalysis] val idents: Array[String],
      private[FlowAnalysis] val attrs: Array[Seq[String]],
      private[FlowAnalysis] val ddls: Array[String],
      private[FlowAnalysis] val types: Array[FlowNodeType],
      private[FlowAnalysis] val cached: Array[Boolean],
      private[FlowAnalysis] val statLeaves: Array[LeafNode],
      private[FlowAnalysis] val leafHashes: Array[Int],
      private[FlowAnalysis] val edgeData: Array[Int],
      private[FlowAnalysis] val bridgeData: Array[Int],
      private[FlowAnalysis] val root: Int) {

    def rootId: String = uids(root)

    def nodes: Seq[FlowNode] = ArraySeq.unsafeWrapArray(Array.tabulate(uids.length) { i =>
      FlowNode(uids(i), idents(i), attrs(i), ddls(i), types(i), cached(i),
        statProps(statLeaves(i), leafHashes(i)))
    })

    def edges: Seq[FlowEdge] = ArraySeq.unsafeWrapArray(Array.tabulate(edgeData.length / 4) { k =>
      val b = 4 * k
      FlowEdge(uids(edgeData(b)), slot(edgeData(b + 1)), uids(edgeData(b + 2)), slot(edgeData(b + 3)))
    })

    /** This graph contracted, made on first use and kept with the graph, so
      * a lineage memo contracts once. */
    private[graft] lazy val contracted: Graph = contractGraph(this)

    /** This graph with repeated uids and edges dropped, as [[merge]] drops
      * them; `this` when nothing repeats. Made on first use and kept with
      * the graph, so a one-view catalog hit does no merge work. */
    private[graft] lazy val deduped: Graph = mergeGraphs(Seq(this))
  }

  /** Shared `Some`s for the column slots of built edges. */
  private val Slots: Array[Option[Int]] = Array.tabulate(1024)(Some(_))
  private def slot(i: Int): Option[Int] =
    if (i < 0) None else if (i < Slots.length) Slots(i) else Some(i)

  /** Shared across analyses that merge into one graph, so plan-node uids
    * stay unique; deterministic (no random digests). `value` is the last
    * uid number handed out. */
  class Counter { private[graft] var value = 0; def next(): Int = { value += 1; value } }

  private final class Ctx(counter: Counter) {
    private val uids = mutable.ArrayBuffer[String]()
    private val idents = mutable.ArrayBuffer[String]()
    private val attrs = mutable.ArrayBuffer[Seq[String]]()
    private val ddls = mutable.ArrayBuffer[String]()
    private val types = mutable.ArrayBuffer[FlowNodeType]()
    private val cached = mutable.ArrayBuffer[Boolean]()
    private val statLeaves = mutable.ArrayBuffer[LeafNode]()
    private val leafHashes = mutable.ArrayBuilder.make[Int]
    private val edges = mutable.ArrayBuilder.make[Int]
    private val bridges = mutable.ArrayBuilder.make[Int]
    /** Node index of every stable uid: tables, views, checkpoints. */
    val stable = mutable.HashMap[String, Int]()

    /** `name`, `_` and the next uid number in hex, zero-padded to 7 digits. */
    def nextId(name: String): String = {
      val hex = Integer.toHexString(counter.next())
      val sb = new java.lang.StringBuilder(name.length + 8 + hex.length).append(name).append('_')
      var pad = 7 - hex.length
      while (pad > 0) { sb.append('0'); pad -= 1 }
      sb.append(hex).toString
    }

    /** Appends a node and returns its index; `leaf` is the leaf whose
      * statistics become the node's props. */
    def node(uid: String, ident: String, attributes: Seq[String], ddl: String,
        tpe: FlowNodeType, isCached: Boolean, leaf: LeafNode = null): Int = {
      uids += uid.intern()
      idents += ident.intern()
      attrs += ArraySeq.unsafeWrapArray(attributes.toArray)
      ddls += ddl.intern()
      types += tpe
      cached += isCached
      // semanticHash only where canonicalization is ExprId-stable (relation
      // leaves); ViewRef and friends would hash their raw attribute ids and
      // change on every session. A leaf whose hash fails gets no props, as
      // a failing statistics read gives none.
      val (statLeaf, hash) = leaf match {
        case _: LogicalRelation | _: HiveTableRelation =>
          try (leaf, leafHash(leaf)) catch { case _: Throwable => (null, 0) }
        case _ => (leaf, 0)
      }
      statLeaves += statLeaf
      leafHashes += hash
      uids.length - 1
    }

    def setCached(node: Int): Unit = cached(node) = true

    def edge(from: Int, fromIdx: Int, to: Int, toIdx: Int): Unit = {
      edges += from; edges += fromIdx; edges += to; edges += toIdx
    }

    def bridge(a: Binding, b: Binding): Unit = {
      bridges += a.node; bridges += a.idx; bridges += b.node; bridges += b.idx
    }

    def edgeCount: Int = edges.length / 4

    def graph(root: Int): Graph = {
      val (typeArr, attrArr) = (types.toArray, attrs.toArray)
      val (edgeData, bridgeData) = (edges.result(), bridges.result())
      sortPlanColumns(typeArr, attrArr, edgeData, bridgeData)
      new Graph(uids.toArray, idents.toArray, attrArr, ddls.toArray, typeArr,
        cached.toArray, statLeaves.toArray, leafHashes.result(), edgeData, bridgeData, root)
    }
  }

  /** Analyze an optimized plan; the root node (type Query/View) is appended
    * with 1:1 edges from the plan's output. View roots get their stable name
    * as uid so per-view graphs merge across analyses. */
  def analyze(plan: LogicalPlan, rootName: String,
      rootType: FlowNodeType = FlowNodeType.Query,
      cached: LogicalPlan => Boolean = _ => false,
      counter: Counter = new Counter): Graph = {
    val ctx = new Ctx(counter)
    val (planNode, bindings) = collect(plan, ctx, cached)
    val rootId = if (rootType == FlowNodeType.View) rootName else ctx.nextId(rootName)
    val root = ctx.node(rootId, rootName, plan.output.map(_.name), schemaDDL(plan), rootType, false)
    plan.output.zipWithIndex.foreach { case (attr, i) =>
      bindings.get(attr) match {
        case Some(b) => ctx.edge(b.node, b.idx, root, i)
        case None => ctx.edge(planNode, -1, root, i)
      }
    }
    ctx.graph(root)
  }

  /** `plan`'s semantic hash, computed on a copy: canonicalizing a plan
    * leaves a canonicalized copy on every node it visits, subquery plans
    * included, and lineage must not leave that on a caller's plan. */
  private[graft] def semanticHash(plan: LogicalPlan): Int = transientCopy(plan).semanticHash()

  /** Relation leaves' semantic hashes, kept on the leaves as Ints: the
    * optimized plans of a Dataset and of its view share their leaves, so
    * each leaf is hashed once. */
  private val leafHashes = new PlanMemo[Int]("sqlflow.leafHash")

  private def leafHash(leaf: LeafNode): Int = leafHashes.getOrElseUpdate(leaf)(semanticHash(leaf))

  /** A copy of `plan` that shares no plan node with it, subquery plans
    * included, for computations that cache their results on the nodes.
    * Each copied subquery gets a fresh id: Catalyst's transforms keep the
    * original of a result equal to it, as a subquery over a copied plan
    * is. Canonicalization resets subquery ids, so hashes are unchanged. */
  private[graft] def transientCopy(plan: LogicalPlan): LogicalPlan =
    plan.clone().transformAllExpressions {
      case s: ScalarSubquery => s.copy(plan = transientCopy(s.plan), exprId = NamedExpression.newExprId)
      case s: Exists => s.copy(plan = transientCopy(s.plan), exprId = NamedExpression.newExprId)
      case s: ListQuery => s.copy(plan = transientCopy(s.plan), exprId = NamedExpression.newExprId)
      case s: LateralSubquery =>
        s.copy(plan = transientCopy(s.plan), exprId = NamedExpression.newExprId)
    }

  /** Deterministic column order for PLAN-INTERNAL nodes (r17): the
    * optimizer can emit an intermediate operator's columns in a
    * hash-order-dependent permutation — RewriteDistinctAggregates groups
    * distinct aggregates in a Map keyed by expression sets whose hashCodes
    * include exprIds, and exprIds depend on everything analyzed before, so
    * the SAME view can legitimately produce two slot-permuted (isomorphic)
    * graphs across extractions (observed: the golden group-by corpus
    * flipped variants 10/20 over 30 snapshots in one session — the r16
    * "1-in-6 suite flake", finally named by the r17 log capture). Lineage
    * output should be a pure function of the catalog content, the same
    * determinism contract the uid counter and the sorted catalog listing
    * already keep — so plan-internal nodes get their attributes STABLY
    * sorted by name here, with every edge and bridge slot remapped
    * consistently. Table/view/leaf nodes keep schema order (their order IS
    * meaningful); ties between same-named plan columns keep plan order
    * (the one residual permutation this cannot fix — unobserved, since
    * optimizer-generated intermediate names embed distinct functions).
    * Graph SIZES are unchanged, so the z01 pinned-size oracle is
    * unaffected; slot-level goldens were regenerated once. */
  private def sortPlanColumns(types: Array[FlowNodeType], attrs: Array[Seq[String]],
      edgeData: Array[Int], bridgeData: Array[Int]): Unit = {
    val inv = new Array[Array[Int]](attrs.length)
    var any = false
    attrs.indices.foreach { n =>
      if (types(n) == FlowNodeType.Plan && !isSorted(attrs(n))) {
        val order = attrs(n).zipWithIndex.sortBy(_._1).map(_._2)
        val p = new Array[Int](order.length)
        order.zipWithIndex.foreach { case (old, nu) => p(old) = nu }
        val sorted = new Array[String](order.length)
        attrs(n).zipWithIndex.foreach { case (a, i) => sorted(p(i)) = a }
        attrs(n) = ArraySeq.unsafeWrapArray(sorted)
        inv(n) = p
        any = true
      }
    }
    // both arrays hold (node, column) pairs at even offsets
    if (any) Seq(edgeData, bridgeData).foreach { data =>
      (0 until data.length by 2).foreach { k =>
        val p = inv(data(k))
        if (p != null && data(k + 1) >= 0) data(k + 1) = p(data(k + 1))
      }
    }
  }

  /** Whether `names` are in the order a stable sort would leave them in. */
  private def isSorted(names: Seq[String]): Boolean = {
    var k = 1
    while (k < names.length && names(k - 1).compareTo(names(k)) <= 0) k += 1
    k >= names.length
  }

  /** The DDL of `plan`'s output, built without forcing the plan's own
    * cached `schema`. */
  private def schemaDDL(plan: LogicalPlan): String =
    try DataTypeUtils.fromAttributes(plan.output).toDDL catch { case _: Throwable => "" }

  /** Recursive pass: returns (index of the subplan's graph node, bindings
    * from the subplan's output attributes to graph columns). */
  private def collect(plan: LogicalPlan, ctx: Ctx,
      cached: LogicalPlan => Boolean): (Int, AttributeMap[Binding]) = {
    plan match {
      // an RDD-backed leaf whose producing operator registered its
      // derivation (GlobalOrderOps' imperative prefix pass): resume the
      // walk through the recorded source plan instead of truncating —
      // the boundary becomes an ordinary unary plan node whose
      // pass-through columns bind positionally and whose appended
      // columns (rank, running sums) edge from their declared inputs
      case l: org.apache.spark.sql.execution.LogicalRDD
          if RddLineage.lookup(l.rdd).isDefined =>
        val d = RddLineage.lookup(l.rdd).get
        val (child, childBindings) = collect(d.source, ctx, cached)
        val id = ctx.node(ctx.nextId(d.opName), d.opName, l.output.map(_.name),
          schemaDDL(l), FlowNodeType.Plan, cached(l))
        val srcOut = d.source.output
        (0 until math.min(srcOut.length, l.output.length)).foreach { i =>
          childBindings.get(srcOut(i)).foreach(b => ctx.edge(b.node, b.idx, id, i))
        }
        d.appended.zipWithIndex.foreach { case ((_, srcIdxs), j) =>
          val outIdx = srcOut.length + j
          if (outIdx < l.output.length) {
            if (srcIdxs.isEmpty) ctx.edge(child, -1, id, outIdx)
            else srcIdxs.foreach { si =>
              childBindings.get(srcOut(si)).foreach(b => ctx.edge(b.node, b.idx, id, outIdx))
            }
          }
        }
        (id, AttributeMap(l.output.zipWithIndex.map { case (a, i) =>
          a -> Binding(id, i)
        }))

      // a localCheckpoint barrier whose producer registered a leaf-set
      // summary (CheckpointUtils.summarized): emit ONE "checkpoint" node
      // per distinct checkpoint RDD — a barrier consumed by several
      // subtrees (q82's edge list, d22's prefix postings) merges like a
      // stable table — with node-level edges from the recorded source
      // LEAVES. Column provenance is deliberately not claimed through the
      // barrier (the plan history is truncated on purpose); a recorded
      // leaf that is itself a summarized checkpoint resolves transitively
      // through this same case, so iterative chains (q80's rounds) bottom
      // out at real tables without re-expanding superseded plans.
      case l: org.apache.spark.sql.execution.LogicalRDD
          if RddLineage.lookupCheckpoint(l.rdd).isDefined =>
        val s = RddLineage.lookupCheckpoint(l.rdd).get
        val uid = s"ckpt_rdd${l.rdd.id}"
        val id = ctx.stable.getOrElse(uid, {
          val id = ctx.node(uid, s.opName, l.output.map(_.name),
            schemaDDL(l), FlowNodeType.Plan, cached(l))
          ctx.stable(uid) = id
          val seen = mutable.Set[Int]()
          s.leaves.foreach { leafPlan =>
            val (leaf, _) = collect(leafPlan, ctx, cached)
            // two scans of the same stable table dedupe to one edge
            if (seen.add(leaf)) ctx.edge(leaf, -1, id, -1)
          }
          id
        })
        (id, AttributeMap(l.output.zipWithIndex.map { case (a, i) =>
          a -> Binding(id, i)
        }))

      case leaf: LeafNode =>
        // (ident, type, cached, stable): stable idents (catalog tables, file
        // scans, views) double as uids so repeated scans merge into one node
        val (ident, tpe, isCached, stable) = leaf match {
          case ViewRef(name, _, _) =>
            (name, FlowNodeType.View, false, true)
          case r: LogicalRelation =>
            r.catalogTable.map(t => (t.qualifiedName, FlowNodeType.Table, cached(leaf), true))
              .getOrElse((relationIdent(r), FlowNodeType.Table, cached(leaf), true))
          case h: HiveTableRelation =>
            (h.tableMeta.qualifiedName, FlowNodeType.Table, cached(leaf), true)
          case m: InMemoryRelation =>
            Option(m.cacheBuilder.tableName).flatten
              .map(n => (n, FlowNodeType.Table, true, true))
              .getOrElse(("cache", FlowNodeType.Table, true, false))
          case _: LocalRelation => ("LocalRelation", FlowNodeType.Table, cached(leaf), false)
          case _: Range => ("Range", FlowNodeType.LeafPlan, cached(leaf), false)
          case _: OneRowRelation => ("OneRowRelation", FlowNodeType.LeafPlan, false, false)
          case other => (other.nodeName, FlowNodeType.LeafPlan, cached(leaf), false)
        }
        // stable relations expose their FULL table schema and bind the
        // (possibly column-pruned) scan output by field name — two scans of
        // the same table pruned differently must agree on column indices,
        // or the merged node's edges point at the wrong columns
        val fullSchema: Option[Seq[String]] = leaf match {
          case r: LogicalRelation => scala.util.Try(r.relation.schema.map(_.name).toSeq).toOption
          case h: HiveTableRelation => Some(h.tableMeta.schema.map(_.name).toSeq)
          case _ => None
        }
        val attrs = fullSchema.getOrElse(leaf.output.map(_.name))
        // a stable-uid table scanned twice in one plan is ONE graph node
        val id = (if (stable) ctx.stable.get(ident) else None) match {
          case Some(id) =>
            if (isCached) ctx.setCached(id)
            id
          case None =>
            val uid = if (stable) ident else ctx.nextId(ident)
            val id = ctx.node(uid, ident, attrs, schemaDDL(leaf), tpe, isCached, leaf)
            if (stable) ctx.stable(uid) = id
            id
        }
        // bind scan output to full-schema slots case-insensitively (the
        // default session resolver is case-insensitive, so a resolver-
        // renamed attribute must still find its field), and occurrence-
        // aware: the k-th output attribute named N binds the k-th schema
        // field named N — duplicate field names are legal in relation
        // schemas and indexOf would alias them all onto the first slot
        val slotsByName: Map[String, Seq[Int]] = fullSchema
          .map(_.zipWithIndex.groupBy(_._1.toLowerCase(java.util.Locale.ROOT))
            .map { case (k, v) => k -> v.map(_._2) })
          .getOrElse(Map.empty)
        val consumed = mutable.Map[String, Int]()
        (id, AttributeMap(leaf.output.zipWithIndex.map { case (a, i) =>
          val key = a.name.toLowerCase(java.util.Locale.ROOT)
          val hits = slotsByName.getOrElse(key, Nil)
          val occ = consumed.getOrElse(key, 0)
          val idx = if (occ < hits.length) { consumed(key) = occ + 1; hits(occ) } else i
          a -> Binding(id, idx)
        }))

      case CachedMarker(child) =>
        // transparent: flags the child subtree's node as cached
        val (id, bindings) = collect(child, ctx, cached)
        ctx.setCached(id)
        (id, bindings)

      case _ =>
        val childResults = plan.children.map(c => collect(c, ctx, cached))
        val inputBindings = AttributeMap(childResults.flatMap(_._2))
        val id = ctx.node(ctx.nextId(plan.nodeName), plan.nodeName, plan.output.map(_.name),
          schemaDDL(plan), FlowNodeType.Plan, cached(plan))

        val before = ctx.edgeCount
        emitOperatorEdges(plan, id, inputBindings, childResults, ctx, cached)

        if (ctx.edgeCount == before) {
          // fallback (reference: SQLFlow.scala:466-478,593-602): no
          // column-level edges derivable → node-level edges from every input
          childResults.foreach { case (child, bs) =>
            if (bs.isEmpty) ctx.edge(child, -1, id, -1)
            else bs.toSeq.sortBy(_._2.idx).foreach { case (_, b) =>
              ctx.edge(b.node, b.idx, id, -1)
            }
          }
        }
        (id, AttributeMap(plan.output.zipWithIndex.map { case (a, i) => a -> Binding(id, i) }))
    }
  }

  private def relationIdent(r: LogicalRelation): String = {
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation
    r.relation match {
      case h: HadoopFsRelation =>
        h.location.rootPaths.headOption.map(_.getName).getOrElse("relation")
      case other => other.getClass.getSimpleName.stripSuffix("$")
    }
  }

  /** A node's props: the statistics of `leaf` (none without one), read
    * when called, and its kept semantic hash where it has one. */
  private def statProps(leaf: LeafNode, hash: Int): mutable.Map[String, String] = {
    val props = mutable.Map.empty[String, String]
    if (leaf != null) try {
      val st = leaf.computeStats()
      props("sizeInBytes") = st.sizeInBytes.toString
      leaf match {
        case _: LogicalRelation | _: HiveTableRelation => props("semanticHash") = hash.toString
        case _ =>
      }
      st.rowCount.foreach(rc => props("rowCount") = rc.toString)
    } catch { case _: Throwable => props.clear() }
    props
  }

  /** Per-operator column-provenance rules (reference: SQLFlow.scala:357-479). */
  private def emitOperatorEdges(plan: LogicalPlan, id: Int,
      in: AttributeMap[Binding],
      childResults: Seq[(Int, AttributeMap[Binding])],
      ctx: Ctx, cached: LogicalPlan => Boolean): Unit = {

    def edgeFromRefs(e: Expression, outIdx: Int): Unit = {
      e.references.toSeq.sortBy(_.exprId.id).foreach { a =>
        in.get(a).foreach(b => ctx.edge(b.node, b.idx, id, outIdx))
      }
      subqueryEdges(e, id, Some(outIdx), ctx, cached)
    }

    plan match {
      case Project(projectList, _) =>
        projectList.zipWithIndex.foreach { case (ne, i) => edgeFromRefs(ne, i) }

      case Aggregate(_, aggExprs, _, _) =>
        aggExprs.zipWithIndex.foreach { case (ne, i) => edgeFromRefs(ne, i) }

      case g @ Generate(generator, _, _, _, generatorOutput, _) =>
        // pass-through child columns present in the output
        g.output.zipWithIndex.foreach { case (a, i) =>
          in.get(a).foreach(b => ctx.edge(b.node, b.idx, id, i))
        }
        // generator inputs fan out to every generator output column
        val genOutIdx = g.output.zipWithIndex.collect {
          case (a, i) if generatorOutput.exists(_.semanticEquals(a)) => i
        }
        generator.references.toSeq.sortBy(_.exprId.id).foreach { a =>
          in.get(a).foreach { b =>
            genOutIdx.foreach(i => ctx.edge(b.node, b.idx, id, i))
          }
        }

      case Expand(projections, output, _) =>
        // transpose: every column referenced in any projection row for slot i
        // feeds output i (deduped)
        output.indices.foreach { i =>
          val refs = projections.flatMap(row => row(i).references).distinct
          refs.sortBy(_.exprId.id).foreach { a =>
            in.get(a).foreach(b => ctx.edge(b.node, b.idx, id, i))
          }
        }

      case u: Union =>
        u.children.zip(childResults).foreach { case (child, (_, bs)) =>
          child.output.zipWithIndex.foreach { case (a, i) =>
            bs.get(a).foreach(b => ctx.edge(b.node, b.idx, id, i))
          }
        }

      case j @ Join(left, _, LeftExistence(_), cond, _) =>
        // output = left side, 1:1
        j.output.zipWithIndex.foreach { case (a, i) =>
          in.get(a).foreach(b => ctx.edge(b.node, b.idx, id, i))
        }
        // provenance THROUGH the predicate: right-side comparison columns
        // feed the left columns they are compared against
        // (reference: SQLFlow.scala:420-443)
        val leftOut = AttributeMap(left.output.zipWithIndex.map { case (a, i) => a -> i })
        cond.toSeq.flatMap(splitConjunctive).foreach {
          case cmp: BinaryComparison =>
            val (lrefs, rrefs) = (cmp.left.references.toSeq, cmp.right.references.toSeq)
            def link(sideRefs: Seq[Attribute], otherRefs: Seq[Attribute]): Unit =
              for {
                la <- sideRefs if leftOut.contains(la)
                ra <- otherRefs if !leftOut.contains(ra)
                rb <- in.get(ra)
              } ctx.edge(rb.node, rb.idx, id, leftOut(la))
            link(lrefs, rrefs)
            link(rrefs, lrefs)
          case _ =>
        }

      case j @ Join(_, _, _, cond, _) =>
        j.output.zipWithIndex.foreach { case (a, i) =>
          in.get(a).foreach(b => ctx.edge(b.node, b.idx, id, i))
        }
        // bridge pairs for contracted mode (reference: SQLFlow.scala:638-657)
        cond.toSeq.flatMap(splitConjunctive).foreach {
          case cmp: BinaryComparison =>
            val l = cmp.left.references.toSeq.flatMap(in.get)
            val r = cmp.right.references.toSeq.flatMap(in.get)
            for (a <- l; b <- r) ctx.bridge(a, b)
          case _ =>
        }

      case f @ Filter(condition, _) =>
        f.output.zipWithIndex.foreach { case (a, i) =>
          in.get(a).foreach(b => ctx.edge(b.node, b.idx, id, i))
        }
        // scalar subqueries compared in predicates feed the compared columns
        // (reference: SQLFlow.scala:481-494,520-538)
        val outIdx = AttributeMap(f.output.zipWithIndex.map { case (a, i) => a -> i })
        splitConjunctive(condition).foreach {
          case cmp: BinaryComparison if containsSubquery(cmp) =>
            val subqueries = cmp.collect { case s: SubqueryExpression => s }
            val compared = cmp.references.toSeq.flatMap(a => outIdx.get(a))
            subqueries.foreach { s =>
              val sub = collectSubquery(s, ctx, cached)
              compared.foreach { i =>
                sub.outCols.foreach(b => ctx.edge(b.node, b.idx, id, i))
              }
            }
          case e if containsSubquery(e) =>
            e.collect { case s: SubqueryExpression => s }.foreach { s =>
              val sub = collectSubquery(s, ctx, cached)
              ctx.edge(sub.root, -1, id, -1)
            }
          case _ =>
        }

      // PySpark group/map pandas operators (reference: SQLFlow.scala:452-456):
      // the Python UDF's output columns are opaque to Catalyst, so they are
      // credited positionally to the child's columns (slot i fed by child
      // column i, up to the shorter of the two widths)
      case _: FlatMapGroupsInPandas | _: MapInPandas | _: MapInArrow =>
        plan.children.head.output.zip(plan.output.zipWithIndex).foreach {
          case (ca, (_, i)) =>
            in.get(ca).foreach(b => ctx.edge(b.node, b.idx, id, i))
        }

      // Scala typed object-operators (r15 verdict item 5): their Python
      // siblings above get column edges, but these took the node-level
      // fallback, breaking column reachability through any typed map. The
      // plan shape is SerializeFromObject(op(DeserializeToObject(child)))
      // — three nodes, each needing its own rule so a column path exists
      // end-to-end:
      //   - DeserializeToObject's deserializer references exactly the
      //     child columns the object is built from → all feed the single
      //     obj output (slot 0);
      //   - the op itself (opaque lambda) funnels every referenced input
      //     column into its obj output — a deliberate conservative
      //     over-approximation: unlike the pandas ops (where the reference
      //     chose positional crediting), a typed lambda's output schema
      //     comes from the Encoder and has NO sound positional
      //     correspondence to its input, so every output honestly depends
      //     on every input (MapGroups/FlatMapGroupsWithState reference
      //     grouping + data attributes; CoGroup both sides);
      //   - SerializeFromObject's serializer fields each reference obj →
      //     one edge per output slot.
      case d: DeserializeToObject =>
        edgeFromRefs(d.deserializer, 0)
      case s: SerializeFromObject =>
        s.serializer.zipWithIndex.foreach { case (ne, i) => edgeFromRefs(ne, i) }
      case _: MapPartitions | _: MapElements | _: MapGroups |
           _: FlatMapGroupsWithState | _: CoGroup =>
        plan.references.toSeq.sortBy(_.exprId.id).foreach { a =>
          in.get(a).foreach(b => ctx.edge(b.node, b.idx, id, 0))
        }

      case _ =>
        // default rule: identity edges for every output attribute that came
        // from a child; produced attributes (window cols, …) get no incoming
        plan.output.zipWithIndex.foreach { case (a, i) =>
          in.get(a).foreach(b => ctx.edge(b.node, b.idx, id, i))
        }
        // subqueries anywhere else: node-level
        plan.expressions.foreach(e => subqueryEdges(e, id, None, ctx, cached))
    }
  }

  private case class SubResult(root: Int, outCols: Seq[Binding])

  private def collectSubquery(s: SubqueryExpression, ctx: Ctx,
      cached: LogicalPlan => Boolean): SubResult = {
    val (subId, subBindings) = collect(s.plan, ctx, cached)
    SubResult(subId, s.plan.output.flatMap(a => subBindings.get(a)))
  }

  private def subqueryEdges(e: Expression, id: Int, outIdx: Option[Int],
      ctx: Ctx, cached: LogicalPlan => Boolean): Unit = {
    if (containsSubquery(e)) {
      e.collect { case s: SubqueryExpression => s }.foreach { s =>
        val sub = collectSubquery(s, ctx, cached)
        outIdx match {
          case Some(i) if sub.outCols.nonEmpty =>
            sub.outCols.foreach(b => ctx.edge(b.node, b.idx, id, i))
          case _ =>
            ctx.edge(sub.root, -1, id, outIdx.getOrElse(-1))
        }
      }
    }
  }

  private def containsSubquery(e: Expression): Boolean =
    e.exists(_.isInstanceOf[SubqueryExpression])

  private def splitConjunctive(cond: Expression): Seq[Expression] = cond match {
    case And(l, r) => splitConjunctive(l) ++ splitConjunctive(r)
    case other => Seq(other)
  }

  // ---------------------------------------------------------------------
  // Contracted mode: keep only leaf + root nodes; an edge (leaf:i → root:j)
  // exists iff root column j is reachable from leaf column i through the
  // uncontracted graph, with equi-join bridges treated as bidirectional.
  // (reference: SQLFlow.scala:606-836 builds an ExprId ref-map instead.)
  // ---------------------------------------------------------------------
  def contract(g: Graph): (Seq[FlowNode], Seq[FlowEdge]) = {
    val c = g.contracted
    (c.nodes, c.edges)
  }

  private val KeepTypes: Set[FlowNodeType] =
    Set(FlowNodeType.Table, FlowNodeType.View, FlowNodeType.LeafPlan)

  /** The points of `g`'s reachability walks: node n's node-level point is
    * `base(n)`, its column c is `base(n) + 1 + c`. The arcs, one per edge
    * and, with `bridges`, one per bridge pair each way, are kept in CSR
    * form: the targets of point p are `target(start(p) until start(p + 1))`. */
  private final class Points(g: Graph, bridges: Boolean) {
    private val n = g.uids.length
    private val arcSources = if (bridges) Seq(g.edgeData, g.bridgeData) else Seq(g.edgeData)
    // a node's points cover its attributes and every column an arc names
    private val width = Array.tabulate(n)(i => g.attrs(i).length)
    for (data <- arcSources; k <- 0 until data.length by 2)
      width(data(k)) = math.max(width(data(k)), data(k + 1) + 1)
    val base = new Array[Int](n + 1)
    (0 until n).foreach(i => base(i + 1) = base(i) + 1 + width(i))
    val pointNode = new Array[Int](base(n))
    (0 until n).foreach(i => java.util.Arrays.fill(pointNode, base(i), base(i + 1), i))
    def point(node: Int, col: Int): Int = base(node) + 1 + col
    def size: Int = base(n)

    private val arcData = {
      val arcs = mutable.ArrayBuilder.make[Int]
      for (k <- 0 until g.edgeData.length by 4) {
        arcs += point(g.edgeData(k), g.edgeData(k + 1))
        arcs += point(g.edgeData(k + 2), g.edgeData(k + 3))
      }
      if (bridges) for (k <- 0 until g.bridgeData.length by 4) {
        val a = point(g.bridgeData(k), g.bridgeData(k + 1))
        val b = point(g.bridgeData(k + 2), g.bridgeData(k + 3))
        arcs += a; arcs += b; arcs += b; arcs += a
      }
      arcs.result()
    }
    val start = new Array[Int](size + 1)
    for (k <- 0 until arcData.length by 2) start(arcData(k) + 1) += 1
    (0 until size).foreach(p => start(p + 1) += start(p))
    val target = new Array[Int](arcData.length / 2)
    private val fill = start.clone()
    for (k <- 0 until arcData.length by 2) {
      target(fill(arcData(k))) = arcData(k + 1)
      fill(arcData(k)) += 1
    }
  }

  /** Contraction: reachability over [[Points]], bridges included. */
  private def contractGraph(g: Graph): Graph = {
    val n = g.uids.length
    val root = g.root
    // the root may itself be a View node — never treat it as a source
    val isLeaf = Array.tabulate(n)(i => KeepTypes(g.types(i)) && i != root)
    val pts = new Points(g, bridges = true)
    import pts.{base, point, pointNode, start, target}

    val seen = new Array[Int](pts.size)
    var pass = 0
    var stack = new Array[Int](64)
    var top = 0
    def push(p: Int): Unit = {
      if (top == stack.length) stack = java.util.Arrays.copyOf(stack, 2 * top)
      stack(top) = p
      top += 1
    }
    def pushTargets(p: Int): Unit = (start(p) until start(p + 1)).foreach(k => push(target(k)))
    // a Set made from a hash set: printed graphs list a leaf column's edges
    // in its iteration order, as they always have
    def reachableRootCols(from: Int): Set[Int] = {
      pass += 1
      val hit = mutable.Set[Int]()
      push(from)
      while (top > 0) {
        top -= 1
        val cur = stack(top)
        if (seen(cur) != pass) {
          seen(cur) = pass
          val node = pointNode(cur)
          val col = cur - base(node) - 1
          if (node == root) {
            if (col >= 0) hit += col else hit ++= g.attrs(root).indices
          }
          pushTargets(cur)
          // a node-level point fans out to each column point of that node;
          // a column point also rides node-level outgoing edges
          if (col < 0) g.attrs(node).indices.foreach(c => push(point(node, c)))
          else pushTargets(base(node))
        }
      }
      hit.toSet
    }

    val kept = (0 until n).filter(i => isLeaf(i) || i == root).toArray
    val newIndex = new Array[Int](n)
    kept.indices.foreach(k => newIndex(kept(k)) = k)
    val edges = mutable.ArrayBuilder.make[Int]
    def edge(leaf: Int, i: Int, j: Int): Unit = {
      edges += newIndex(leaf); edges += i; edges += newIndex(root); edges += j
    }
    (0 until n).filter(isLeaf).foreach { leaf =>
      g.attrs(leaf).indices.foreach { i =>
        reachableRootCols(point(leaf, i)).foreach(j => edge(leaf, i, j))
      }
      if (g.attrs(leaf).isEmpty) reachableRootCols(base(leaf)).foreach(j => edge(leaf, -1, j))
    }
    new Graph(kept.map(g.uids), kept.map(g.idents), kept.map(g.attrs), kept.map(g.ddls),
      kept.map(g.types), kept.map(g.cached), kept.map(g.statLeaves), kept.map(g.leafHashes),
      edges.result(), Array.emptyIntArray, newIndex(root))
  }

  /** The idents of the table, view and query nodes of `g` that its edges
    * lead to, transitively, from the nodes whose ident `isStart` accepts,
    * from the first column `isColumn` accepts when it is given; distinct
    * and sorted, the start nodes left out. */
  private[graft] def impacted(g: Graph, isStart: String => Boolean,
      isColumn: Option[String => Boolean]): Seq[String] = {
    val starts = g.idents.indices.filter(i => isStart(g.idents(i)))
    val points = isColumn match {
      case None => starts.map((_, -1))
      case Some(m) => starts.map(n => (n, g.attrs(n).indexWhere(m))).filter(_._2 >= 0)
    }
    val hit = reached(g, points)
    starts.foreach(hit(_) = false)
    g.idents.indices.filter { i =>
      hit(i) && g.types(i) != FlowNodeType.Plan && g.types(i) != FlowNodeType.LeafPlan
    }.map(g.idents).distinct.sorted
  }

  /** Which nodes of `g` a walk over its edges (not its bridges) reaches
    * from `starts`, each a (node, column) pair with column -1 for a
    * node-level start; the starts' own nodes count as reached. A node-level
    * point follows every edge leaving its node; a column point follows its
    * own column's edges and the node-level ones, which make no column
    * claim. */
  private def reached(g: Graph, starts: Seq[(Int, Int)]): Array[Boolean] = {
    val pts = new Points(g, bridges = false)
    import pts.{base, pointNode, start, target}
    val seen = new Array[Boolean](pts.size)
    var stack = new Array[Int](math.max(16, starts.size))
    var top = 0
    def visit(p: Int): Unit = if (!seen(p)) {
      seen(p) = true
      if (top == stack.length) stack = java.util.Arrays.copyOf(stack, 2 * top)
      stack(top) = p
      top += 1
    }
    def follow(from: Int, until: Int): Unit = {
      var k = start(from)
      while (k < start(until)) { visit(target(k)); k += 1 }
    }
    starts.foreach { case (node, col) => visit(pts.point(node, col)) }
    while (top > 0) {
      top -= 1
      val p = stack(top)
      val node = pointNode(p)
      if (p == base(node)) follow(p, base(node + 1))
      else { follow(p, p + 1); follow(base(node), base(node) + 1) }
    }
    val hit = new Array[Boolean](g.uids.length)
    (0 until pts.size).foreach(p => if (seen(p)) hit(pointNode(p)) = true)
    hit
  }

  /** Several graphs as one: nodes dedupe by uid, the first occurrence kept
    * with `cached` ORed in over all of them; edges dedupe, in
    * first-occurrence order. One graph is deduped once and keeps the
    * result ([[Graph.deduped]]). */
  private[graft] def merge(parts: Seq[Graph]): Graph =
    if (parts.lengthCompare(1) == 0) parts.head.deduped else mergeGraphs(parts)

  /** [[merge]] through two open-addressed tables of Ints: node indices
    * hashed on their uid, and edge indices hashed on their four Ints, so no
    * key is boxed and no `FlowNode` or `FlowEdge` is built. Returns the
    * only part itself when nothing in it repeats. */
  private def mergeGraphs(parts: Seq[Graph]): Graph = {
    val nodeCap = parts.iterator.map(_.uids.length).sum
    val edgeCap = parts.iterator.map(_.edgeData.length / 4).sum
    def tableMask(count: Int): Int = 2 * Integer.highestOneBit(math.max(2, 2 * count)) - 1
    def spread(h: Int): Int = { val x = h * 0x9e3779b9; x ^ (x >>> 16) }

    val uids = new Array[String](nodeCap)
    val idents = new Array[String](nodeCap)
    val attrs = new Array[Seq[String]](nodeCap)
    val ddls = new Array[String](nodeCap)
    val types = new Array[FlowNodeType](nodeCap)
    val cached = new Array[Boolean](nodeCap)
    val statLeaves = new Array[LeafNode](nodeCap)
    val leafHashes = new Array[Int](nodeCap)
    val edgeData = new Array[Int](4 * edgeCap)
    // slots hold an index + 1; 0 is an empty slot
    val nodeMask = tableMask(nodeCap)
    val nodeSlots = new Array[Int](nodeMask + 1)
    val edgeMask = tableMask(edgeCap)
    val edgeSlots = new Array[Int](edgeMask + 1)
    var nodes = 0
    var edges = 0

    parts.foreach { g =>
      val remap = new Array[Int](g.uids.length)
      var i = 0
      while (i < g.uids.length) {
        val uid = g.uids(i)
        var h = spread(uid.hashCode) & nodeMask
        while (nodeSlots(h) != 0 && uids(nodeSlots(h) - 1) != uid) h = (h + 1) & nodeMask
        if (nodeSlots(h) == 0) {
          uids(nodes) = uid; idents(nodes) = g.idents(i); attrs(nodes) = g.attrs(i)
          ddls(nodes) = g.ddls(i); types(nodes) = g.types(i); cached(nodes) = g.cached(i)
          statLeaves(nodes) = g.statLeaves(i); leafHashes(nodes) = g.leafHashes(i)
          nodes += 1
          nodeSlots(h) = nodes
        } else if (g.cached(i)) cached(nodeSlots(h) - 1) = true
        remap(i) = nodeSlots(h) - 1
        i += 1
      }
      var k = 0
      while (k < g.edgeData.length) {
        val a = remap(g.edgeData(k))
        val b = g.edgeData(k + 1)
        val c = remap(g.edgeData(k + 2))
        val d = g.edgeData(k + 3)
        var h = spread(((a * 31 + b) * 31 + c) * 31 + d) & edgeMask
        def same(e: Int): Boolean = {
          val o = 4 * (e - 1)
          edgeData(o) == a && edgeData(o + 1) == b && edgeData(o + 2) == c && edgeData(o + 3) == d
        }
        while (edgeSlots(h) != 0 && !same(edgeSlots(h))) h = (h + 1) & edgeMask
        if (edgeSlots(h) == 0) {
          val o = 4 * edges
          edgeData(o) = a; edgeData(o + 1) = b; edgeData(o + 2) = c; edgeData(o + 3) = d
          edges += 1
          edgeSlots(h) = edges
        }
        k += 4
      }
    }

    if (parts.lengthCompare(1) == 0 && nodes == nodeCap && edges == edgeCap) parts.head
    else {
      def trim[T <: AnyRef](a: Array[T]): Array[T] = java.util.Arrays.copyOf[T](a, nodes)
      new Graph(trim(uids), trim(idents), trim(attrs), trim(ddls), trim(types),
        java.util.Arrays.copyOf(cached, nodes), trim(statLeaves),
        java.util.Arrays.copyOf(leafHashes, nodes), java.util.Arrays.copyOf(edgeData, 4 * edges),
        Array.emptyIntArray, -1)
    }
  }
}

/** A value lineage keeps on a plan node it did not create, under one
  * `TreeNodeTag` named `name`, and frees with that node. Catalyst copies
  * tags onto the plans it derives from a tagged one, so the tag holds the
  * node the value was stored on, and a value is only returned for that
  * very node. */
private[graft] final class PlanMemo[V](name: String) {
  private val tag = TreeNodeTag[(LogicalPlan, V)](name)

  /** The tag's value as `plan` carries it, whichever node it was stored on. */
  def tagged(plan: LogicalPlan): Option[(LogicalPlan, V)] =
    plan.synchronized(plan.getTagValue(tag))

  def get(plan: LogicalPlan): Option[V] = tagged(plan).collect { case (p, v) if p eq plan => v }

  def put(plan: LogicalPlan, value: V): Unit = plan.synchronized(plan.setTagValue(tag, (plan, value)))

  def getOrElseUpdate(plan: LogicalPlan)(value: => V): V = get(plan).getOrElse {
    val v = value
    put(plan, v)
    v
  }

  def remove(plan: LogicalPlan): Unit = plan.synchronized(plan.unsetTagValue(tag))
}

/** Marker leaf standing in for a (temp) view subtree in catalog mode, so
  * lineage cuts at view boundaries (reference: SQLFlow.scala:133-148). */
case class ViewRef(name: String, override val output: Seq[Attribute], isTemp: Boolean)
  extends LeafNode {
  override def computeStats(): Statistics = Statistics(sizeInBytes = 1)
}

/** Marker wrapper flagging a cached subtree (reference: SQLFlow.scala:839-846). */
case class CachedMarker(child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): LogicalPlan =
    copy(child = newChild)
}
