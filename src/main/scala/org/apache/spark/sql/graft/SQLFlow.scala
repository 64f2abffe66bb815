package org.apache.spark.sql.graft

import scala.collection.mutable

import org.apache.spark.sql.catalyst.catalog.HiveTableRelation
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.LeftExistence
import org.apache.spark.sql.catalyst.plans.logical._
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
  *     every live attribute the (nodeId, columnIndex) it was last produced
  *     at ([[FlowAnalysis.Binding]]);
  *   - contracted mode is a graph CONTRACTION of that result (reachability
  *     from leaf columns to root columns, plus equi-join bridge pairs
  *     recorded during the pass), not a second parallel analyzer;
  *   - node uids are deterministic (per-analysis counter), unlike the
  *     reference's random digests (SQLFlow.scala:909-912) — golden tests
  *     stay stable across JVMs.
  */
object FlowAnalysis {

  case class Binding(nodeId: String, idx: Int)

  /** Result of one analysis pass. `bridges` are equi-join column pairs used
    * only by contracted mode (reference: SQLFlow.scala:638-657).
    * `statLeaves` maps each node whose props were filled by [[stats]] to
    * the leaf they were read from; no other node gets props. */
  case class Graph(
      nodes: Seq[FlowNode],
      edges: Seq[FlowEdge],
      rootId: String,
      bridges: Seq[(Binding, Binding)],
      statLeaves: Map[String, LeafNode] = Map.empty)

  /** Shared across analyses that merge into one graph, so plan-node uids
    * stay unique; deterministic (no random digests). `value` is the last
    * uid number handed out. */
  class Counter { private[graft] var value = 0; def next(): Int = { value += 1; value } }

  private class Ctx(counter: Counter) {
    val nodes = mutable.ArrayBuffer[FlowNode]()
    val edges = mutable.ArrayBuffer[FlowEdge]()
    val bridges = mutable.ArrayBuffer[(Binding, Binding)]()
    val statLeaves = mutable.Map[String, LeafNode]()
    def nextId(name: String): String = f"${name}_${counter.next()}%07x"
  }

  /** Analyze an optimized plan; the root node (type Query/View) is appended
    * with 1:1 edges from the plan's output. View roots get their stable name
    * as uid so per-view graphs merge across analyses. */
  def analyze(plan: LogicalPlan, rootName: String,
      rootType: FlowNodeType = FlowNodeType.Query,
      cached: LogicalPlan => Boolean = _ => false,
      counter: Counter = new Counter): Graph = {
    val ctx = new Ctx(counter)
    val (planNodeId, bindings) = collect(plan, ctx, cached)
    val rootId = if (rootType == FlowNodeType.View) rootName else ctx.nextId(rootName)
    ctx.nodes += FlowNode(rootId, rootName, plan.output.map(_.name),
      schemaDDL(plan), rootType)
    plan.output.zipWithIndex.foreach { case (attr, i) =>
      bindings.get(attr) match {
        case Some(b) => ctx.edges += FlowEdge(b.nodeId, Some(b.idx), rootId, Some(i))
        case None => ctx.edges += FlowEdge(planNodeId, None, rootId, Some(i))
      }
    }
    canonicalize(Graph(ctx.nodes.toSeq, ctx.edges.toSeq, rootId, ctx.bridges.toSeq,
      ctx.statLeaves.toMap))
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
  private def canonicalize(g: Graph): Graph = {
    val remap: Map[String, Array[Int]] = g.nodes.iterator
      .filter(n => n.tpe == FlowNodeType.Plan && n.attributes.length > 1)
      .flatMap { n =>
        val order = n.attributes.zipWithIndex.sortBy(_._1).map(_._2)
        if (order.indices.forall(i => order(i) == i)) None
        else {
          val inv = new Array[Int](order.length)
          order.zipWithIndex.foreach { case (old, nu) => inv(old) = nu }
          Some(n.uniqueId -> inv)
        }
      }.toMap
    if (remap.isEmpty) g
    else {
      val nodes = g.nodes.map { n =>
        remap.get(n.uniqueId) match {
          case Some(inv) =>
            val attrs = new Array[String](n.attributes.length)
            n.attributes.zipWithIndex.foreach { case (a, i) => attrs(inv(i)) = a }
            n.copy(attributes = attrs.toVector)
          case None => n
        }
      }
      def mapIdx(id: String, idx: Option[Int]): Option[Int] =
        remap.get(id) match {
          case Some(inv) => idx.map(inv(_))
          case None => idx
        }
      val edges = g.edges.map(e => e.copy(
        fromIdx = mapIdx(e.fromId, e.fromIdx), toIdx = mapIdx(e.toId, e.toIdx)))
      val bridges = g.bridges.map { case (a, b) =>
        def mb(x: Binding): Binding =
          remap.get(x.nodeId).map(inv => x.copy(idx = inv(x.idx))).getOrElse(x)
        (mb(a), mb(b))
      }
      g.copy(nodes = nodes, edges = edges, bridges = bridges)
    }
  }

  private def schemaDDL(plan: LogicalPlan): String =
    try plan.schema.toDDL catch { case _: Throwable => "" }

  /** Recursive pass: returns (nodeId of the subplan's graph node, bindings
    * from the subplan's output attributes to graph columns). */
  private def collect(plan: LogicalPlan, ctx: Ctx,
      cached: LogicalPlan => Boolean): (String, AttributeMap[Binding]) = {
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
        val (childId, childBindings) = collect(d.source, ctx, cached)
        val id = ctx.nextId(d.opName)
        ctx.nodes += FlowNode(id, d.opName, l.output.map(_.name),
          schemaDDL(l), FlowNodeType.Plan, cached(l))
        val srcOut = d.source.output
        (0 until math.min(srcOut.length, l.output.length)).foreach { i =>
          childBindings.get(srcOut(i)).foreach(b =>
            ctx.edges += FlowEdge(b.nodeId, Some(b.idx), id, Some(i)))
        }
        d.appended.zipWithIndex.foreach { case ((_, srcIdxs), j) =>
          val outIdx = srcOut.length + j
          if (outIdx < l.output.length) {
            if (srcIdxs.isEmpty) ctx.edges += FlowEdge(childId, None, id, Some(outIdx))
            else srcIdxs.foreach { si =>
              childBindings.get(srcOut(si)).foreach(b =>
                ctx.edges += FlowEdge(b.nodeId, Some(b.idx), id, Some(outIdx)))
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
        val id = s"ckpt_rdd${l.rdd.id}"
        if (!ctx.nodes.exists(_.uniqueId == id)) {
          ctx.nodes += FlowNode(id, s.opName, l.output.map(_.name),
            schemaDDL(l), FlowNodeType.Plan, cached(l))
          val seen = mutable.Set[String]()
          s.leaves.foreach { leafPlan =>
            val (leafId, _) = collect(leafPlan, ctx, cached)
            // two scans of the same stable table dedupe to one edge
            if (seen.add(leafId)) ctx.edges += FlowEdge(leafId, None, id, None)
          }
        }
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
        val id = if (stable) ident else ctx.nextId(ident)
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
        if (!(stable && ctx.nodes.exists(_.uniqueId == id))) {
          ctx.nodes += FlowNode(id, ident, attrs, schemaDDL(leaf), tpe, isCached, statProps(leaf))
          ctx.statLeaves(id) = leaf
        } else if (isCached) {
          ctx.nodes.zipWithIndex.find(_._1.uniqueId == id).foreach { case (n, i) =>
            ctx.nodes(i) = n.copy(isCached = true)
          }
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
        ctx.nodes.zipWithIndex.find(_._1.uniqueId == id).foreach { case (n, i) =>
          ctx.nodes(i) = n.copy(isCached = true)
        }
        (id, bindings)

      case _ =>
        val childResults = plan.children.map(c => collect(c, ctx, cached))
        val inputBindings = AttributeMap(childResults.flatMap(_._2))
        val id = ctx.nextId(plan.nodeName)
        ctx.nodes += FlowNode(id, plan.nodeName, plan.output.map(_.name),
          schemaDDL(plan), FlowNodeType.Plan, cached(plan))

        val before = ctx.edges.size
        emitOperatorEdges(plan, id, inputBindings, childResults, ctx, cached)

        if (ctx.edges.size == before) {
          // fallback (reference: SQLFlow.scala:466-478,593-602): no
          // column-level edges derivable → node-level edges from every input
          childResults.foreach { case (childId, bs) =>
            if (bs.isEmpty) ctx.edges += FlowEdge(childId, None, id, None)
            else bs.toSeq.sortBy(_._2.idx).foreach { case (_, b) =>
              ctx.edges += FlowEdge(b.nodeId, Some(b.idx), id, None)
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

  /** A leaf node's props: its statistics, read when called (a refreshed
    * table reports new sizes through the same leaf). */
  private[graft] def statProps(leaf: LeafNode): mutable.Map[String, String] =
    mutable.Map.empty[String, String] ++= stats(leaf)

  /** A kept graph as a lineage memo hit hands it out: fresh `props` maps,
    * since callers may mutate them, with table statistics read now from
    * the leaves in `statLeaves`, as a new analysis would read them. */
  private[graft] def withFreshProps(g: Graph): Graph =
    g.copy(nodes = g.nodes.map { n =>
      n.copy(props = g.statLeaves.get(n.uniqueId).map(statProps).getOrElse(mutable.Map.empty))
    })

  private def stats(leaf: LeafNode): Seq[(String, String)] =
    try {
      val st = leaf.computeStats()
      // semanticHash only where canonicalization is ExprId-stable (relation
      // leaves); ViewRef and friends would hash their raw attribute ids and
      // change on every session
      val hash = leaf match {
        case _: LogicalRelation | _: HiveTableRelation =>
          Seq("semanticHash" -> leaf.semanticHash().toString)
        case _ => Nil
      }
      Seq("sizeInBytes" -> st.sizeInBytes.toString) ++ hash ++
        st.rowCount.map(rc => "rowCount" -> rc.toString)
    } catch { case _: Throwable => Nil }

  /** Per-operator column-provenance rules (reference: SQLFlow.scala:357-479). */
  private def emitOperatorEdges(plan: LogicalPlan, id: String,
      in: AttributeMap[Binding],
      childResults: Seq[(String, AttributeMap[Binding])],
      ctx: Ctx, cached: LogicalPlan => Boolean): Unit = {

    def edgeFromRefs(e: Expression, outIdx: Int): Unit = {
      e.references.toSeq.sortBy(_.exprId.id).foreach { a =>
        in.get(a).foreach(b => ctx.edges += FlowEdge(b.nodeId, Some(b.idx), id, Some(outIdx)))
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
          in.get(a).foreach(b => ctx.edges += FlowEdge(b.nodeId, Some(b.idx), id, Some(i)))
        }
        // generator inputs fan out to every generator output column
        val genOutIdx = g.output.zipWithIndex.collect {
          case (a, i) if generatorOutput.exists(_.semanticEquals(a)) => i
        }
        generator.references.toSeq.sortBy(_.exprId.id).foreach { a =>
          in.get(a).foreach { b =>
            genOutIdx.foreach(i => ctx.edges += FlowEdge(b.nodeId, Some(b.idx), id, Some(i)))
          }
        }

      case Expand(projections, output, _) =>
        // transpose: every column referenced in any projection row for slot i
        // feeds output i (deduped)
        output.indices.foreach { i =>
          val refs = projections.flatMap(row => row(i).references).distinct
          refs.sortBy(_.exprId.id).foreach { a =>
            in.get(a).foreach(b => ctx.edges += FlowEdge(b.nodeId, Some(b.idx), id, Some(i)))
          }
        }

      case u: Union =>
        u.children.zip(childResults).foreach { case (child, (_, bs)) =>
          child.output.zipWithIndex.foreach { case (a, i) =>
            bs.get(a).foreach(b => ctx.edges += FlowEdge(b.nodeId, Some(b.idx), id, Some(i)))
          }
        }

      case j @ Join(left, _, LeftExistence(_), cond, _) =>
        // output = left side, 1:1
        j.output.zipWithIndex.foreach { case (a, i) =>
          in.get(a).foreach(b => ctx.edges += FlowEdge(b.nodeId, Some(b.idx), id, Some(i)))
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
              } ctx.edges += FlowEdge(rb.nodeId, Some(rb.idx), id, Some(leftOut(la)))
            link(lrefs, rrefs)
            link(rrefs, lrefs)
          case _ =>
        }

      case j @ Join(_, _, _, cond, _) =>
        j.output.zipWithIndex.foreach { case (a, i) =>
          in.get(a).foreach(b => ctx.edges += FlowEdge(b.nodeId, Some(b.idx), id, Some(i)))
        }
        // bridge pairs for contracted mode (reference: SQLFlow.scala:638-657)
        cond.toSeq.flatMap(splitConjunctive).foreach {
          case cmp: BinaryComparison =>
            val l = cmp.left.references.toSeq.flatMap(in.get)
            val r = cmp.right.references.toSeq.flatMap(in.get)
            for (a <- l; b <- r) ctx.bridges += ((a, b))
          case _ =>
        }

      case f @ Filter(condition, _) =>
        f.output.zipWithIndex.foreach { case (a, i) =>
          in.get(a).foreach(b => ctx.edges += FlowEdge(b.nodeId, Some(b.idx), id, Some(i)))
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
                sub.outCols.foreach(b => ctx.edges += FlowEdge(b.nodeId, Some(b.idx), id, Some(i)))
              }
            }
          case e if containsSubquery(e) =>
            e.collect { case s: SubqueryExpression => s }.foreach { s =>
              val sub = collectSubquery(s, ctx, cached)
              ctx.edges += FlowEdge(sub.rootId, None, id, None)
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
            in.get(ca).foreach(b => ctx.edges += FlowEdge(b.nodeId, Some(b.idx), id, Some(i)))
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
          in.get(a).foreach(b => ctx.edges += FlowEdge(b.nodeId, Some(b.idx), id, Some(0)))
        }

      case _ =>
        // default rule: identity edges for every output attribute that came
        // from a child; produced attributes (window cols, …) get no incoming
        plan.output.zipWithIndex.foreach { case (a, i) =>
          in.get(a).foreach(b => ctx.edges += FlowEdge(b.nodeId, Some(b.idx), id, Some(i)))
        }
        // subqueries anywhere else: node-level
        plan.expressions.foreach(e => subqueryEdges(e, id, None, ctx, cached))
    }
  }

  private case class SubResult(rootId: String, outCols: Seq[Binding])

  private def collectSubquery(s: SubqueryExpression, ctx: Ctx,
      cached: LogicalPlan => Boolean): SubResult = {
    val (subId, subBindings) = collect(s.plan, ctx, cached)
    SubResult(subId, s.plan.output.flatMap(a => subBindings.get(a)))
  }

  private def subqueryEdges(e: Expression, id: String, outIdx: Option[Int],
      ctx: Ctx, cached: LogicalPlan => Boolean): Unit = {
    if (containsSubquery(e)) {
      e.collect { case s: SubqueryExpression => s }.foreach { s =>
        val sub = collectSubquery(s, ctx, cached)
        outIdx match {
          case Some(i) if sub.outCols.nonEmpty =>
            sub.outCols.foreach(b => ctx.edges += FlowEdge(b.nodeId, Some(b.idx), id, Some(i)))
          case _ =>
            ctx.edges += FlowEdge(sub.rootId, None, id, outIdx)
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
    val keepTypes: Set[FlowNodeType] =
      Set(FlowNodeType.Table, FlowNodeType.View, FlowNodeType.LeafPlan)
    // the root may itself be a View node — never treat it as a source
    val leafIds =
      g.nodes.filter(n => keepTypes(n.tpe) && n.uniqueId != g.rootId).map(_.uniqueId).toSet

    // adjacency: (nodeId, Option[col]) -> targets
    type P = (String, Option[Int])
    val adj = mutable.Map[P, mutable.ArrayBuffer[P]]()
    def add(a: P, b: P): Unit = adj.getOrElseUpdate(a, mutable.ArrayBuffer()) += b
    g.edges.foreach { e => add((e.fromId, e.fromIdx), (e.toId, e.toIdx)) }
    g.bridges.foreach { case (a, b) =>
      add((a.nodeId, Some(a.idx)), (b.nodeId, Some(b.idx)))
      add((b.nodeId, Some(b.idx)), (a.nodeId, Some(a.idx)))
    }
    // node-level fan-out: reaching (n, None) reaches every column of n;
    // reaching (n, Some(i)) also continues via (n, None) outgoing edges
    val colsOf = g.nodes.map(n => n.uniqueId -> n.attributes.indices).toMap

    def reachableRootCols(start: P): Set[Int] = {
      val seen = mutable.Set[P]()
      val stack = mutable.Stack[P](start)
      val hit = mutable.Set[Int]()
      while (stack.nonEmpty) {
        val cur = stack.pop()
        if (seen.add(cur)) {
          if (cur._1 == g.rootId) cur._2 match {
            case Some(i) => hit += i
            case None => hit ++= colsOf.getOrElse(g.rootId, Seq.empty)
          }
          adj.getOrElse(cur, Nil).foreach(stack.push)
          // a node-level point fans out to each column point of that node
          cur match {
            case (n, None) =>
              colsOf.getOrElse(n, Seq.empty).foreach(i => stack.push((n, Some(i))))
            case (n, Some(_)) =>
              // column point also rides node-level outgoing edges
              adj.getOrElse((n, None), Nil).foreach(stack.push)
          }
        }
      }
      hit.toSet
    }

    val keptNodes = g.nodes.filter(n => leafIds(n.uniqueId) || n.uniqueId == g.rootId)
    val newEdges = mutable.LinkedHashSet[FlowEdge]()
    g.nodes.filter(n => leafIds(n.uniqueId)).foreach { leaf =>
      leaf.attributes.indices.foreach { i =>
        reachableRootCols((leaf.uniqueId, Some(i))).foreach { j =>
          newEdges += FlowEdge(leaf.uniqueId, Some(i), g.rootId, Some(j))
        }
      }
      if (leaf.attributes.isEmpty) {
        reachableRootCols((leaf.uniqueId, None)).foreach { j =>
          newEdges += FlowEdge(leaf.uniqueId, None, g.rootId, Some(j))
        }
      }
    }
    (keptNodes, newEdges.toSeq)
  }
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
