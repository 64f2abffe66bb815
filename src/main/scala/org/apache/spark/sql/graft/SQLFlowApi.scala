package org.apache.spark.sql.graft

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic.{SparkSession => ClassicSession, Dataset => ClassicDataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.internal.SessionState

/** Public lineage API — same surface as the reference
  * (SQLFlow.scala:946-966, 856-881): save/print for a whole catalog or a
  * single Dataset, plain or contracted, through a pluggable sink.
  *
  * Additions over the reference: deterministic uids, and
  * [[SQLFlow.lineageDatasets]] exposing the graph as two DataFrames so
  * lineage itself is SQL-queryable (useful at fleet scale: one lineage graph
  * per day of queries is just another table to join).
  */
object SQLFlow {

  /** Lineage graph of a single Dataset's optimized plan.
    *
    * The graph, and its contraction once made, are kept on that plan in
    * [[datasetMemo]], so they are freed with the Dataset, and a later call
    * reuses them without walking the plan again. A memo is only used while
    * the cache manager is empty, and only stored when [[keeps]] allows it.
    * The root's semantic hash is computed on a copy of the plan, so the call
    * leaves no canonicalized plan on the Dataset's. */
  def datasetGraph(ds: Dataset[_], contracted: Boolean = false)
      : (Seq[FlowNode], Seq[FlowEdge]) = {
    val cds = ds.asInstanceOf[ClassicDataset[_]]
    val session = cds.sparkSession
    val plan = cds.queryExecution.optimizedPlan
    val emptyCache = session.sharedState.cacheManager.isEmpty
    val g = (if (emptyCache) datasetMemo.get(plan) else None).getOrElse {
      val rootName = s"query_${math.abs(FlowAnalysis.semanticHash(plan)).toString}"
      val g = FlowAnalysis.analyze(plan, rootName, FlowNodeType.Query, isCachedFn(session))
      if (keeps(session, emptyCache, plan)) datasetMemo.put(plan, g)
      g
    }
    val out = if (contracted) g.contracted else g
    (out.nodes, out.edges)
  }

  /** A Dataset's lineage graph, kept on its optimized plan. */
  private[graft] val datasetMemo = new PlanMemo[FlowAnalysis.Graph]("sqlflow.datasetLineage")

  /** One view's lineage graph, kept on the view's analyzed plan with the
    * key it was made under and the uid counter's end. */
  private[graft] val viewMemo =
    new PlanMemo[(ViewKey, Int, FlowAnalysis.Graph)]("sqlflow.viewLineage")

  /** The semantic hashes of a view plan's nodes, in pre-order. */
  private val subplanHashMemo = new PlanMemo[Array[Int]]("sqlflow.subplanHashes")

  /** The store rule of both graph memos. A graph made from `plan` is kept
    * only if no data was cached before (`emptyBefore`) or after it was
    * made, and `plan` reads no RDD: an RDD's lineage can be registered
    * through [[RddLineage]] after the plan was made. A memo is only used
    * on the plan object it was stored on, so this is checked only when
    * storing. */
  private def keeps(session: ClassicSession, emptyBefore: Boolean, plan: LogicalPlan): Boolean =
    emptyBefore && session.sharedState.cacheManager.isEmpty &&
      plan.collectFirstWithSubqueries { case _: LogicalRDD => true }.isEmpty

  /** Every input one view's graph is a function of, but the cache
    * manager's contents: the view's name, the uid counter's start, the
    * session state (held weakly, compared by identity), the set confs, the
    * extra optimizer rules and the optimizer input. */
  private[graft] final case class ViewKey(
      name: String,
      counterStart: Int,
      state: java.lang.ref.WeakReference[SessionState],
      confs: Map[String, String],
      extraRules: Seq[Rule[LogicalPlan]],
      input: LogicalPlan) {
    def sameAs(k: ViewKey): Boolean = (state.get eq k.state.get) && copy(state = k.state) == k
  }

  /** Lineage graph of every (temp) view in the session catalog
    * (reference EP1: SQLFlow.scala:61-189). View-on-view references are cut
    * at view boundaries via [[ViewRef]] substitution by semantic hash.
    *
    * Each view keeps its graph on its analyzed plan in [[viewMemo]]; a
    * later call reuses it, without optimizing or walking the plan again,
    * when the plan is the same object, its [[ViewKey]] is unchanged and
    * the cache manager is empty; it is only stored when [[keeps]] allows
    * it. Only DataFrame-created temp views keep their analyzed plan
    * between calls: persistent and SQL-text views are analyzed again on
    * every call, so their memos die with the plan and never hit. */
  def catalogGraph(spark: SparkSession, contracted: Boolean = false)
      : (Seq[FlowNode], Seq[FlowEdge]) = {
    val g = catalogMerged(spark, contracted)
    (g.nodes, g.edges)
  }

  /** The per-view graphs of [[catalogGraph]], merged into one packed graph. */
  private def catalogMerged(spark: SparkSession, contracted: Boolean): FlowAnalysis.Graph = {
    val session = spark.asInstanceOf[ClassicSession]
    val catalog = session.sessionState.catalog
    val cacheManager = session.sharedState.cacheManager

    // 1. gather analyzed plans: persistent views (re-parsed from viewText)
    //    and temp views (pre-analyzed)
    val currentDb = catalog.getCurrentDatabase
    val persistent = for {
      db <- catalog.listDatabases()
      // the external catalog's own listing: the session catalog's appends
      // the local temp views, which are gathered below
      view <- catalog.externalCatalog.listViews(db, "*")
      ident = TableIdentifier(view, Some(db))
      meta <- scala.util.Try(catalog.getTableMetadata(ident)).toOption.toSeq
      text <- meta.viewText.toSeq
      plan <- scala.util.Try {
        val parsed = session.sessionState.sqlParser.parsePlan(text)
        // resolve in the view's OWN database: unqualified table references
        // in the stored text mean that namespace, not the session's current
        val prev = catalog.getCurrentDatabase
        try {
          catalog.setCurrentDatabase(db)
          session.sessionState.executePlan(parsed).analyzed
        } finally catalog.setCurrentDatabase(prev)
      }.toOption.toSeq
      // qualify views outside the current database so same-named views in
      // different databases get distinct node uids
    } yield (if (db == currentDb) ident.table else s"$db.${ident.table}", plan)

    // SQL-created temp views store the PARSED plan (viewText is re-resolved
    // on access since Spark 3.1); DataFrame-created ones store analyzed
    // plans — normalize by analyzing when unresolved
    def analyzed(name: String, p: LogicalPlan): Option[(String, LogicalPlan)] =
      if (p.resolved) Some((name, p))
      else scala.util.Try(session.sessionState.executePlan(p).analyzed).toOption.map((name, _))

    // SORTED: getTempViewNames() iterates the catalog's hash map, whose
    // order depends on its insertion/rehash HISTORY (views created earlier
    // in the session shift it even after being dropped) — and the shared
    // uid counter below assigns node ids in `all` order, so without the
    // sort the same catalog content could print different uids depending
    // on what the session did before (r16: surfaced as golden drift when
    // two new corpus files ran ahead of existing ones)
    val temps = catalog.getTempViewNames().sorted.flatMap { name =>
      catalog.getTempView(name).flatMap(v => analyzed(name, v.child))
    }
    // global temp views too (the reference does NOT support these —
    // README.md:273); named with their database prefix
    val globalDb = session.sessionState.conf.getConfString(
      "spark.sql.globalTempDatabase", "global_temp")
    // sorted for the same reason as temps above: listViewNames iterates the
    // global manager's hash map, so unsorted order is session-history-
    // dependent and would drift the shared-counter uids (r16 advice)
    val globals = catalog.globalTempViewManager.listViewNames("*").sorted.flatMap { name =>
      catalog.getGlobalTempView(name).flatMap(v => analyzed(s"$globalDb.$name", v.child))
    }
    val all: Seq[(String, LogicalPlan)] = persistent ++ temps ++ globals

    // 2. twins: views registered from one DataFrame store one plan
    //    object. Every twin but the last-sorted is cut whole at the
    //    last-sorted one, as the reference's last-wins hash map cuts them
    val lastTwin = new java.util.IdentityHashMap[LogicalPlan, Integer]()
    all.indices.foreach(i => lastTwin.put(all(i)._2, i))
    def twinOf(i: Int): Option[String] = {
      val last = lastTwin.get(all(i)._2).intValue
      if (last != i) Some(all(last)._1) else None
    }

    // 3. semanticHash → view name, for subplan-to-view substitution
    //    (reference: SQLFlow.scala:94-96,150-154). A hash two views share
    //    names neither, cutting to either one would be a guess, unless
    //    only twins share it: it names the last-sorted twin. With one
    //    view there is nothing to substitute, so nothing is hashed
    val subplanHashes: IndexedSeq[java.util.IdentityHashMap[LogicalPlan, Integer]] =
      if (all.size < 2) IndexedSeq.empty
      else all.toIndexedSeq.map { case (_, p) => hashesOf(p) }
    val hashToView: Map[Int, String] = subplanHashes.indices
      .groupBy(i => subplanHashes(i).get(all(i)._2).intValue)
      .collect { case (h, is) if is.forall(i => all(i)._2 eq all(is.head)._2) => h -> all(is.last)._1 }

    // trivial subplans (bare scans / alias-only wrappers) are excluded from
    // substitution — two views that are both just "scan t" must not collapse
    // into each other (reference blacklist: SQLFlow.scala:103-107)
    import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, Project, SubqueryAlias}
    def trivial(p: LogicalPlan): Boolean = p match {
      case _: LeafNode => true
      case SubqueryAlias(_, c) => trivial(c)
      case Project(ps, c) if ps.forall(_.isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.Attribute]) => trivial(c)
      case _ => false
    }

    val viewNames = all.map(_._1).toSet
    val counter = new FlowAnalysis.Counter
    val cachedFn = isCachedFn(session)
    val confs = session.sessionState.conf.getAllConfs
    val extraRules = session.experimental.extraOptimizations
    val state = new java.lang.ref.WeakReference(session.sessionState)
    val graphs = all.zipWithIndex.map { case ((name, analyzed), i) =>
      // cut at OTHER views' boundaries — BY NAME for explicit view
      // references (SubqueryAlias/View wrappers in analyzed plans), by
      // semantic hash only as the DataFrame-chain fallback (reference:
      // SQLFlow.scala:133-154) — then wrap cached subtrees and optimize.
      // The hash fallback cuts strict subplans only: a view's own root
      // hashing like another view (a projection-only chain) is the view
      // itself, not a reference to the other one
      import org.apache.spark.sql.catalyst.plans.logical.View
      def otherView(p: LogicalPlan): Option[String] =
        if (hashToView.isEmpty) None
        else Option(subplanHashes(i).get(p)).flatMap(h => hashToView.get(h.intValue)).filter(_ != name)
      val twin = twinOf(i)
      val substituted = twin.map(ViewRef(_, analyzed.output, isTemp = true)).getOrElse(
        analyzed.transformDown {
          case s @ SubqueryAlias(ident, _)
              if viewNames.contains(ident.name) && ident.name != name =>
            ViewRef(ident.name, s.output, isTemp = true)
          case v: View
              if viewNames.contains(v.desc.identifier.table) && v.desc.identifier.table != name =>
            ViewRef(v.desc.identifier.table, v.output, isTemp = v.isTempView)
          case p if (p ne analyzed) && otherView(p).isDefined && !trivial(p) =>
            ViewRef(otherView(p).get, p.output, isTemp = true)
        })
      // cached-subtree wrap as a MANUAL one-shot recursion: a transformDown
      // rule returning CachedMarker(p) would re-match its own child p and
      // recurse forever (the lookup is checked on the pre-wrap plan)
      def markCached(p: LogicalPlan): LogicalPlan = {
        val isC = !p.isInstanceOf[ViewRef] && cachedFn(p)
        val mapped = p.mapChildren(markCached)
        if (isC) CachedMarker(mapped) else mapped
      }
      // twins share the plan the memo sits on; only the last-sorted one,
      // the one that walks the plan, keeps its graph there
      val emptyCache = cacheManager.isEmpty
      val input = markCached(substituted)
      val key = ViewKey(name, counter.value, state, confs, extraRules, input)
      val hit = if (emptyCache && twin.isEmpty) viewMemo.get(analyzed).filter(_._1.sameAs(key)) else None
      val g = hit match {
        case Some((_, counterEnd, g)) =>
          counter.value = counterEnd
          g
        case None =>
          val optimized = session.sessionState.optimizer.execute(input)
          val g = FlowAnalysis.analyze(optimized, name, FlowNodeType.View, cachedFn, counter)
          if (twin.isEmpty && keeps(session, emptyCache, input)) viewMemo.put(analyzed, (key, counter.value, g))
          g
      }
      if (contracted) g.contracted else g
    }
    FlowAnalysis.merge(graphs)
  }

  /** The semantic hash of every node of a view's analyzed plan, by node.
    * The hashes are computed on a copy, so the plan keeps no canonicalized
    * copies, only the Ints in [[subplanHashMemo]]. */
  private def hashesOf(plan: LogicalPlan): java.util.IdentityHashMap[LogicalPlan, Integer] = {
    def preorder(p: LogicalPlan): Seq[LogicalPlan] = {
      val nodes = mutable.ArrayBuffer[LogicalPlan]()
      p.foreach(nodes += _)
      nodes.toSeq
    }
    val hashes = subplanHashMemo.getOrElseUpdate(plan)(
      preorder(FlowAnalysis.transientCopy(plan)).map(_.semanticHash()).toArray)
    val byNode = new java.util.IdentityHashMap[LogicalPlan, Integer]()
    preorder(plan).zip(hashes).foreach { case (n, h) => byNode.put(n, h) }
    byNode
  }

  /** With nothing cached the answer is false for every plan; skipping the
    * lookup then saves a plan normalization per plan node. */
  private def isCachedFn(session: ClassicSession): LogicalPlan => Boolean = { plan =>
    val cacheManager = session.sharedState.cacheManager
    !cacheManager.isEmpty &&
      scala.util.Try(cacheManager.lookupCachedData(session, plan).isDefined).getOrElse(false)
  }

  // -------------------------------------------------------------------
  // Reference-parity convenience surface (SQLFlow.scala:946-966)
  // -------------------------------------------------------------------

  def saveAsSQLFlow(
      spark: SparkSession,
      options: Map[String, String] = Map.empty,
      contracted: Boolean = false,
      graphSink: FlowBatchSink = GraphVizSink()): Unit = {
    val (nodes, edges) = catalogGraph(spark, contracted)
    graphSink.write(nodes, edges, options)
  }

  def printAsSQLFlow(
      spark: SparkSession,
      contracted: Boolean = false,
      graphFormat: FlowFormat = GraphVizSink()): String = {
    val (nodes, edges) = catalogGraph(spark, contracted)
    graphFormat.toGraphString(nodes, edges)
  }

  /** Impact analysis over the catalog-wide flow graph — the question a
    * schema-change review asks before altering `name` (a table or view
    * ident): which views / tracked queries / write targets transitively
    * consume it? Pass `column` to narrow the walk to one source column:
    * the walk then follows only edges leaving that column's slot (plus
    * node-level edges, which make no column claim and must stay
    * conservative), through intermediate plan nodes' per-column slots.
    * Unlike the cypher sink's dst walk, impact propagates THROUGH views —
    * a view over a view over the table is impacted too. Returns affected
    * node idents, distinct and sorted. The walk has no depth cap: the
    * visited set over (node, column) slots already guarantees it ends,
    * and a cap would silently truncate a long view chain's answer into
    * "no downstream impact". Name and column
    * match with the session resolver (case-insensitive by default), so
    * only a genuinely unknown ident returns the empty list. */
  def impactedBy(spark: SparkSession, name: String, column: Option[String] = None,
      contracted: Boolean = false): Seq[String] = {
    // resolve name/column with the session's resolver (case-insensitive
    // unless spark.sql.caseSensitive): a case-mismatched but valid ident
    // must not silently read as "no downstream impact" — this API exists
    // for schema-change safety (r10 advice)
    val resolver = spark.sessionState.conf.resolver
    FlowAnalysis.impacted(catalogMerged(spark, contracted), resolver(_, name),
      column.map(c => resolver(_, c)))
  }

  /** The lineage graph as (nodes, edges) DataFrames — SQL-queryable. */
  def lineageDatasets(spark: SparkSession, contracted: Boolean = false)
      : (Dataset[_], Dataset[_]) = {
    val session = spark.asInstanceOf[ClassicSession]
    import session.implicits._
    val (nodes, edges) = catalogGraph(spark, contracted)
    val nodeRows = nodes.map(n =>
      (n.uniqueId, n.ident, n.attributes, n.schemaDDL, n.tpe.label, n.isCached))
      .toDF("unique_id", "ident", "attributes", "schema_ddl", "node_type", "is_cached")
    val edgeRows = edges.map(e => (e.fromId, e.fromIdx, e.toId, e.toIdx))
      .toDF("from_id", "from_idx", "to_id", "to_idx")
    (nodeRows, edgeRows)
  }
}

/** Per-Dataset methods via implicit conversion (reference: SQLFlow.scala:856-881):
  * {{{
  *   import org.apache.spark.sql.graft.implicits._
  *   df.saveAsSQLFlow(Map("outputDirPath" -> "/tmp/flow"))
  *   println(df.printAsSQLFlow())
  * }}}
  */
object implicits {
  implicit class SQLFlowHolder[T](ds: Dataset[T]) {
    /** Scala analogue of the reference's Python `@auto_tracking` decorator
      * (python/sqlflow.py:51-133): registers the Dataset as a temp view
      * named `name` so catalog-mode lineage connects DataFrame chains
      * across pipeline stages, and returns the Dataset for fluent use. */
    def track(name: String): Dataset[T] = {
      ds.createOrReplaceTempView(name)
      ds
    }
    def saveAsSQLFlow(
        options: Map[String, String] = Map.empty,
        contracted: Boolean = false,
        graphSink: FlowBatchSink = GraphVizSink()): Unit = {
      val (nodes, edges) = SQLFlow.datasetGraph(ds, contracted)
      graphSink.write(nodes, edges, options)
    }

    def printAsSQLFlow(
        contracted: Boolean = false,
        graphFormat: FlowFormat = GraphVizSink()): String = {
      val (nodes, edges) = SQLFlow.datasetGraph(ds, contracted)
      graphFormat.toGraphString(nodes, edges)
    }
  }
}
