package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The query inventory is assembled from per-domain modules:
  *   - [[graft.queries.CoreQueries]]       TPC-H-ish SQL surface (SURVEY §2.2)
  *   - [[graft.queries.TextQueries]]       text analysis (tokens, quality, lang-ID)
  *   - [[graft.queries.DedupQueries]]      exact / MinHash-LSH / SimHash dedup
  *   - [[graft.queries.SimilarityQueries]] ANN over embeddings
  *   - [[graft.queries.MultimodalQueries]] binary media columns + stub decode
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** Every query module EXCEPT the lineage entry (which analyzes a panel
    * drawn from this map — keeping one definition prevents the prewarm /
    * panel / queries unions from drifting apart, r14 review). */
  private def baseDefs: Map[String, (SparkSession, String) => DataFrame] =
    CoreQueries.defs ++ TextQueries.defs ++ DedupQueries.defs ++
      SimilarityQueries.defs ++ MultimodalQueries.defs

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    baseDefs ++ lineageEntry

  /** z01 panel members whose CONSTRUCTION executes eager Spark jobs —
    * localCheckpoints (q80's PageRank rounds, q82's thrice-consumed
    * barrier, d16's winnowing fingerprints) and q95's global-order
    * checkpoint + rebuild: built once per (session, dir) and memoized,
    * so repeated z01 invocations measure graph ANALYSIS — construction is
    * reported separately as the bench's `zpanel_build` line (r13 verdict
    * item 4, the dshared_build pattern; q95 added by the r14 review —
    * its construction was still contaminating both z01 passes). The memo
    * pins the members' (small, panel-sized) checkpoint RDD blocks for the
    * session's lifetime — the deliberate price of analyzing real
    * checkpointed plans, not stand-ins; entries of STOPPED sessions are
    * purged on the next access so cycled sessions don't accumulate.
    * Plans are identical to un-memoized construction, so z01's pinned
    * graph-size literals are unaffected. */
  private val CheckpointedPanel =
    Set("q80_textrank", "q82_triangle_count", "d16_substring_dup", "q95_pps_sample")
  private val panelMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()
  private def panelMember(name: String, s: SparkSession, dir: String): DataFrame =
    if (!CheckpointedPanel(name)) baseDefs(name)(s, dir)
    else {
      panelMemo.keySet.removeIf(_._1.sparkContext.isStopped)
      panelMemo.computeIfAbsent((s, dir, name), _ => baseDefs(name)(s, dir))
    }

  /** Force-build the memoized checkpointed panel members (Bench's
    * `zpanel_build` line). Safe to call more than once per session.
    * r21 (guide §2.6 — overlap independent jobs): the four builds run
    * CONCURRENTLY from driver threads. They are independent, and each is
    * latency-bound rather than cluster-bound (q80 runs eight small
    * PageRank rounds back to back, q82/d16/q95 execute checkpoint
    * barriers with idle tails), so sequential construction left most of
    * the cluster idle between jobs — z01 itself already builds the same
    * members concurrently (Future.traverse below), so the memo's
    * concurrency contract is unchanged. Measured sf0.1: zpanel_build wall
    * 15.8-16.5 s → ~6 s at identical cpu_s (the work is the same; only
    * the idle gaps overlap). */
  private[graft] def prewarmLineagePanel(s: SparkSession, dir: String): Unit = {
    // blocking: each build waits on Spark jobs (see Bench.buildHeavyDir)
    import scala.concurrent.{Await, ExecutionContext, Future, blocking}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(
      Future.traverse(CheckpointedPanel.toSeq.sorted) { n =>
        Future(blocking { withCallSite(s, s"zpanel_build $n")(panelMember(n, s, dir)); () })
      }, Duration.Inf)
    ()
  }

  /** Runs `body` with `site` as the call site of the Spark jobs it starts
    * from this thread, so their stages are named after it. A pooled build
    * sets one: without it, its stages carry frames of the pool. */
  private[graft] def withCallSite[T](s: SparkSession, site: String)(body: => T): T = {
    val sc = s.sparkContext
    sc.setCallSite(site)
    try body finally sc.clearCallSite()
  }

  /** The lineage engine itself, exercised over every query plan in the
    * inventory (the reference's own workload is exactly this: per-plan graph
    * extraction). Emits one row per query with its graph size — analysis is
    * driver-side by design, like the reference. */
  private def lineageEntry: Map[String, (SparkSession, String) => DataFrame] = Map(
    "z01_lineage_extraction" -> ((s, dir) => {
      import org.apache.spark.sql.graft.SQLFlow
      // representative panel covering every operator family (full-inventory
      // robustness is covered by QueriesSpec; the panel keeps this entry a
      // bounded bench line-item)
      val panel = Seq("q01_pricing_summary", "q05_local_supplier", "q07_window_topk",
        "q10_cube", "q12_union_all", "q16_scalar_subquery", "q19_anti_join",
        "q23_explode_tokens", "q38_asof_join", "d03_minhash_lsh",
        "s01_knn_brute", "m03_feature_extract",
        // r9: the end-to-end pipeline — the deepest plan in the inventory
        // (two window stages, an anti-join, a broadcast semi-probe, a
        // multi-branch scan) as a lineage stress member
        "p01_training_mix",
        // r9: an RDD-backed plan (GlobalOrderOps' checkpoint + rebuild);
        // r12: the boundary now stitches through RddLineage, so this
        // member exercises the registered-LogicalRDD path end to end
        "q95_pps_sample",
        // r13: the checkpoint-barrier class (verdict item 5) — iterative
        // PageRank (eight summarized rounds), a thrice-consumed barrier,
        // and a winnowing barrier: their panels now show the true source
        // tables through the checkpoint summary nodes instead of bare
        // LogicalRDD leaves. NOTE: constructing these entries executes
        // their eager checkpoints, so z01 pays their build cost — that
        // is the price of auditing real plans, not synthetic stand-ins
        "q80_textrank", "q82_triangle_count", "d16_substring_dup")
      // per-plan analysis is embarrassingly parallel (SURVEY §4): build and
      // analyze the panel concurrently on the driver; results sorted by name
      import scala.concurrent.{Await, Future, ExecutionContext, blocking}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.global
      val rows = Await.result(
        Future.traverse(panel.sorted) { name =>
          Future(blocking(withCallSite(s, s"z01_lineage_extraction $name") {
            // one QueryExecution: optimize once, analyze twice; the three
            // eager-checkpoint members come from the memo (see panelMember)
            val df = panelMember(name, s, dir)
            val (nodes, edges) = SQLFlow.datasetGraph(df)
            val (cn, ce) = SQLFlow.datasetGraph(df, contracted = true)
            (name, nodes.size, edges.size, cn.size, ce.size)
          }))
        }, Duration.Inf)
      import s.implicits._
      rows.toDF("query", "n_nodes", "n_edges", "n_contracted_nodes", "n_contracted_edges")
    }))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (MinHash/SimHash signatures, float similarity scores) → the driver
    * records a weaker rows-only check for those. */
  def oracleSql: Map[String, String] =
    CoreQueries.oracles ++ TextQueries.oracles ++ DedupQueries.oracles ++
      SimilarityQueries.oracles ++ MultimodalQueries.oracles ++ Map(
      // PINNED-LITERAL oracle (r11 verdict item 3): the lineage panel's
      // graph sizes are deterministic integers — pure plan structure, so
      // they are identical at every scale factor AND independent of
      // cache/session state (verified full-run vs focused, sf0.001 vs
      // sf0.01). Pinning them makes any lineage-shape drift a loud
      // hash-mismatch instead of a silent rows-only pass; regenerate the
      // table when a panel query's plan is INTENTIONALLY changed.
      // regenerate with `sbt "Test/runMain graft.tools.RegenPinnedOracles"`
      // after an INTENTIONAL panel/plan change (r12 advice)
      "z01_lineage_extraction" -> """
        SELECT * FROM (VALUES
          ('d03_minhash_lsh',     37, 90, 7, 8),
          ('d16_substring_dup',    7, 16, 2, 5),
          ('m03_feature_extract',  8, 12, 2, 6),
          ('p01_training_mix',    28, 86, 2, 4),
          ('q01_pricing_summary',  5, 28, 2, 6),
          ('q05_local_supplier',  29, 94, 7, 3),
          ('q07_window_topk',      7, 23, 2, 13),
          ('q10_cube',             5, 13, 2, 3),
          ('q12_union_all',        6,  8, 3, 2),
          ('q16_scalar_subquery',  6, 15, 2, 3),
          ('q19_anti_join',        7, 14, 3, 3),
          ('q23_explode_tokens',   6,  6, 2, 1),
          ('q38_asof_join',        7, 18, 3, 3),
          ('q80_textrank',        16, 39, 2, 15),
          ('q82_triangle_count',  60, 152, 2, 5),
          ('q95_pps_sample',       6, 18, 2, 4),
          ('s01_knn_brute',       12, 32, 2, 5)
        ) AS t(query, n_nodes, n_edges, n_contracted_nodes, n_contracted_edges)""")
}
