package graft.tools

import scala.util.matching.Regex

import org.apache.spark.sql.execution.{ExplainMode, FormattedMode, SimpleMode}

/** Explain dumps of inventory entries. Output is reproducible: two runs on
  * one tree print the same bytes (see [[stable]]). */
object Plans {
  /** Rewrites the run-dependent tokens of one entry's plan text: exprIds,
    * `plan_id=`s, RDD ids, codegen ids and adaptive query-stage ids are
    * renumbered in order of first appearance, so the cross-references
    * within the plan survive (the last two follow which of two concurrent
    * stages finished first); lambda class names, object identity hashes
    * and temp-dir suffixes are masked. */
  def stable(plan: String): String = {
    def renumber(s: String, re: Regex): String = {
      val ids = scala.collection.mutable.HashMap[String, Int]()
      re.replaceAllIn(s, m => Regex.quoteReplacement(
        m.group(1) + ids.getOrElseUpdate(m.group(2), ids.size + 1)))
    }
    val masked = Seq(
      """\$\$Lambda[$/0-9a-fx]*@[0-9a-f]+""" -> "\\$\\$Lambda",
      """(?<=[\w$])@[0-9a-f]{1,8}\b""" -> "@hash",
      """(graft-[a-z-]*[a-z])\d{6,}""" -> "$1N")
      .foldLeft(plan) { case (s, (re, to)) => re.r.replaceAllIn(s, to) }
    Seq("""(#)(\d+)""", """(plan_id=)(\d+)""", """(RDD\[)(\d+)""", """(codegen id : )(\d+)""",
        """(QueryStage\n(?:Output [^\n]*\n)?Arguments: )(\d+)""")
      .foldLeft(masked)((s, re) => renumber(s, re.r))
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSession(8)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"
    def explain(n: String, mode: ExplainMode): String =
      stable(graft.SparkEntry.queries(n)(spark, dir).queryExecution.explainString(mode))
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "q01_pricing_summary", "q02_filter_project", "q03_shipping_priority",
      "q05_local_supplier", "q20_left_join_agg", "s01_knn_brute")
    names.foreach { n =>
      println(s"########## $n ##########")
      println(explain(n, SimpleMode))
    }
    // SPARK_GRAFT_PLANS_DIR=plans/r20 SPARK_GRAFT_PLANS_SUFFIX=_before:
    // write <dir>/<name><suffix>.txt with the FORMATTED plan per named
    // query — the per-round before/after plan evidence the optimization
    // deliverables require, without regenerating the whole PLANS.md.
    sys.env.get("SPARK_GRAFT_PLANS_DIR").foreach { d =>
      val suffix = sys.env.getOrElse("SPARK_GRAFT_PLANS_SUFFIX", "")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
      names.foreach { n =>
        val txt = explain(n, FormattedMode)
        val p = java.nio.file.Paths.get(d, s"$n$suffix.txt")
        java.nio.file.Files.writeString(p, txt)
        println(s"wrote $p")
      }
    }
    sys.env.get("SPARK_GRAFT_PLANS_MD").foreach { out =>
      val headline = Seq("q01_pricing_summary", "q02_filter_project", "q05_local_supplier",
        "q55_multi_distinct", "q59_topk_bounded", "d08_jaccard_exact_join", "s01_knn_brute",
        "d12_bloom_incremental", "t10_repetition_ratio", "t11_rarity_score",
        "q72_funnel", "s06_knn_ivf_persisted", "q75_zorder_layout", "d15_semdedup",
        "t15_pii_redact", "d16_substring_dup", "d17_fuzzy_join",
        "d18_weighted_overlap", "q77_scd2_intervals", "d04_simhash",
        "m07_png_header_meta", "m08_pcm_stats", "s09_knn_mmr",
        "t17_gopher_repetition", "q78_kmv_sketch", "q79_attribution",
        "q80_textrank", "d19_incremental_lsh", "s10_knn_graph",
        "s11_knn_graph_ivf",
        "m09_audio_segments", "t19_mixture_epochs", "t20_bpe_learn",
        "q81_kmv_set_ops", "q82_triangle_count", "t21_dedup_rewrite",
        "d20_cross_doc_spans", "q83_merge_upsert", "q84_markov_transitions",
        "m10_audio_downsample",
        "q85_hll_distinct", "q86_cms_heavy_hitters", "q87_hist_quantiles",
        "t22_bpe_encode", "s12_knn_sq8",
        "q88_bm25_search", "t23_bigram_lm_score", "d21_cc_alternating",
        "s13_range_search_ivf", "q89_frequent_pairs", "q90_data_quality_audit", "q91_k_anonymity",
        "p01_training_mix", "s14_ivf_index_upsert", "s15_ivf_tombstone_delete",
        "q92_winsorize", "q93_position_attribution", "q94_mad_outliers",
        "q95_pps_sample", "q97_ab_contingency", "q98_event_debounce",
        "q99_topk_paths", "t24_score_lift", "d22_prefix_filter_join",
        "d23_dup_kcore", "q100_survival_curve", "m11_image_patches",
        "t25_rag_chunking", "p02_retrieval_index", "q101_hopping_window",
        "q102_temporal_state_join", "q103_cohort_ltv",
        // r10 entries
        "q104_path_conversion", "q105_count_sketch", "q106_zonemap_pruning",
        "t26_contamination_severity", "d24_detector_consensus",
        "d25_dup_telemetry", "s16_matryoshka_rerank", "p03_incremental_ingest")
      val md = new StringBuilder
      md ++= "# PLANS — formatted physical plans of headline queries (sf0.001)\n\n"
      md ++= "Generated by `SPARK_GRAFT_PLANS_MD=PLANS.md sbt \"Test/runMain graft.tools.Plans\"`.\n"
      md ++= "What to look for: `PushedFilters`/`ReadSchema` at every scan (pushdown +\n"
      md ++= "pruning), `BroadcastHashJoin` for dimension joins, single `Expand` for\n"
      md ++= "multi-distinct, `ObjectHashAggregate` with partial_top_k_struct for the\n"
      md ++= "bounded top-k, and WholeStageCodegen spans covering the hot path.\n"
      headline.foreach { n =>
        md ++= s"\n## $n\n\n```\n"
        md ++= explain(n, FormattedMode)
        md ++= "```\n"
      }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), md.toString)
      println(s"wrote $out")
    }
    spark.stop()
  }
}
