package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{QuerySpec, RowsOnly, Sql}

/** The declared query registry: every query is declared once, with an
  * oracle decision, and [[SparkEntry]]'s two maps are derived from it. */
class QueryRegistrySpec extends AnyFunSuite {

  private val specs = QuerySpec.all

  /** The 263 declared names, as the corpus stood before the registry. */
  private val declared: Seq[String] = Seq(
    "q_agg_grouped", "q_agg_simple", "q_anchor_bm25", "q_anchor_text", "q_ann_recall",
    "q_anti_join", "q_apportion", "q_approx_distinct", "q_approx_distinct_tolerance",
    "q_approx_percentile", "q_argminmax", "q_array_fns", "q_asof_join", "q_attribution",
    "q_auc", "q_auc_by", "q_bigram_lm", "q_bloom_join", "q_bm25", "q_bm25_batch",
    "q_boilerplate_strip", "q_bpe_apply", "q_bpe_fertility", "q_bpe_learn", "q_bpe_merges",
    "q_bucket_pack", "q_budget_select", "q_calibration", "q_calibration_by",
    "q_calibration_ece", "q_canonical", "q_causal_split", "q_chunk_dedup",
    "q_chunk_dedup_doc", "q_chunk_retrieval", "q_cluster_outliers", "q_cluster_pack",
    "q_cluster_sample", "q_collect_list", "q_compress_ratio", "q_compress_sanity",
    "q_conditional", "q_confusion", "q_confusion_by", "q_containment", "q_count_distinct",
    "q_crawl_delay", "q_cross_join", "q_csv_source", "q_cube", "q_curriculum",
    "q_datacard", "q_datacard_by_source", "q_date_fns", "q_decontam", "q_decontam_13g",
    "q_decontam_13g_bloom", "q_decontam_sets", "q_decontam_sweep", "q_dedup_components",
    "q_dedup_components_inc", "q_dedup_exact", "q_dedup_incremental",
    "q_dedup_incremental_bloom", "q_dedup_incremental_near", "q_dedup_index_near",
    "q_dedup_minhash", "q_dedup_neardup", "q_dedup_ngram", "q_dedup_simhash", "q_distinct",
    "q_domain_cap", "q_domain_report", "q_drift_gated_budget", "q_dsir", "q_dsir_sample",
    "q_dup_hist", "q_dup_matrix", "q_dup_span_chars", "q_edit_pairs", "q_embed_ann",
    "q_embed_card", "q_embed_decontam", "q_embed_int8", "q_embed_ivf", "q_embed_neardup",
    "q_embed_srp", "q_embed_threshold", "q_embed_topk", "q_entropy", "q_events_agg",
    "q_events_hourly", "q_events_sessions", "q_events_sliding", "q_except", "q_exists",
    "q_explode", "q_extract", "q_filter", "q_fim", "q_fingerprint", "q_first_last",
    "q_fixed_sample", "q_frontier_budgeted", "q_frontier_due", "q_frontier_due_gated",
    "q_frontier_gated", "q_frontier_plan", "q_frontier_raw", "q_frontier_seeded",
    "q_frontier_xml", "q_full_outer", "q_funnel", "q_gate_funnel", "q_gopher_funnel",
    "q_gopher_rep", "q_grouped_topk", "q_grouping_sets", "q_heavy_complete",
    "q_heavy_hitters", "q_hits", "q_hll_distinct", "q_hll_tolerance", "q_host_budget",
    "q_host_quality", "q_host_report", "q_html_strip", "q_index_recall", "q_int8_recall",
    "q_intersect", "q_ivf_drift", "q_ivf_extend", "q_ivf_recall", "q_join", "q_join_multi",
    "q_json", "q_json_source", "q_jsonl_robust", "q_key_skew", "q_kmeans",
    "q_kmeans_assign", "q_kmeans_spread", "q_lang_confusion", "q_lang_id", "q_lateral",
    "q_len_hist", "q_limit", "q_line_dedup", "q_link_degree", "q_map_fns",
    "q_minhash_recall", "q_mirror_clusters", "q_mirror_dedup", "q_mirror_hosts",
    "q_mirror_incremental", "q_mix", "q_multimodal", "q_multimodal_frames",
    "q_nfc_normalize", "q_ntile", "q_orc_source", "q_outer_join", "q_pack_bpe",
    "q_pack_continue", "q_pack_offsets", "q_pagerank", "q_pagerank_conv",
    "q_pagerank_delta", "q_pagerank_pinned", "q_pagerank_warm", "q_para_dedup",
    "q_percentile", "q_pii_scrub", "q_pipeline", "q_pivot", "q_policy_screen", "q_ppr",
    "q_projection", "q_psi", "q_psi_by", "q_quality_filter", "q_quality_model",
    "q_quantize", "q_rag_chunks", "q_range_join", "q_rank_curation", "q_rank_frontier",
    "q_rare_index", "q_recalibrate", "q_recalibrate_by", "q_recalibrate_ece",
    "q_recalibrate_ece_by", "q_recrawl", "q_recrawl_inc", "q_recrawl_seeded", "q_redact",
    "q_regex", "q_release", "q_release_card", "q_release_resumed", "q_release_web",
    "q_repetition", "q_robots_filter", "q_robots_parse", "q_robots_stale", "q_robots_wild",
    "q_rollup", "q_sample", "q_sample_bounds", "q_scalar_fn", "q_scalar_subquery",
    "q_scan", "q_scorer_gate", "q_scorer_gate_by", "q_semdedup", "q_semdedup_recall",
    "q_semi_join", "q_shard", "q_shuffle_order", "q_simhash_complete", "q_sitemap_xml",
    "q_sitemaps", "q_sketch_distinct", "q_skew_join", "q_snapshot_diff", "q_sort",
    "q_source_drift", "q_span_corrupt", "q_split", "q_split_leakfree", "q_sql_scan",
    "q_srp_recall", "q_stats_agg", "q_stratified", "q_string_agg", "q_string_fns",
    "q_substring_dedup", "q_substring_incremental", "q_temperature_mix", "q_text_quality",
    "q_tfidf", "q_threshold_apply", "q_threshold_by", "q_token_bpe", "q_token_count",
    "q_top_phrases", "q_top_token", "q_udf", "q_unigram_lm", "q_union", "q_unpivot",
    "q_upsample", "q_url_canon", "q_url_dedup", "q_url_traps", "q_vocab_coverage",
    "q_vocab_drift", "q_weighted_sample", "q_window", "q_window_funcs", "q_window_range",
    "q_winnow", "q_zipf")

  private val rowsOnly: Map[String, String] = specs.collect {
    case QuerySpec(name, _, RowsOnly(companion)) => name -> companion
  }.toMap

  test("query names are unique") {
    val dup = specs.groupBy(_.name).collect { case (n, s) if s.size > 1 => n }
    assert(dup.isEmpty, s"declared twice: $dup")
  }

  test("the registry declares exactly the 263 corpus names") {
    assert(declared.size == 263 && declared.distinct.size == 263)
    assert(specs.map(_.name).sorted == declared.sorted)
  }

  test("250 queries are Sql-checked and 13 rows-only") {
    assert(specs.count(_.oracle.isInstanceOf[Sql]) == 250)
    assert(rowsOnly.size == 13)
  }

  test("every rows-only query names an Sql-checked companion") {
    val sql = specs.collect { case QuerySpec(n, _, Sql(_)) => n }.toSet
    assert(rowsOnly == Map(
      "q_approx_distinct" -> "q_approx_distinct_tolerance",
      "q_compress_ratio" -> "q_compress_sanity",
      "q_dedup_index_near" -> "q_index_recall",
      "q_dedup_minhash" -> "q_minhash_recall",
      "q_dedup_simhash" -> "q_simhash_complete",
      "q_embed_ann" -> "q_ann_recall",
      "q_embed_int8" -> "q_int8_recall",
      "q_embed_ivf" -> "q_ivf_recall",
      "q_embed_srp" -> "q_srp_recall",
      "q_heavy_hitters" -> "q_heavy_complete",
      "q_hll_distinct" -> "q_hll_tolerance",
      "q_sample" -> "q_sample_bounds",
      "q_semdedup" -> "q_semdedup_recall"))
    rowsOnly.values.foreach(c => assert(sql.contains(c), s"$c is not Sql-checked"))
  }

  test("every oracle text is non-empty") {
    specs.foreach {
      case QuerySpec(n, _, Sql(text)) =>
        assert(text != null && text.trim.nonEmpty, s"$n has an empty oracle")
      case _ => ()
    }
  }

  test("SparkEntry's maps are derived from the registry") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet ++ rowsOnly.keySet)
    assert(SparkEntry.oracleSql.keySet.intersect(rowsOnly.keySet).isEmpty)
    specs.foreach { q =>
      assert(SparkEntry.queries(q.name) eq q.build)
      q.oracle match {
        case Sql(text) => assert(SparkEntry.oracleSql(q.name) == text)
        case RowsOnly(_) => assert(!SparkEntry.oracleSql.contains(q.name))
      }
    }
    // Built once, not per call.
    assert(SparkEntry.queries eq SparkEntry.queries)
    assert(SparkEntry.oracleSql eq SparkEntry.oracleSql)
  }
}
