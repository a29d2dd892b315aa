"""Query battery for the driver contract (__spark_entry__.py).

Each module exposes a ``QUERIES`` registry: ``{name: (spark_fn, oracle_sql)}``
where ``spark_fn(spark, sf_dir) -> DataFrame`` and ``oracle_sql`` is the
equivalent ANSI SQL for the DuckDB correctness oracle (or ``None`` for
non-SQL-expressible operators, which get a rows-only check).

Registration ORDER matters: the driver's correctness gate verifies the first
50 entries in dict-insertion order. ``_PRIORITY`` therefore front-loads one
query per operator family — the full ingestion-parser surface (the
reference's core), every §2.5 extension operator, and queries that are new
or were non-green last round — and only then the (already driver-green in
round 1) relational/TPC-H battery. Everything stays registered and locally
verified by tools/check_oracle.py regardless of position.
"""

from __future__ import annotations

#: First-50 curation for the driver's correctness window. Round-13 rotation
#: (r12 verdict task #1): CORRECTNESS_r12 went 50/50 green, so the r12-window
#: names rotate out and the 50 slots go — VERBATIM, exactly as pre-enumerated
#: at r12 close — to (a) the 9 r12-changed stored-signature queries (the two
#: builds, the only never-driver-checked rows, lead), (b) the 14 remaining
#: r6-era rows, and (c) the 27 alphabetically-first r7-era rows. After this
#: window lands, no query's latest driver row predates r7 (ledger entering
#: r13, computed from committed CORRECTNESS_r*.json: r12×50, r11×50, r10×49,
#: r9×44, r8×45, r7×42, r6×14, never×2 — the never rows are the two r12-new
#: signature builds, slots 1-2 of this window).
#:
#: ROUND-14 window: pre-enumerated IN ORDER below the cutoff (the 6
#: r13-changed queries — the two r13-new stored-index builds lead — then
#: the 14 remaining r7-era rows and the 30 alphabetically-first r8-era
#: rows). Everything stays registered and locally verified by
#: tools/check_oracle.py at 3 SFs regardless of position.
_PRIORITY = [
    # ---- ROUND-13 driver window (the first 50) ----
    # Landed VERBATIM as pre-enumerated at r12 close (r12 verdict task #1):
    # (a) the 9 r12-changed stored-signature queries — the two builds
    # (r12-new, the only queries never driver-checked; registered AHEAD
    # of their consumers so bench/driver order pays each corpus-scale
    # build before the first probe), the 6 consumers re-plumbed onto the
    # committed signature snapshots, and dedup_minhash_docs re-plumbed
    # onto the stored shingle base via the prebuilt_shingles seam (all 9
    # oracle-green at ALL THREE SFs at r12 close — sf0.001, sf0.01,
    # sf0.1 — against unchanged oracles; stored-vs-inline equality and
    # vtab_ plan shapes pytest-pinned in test_stored_signatures_r12.py):
    "embsig_base_build_embeddings",
    "simhash_base_build_docs",
    "knn_lsh_pairs",
    "dedup_embedding_pairs",
    "semantic_dedup_embeddings",
    "dedup_simhash_docs",
    "dedup_simhash_pairs",
    "simhash_multiprobe_pairs_docs",
    "dedup_minhash_docs",
    # (b) the 14 remaining r6-era rows (oldest driver signal after the
    # r12 window lands):
    "tpch_q2_min_cost_supplier",
    "tpch_q3_shipping_priority",
    "tpch_q4_exists_priority",
    "tpch_q5_local_supplier",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q9_product_profit",
    "trajectory_events",
    "unimax_mixture_sources",
    "url_dedup_docs",
    "weighted_sample_docs",
    "wilson_quality_sources",
    "zipf_slope_corpus",
    "zorder_prune_demo_events",
    # (c) the 27 alphabetically-first r7-era rows to fill 50:
    "array_hof_embeddings",
    "asof_join_events_orders",
    "assoc_rules_lineitem",
    "auc_quality_classifier_docs",
    "bucketed_join_orders_customer",
    "calibration_bins_docs",
    "classifier_report_docs",
    "cms_token_freq_corpus",
    "cube_order_status_priority",
    "date_functions_orders",
    "dpp_prune_join_events",
    "event_paths_topk_events",
    "event_volume_trend_events",
    "except_wealthy_nations",
    "full_outer_join_nation_balance",
    "funnel_windowed_events",
    "gapfill_events_locf",
    "grouping_sets_orders",
    "join_size_sample_orders_customer",
    "key_skew_profile_events",
    "kmeans_centroids_embeddings",
    "knn_cosine_topk",
    "knn_ivf_topk",
    "ks_critical_drift_docs",
    "lag_lead_user_events",
    "multi_distinct_events",
    "neyman_allocation_events",
    # ---- driver window cutoff (first 50 above) ----
    # ROUND-14 window, pre-enumerated IN ORDER at r13 close (rotate to
    # front at r14 — the only edit r14 needs):
    # (a) the 6 r13-changed queries — the two stored-index builds
    # (r13-new, never driver-checked; each registered AHEAD of its
    # probe), the two probes converted to stored-read-only, and the
    # two consumers re-plumbed onto the stored shingle base (all 6
    # locally oracle-green at ALL THREE SFs in r13 against unchanged
    # oracles; equality + plan shapes pytest-pinned):
    "pq_ivf_index_build_embeddings",
    "knn_ivf_index_build_embeddings",
    "pq_ivf_stored_probe",
    "knn_ivf_stored_probe",
    "decontaminate_docs",
    "split_leakage_ngram_docs",
    # (b) the 14 remaining r7-era rows (the oldest driver signal once
    # the r13 window lands):
    "ntile_customer_quartiles",
    "pareto_quality_docs",
    "percentile_lineitem",
    "pivot_priority_by_status",
    "pmi_bigrams_corpus",
    "range_join_event_pairs",
    "rank_dist_orders",
    "robust_scale_events",
    "rollup_order_priority",
    "rtbf_delete_docs",
    "schema_evolution_orders",
    "session_window_events",
    "theta_intersection_events",
    "time_window_events",
    # (c) the 30 alphabetically-first r8-era rows to fill 50 (these
    # were previously registered via the non-priority registry tail;
    # listing them here only fixes their order, nothing else):
    "cap_per_source_docs",
    "chunk_docs",
    "diversity_index_sources",
    "dp_noisy_counts_docs",
    "dup_ngram_fraction_docs",
    "embedding_centroids_by_label",
    "fingerprint_docs",
    "funnel_windowfunnel_exact_events",
    "ingest_metrics_by_source",
    "json_extract_events",
    "lang_id_docs",
    "multimodal_metadata_docs",
    "ndcg_ivf_retrieval_qc",
    "ndv_hll_events",
    "ngram_topk_corpus",
    "normalize_text_docs",
    "pack_sequences_docs",
    "percentile_approx_lineitem",
    "pii_scrub_docs",
    "quality_filter_docs",
    "quantize_embeddings",
    "regexp_extract_docs",
    "repetition_stats_docs",
    "rtbf_delete_dv_docs",
    "sample_docs_hash",
    "scalar_functions_part",
    "semi_join_active_customers",
    "setop_customer_supplier_nations",
    "skew_autogate_join_events",
    "skew_salted_agg_events",
    # ---- r14 window end (50 names above) ----
    # Round-12 driver window names, all driver-green in CORRECTNESS_r12
    # (50):
    "shingle_base_build_docs",
    "dedup_jaccard_pairs_docs",
    "dedup_clusters_docs",
    "dedup_clusters_twostar_docs",
    "dedup_keep_best_docs",
    "dedup_review_queue_docs",
    "dedup_containment_pairs_docs",
    "minhash_band_recall_docs",
    # (b) the ingest_* reference-fidelity parser family (r6-era; html/pdf
    # are r5-era and re-earned in the r11 window; ingest_metrics_by_source
    # is r8-era and waits its turn):
    "ingest_audit_log",
    "ingest_avro_docs",
    "ingest_csv_docs",
    "ingest_excel_docs",
    "ingest_json_docs",
    "ingest_logfmt_docs",
    "ingest_orc_docs",
    "ingest_txt_docs",
    "ingest_xml_docs",
    # (c) the 6 remaining r5-era rows:
    "table_changes_orders",
    "temperature_sample_docs",
    "time_travel_orders",
    "triangle_count_suppliers",
    "vocab_coverage_docs",
    "winsorize_events",
    # (d) alphabetically-first r6-era rows to fill 50:
    "assign_ids_orders",
    "chi2_lang_source_docs",
    "dedup_exact_docs",
    "dsir_importance_docs",
    "ewma_user_values",
    "hll_intersection_events",
    "kn_bigram_lm_corpus",
    "knn_two_stage_topk",
    "ks_drift_docs",
    "matryoshka_qc_embeddings",
    "merge_upsert_customers",
    "nb_lang_confusion_docs",
    "pq_adc_topk_embeddings",
    "pq_ivf_topk_embeddings",
    "psi_drift_docs",
    "s3_event_decode_docs",
    "shuffle_ids_docs",
    "stats_prune_scan_orders",
    "tpch_q10_returned_items",
    "tpch_q13_custdist",
    "tpch_q14_promo_revenue",
    "tpch_q15_top_supplier",
    "tpch_q17_small_quantity",
    "tpch_q18_large_volume",
    "tpch_q19_disjunctive",
    "tpch_q20_excess_volume",
    "tpch_q22_idle_wealthy",
    # Round-11 driver window names, all driver-green in CORRECTNESS_r11
    # (semantic_dedup_embeddings moved up into the r13 block):
    "winnow_fingerprint_build_docs",
    "winnow_fingerprint_docs",
    "source_overlap_matrix_docs",
    "map_functions_events",
    "mix_corpus_docs",
    "pagerank_supplier_graph",
    "paragraph_dedup_docs",
    "regression_stats_lineitem",
    "retention_cohorts_events",
    "scd2_customers",
    "setop_multiset_priorities",
    "skew_salted_join_events",
    "snapshot_diff_customers",
    "tpch_q11_important_stock",
    "tpch_q12_shipmode",
    "tpch_q16_parts_supplier",
    "tpch_q21_waiting_supplier",
    "tpch_q6_forecast_revenue",
    "variant_props_events",
    "zorder_layout_events",
    "agg_pricing_summary",
    "anti_join_inactive_customers",
    "backfill_partitions_events",
    "bm25_topk_docs",
    "bpe_encode_docs",
    "bpe_train_merges_corpus",
    "char_entropy_docs",
    "compact_small_files_docs",
    "corpus_build_pipeline_docs",
    "dedup_audio_fingerprint_docs",
    "dedup_image_phash_docs",
    "event_transitions_events",
    "heavy_hitters_docs",
    "histogram_lineitem",
    "incremental_agg_orders",
    "ingest_html_docs",
    "ingest_pdf_docs",
    "join_cardinality_orders_customer",
    "join_multi_region",
    "join_revenue_by_segment",
    "lm_perplexity_docs",
    "nfc_normalize_docs",
    "pca_project_embeddings",
    "pca_top2_components_embeddings",
    "pca_top_component_embeddings",
    "pit_join_events",
    "scan_filter_project",
    "shard_balance_docs",
    "stratified_split_docs",
    # ---- r11 window end ----
    # r10 driver window names, all driver-green in CORRECTNESS_r10 (50):
    "compaction_plan_docs",
    "l_diversity_docs",
    "seasonality_dow_events",
    "t_closeness_docs",
    "ess_importance_docs",
    "dedup_impact_report_docs",
    "doremi_reweight_sources",
    "quantile_normalize_scores_docs",
    "hard_negatives_embeddings",
    "spearman_len_tokens_sources",
    "silhouette_kmeans_embeddings",
    "pq_ivf_residual_topk_embeddings",
    "label_propagation_trade_graph",
    "quantile_merge_summaries_docs",
    "conformal_coverage_docs",
    "bootstrap_se_sources",
    "golden_record_customers",
    "negative_sampling_pairs",
    "colbert_maxsim_topk",
    "mmr_diversify_topk",
    "ivm_join_orders_customer",
    "ab_srm_check_events",
    "diff_in_diff_events",
    "churn_hazard_events",
    "ab_conversion_test_events",
    "join_order_advisor",
    "ood_mahalanobis_embeddings",
    "decayed_leaderboard_events",
    "ams_f2_events",
    "adamic_adar_suppliers",
    "encoding_advisor_lineitem",
    "plagiarism_pairs_docs",
    "rbo_rankings_embeddings",
    "kfold_balance_docs",
    "anova_f_sources",
    "forecast_mase_events",
    "loo_source_value_docs",
    "wasserstein_pairs_sources",
    "stratified_exact_k_docs",
    "assoc_triples_lineitem",
    "rolling_wau_events",
    "mad_events",
    "data_contract_docs",
    "int8_recall_qc_embeddings",
    "kcenter_coreset_embeddings",
    "cluster_keywords_embeddings",
    # r9-window names, driver-green in CORRECTNESS_r09 (12 changed +
    # 20 r8-late + 18 r3-era rotations):
    "dedup_embedding_pairs_stress",
    "dedup_incremental_docs",
    "dedup_nightly_pipeline_docs",
    "sessionize_events",
    "benford_digits_orders",
    "tokenizer_fertility_langs",
    "range_partition_plan_orders",
    "rrf_fusion_topk_docs",
    "item_cf_similarity_suppliers",
    "attribution_last_touch_events",
    "k_anonymity_docs",
    "watermark_lateness_profile_events",
    "cusum_changepoint_events",
    "knn_ivf_kmeans_topk",
    "semantic_drift_labels",
    "markov_next_event_accuracy",
    "ht_sampled_total_orders",
    "twap_user_values",
    "funnel_time_to_convert_events",
    "column_profile_orders",
    "session_cooccurrence_lift_events",
    "minhash_band_precision_docs",
    "rfm_segments_customers",
    "anomaly_zscore_events",
    "batch_by_length_docs",
    "bloom_prune_join_events",
    "bpe_merge_candidates_corpus",
    "classifier_score_docs",
    "corpus_datasheet_docs",
    "corpus_stats_by_lang",
    "covariance_embeddings",
    "curriculum_bins_docs",
    "dedup_embedding_recall",
    "dedup_substring_docs",
    "dq_checks_star_schema",
    "funnel_conversion_events",
    "fuzzy_match_parts",
    "inverted_index_terms",
    "knn_ivf_exact_topk",
    "llm_data_pipeline_docs",
]


def merged_queries() -> dict:
    """All query registries merged, ``_PRIORITY`` names first."""
    from ..operators import registry, registry2, registry3
    from . import advanced, ingestion, relational, tpch, tpch2, tpch3

    sources = [
        relational, tpch, tpch2, tpch3, advanced, ingestion,
        registry, registry2, registry3,
    ]
    pool: dict = {}
    for mod in sources:
        # A name registered twice would SILENTLY shadow the earlier
        # implementation (dict.update) — the r8 duplicate
        # retention_cohorts_events got masked exactly this way. Refuse
        # instead: every query name must be registered exactly once.
        clash = set(pool) & set(mod.QUERIES)
        if clash:
            raise KeyError(
                f"duplicate query registrations in {mod.__name__}: "
                f"{sorted(clash)}"
            )
        pool.update(mod.QUERIES)

    missing = [name for name in _PRIORITY if name not in pool]
    if missing:  # a typo here would silently drop a query out of the window
        raise KeyError(f"_PRIORITY names not in any registry: {missing}")
    out: dict = {name: pool.pop(name) for name in _PRIORITY}
    out.update(pool)
    return out
