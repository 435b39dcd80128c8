"""Benchmark harness: runs the headline query inventory at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {...}, "sf": <sf>}

The final stdout line is kept COMPACT so the driver's tail capture can
always parse it (the r6 line carried 238 inline per-query medians and
outgrew the capture window — ``BENCH_r06.json`` recorded
``parsed: null``): ``queries`` holds only the top-20 slowest medians;
the complete per-query record (median + cold for every headline entry)
is written to ``BENCH_DETAIL.json`` beside this script and echoed
per-line on stderr as the run progresses.

Each query is FULLY MATERIALIZED with a noop-format write (median of
``$SPARK_GRAFT_REPS`` reps, default 3 — see the runner loop): every
expression is executed for every row. (``count()`` alone is wrong for
projection-only queries — Catalyst prunes the computed columns under
``count(1)`` and you time a bare scan.) Quadratic-oracle demos are
excluded; every headline query is a scale-shaped plan.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    # reference surface
    "sessionize_visits",
    "sessionize_hits",
    "streaming_sessionize_visits",
    "hitlog_parse_flags",
    "hitlog_sessionize",
    # relational
    "q1_pricing_summary",
    "join_revenue_by_region",
    "join_left_customer_order_counts",
    "range_join_lineitem_ship_window",
    "agg_rollup_orders",
    "count_distinct_nations_per_segment",
    "window_rank_top3_parts_per_brand",
    "topk_orders_by_price",
    "json_props_per_event_type",
    # llm-data extensions
    "doc_token_stats",
    "dedup_exact_groups",
    "minhash_signatures",
    "simhash_near_dup_pairs",
    "embedding_cosine_topk",
    "embedding_cosine_topk_lsh_multiprobe",
    "multimodal_image_meta",
    "multimodal_png_meta",
    # round-3 additions
    "dedup_connected_components",
    "tfidf_top_terms",
    "token_entropy",
    "doc_chunks_overlap",
    "multimodal_resize_pixels",
    "funnel_stage_counts",
    "session_path_3grams",
    "argmax_event_per_user",
    "gap_fill_hourly_counts",
    "cdc_merge_latest_state",
    # round-4 additions (driver round r03)
    "sql_q5_regional_supplier_volume",
    "bloom_pruned_join_urgent_items",
    "hll_distinct_users_estimate",
    "dup_ngram_spans",
    "quality_filter_flags",
    "kmeans_embedding_clusters",
    "pagerank_prop_transitions",
    "pq_adc_topk_neighbors",
    # round-5 additions
    "minhash_realistic_near_dup_pairs",
    "kmeans_embedding_clusters_join",
    "decontaminate_train_docs",
    "pack_training_sequences",
    "embedding_cosine_topk_jl_rerank",
    "dsir_importance_scores",
    "interpolate_hourly_value_series",
    "sql_q8_national_market_share",
    "sql_q21_waiting_suppliers",
    "arrow_byte_stats",
    # round-6 additions: the previously-unbenched tiers — the full
    # TPC-H battery, recursive CTE, webanalytics batch, multimodal
    # codec paths, and the IVF join escalation path.
    "sql_q3_shipping_priority",
    "sql_q4_order_priority_check",
    "sql_q6_forecast_revenue",
    "sql_q7_nation_trade_volume",
    "sql_q9_product_type_profit",
    "sql_q10_returned_item_customers",
    "sql_q12_shipping_priority_classes",
    "sql_q13_order_count_distribution",
    "sql_q14_promo_revenue_share",
    "sql_q15_top_supplier",
    "sql_q16_part_supplier_counts",
    "sql_q17_small_quantity_revenue",
    "sql_q18_large_volume_orders",
    "sql_q19_discounted_revenue",
    "sql_q20_promotion_part_suppliers",
    "sql_q22_idle_high_balance_customers",
    "sql_recursive_month_spine",
    "attribution_last_touch",
    "bounce_rate_weekly",
    "cohort_retention_weekly",
    "multimodal_wav_meta",
    "multimodal_frame_sample",
    "embedding_cosine_topk_ivf_join",
    "incremental_minhash_dedup",
    "pii_redaction_stats",
    "leakage_safe_split",
    "sessionize_dynamic_gap",
    "null_semantics_battery",
    "set_ops_all_variants",
    "binaryfile_png_ingest",
    "mixture_rebalance_sources",
    "curation_pipeline",
    "semdedup_semantic_dups",
    "line_dedup_stats",
    "triangle_count_copurchase",
    "inverted_index_postings",
    "pmi_top_bigrams",
    "identity_stitch_visitors",
    "histogram_quantiles_by_type",
    "streaming_static_enrich",
    "hard_negative_mining",
    "retention_cond_counts",
    "rolling_7day_active_users",
    "window_funnel_depths",
    "position_based_attribution",
    "anomaly_daily_revenue",
    "bot_detection_flags",
    "knn_label_vote",
    "bm25_doc_ranking",
    "fuzzy_trigram_part_match",
    "key_skew_profile",
    "table_profile_stats",
    "kcore_copurchase_parts",
    "time_decay_attribution",
    "longest_daily_streaks",
    "association_rules_pairs",
    "referential_integrity_audit",
    "incremental_sessionize_visits",
    "bfs_hops_copurchase",
    "streaming_histogram_quantiles",
    "salted_skew_join_segments",
    "schema_evolution_union",
    "bigram_lm_surprisal_scores",
    "phrase_search_positions",
    "distribution_drift_by_type",
    "weekly_revenue_wow_change",
    "partitioned_write_roundtrip",
    "also_bought_top3",
    "ab_test_readout",
    "product_communities",
    "equal_freq_feature_bins",
    "weighted_sample_orders",
    "posting_compression_sizing",
    "streaming_topk_user_leaderboard",
    "hll_merge_groups",
    "rfm_segments",
    "k_anonymity_audit",
    "gdpr_delete_cascade",
    "dedup_cluster_size_histogram",
    "new_vs_returning_daily",
    "power_users_pareto",
    "revenue_share_within_region",
    "trimmed_mean_by_type",
    "mad_outlier_flags",
    "spearman_value_time_by_type",
    "gini_revenue_by_nation",
    "dow_seasonality_index",
    "kmv_distinct_users",
    "dwell_time_by_type",
    "markov_next_event_probs",
    "changepoint_scan_daily",
    "open_order_aging_buckets",
    "markov_removal_attribution",
    "degree_distribution_copurchase",
    "item_cosine_similarity_top3",
    "session_conversion_by_entry",
    "user_event_mix_impurity",
    "zorder_locality_stats",
    "vocab_coverage_curve",
    "truncation_loss_report",
    "cross_source_overlap_matrix",
    "label_centroid_distances",
    "daily_percentile_bands",
    "activity_heatmap_dow_hour",
    "peak_concurrent_sessions_daily",
    "nearest_purchase_to_signup",
    "log_value_histogram",
    "auc_mann_whitney",
    "score_decile_gains",
    "ann_recall_at_5",
    "part_demand_trend_top20",
    "skip_bigram_type_pairs",
    "wow_revenue_contribution",
    "basket_size_stats",
    "supplier_hhi_by_nation",
    "streaming_activity_heatmap",
    "dn_retention_summary",
    "ltv_curve_by_age",
    "winsorized_mean_by_type",
    "longest_growth_streak_weeks",
    "ngram_containment_pairs",
    "fulfillment_latency_sla",
    "post_signup_next_actions",
    "ann_label_filtered_topk",
    "rrf_multi_query_fusion",
    "join_fanout_audit",
    "signup_to_purchase_latency",
    "dau_mau_stickiness",
    "event_debounce_keep_last",
    "stratified_kfold_assignment",
    "cohort_revenue_matrix",
    "new_customer_revenue_share_monthly",
    "seasonal_adjusted_anomalies",
    "embedding_drift_by_label",
    "session_length_percentiles",
    "exit_rate_by_type",
    "isolated_parts_share",
    "dow_naive_forecast_backtest",
    "audience_overlap_matrix",
    "return_rate_by_brand",
    "conversion_path_length_histogram",
    "discount_quantity_spearman",
    "priority_anova_eta2",
    "segment_priority_chi2",
    "benford_first_digit_audit",
    "mann_kendall_trend",
    "skyline_parts_price_size",
    "purchase_interarrival_burstiness",
    "streaming_benford_digits",
    "hll_rolling_mau",
    "dup_rate_by_source",
    "kmv_merge_groups",
    "missing_mass_estimate",
    "conversion_heatmap_dow_hour",
    "next_action_diversity",
    "ks_two_sample_by_type",
    "kpi_correlation_daily",
    "mann_whitney_shift_by_type",
    "session_gap_sensitivity",
    "lorenz_curve_deciles",
    "duplicate_order_flags",
    "bpr_negative_samples",
    "recommendation_catalog_coverage",
    "bounce_rate_by_entry_type",
    "wow_user_retention",
    "mutual_best_match_parts",
    "daily_arrival_overdispersion",
    "max_drawdown_daily",
    "local_extrema_days",
    "abc_classification_parts",
    "daily_vwap_shipments",
    "rage_click_bursts",
    "transition_latency_medians",
    "sessions_per_user_histogram",
    "copurchase_weighted_distances",
    "edge_density_by_support_threshold",
    "conversion_by_tenure",
    "order_value_reconciliation",
    "error_rate_trend",
    "wilson_ranked_entry_types",
    "loo_cvr_sensitivity",
    "capture_recapture_users",
    "split_half_reliability",
    "simpsons_paradox_check",
    "mix_vs_rate_decomposition",
    "session_duration_by_outcome",
    "two_proportion_ztest",
    "cuped_variance_reduction",
    # round-7 additions
    "sql_q2_min_cost_supplier",
    "sql_q11_important_parts",
    "shapley_attribution",
    "srm_check",
    "capped_session_splits",
    "churn_hazard_curve",
    "hits_copurchase_authorities",
    "ewma_daily_revenue",
    "acf_daily_revenue",
    "audio_rms_windows",
    "lsh_recall_vs_truth",
    "xml_parse_roundtrip",
    "theil_sen_daily_trend",
    "holt_linear_backtest",
    "bpe_merge_rounds",
    "did_conversion_lift",
    "mde_detectable_lifts",
    "ccf_lead_lag_daily",
    "link_prediction_common_neighbors",
    "heaps_vocab_growth",
    "l_diversity_audit",
    "poisson_bootstrap_ci",
    "frequent_event_sequences",
    "uplift_by_engagement_stratum",
    # round-8 additions
    "km_survival_curve",
    "gsp_apriori_sequences",
    "ndcg_at_10_ann",
    "t_closeness_audit",
    "score_calibration_by_band",
    "holt_winters_dow_backtest",
    "time_windowed_sequence_support",
    "count_min_heavy_hitters",
    "streaming_count_min_sketch",
    "zipf_doubling_profile",
    "median_ci_by_type",
    "mmr_diversified_top3",
    "cmh_stratified_lift",
    "bh_fdr_segment_ztests",
    "hodges_lehmann_shift",
    "obf_sequential_looks",
    "kmv_intersection_estimate",
    "streaming_obf_monitor",
    "rec_hitrate_temporal_holdout",
    "community_modularity",
    "nav_conditional_entropy",
    "logrank_conversion_by_arm",
    "dedup_threshold_sensitivity",
    "isotonic_calibration_pava",
    "clustering_coefficient_parts",
    "markov_order2_gain",
    "functional_dependency_audit",
    "adamic_adar_link_prediction",
    "silhouette_by_label",
    "sorted_neighborhood_dup_pairs",
    "psm_matched_lift",
    "log_odds_distinctive_terms",
    "demand_diversity_parts",
    "rocchio_prf_expansion",
    "segment_priority_association",
    "audio_zcr_profile",
    "moment_stats_by_type",
    # round-9 additions
    "audio_stereo_channel_profile",
    "jpeg_dimension_parse",
    # round-10 additions
    "gopher_ngram_repetition",
    "bucketed_join_roundtrip",
    "bucketed_agg_order_sizes",
    "label_propagation_communities",
    "embedding_topk_ivf_pq",
    "golden_record_survivorship",
    "incremental_rollup_merge",
    "cross_device_sessionize",
    "lsh_edit_verified_pairs",
    "url_canonicalize_pages",
    "streaming_dynamic_gap_sessions",
    "dedup_best_quality_survivor",
    "streaming_cross_device_sessionize",
    # round-11 additions
    "scd2_user_value_bands",
    "locf_daily_user_value",
    "reservoir_sample_per_type",
    "cohens_kappa_labelers",
    "kruskal_wallis_by_priority",
    "cochran_armitage_trend",
    "croston_intermittent_demand",
    "pagerank_copurchase",
    "pq_quantization_error_by_label",
    "bm25_embedding_rerank",
    "harmonic_centrality_seeds",
    "data_contract_violations",
    "k_anon_generalize_step",
    "cramer_von_mises_two_sample",
    # round-12 additions
    "streaming_tws_user_lifetime",
    "mp4_container_meta",
    "scc_nav_graph",
    "jonckheere_trend_priority",
    "friedman_daily_type_ranks",
    "html_boilerplate_extract",
    "runs_test_daily_revenue",
    "pages_l_trend_monthly_priority",
    "streaming_tws_type_rollup",
    # round-13 additions
    "exif_tiff_meta",
    "winnowing_candidate_pairs",
    "hampel_outlier_daily_revenue",
    "sax_shape_clusters",
    "dtw_similar_user_pairs",
    "mrr_at_10_ann",
]


def materialize(df) -> None:
    """Execute the full plan for every row (noop write sink)."""
    df.write.format("noop").mode("overwrite").save()


def anchor(spark) -> float:
    """Fixed pure-compute calibration probe — NO fixture IO, no
    Python, stable plan: 20M-row range → integer hash → 1024-bucket
    aggregate, measured as the median of 3 noop-writes. Timed FIRST
    and LAST in every bench run so round-over-round totals are
    falsifiable against host drift (the r10 lesson: a uniform 1.20×
    median move across 301 unchanged plans was a whole-box slowdown,
    indistinguishable from regressions without an anchor).
    ``scripts/bench_compare.py`` divides per-query medians by the
    run's mean anchor before flagging."""
    from pyspark.sql import functions as F

    samples = []
    for _ in range(3):
        df = (
            spark.range(0, 20_000_000, 1, 32)
            .select(((F.col("id") * 2654435761) % 2147483647).alias("h"))
            .groupBy((F.col("h") % 1024).alias("b"))
            .agg(F.sum("h").alias("s"), F.count(F.lit(1)).alias("c"))
        )
        t0 = time.perf_counter()
        materialize(df)
        samples.append(time.perf_counter() - t0)
    return round(statistics.median(samples), 4)


def summary_line(
    timings: dict, cold_total: float, reps: int, sf_val, anchors=None
) -> str:
    """The driver-facing FINAL stdout line: compact, always-parseable
    JSON — totals + the top-20 slowest medians only, bounded ~1 KB
    regardless of suite size (the r6 lesson: the driver tail-captures
    stdout, and an inline full per-query record got truncated into
    unparseable JSON; the full record lives in BENCH_DETAIL.json).
    Pure function so tests pin the contract without running Spark."""
    total = round(sum(timings.values()), 3)
    top20 = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:20])
    payload = {
        "metric": "headline_inventory_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": top20,
        "n_queries": len(timings),
        "cold_total": cold_total,
        "reps": reps,
        "sf": sf_val,
        "detail_file": "BENCH_DETAIL.json",
    }
    if anchors is not None:
        payload["anchor_sec"] = list(anchors)
    return json.dumps(payload)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from web_analytics_visits_re_processing_spark.plans import QUERIES
    from web_analytics_visits_re_processing_spark.session import get_spark

    spark = get_spark(
        app_name="bench",
        master=f"local[{cpus}]",
        extra_conf={"spark.sql.shuffle.partitions": str(max(cpus, 32))},
    )
    # warm the JVM/codegen paths once with a trivial action
    spark.range(1000).count()
    anchor_pre = anchor(spark)
    print(f"# anchor_pre: {anchor_pre}s", file=sys.stderr)

    # MEDIAN-OF-REPS protocol (default 3, override $SPARK_GRAFT_REPS):
    # rep 1 pays one-time codegen/JIT + any per-fixture staging, reps
    # 2..n measure steady state; the median damps single-run host
    # noise (r05 lesson: the same 50-query pass measured 93.9-111.5 s
    # across sessions on identical code). Cold (first-rep) times are
    # reported alongside so compile-dominated entries stay visible.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_REPS", "3")))
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    # Interleaved anchor series (r11): the box shows INTERMITTENT
    # multi-minute contention spikes (two same-protocol r11 runs each
    # had a disjoint window of 3-6× medians while all four endpoint
    # anchors read normal) — re-measure the anchor every 25 queries
    # (r14: was 50; run1 this round had several sub-window spikes the
    # 50-query grid missed entirely) so a slow window is attributable
    # to the queries timed inside it. Purely additive: ~0.5 s × 13
    # extra probes of WALL time, never added to any query's median or
    # the summed total; bench_compare's per-window normalization
    # consumes the denser series transparently.
    anchor_series: list = []
    for i, name in enumerate(HEADLINE):
        if i % 25 == 0 and i > 0:
            a = anchor(spark)
            anchor_series.append({"after_n": i, "sec": a})
            print(f"# anchor@{i}: {a}s", file=sys.stderr)
        fn = QUERIES[name]
        samples = []
        for _ in range(reps):
            t0 = time.perf_counter()
            materialize(fn(spark, sf_dir))
            samples.append(time.perf_counter() - t0)
        cold[name] = round(samples[0], 3)
        timings[name] = round(statistics.median(samples), 3)
        print(f"# {name}: median {timings[name]}s cold {cold[name]}s", file=sys.stderr)

    anchor_post = anchor(spark)
    print(f"# anchor_post: {anchor_post}s", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    cold_total = round(sum(cold.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    # Full per-query record goes to a FILE (never the summary line —
    # the driver tail capture truncated the r6 inline form).
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
    with open(detail_path, "w") as f:
        json.dump(
            {
                "metric": "headline_inventory_total_runtime",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "queries_cold": cold,
                "cold_total": cold_total,
                "reps": reps,
                "sf": sf_val,
                "anchor": {"pre": anchor_pre, "post": anchor_post},
                "anchor_series": anchor_series,
            },
            f,
            indent=1,
            sort_keys=True,
        )

    print(summary_line(timings, cold_total, reps, sf_val, (anchor_pre, anchor_post)))


if __name__ == "__main__":
    main()
