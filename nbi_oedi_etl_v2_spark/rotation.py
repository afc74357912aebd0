"""Driver-slot rotation policy (round 12).

The verification driver records at most ``DRIVER_QUERY_CAP`` (50)
correctness rows per round, while the registry holds 215 specs.
Rounds 1-5 hand-picked each round's export; VERDICT r5 ("What's
wrong" #2) demanded the rotation guarantee a STALENESS BOUND -
every spec re-earns a driver row within K rounds, or old green rows
decay into "verified once, long ago".

This module encodes the bound STRUCTURALLY instead of by hand:

* ``VERIFIED_ROUNDS`` - for every spec, the latest round in which the
  driver recorded a green (rows+schema+hash) CORRECTNESS row for it.
  Updated once per round from CORRECTNESS_r{N}.json (the builder's
  first task each round); specs absent here have never been
  driver-verified.
* ``build_driver_export(registry)`` - computes the export as
  PIN (parity trio, permanent)
  + never-verified specs (every new operator gets its first row ASAP)
  + TOUCH (a change this round can alter what the spec computes)
  + ADVISED (explicit re-verification requests from VERDICT/ADVICE)
  + oldest-first fill to the cap (ties broken by name, so the export
    is deterministic and reproducible from this file alone).

A registry of R specs refreshed at most cap rows per round cannot
bound staleness below ceil(R/cap) rounds, so
``STALENESS_BOUND_ROUNDS`` is ceil(215/50) = 5.

ROUND-13 BUDGET (computed at the end of round 12): merge
CORRECTNESS_r12 greens first; the oldest cohort then becomes the
specs reading 8 (38 of them if every r12 row is green: the 40 that
read 8 now, minus corpus_incremental_dedup and corpus_budget_select),
so PIN + that cohort leaves ~9 slots for TOUCH + fill. No deleted
option waits for a slot: a change that keeps every reached spec's
normalized plan identical needs no TOUCH row (see TOUCH). Bound 5
stays feasible while R <= 250 (R = 215); the prospective capacity
assert in tests/test_workload_oracle.py fails the round a spec lands
past that ceiling.
"""

from __future__ import annotations

CURRENT_ROUND = 12
STALENESS_BOUND_ROUNDS = 5

# Latest round with a green driver row, from CORRECTNESS_r{1..11}.json.
VERIFIED_ROUNDS: dict[str, int] = {
    "approx_distinct_users": 9,
    "asof_last_order_per_event": 9,
    "corpus_balanced_shards": 10,
    "corpus_budget_select": 8,
    "corpus_contamination": 9,
    "corpus_curate": 10,
    "corpus_dsir_weights": 8,
    "corpus_global_shuffle": 10,
    "corpus_hash_split": 10,
    "corpus_incremental_dedup": 8,
    "corpus_length_histogram": 8,
    "corpus_mixture_sample": 10,
    "corpus_near_dedup": 7,
    "corpus_pack_chunks": 7,
    "corpus_pack_ffd": 9,
    "corpus_pack_next_fit": 7,
    "corpus_quality_sample": 8,
    "corpus_source_stats": 8,
    "corpus_stratified_sample": 7,
    "corpus_weighted_reservoir": 9,
    "custkeys_1995_and_1996": 11,
    "custkeys_1995_not_1996": 11,
    "customer_bloom_inactive": 11,
    "customer_entity_resolution": 11,
    "customer_fuzzy_name_pairs": 9,
    "customers_per_segment": 11,
    "customers_with_open_orders": 7,
    "customers_without_orders": 11,
    "dedup_components": 7,
    "dedup_duplicate_spans": 8,
    "dedup_embedding_cosine": 7,
    "dedup_exact": 7,
    "dedup_minhash_lsh": 11,
    "dedup_ngram_jaccard": 7,
    "dedup_simhash": 9,
    "distinct_flags": 7,
    "documents_bpe_merges": 11,
    "documents_bpe_token_counts": 11,
    "documents_hashed_features": 10,
    "documents_nb_token_logodds": 8,
    "documents_sliding_chunks": 8,
    "dq_profile_orders": 9,
    "embedding_normalize": 7,
    "embedding_quantize": 8,
    "embedding_semantic_dedup": 10,
    "embeddings_kmeans_lloyd": 11,
    "embeddings_random_projection": 8,
    "embeddings_triplet_mining": 8,
    "etl_gapfill_hours": 8,
    "etl_gapfill_interp": 11,
    "etl_hourly_downsample": 10,
    "etl_incremental_agg_merge": 11,
    "etl_write_pipeline": 7,
    "events_ab_proportion_test": 10,
    "events_anomaly_zscore": 9,
    "events_audience_overlap": 10,
    "events_cm_frequency_rollup": 11,
    "events_cohort_retention": 9,
    "events_cuped_adjustment": 9,
    "events_cusum_changepoints": 8,
    "events_funnel": 9,
    "events_heavy_hitters": 11,
    "events_hll_daily_rollup": 10,
    "events_hourly_anomalies": 7,
    "events_in_prior_hour": 7,
    "events_interval_attribution": 9,
    "events_json_props_rollup": 8,
    "events_json_roundtrip": 10,
    "events_kaplan_meier_churn": 8,
    "events_logrank_arms": 11,
    "events_markov_attribution": 8,
    "events_markov_transitions": 8,
    "events_ndcg_backtest": 8,
    "events_orc_roundtrip": 9,
    "events_pattern_users": 11,
    "events_pit_priority_lookup": 11,
    "events_quantile_sketch_rollup": 10,
    "events_seasonal_naive_backtest": 8,
    "events_seasonal_profile": 11,
    "events_welch_value_ttest": 10,
    "ewma_alerts_batch": 11,
    "lineitem_association_rules": 11,
    "lineitem_benford_audit": 8,
    "lineitem_bootstrap_mean_ci": 10,
    "lineitem_bootstrap_mean_ci_blb": 10,
    "lineitem_conformal_interval": 8,
    "lineitem_correlation_matrix": 11,
    "lineitem_double_price_quantiles": 11,
    "lineitem_equidepth_deciles": 7,
    "lineitem_equidepth_double": 7,
    "lineitem_exact_price_quantiles": 11,
    "lineitem_logreg_auc": 8,
    "lineitem_logreg_calibration": 8,
    "lineitem_logreg_cv_auc": 8,
    "lineitem_logreg_pr_curve": 8,
    "lineitem_logreg_return_model": 7,
    "lineitem_mad_outliers": 8,
    "lineitem_ols2_price_model": 11,
    "lineitem_ols_price_model": 11,
    "lineitem_pca_top_component": 8,
    "lineitem_percentile_ranks": 7,
    "lineitem_price_trend": 11,
    "lineitem_spearman_qty_price": 10,
    "lineitem_stump_splits": 7,
    "lineitem_weighted_price_quantiles": 11,
    "lineitem_winsorized_prices": 7,
    "monthly_active_customers": 11,
    "multimodal_audio_decimate": 10,
    "multimodal_decode": 9,
    "multimodal_decode_jpeg": 10,
    "multimodal_decode_png": 9,
    "multimodal_decode_wav": 9,
    "multimodal_image_near_dups": 10,
    "multimodal_jpeg_headers": 11,
    "multimodal_mp4_headers": 10,
    "multimodal_png_headers": 11,
    "multimodal_wav_headers": 11,
    "nation_customer_rollup": 7,
    "orders_anova_priority": 11,
    "orders_aqp_revenue_estimate": 11,
    "orders_bh_fdr_customers": 11,
    "orders_cdc_merge": 10,
    "orders_chi2_priority_status": 9,
    "orders_cube": 8,
    "orders_dp_noised_counts": 7,
    "orders_dq_constraints": 10,
    "orders_fd_violations": 7,
    "orders_gini_by_priority": 10,
    "orders_grouping_sets": 7,
    "orders_ivm_join_delta": 10,
    "orders_k_anonymity_audit": 11,
    "orders_kruskal_priority": 10,
    "orders_ks_price_drift": 10,
    "orders_levene_priority": 11,
    "orders_lineitem_join_size_agms": 7,
    "orders_mannwhitney_price_drift": 10,
    "orders_mi_feature_cells": 8,
    "orders_moving_range_avg": 10,
    "orders_neyman_sample": 8,
    "orders_pivot_status": 7,
    "orders_psi_price_drift": 7,
    "orders_rollup": 11,
    "orders_scd2_priority": 10,
    "orders_schema_evolution_union": 11,
    "orders_skipping_bloom_scan": 11,
    "orders_skipping_scan": 11,
    "orders_skyline": 10,
    "orders_snapshot_diff": 10,
    "orders_table_fingerprint": 8,
    "orders_table_profile": 11,
    "orders_target_encode_priority": 8,
    "orders_window_suite": 11,
    "orders_woe_iv_priority": 8,
    "orders_zorder_key": 8,
    "part_copurchase_bfs": 10,
    "part_copurchase_kcore": 10,
    "part_copurchase_labelprop": 11,
    "part_copurchase_pagerank": 10,
    "part_copurchase_sssp": 10,
    "part_copurchase_triangles": 10,
    "part_item_similarity": 11,
    "price_percentiles_by_priority": 7,
    "q10_returned_items": 8,
    "q11_important_parts": 8,
    "q12_priority_lines": 8,
    "q13_customer_distribution": 8,
    "q14_promo_revenue": 8,
    "q15_top_supplier": 9,
    "q16_parts_supplier_counts": 9,
    "q17_small_quantity_revenue": 9,
    "q18_large_volume_customers": 10,
    "q19_discounted_revenue": 9,
    "q1_pricing_summary": 7,
    "q20_excess_share_suppliers": 9,
    "q21_waiting_suppliers": 9,
    "q22_global_sales_opportunity": 9,
    "q2_min_cost_supplier": 9,
    "q3_shipping_priority": 7,
    "q4_order_priority": 9,
    "q5_local_supplier_volume": 7,
    "q6_forecast_revenue": 9,
    "q7_volume_shipping": 9,
    "q8_market_share": 9,
    "q9_product_profit": 9,
    "segment_active_customers": 11,
    "sessionize_events": 7,
    "similarity_topk": 10,
    "similarity_topk_ivf": 7,
    "similarity_topk_ivfpq": 10,
    "similarity_topk_lsh": 10,
    "similarity_topk_pq": 10,
    "streaming_attribution_join": 7,
    "streaming_cm_sketch": 11,
    "streaming_cusum_alerts": 9,
    "streaming_dedup_events": 7,
    "streaming_dim_enrich": 9,
    "streaming_ewma_alerts": 7,
    "streaming_hourly_downsample": 10,
    "streaming_sessionize": 7,
    "text_bm25_topk": 10,
    "text_compressibility": 10,
    "text_fingerprint": 7,
    "text_hybrid_rrf_topk": 7,
    "text_inverted_index": 11,
    "text_language_id": 7,
    "text_lm_scores": 9,
    "text_pii_redaction": 9,
    "text_quality_scores": 7,
    "text_repetition_scores": 9,
    "text_token_pmi": 11,
    "text_token_stats": 7,
    "text_vocabulary": 10,
    "top10_orders_by_price": 11,
    "topk_per_segment": 11,
    "user_running_value": 7,
}

# PIN - the reference saved-query parity trio
# (reference sql/saved-queries.sql:10-45); never rotates out.
PIN: frozenset[str] = frozenset({
    "segment_active_customers",
    "customers_per_segment",
    "topk_per_segment",
})

# TOUCH - specs that must re-earn a driver row this round because a
# change can alter what they compute. A change needs no row when it
# leaves the spec's normalized plan identical and changes no UDF body
# the spec runs; the plan is the exported form's (``spec.fn``) at
# sf0.01, dumped by planning only and put through
# ``bench.normalize_plan``. Round 12: the iterative loops read their
# convergence signals from the checkpoint job (operators/_iterate.py),
# the hourly mean follows IEEE on NaN and ±inf readings, and
# embedding_normalize's UDF lost a line.
TOUCH: frozenset[str] = frozenset({
    "part_copurchase_kcore",
    "part_copurchase_labelprop",
    "corpus_incremental_dedup",
    "etl_write_pipeline",
    "embedding_normalize",
})

# ADVISED - explicit re-verification asks: none this round.
ADVISED: frozenset[str] = frozenset()

# DEFER_FIRST_ROW - EMPTY: every registered spec has a green row.
DEFER_FIRST_ROW: frozenset[str] = frozenset()


def build_driver_export(registry: set[str], cap: int) -> frozenset[str]:
    """Deterministic round-``CURRENT_ROUND`` export: forced slots
    (PIN + never-verified + TOUCH + ADVISED), then oldest-first fill
    by (last-verified round, name)."""
    forced = (PIN | TOUCH | ADVISED) & registry
    never = {
        s for s in registry if s not in VERIFIED_ROUNDS
    } - DEFER_FIRST_ROW
    export = set(forced | never)
    assert len(export) <= cap, (
        f"{len(export)} forced slots exceed the {cap}-row cap; "
        "trim TOUCH/ADVISED"
    )
    fill = sorted(
        (s for s in registry if s not in export and s not in DEFER_FIRST_ROW),
        key=lambda s: (VERIFIED_ROUNDS[s], s),
    )
    export.update(fill[: cap - len(export)])
    return frozenset(export)
