"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query; ``queries()`` /
``oracle_sql()`` expose every registered operator from
redpanda_iceberg_duckdb_spark.registry for the driver's DuckDB-oracle
correctness gate (see SURVEY.md section 2 for the inventory).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from redpanda_iceberg_duckdb_spark.registry import all_queries  # noqa: E402
from redpanda_iceberg_duckdb_spark.session import configure_session  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (reference Q1 per-group analytics) on sf0.001."""
    configure_session(spark)
    q = all_queries()["q1_trade_analytics"]
    return q.fn(spark, "/root/testdata/sf0.001")


# The driver's correctness gate checks the FIRST 50 queries in dict order,
# so ordering is a verification-coverage decision. Since round 8 this list
# is MECHANICALLY DERIVED, not hand-curated: verification_manifest.json
# fingerprints every query (defining-module source + one level of intra-
# package imports + oracle SQL — see verification.py), and the contract
# test (tests/test_driver_contract.py) FAILS unless every query whose
# fingerprint mismatches the manifest sits in this window or the pending
# queue. Regenerate entries with `python tools/regen_manifest.py r{N}`;
# promote window evidence to green evidence at the start of the next round
# with `--promote`.
_VERIFY_FIRST = [
    # HEAD: round-15 new queries from the build session — never
    # driver-verified yet, so they keep their sealed slots through the
    # optimization round's driver run.
    "dedup_stream_tws_replay",
    "pipe_syntax_orders", "collation_lcase_groups",
    "session_window_builtin",
    "welch_ttest_value", "granger_lag1_hourly", "pacf_durbin_levinson",
    "hodges_lehmann_quantity_shift",
    "katz_centrality_4hop", "linear_cka_dim_halves",
    "sinkhorn_plan_labels", "krippendorff_alpha_labels",
    "periodogram_hourly_power",
    "speculative_acceptance_rate", "beam_search_paths",
    "unigram_viterbi_segmentation",
    "stratified_att_purchase", "shortest_path_dag_sigma",
    "fellegi_sunter_weights",
    "wilson_ci_weekend_share", "eb_shrunken_user_rates",
    # Round-15 OPTIMIZATION round: queries whose defining module was
    # rewritten by this round's shuffle/boundary optimizations
    # (similarity, similarity11, dedup, graph10b/d/e, graph14, graph15b
    # — all re-verified against the local DuckDB oracle at sf0.01
    # before commit; OPTIMIZATION_r15.md has the measurements). The
    # remaining fingerprint-flipped importers of those modules queue in
    # _PENDING_NEXT_WINDOW below.
    "cosine_topk_bruteforce", "hyperplane_lsh_near_dups",
    "minhash_lsh_pairs", "minhash_lsh_pairs_dfcap",
    "bfs_hop_distance", "kcore_degree_histogram",
    "label_propagation_sizes", "sssp_cheapest_paths",
    "double_sweep_diameter",
    # Fingerprint-flipped dependents with the heaviest shared-helper
    # exposure (dedup/similarity/graph family heads).
    "dedup_clusters", "dedup_exact_groups", "dedup_exact_survivors",
    "incremental_dedup_new_batch", "simhash_near_dup_pairs",
    "simhash_signatures", "embedding_near_dup_pairs",
    "ann_ivf_recall_at_k", "ann_ivf_topk", "ann_ivf_multiprobe",
    "ann_mrr_at_10", "ann_recall_retrained",
    "kmeans_train_converged", "kmeans_lloyd_step",
    "mutual_nn_pairs", "mutual_nn_retrained",
    "pagerank_converged", "pagerank_trade_graph",
    "hits_hubs_authorities", "link_prediction_jaccard",
    # (The r14 rotation tail — quality_score, retention_cohorts, … and
    # the r05 spare slots — rotates back next round; every evicted entry
    # keeps its existing green driver evidence.)
]

# Queries registered this round AFTER the 50-slot window filled; each passes
# the local oracle replica and is queued to head _VERIFY_FIRST next round.
# The window-contract test (tests/test_driver_contract.py) enforces that
# every tail query is either previously driver-green (with a matching
# manifest fingerprint) or explicitly queued here — nothing can be silently
# unverified.
# r15 optimization round: the fingerprint-flipped importers of the
# optimized helper modules that did not fit the 50-slot window. Every one
# was re-run against its DuckDB oracle at sf0.01 in this round
# (tools/oracle_sim.py --changed; 59/59 exact).
_PENDING_NEXT_WINDOW: list[str] = [
    "ann_recall_mrr_by_nprobe", "bh_fdr_discoveries",
    "bipartite_supplier_projection", "bloom_ngram_decontamination",
    "bpe_encode_stats", "bpe_train_merges", "bpe_train_merges_wordcount",
    "dsir_importance_topk", "edge_triangle_support",
    "rocchio_feedback_topk", "tokenizer_fertility_by_lang",
    # (unigram_viterbi_segmentation also changed this round; it already
    # holds a _VERIFY_FIRST slot from the build session.)
    "cluster_best_survivors", "cluster_quality_silhouette",
    "containment_closure", "containment_pairs",
    "decontamination_overlap", "doc_repetition_score",
    "embedding_dim_stats", "graph_degree_stats", "hard_negative_mining",
    "ivf_pq_recall_at_5", "ivf_pq_trained_recall",
    "jl_projection_distortion", "leakage_safe_splits",
    "lsh_recall_vs_exact", "minhash_estimator_error", "mmr_diverse_topk",
    "ndcg_at_10", "ngram_jaccard_pairs", "personalized_pagerank_seeds",
    "pq_adc_recall_at_5", "pq_code_distortion", "pq_trained_distortion",
    "rouge2_candidate_pairs", "split_leakage_audit",
    "triangle_count_neardup",
    # r15 optimization session 4 (multi-branch checkpoint + shared edge
    # cache + per-cell Arrow dots batch): every one re-run oracle-exact
    # at BOTH sf0.01 and sf0.001 this session (oracle_sim --changed,
    # 14/14 + 14/14). mutual_nn_pairs/mutual_nn_retrained flipped too but
    # already hold slots above / in the window.
    "brown_forsythe_variance", "circular_emd_hours",
    "cochran_armitage_trend", "cox_ph_converged",
    "cramer_von_mises_value", "logrank_signup_conversion",
    "mann_kendall_trend", "mcnemar_purchase_halves",
    "rich_club_coefficient", "spearman_value_hour",
    "theilsen_hourly_trend", "wasserstein_value_by_type_pair",
    # r15 optimization session 4, batch 8 (scan-multiplicity collapse):
    # re-run oracle-exact at BOTH sf0.01 and sf0.001 this session
    # (oracle_sim --changed, 10/10 + 10/10). pacf_durbin_levinson,
    # granger_lag1_hourly, hodges_lehmann_quantity_shift and
    # welch_ttest_value flipped too but already hold slots above / in
    # the window.
    "rolling_origin_cv_folds", "sorted_neighborhood_pairs",
    "sparse_cosine_topk_pairs", "stream_state_expected",
    "token_kl_by_source_pair", "woe_iv_hour_bins",
    # r15 optimization session 5, batch 9 (shared broadcast-query-block
    # helper for the nine exact-reference ANN sites): all 26 flipped
    # queries re-run oracle-exact at BOTH sf0.01 and sf0.001 this
    # session (oracle_sim --changed, 26/26 + 26/26). The rest of the
    # flip set already holds slots above / in the window.
    "cluster_medoids", "matryoshka_recall_curve", "mmd_linear_label_pairs",
    # r16 optimization: apply_delta's internal delta-sized d_pl frame is
    # now eagerly checkpointed (3 branches stopped re-running its scan +
    # shuffle per batch) — the three ivm queries re-run oracle-exact at
    # BOTH sf0.01 and sf0.001 this round (oracle_sim --changed, 4/4 +
    # 4/4; dedup_stream_tws_replay flipped in the same batch and already
    # heads _VERIFY_FIRST).
    "ivm_stream_refresh_replay", "ivm_retraction_replay",
    "ivm_state_expected",
    # r16 scan-audit collapse batch (items 7): the dense-hourly /
    # two-histogram / ratings-CTE multi-branch recomputes checkpointed
    # once (timeseries10, stats14, stats15, rater15) — all 11 flipped
    # queries re-run oracle-exact at BOTH sf0.01 and sf0.001 this round
    # (oracle_sim --changed, 11/11 + 11/11; the other 7 already hold
    # slots above / in the window).
    "acf_hourly_lags", "anderson_darling_value", "crosscorr_lead_lag",
    "friedman_test_type_day", "ljung_box_hourly", "page_hinkley_hourly",
    # Declared table schemas (tables.py) and call-site capture off
    # (session.py), plus tws15's one-file-per-chunk check: tables.py is a
    # direct import of nearly every operator module, so 408 fingerprints
    # flipped. All 408 re-run oracle-exact at BOTH sf0.001 and sf0.01
    # (tools/oracle_sim.py --changed); the 297 flipped tail queries
    # below queue here, the rest already hold slots above / in the window.
    "q1_trade_analytics", "q2_cardinality", "q3_verification_agg",
    "q4_reaggregation", "q5_topk", "q6_summary_union",
    "tpch_q1_pricing_summary", "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume", "tpch_q6_forecast_revenue",
    "order_priority_semijoin", "customers_without_orders",
    "top_customers_by_spend", "nation_order_rollup",
    "tpch_q10_returned_items", "tpch_q13_order_distribution",
    "tpch_q14_promo_revenue", "tpch_q18_large_orders",
    "full_outer_daily_activity", "tpch_q7_nation_volume",
    "tpch_q15_top_supplier", "tpch_q19_disjunctive_predicate",
    "tpch_q2_min_cost_supplier", "tpch_q8_market_share",
    "tpch_q11_important_value", "tpch_q16_supplier_part_counts",
    "tpch_q20_part_share_suppliers", "tpch_q21_sole_late_supplier",
    "tpch_q22_idle_rich_customers", "tpch_q9_product_profit",
    "tpch_q12_priority_shipping", "lateral_topk_orders",
    "tpch_q4_order_priority", "tpch_q17_small_quantity_revenue",
    "window_running_total", "window_topk_per_user", "window_event_gaps",
    "sessionization", "window_distribution_functions",
    "event_path_trigrams", "event_type_transitions", "session_stats",
    "multimodal_meta", "multimodal_byte_features",
    "multimodal_frame_dedup", "multimodal_pixel_stats", "json_props_stats",
    "orders_by_month", "parts_like_filter", "window_rank_functions",
    "customers_above_avg_balance", "small_quantity_parts",
    "approx_aggregates", "interval_join_purchase_signup",
    "deterministic_sample_stats", "heavy_hitters_users", "utf8_byte_audit",
    "uuid_from_int_audit", "text_stats", "token_count_regex",
    "lang_id_heuristic", "quality_score", "doc_fingerprint",
    "source_lang_profile", "tfidf_top_terms",
    "stratified_sample_by_source", "sequence_packing_bins",
    "morton_zorder_stats", "chunk_documents_sliding", "chunk_dedup_groups",
    "curation_end_to_end", "events_hourly_incremental",
    "range_join_error_proximity", "zscore_outliers", "conversion_funnel",
    "retention_cohorts", "ordered_funnel_users", "rfm_segments",
    "label_centroids", "unpivot_lineitem_measures", "winnow_fingerprints",
    "embedding_quantization_audit", "asof_join_window", "asof_join_pandas",
    "cdc_latest_state", "pii_redaction_audit", "bigram_frequencies",
    "doc_length_histogram", "k_anonymity_audit", "l_diversity_audit",
    "fm_distinct_sketch", "fuzzy_part_names", "grouping_sets_orders",
    "hll_lite_distinct", "histogram_quantiles", "count_min_heavy_hitters",
    "kmv_set_overlap", "cube_type_dow", "pivot_user_bucket_by_type",
    "setop_engaged_users", "percentiles_by_type", "events_hourly",
    "rollup_chain_monthly", "vocab_growth_by_bucket",
    "token_novelty_ratio", "token_entropy_by_source",
    "mode_token_per_source", "source_vocab_overlap",
    "token_cooccurrence_lift", "bpe_pair_frequencies",
    "unigram_logprob_quality", "zipf_fit_by_source", "profile_orders",
    "weighted_median_by_type", "mixture_allocation",
    "quality_filter_funnel", "token_budget_topp", "hash_sample_per_source",
    "curation_pipeline_stats", "mixture_resample", "gap_fill_hourly",
    "hourly_moving_stats", "ewma_hourly_counts",
    "sliding_distinct_users_24h", "mad_outliers_by_type",
    "chi2_priority_seasonality", "corr_value_props_by_type",
    "ols_hourly_trend", "value_distribution_drift",
    "winsorized_stats_by_type", "user_concentration_by_type",
    "range_filter_semijoin", "ntile_value_quartiles",
    "benford_price_digits", "keyset_pagination_orders",
    "join_cardinality_audit", "skew_hot_key_join", "chunk_documents_udtf",
    "sentence_chunks_udtf", "table_checksums",
    "referential_integrity_audit", "streaming_validate_replay",
    "kafka_wire_replay", "kafka_keyed_order_replay",
    "snapshot_retention_audit", "late_data_drop_replay",
    "stream_dedup_replay", "semdedup_survivors", "shared_ngram_span_pairs",
    "merge_upsert_replay", "scd2_history_replay",
    "stream_outer_join_replay", "bm25_topk_docs",
    "inverted_index_postings", "rrf_fusion_topk", "cdc_chunk_stats",
    "pareto_frontier_parts", "supplier_frontier_over_join",
    "percentile_disc_exact", "entropy_by_source",
    "ordered_string_agg_parts", "pivot_event_counts",
    "session_window_replay", "interval_islands_shipping",
    "asof_forward_tolerance", "stable_row_ids_two_phase",
    "range_frame_moving_revenue", "equi_depth_deciles",
    "bootstrap_ci_by_type", "epoch_shuffle_ranks",
    "weighted_sample_no_replacement", "token_block_assignment",
    "file_skipping_audit", "hll_sliding_window_distinct",
    "m4_downsample_events", "cuped_adjusted_metrics",
    "ivm_join_delta_revenue", "ivm_delta_term_counts",
    "embedding_pca_power", "embedding_pca_top4", "loo_source_ablation",
    "event_precedence_support", "cusum_changepoint_hourly",
    "quantile_normalize_by_type", "target_encoding_oof",
    "auc_mann_whitney", "kaplan_meier_conversion", "mase_seasonal_naive",
    "offpolicy_ips_snips", "data_quality_checks", "dq_cross_batch_drift",
    "bradley_terry_strengths", "ece_calibration_bins",
    "cohens_kappa_labelers", "isotonic_calibration_bins",
    "pmi_collocations_topk", "gini_customer_spend", "herfindahl_by_nation",
    "stratified_kfold_assignment", "token_budget_mixture",
    "markov_stationary_events", "jackknife_ratio_se", "psi_price_drift",
    "mutual_information_type_hour", "snapshot_diff_changelog",
    "trimmed_winsorized_means", "difference_in_differences",
    "qini_uplift_deciles", "shapley_source_value", "ks_two_sample_value",
    "anova_f_oneway", "neyman_allocation", "multitouch_attribution",
    "dbscan_grid_labels", "item_item_cosine_recs", "kruskal_wallis_value",
    "hash_permutation_test", "basket_frequent_pairs",
    "max_concurrent_open_lines", "naive_bayes_lang_confusion",
    "bigram_surprisal_bands", "heaps_law_fit",
    "conformal_interval_coverage", "kcenter_farthest_points",
    "ams_f2_sketch", "t_closeness_audit", "temperature_mixture_allocation",
    "sprt_sequential_decision", "rendezvous_shard_audit",
    "binary_segmentation_splits", "sprt_stream_decision_replay",
    "sprt_state_expected", "decision_stump_hour_split",
    "pinball_loss_eval", "fano_factor_burstiness",
    "davies_bouldin_clusters", "exact_substring_spans",
    "exact_substring_cutlist", "cross_source_span_leakage",
    "gopher_repetition_signals", "intra_doc_repeated_spans",
    "degree_assortativity", "ols_price_on_quantity",
    "funnel_view_click_purchase", "time_decayed_engagement",
    "part_name_fuzzy_blocks", "clustering_coefficient_parts",
    "er_fuzzy_clusters", "average_precision_purchases",
    "feature_hashing_collisions", "dp_noisy_counts",
    "bigram_perplexity_quality", "chao1_vocab_richness",
    "good_turing_counts", "yule_k_lexical_diversity",
    "nelson_aalen_hazard", "sax_hourly_motifs",
    "correlation_matrix_lineitem", "skipgram_negative_sampling_table",
    "haar_energy_by_level", "ridge_price_model",
    "logistic_first_newton_step", "logistic_irls_converged",
    "circular_hour_stats", "hill_tail_index", "funnel_stream_replay",
    "funnel_state_expected", "markov_entropy_rate",
    "permutation_entropy_hourly", "kneser_ney_perplexity_by_source",
    "mahalanobis_outliers_topk", "holt_linear_hourly",
    "multimodal_wav_stats", "brier_decomposition_hourly",
    "shared_prefix_boilerplate", "span_position_profile",
    "qte_value_weekday_weekend", "dedup_savings_by_source",
    "content_novelty_curve", "boosted_stumps_two_rounds",
    "dtw_hour_profiles", "seasonality_strength_hourly",
    "token_burstiness_topk", "negative_binomial_fit_by_type",
    "weighted_jaccard_sources", "runs_test_hourly",
    "hapax_share_by_source", "wav_ingest_dead_letter_replay",
    "kendall_tau_b_hourly", "boxcox_loglik_grid",
    "huber_location_converged", "multimodal_frame_sample",
    "sliced_wasserstein_labels", "self_bleu2_by_source",
    "holt_winters_seasonal_hourly", "variant_props_extract",
    "luhn_checksum_audit",
    # One dataset cache (cache.py replaces dataset_cache.py and nine
    # module-level caches) and the location-free oracle hash: 49
    # fingerprints flipped, all re-run oracle-exact at BOTH sf0.001 and
    # sf0.01 (tools/oracle_sim.py --changed, 49/49 + 49/49). Only
    # seeded_trades_parity (its oracle reads a fixture by absolute path)
    # was not already queued here or holding a window slot.
    "seeded_trades_parity",
    # The fingerprint now hashes each query's whole import closure
    # (verification.py). Green evidence survived only where nothing in
    # the closure changed since the measured tree; these two (r08 and
    # r12 rows) reach tables.py and session.py, which changed since.
    "greedy_coverage_selection", "ppjoin_exact_pairs",
]


def _ordered_queries():
    qs = all_queries()
    ordered = [n for n in _VERIFY_FIRST if n in qs]
    ordered += [n for n in qs if n not in set(_VERIFY_FIRST)]
    return {n: qs[n] for n in ordered}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name, q in _ordered_queries().items():
        def wrapped(spark: SparkSession, sf_dir: str, _q=q) -> DataFrame:
            configure_session(spark)
            # Per-query cache clear: queries that persist intermediates
            # (LSH signatures, KMV sketches) are bounded within their own
            # execution instead of leaking storage memory across the
            # driver's sequential 150-query correctness run.
            spark.catalog.clearCache()
            return _q.fn(spark, sf_dir)
        out[name] = wrapped
    return out


def oracle_sql() -> dict[str, str]:
    return {n: q.oracle for n, q in _ordered_queries().items()
            if q.oracle is not None}
