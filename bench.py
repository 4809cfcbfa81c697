"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line with per-query
wall-clock seconds. Timing includes plan + execution + result fetch
(count of the final DataFrame), excluding JVM startup.

Methodology: each headline query runs three times and reports the fastest
run (extras run twice) — steady-state throughput (first execution pays
one-time whole-stage-codegen compilation of that query's generated code,
which on a real cluster is amortized across repeated/parameterized runs).
Cold times and every repeat are printed to stderr alongside. The headline
repeat count went 2 -> 3 in round 16 (r15 verdict item 5): at sf0.1 every
headline query sits at the per-job scheduling floor and min-of-2 produced
two consecutive rounds of phantom regressions; the timed action and the
warm-min semantics are unchanged. A box-speed canary (ppjoin_exact_pairs)
is additionally timed immediately before the headline loop and published
as "canary_pre" next to the extras-time "canary".
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from redpanda_iceberg_duckdb_spark.registry import all_queries
from redpanda_iceberg_duckdb_spark.session import get_spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = get_spark("bench")

    names = [n for n, q in all_queries().items() if q.bench]
    # Warm the JVM + file listing once with the cheapest action.
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    # Box-speed canary BEFORE the headline loop (r15 verdict item 9: the
    # extras-time canary lands minutes after the headline loop, so headline
    # adjudication needed an 8-core cross-check two rounds running). Same
    # query, same warm-min-of-2 discipline as its extras entry; the extras
    # loop still times it independently for the historical "canary" key.
    canary_q = all_queries()["ppjoin_exact_pairs"]
    pre_runs = []
    for _ in range(2):
        t0 = time.perf_counter()
        canary_q.fn(spark, sf_dir).count()
        pre_runs.append(time.perf_counter() - t0)
    canary_pre = round(min(pre_runs), 3)
    print(f"# canary_pre ppjoin_exact_pairs: warm {canary_pre:.3f}s "
          f"cold {max(pre_runs):.3f}s", file=sys.stderr)
    spark.catalog.clearCache()

    timings: dict[str, float] = {}
    for name in names:
        q = all_queries()[name]
        runs = []
        # r16: min-of-3 (was min-of-2). At sf0.1 every headline query sits
        # at the per-job fixed-cost floor (PERF_r15 scaling block: 8 cores
        # ~= 32 cores), so a single slow repeat dominated by scheduler
        # noise produced two rounds of phantom headline "regressions"
        # (r14, r15 — both re-adjudicated flat). One extra repetition per
        # query (~+15 s bench wall) kills most of that variance; the timed
        # action and the warm-min semantics are unchanged (r15 verdict
        # item 5). All repeats go to stderr so re-run variance is visible.
        for _ in range(3):
            t0 = time.perf_counter()
            n = q.fn(spark, sf_dir).count()
            runs.append(time.perf_counter() - t0)
        timings[name] = round(min(runs), 3)
        print(f"# {name}: warm {min(runs):.3f}s cold {max(runs):.3f}s "
              f"runs {[round(r, 3) for r in runs]} "
              f"({n} rows)", file=sys.stderr)
        # Queries that persist intermediates (LSH signature tables, KMV
        # sketches) would otherwise leak cached partitions into every later
        # query's storage memory over the sequential run.
        spark.catalog.clearCache()

    # r16, test-only fast path: the driver-contract test validates the
    # stdout line shape by RUNNING bench.py in a subprocess; the full
    # demo + extras sweep (~300 queries) made that one test ~10 min of
    # the default suite (the suite-overflow problem VERIFY_r15 flagged).
    # With this env set, demos and extras are skipped except the canary
    # (so every stdout key keeps its real type). The DRIVER NEVER SETS
    # THIS — its invocation runs the identical full path as every prior
    # round; headline timing above is untouched either way.
    headline_only = os.environ.get(
        "SPARK_GRAFT_BENCH_HEADLINE_ONLY") == "1"
    extras: dict[str, float] = {}
    if not headline_only:
        extras.update(skew_join_demo(spark, sf_dir))
        extras.update(bucketed_join_demo(spark, sf_dir))
        extras.update(ivm_scaling_demo(spark, sf_dir))
        extras.update(eval_tier_scaling_demo(spark, sf_dir))
        extras.update(lsh_scaling_demo(spark, sf_dir))
        extras.update(fdr_scaling_demo(spark, sf_dir))
        extras.update(lsh_dfcap_skew_demo(spark, sf_dir))
        extras.update(pagerank_scaling_demo(spark, sf_dir))
        extras.update(pagerank_hot_vertex_demo(spark, sf_dir))
        extras.update(graph_trio_scaling_demo(spark, sf_dir))
        extras.update(bpe_wordcount_demo(spark, sf_dir))
        extras.update(pq_trained_demo(spark, sf_dir))
        extras.update(substring_scaling_demo(spark, sf_dir))
        extras.update(triangle_scaling_demo(spark, sf_dir))
        extras.update(hashing_vs_dictionary_demo(spark, sf_dir))
        extras.update(mutual_nn_scaling_demo(spark, sf_dir))
        extras.update(cc_pathchoice_demo(spark, sf_dir))
    # Round-7 heavy operators tracked per round without inflating the
    # headline series (which older rounds are compared against).
    for name in ["ppjoin_exact_pairs"] if headline_only else [
                 "shared_ngram_span_pairs", "semdedup_survivors",
                 "winnow_fingerprints", "simhash_near_dup_pairs",
                 "ann_ivf_recall_at_k", "dedup_clusters",
                 # exact-vs-approx similarity-join trade (same corpus):
                 # ppjoin is exact (zero misses) at prefix-join cost,
                 # minhash_lsh_pairs is the probabilistic fast path
                 "ppjoin_exact_pairs", "pagerank_trade_graph",
                 "kmeans_lloyd_step", "cdc_chunk_stats",
                 # round-8 batch
                 "pareto_frontier_parts", "session_window_replay",
                 "percentile_disc_exact", "stable_row_ids_two_phase",
                 "equi_depth_deciles", "range_frame_moving_revenue",
                 "asof_forward_tolerance", "interval_islands_shipping",
                 # round-9 batch
                 "supplier_frontier_over_join", "split_leakage_audit",
                 "epoch_shuffle_ranks", "mmr_diverse_topk",
                 "hll_sliding_window_distinct", "file_skipping_audit",
                 "kafka_keyed_order_replay", "ann_mrr_at_10",
                 "embedding_dim_stats", "weighted_sample_no_replacement",
                 "greedy_coverage_selection", "hard_negative_mining",
                 "token_block_assignment",
                 # round-9 final batch
                 "m4_downsample_events", "cuped_adjusted_metrics",
                 "ivm_join_delta_revenue", "embedding_pca_power",
                 "loo_source_ablation", "event_precedence_support",
                 "theilsen_hourly_trend", "cusum_changepoint_hourly",
                 "quantile_normalize_by_type", "target_encoding_oof",
                 "auc_mann_whitney", "kaplan_meier_conversion",
                 "mase_seasonal_naive", "offpolicy_ips_snips",
                 "data_quality_checks",
                 # round-10 batch
                 "ivm_stream_refresh_replay", "ann_recall_mrr_by_nprobe",
                 "embedding_pca_top4", "dq_cross_batch_drift",
                 "bradley_terry_strengths", "dsir_importance_topk",
                 "ece_calibration_bins", "cohens_kappa_labelers",
                 "pmi_collocations_topk", "bipartite_supplier_projection",
                 "gini_customer_spend", "herfindahl_by_nation",
                 "isotonic_calibration_bins",
                 "stratified_kfold_assignment", "token_budget_mixture",
                 "ivm_retraction_replay",
                 "markov_stationary_events", "jackknife_ratio_se",
                 "psi_price_drift", "mutual_information_type_hour",
                 "snapshot_diff_changelog", "trimmed_winsorized_means",
                 "difference_in_differences", "qini_uplift_deciles",
                 "shapley_source_value",
                 # round-10 late batch
                 "ks_two_sample_value", "anova_f_oneway",
                 "acf_hourly_lags", "crosscorr_lead_lag",
                 "ndcg_at_10", "neyman_allocation",
                 "multitouch_attribution", "sorted_neighborhood_pairs",
                 "dbscan_grid_labels", "item_item_cosine_recs",
                 "bfs_hop_distance", "hits_hubs_authorities",
                 "kruskal_wallis_value", "hash_permutation_test",
                 # round-10 pending batch (verified next round)
                 "basket_frequent_pairs", "max_concurrent_open_lines",
                 "naive_bayes_lang_confusion", "bigram_surprisal_bands",
                 "heaps_law_fit", "conformal_interval_coverage",
                 "kcenter_farthest_points", "ams_f2_sketch",
                 "kcore_degree_histogram", "label_propagation_sizes",
                 "bh_fdr_discoveries", "sssp_cheapest_paths",
                 "t_closeness_audit", "temperature_mixture_allocation",
                 "sprt_sequential_decision", "rendezvous_shard_audit",
                 "binary_segmentation_splits",
                 # round-11 batch
                 "sprt_stream_decision_replay", "mann_kendall_trend",
                 "spearman_value_hour", "brown_forsythe_variance",
                 "mcnemar_purchase_halves", "hyperplane_lsh_near_dups",
                 "pq_code_distortion", "personalized_pagerank_seeds",
                 "link_prediction_jaccard", "rocchio_feedback_topk",
                 "tokenizer_fertility_by_lang", "decision_stump_hour_split",
                 "pinball_loss_eval", "fano_factor_burstiness",
                 "davies_bouldin_clusters", "token_kl_by_source_pair",
                 "cochran_armitage_trend", "pq_adc_recall_at_5",
                 "ivf_pq_recall_at_5",
                 # round-11 pending batch (verified in round 12)
                 "rolling_origin_cv_folds", "woe_iv_hour_bins",
                 # round-12 batch: substring dedup, trained PQ (ordered so
                 # the memoized training is paid once and the recall query
                 # reports the warm marginal cost), pixel decode, state
                 # accounting
                 "exact_substring_spans", "exact_substring_cutlist",
                 "pq_trained_distortion", "ivf_pq_trained_recall",
                 "multimodal_pixel_stats", "stream_state_expected",
                 "gopher_repetition_signals", "intra_doc_repeated_spans",
                 "cross_source_span_leakage", "degree_assortativity",
                 "ols_price_on_quantity", "funnel_view_click_purchase",
                 "time_decayed_engagement", "part_name_fuzzy_blocks",
                 # round-12 third batch
                 "clustering_coefficient_parts", "er_fuzzy_clusters",
                 "average_precision_purchases", "feature_hashing_collisions",
                 "dp_noisy_counts", "mutual_nn_pairs",
                 "bigram_perplexity_quality", "chao1_vocab_richness",
                 "good_turing_counts", "nelson_aalen_hazard",
                 "sax_hourly_motifs", "correlation_matrix_lineitem",
                 "skipgram_negative_sampling_table",
                 "haar_energy_by_level", "ridge_price_model",
                 "mutual_nn_retrained", "logistic_first_newton_step",
                 "rich_club_coefficient", "circular_hour_stats",
                 "hill_tail_index", "yule_k_lexical_diversity",
                 "funnel_stream_replay", "markov_entropy_rate",
                 "permutation_entropy_hourly",
                 # round-13 batch
                 "funnel_state_expected", "logistic_irls_converged",
                 "kneser_ney_perplexity_by_source", "mahalanobis_outliers_topk",
                 "holt_linear_hourly", "edge_triangle_support", "ivm_state_expected",
                 "sprt_state_expected", "wasserstein_value_by_type_pair",
                 "circular_emd_hours", "multimodal_wav_stats", "cox_ph_converged",
                 "brier_decomposition_hourly", "shared_prefix_boilerplate",
                 "sparse_cosine_topk_pairs", "span_position_profile",
                 "qte_value_weekday_weekend", "dedup_savings_by_source",
                 "content_novelty_curve", "logrank_signup_conversion",
                 "cramer_von_mises_value", "boosted_stumps_two_rounds",
                 "dtw_hour_profiles", "seasonality_strength_hourly",
                 "token_burstiness_topk", "negative_binomial_fit_by_type",
                 "weighted_jaccard_sources", "runs_test_hourly",
                 "hapax_share_by_source",
                 # round-14 batch
                 "wav_ingest_dead_letter_replay", "matryoshka_recall_curve",
                 "mmd_linear_label_pairs", "cluster_medoids",
                 "ljung_box_hourly", "page_hinkley_hourly",
                 "friedman_test_type_day", "anderson_darling_value",
                 "kendall_tau_b_hourly", "boxcox_loglik_grid",
                 "huber_location_converged", "multimodal_frame_sample",
                 "rouge2_candidate_pairs", "sliced_wasserstein_labels",
                 "chunk_documents_udtf", "sentence_chunks_udtf",
                 "self_bleu2_by_source",
                 "holt_winters_seasonal_hourly", "variant_props_extract",
                 "luhn_checksum_audit", "double_sweep_diameter",
                 # round-15 batch
                 "dedup_stream_tws_replay", "pipe_syntax_orders",
                 "collation_lcase_groups", "session_window_builtin",
                 "welch_ttest_value", "granger_lag1_hourly",
                 "pacf_durbin_levinson", "hodges_lehmann_quantity_shift",
                 "katz_centrality_4hop", "linear_cka_dim_halves",
                 "sinkhorn_plan_labels", "krippendorff_alpha_labels",
                 "periodogram_hourly_power", "speculative_acceptance_rate",
                 "beam_search_paths", "stratified_att_purchase",
                 "shortest_path_dag_sigma", "fellegi_sunter_weights",
                 "unigram_viterbi_segmentation",
                 "wilson_ci_weekend_share", "eb_shrunken_user_rates"]:
        q = all_queries()[name]
        runs = []
        for _ in range(2):
            t0 = time.perf_counter()
            q.fn(spark, sf_dir).count()
            runs.append(time.perf_counter() - t0)
        extras[name] = round(min(runs), 3)
        print(f"# extra {name}: warm {min(runs):.3f}s", file=sys.stderr)
        spark.catalog.clearCache()

    total = round(sum(timings.values()), 3)
    # Round-8 lesson: BENCH_r08.json came back "parsed": null because the
    # single stdout line outgrew the driver's tail-capture buffer once the
    # extras dict hit ~40 entries. The stdout line now carries ONLY the
    # 16 headline queries + total (a few hundred bytes); the full extras
    # dict goes to a committed side file and stderr.
    # r09 lesson: a test run at sf0.001 silently clobbered the committed
    # sf0.1 BENCH_EXTRAS.json. The canonical name is written ONLY at the
    # driver's sf0.1 protocol; other SFs get an sf-suffixed (gitignored)
    # file, and SPARK_GRAFT_EXTRAS_OUT overrides both (the contract test
    # points it at a tmp dir).
    default_name = ("BENCH_EXTRAS.json" if sf == 0.1
                    else f"BENCH_EXTRAS_sf{sf}.json")
    extras_path = os.environ.get(
        "SPARK_GRAFT_EXTRAS_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     default_name))
    with open(extras_path, "w") as f:
        json.dump({"sf": sf, "extras": extras}, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"# extras written to {extras_path}: {json.dumps(extras)}",
          file=sys.stderr)
    # Box-speed canary (round-14 verdict item 2): two rounds in a row the
    # headline total needed manual box-drift arbitration (r13 triangles,
    # r14's +20% phantom regression). ppjoin_exact_pairs is already timed
    # warm-min in the extras loop above; surfacing it in the driver-parsed
    # stdout line makes every cross-round BENCH_r{N} comparison
    # ratio-correct without archaeology: compare
    # total/canary ratios, not absolute seconds.
    print(json.dumps({
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "canary": {"ppjoin_exact_pairs": extras.get("ppjoin_exact_pairs")},
        # r16 (verdict item 9): the same canary timed immediately BEFORE
        # the headline loop — headline totals are comparable cross-round
        # via total/canary_pre without waiting for the extras-time value.
        "canary_pre": {"ppjoin_exact_pairs": canary_pre},
    }))
    spark.stop()


def bucketed_join_demo(spark, sf_dir: str) -> dict[str, float]:
    """Bucketing as the co-located-join lever, measured: orders and
    lineitem written bucketed+sorted on the join key (16 buckets,
    saveAsTable) join with ZERO exchanges — the physical plan has no
    shuffle on either side (asserted in tests/test_round10_ops.py) — vs
    the same shuffle sort-merge join on plain parquet. Auto-broadcast is
    disabled so both run the shuffle-vulnerable regime. At 100 TB this is
    the difference between re-shuffling two fact tables on EVERY join and
    paying the layout once at write time (Iceberg bucket partition
    transforms express the same contract)."""
    import time as _t

    from pyspark.sql import functions as F

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_extendedprice")

    def agg(joined):
        return sorted(map(tuple, (
            joined.groupBy(F.pmod("o_custkey", 100).alias("g"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.floor(F.col("l_extendedprice") * 100)
                       .cast("bigint")).alias("cents"))
            .collect())))

    for t in ("bench_orders_b", "bench_lineitem_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    (o.write.bucketBy(16, "o_orderkey").sortBy("o_orderkey")
     .mode("overwrite").saveAsTable("bench_orders_b"))
    (li.write.bucketBy(16, "l_orderkey").sortBy("l_orderkey")
     .mode("overwrite").saveAsTable("bench_lineitem_b"))
    ob = spark.table("bench_orders_b")
    lb = spark.table("bench_lineitem_b")

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out: dict[str, float] = {}
        results = {}
        for label, (left, right) in [
            ("bucketed_join_shuffle",
             (o, li)),
            ("bucketed_join_bucketed",
             (ob, lb)),
        ]:
            runs = []
            for _ in range(2):
                t0 = _t.perf_counter()
                results[label] = agg(left.join(
                    right, left.o_orderkey == right.l_orderkey))
                runs.append(_t.perf_counter() - t0)
            out[label] = round(min(runs), 3)
            print(f"# {label}: warm {min(runs):.3f}s", file=sys.stderr)
        assert results["bucketed_join_shuffle"] == \
            results["bucketed_join_bucketed"], "bucketed join drifted"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for t in ("bench_orders_b", "bench_lineitem_b"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    return out


def ivm_scaling_demo(spark, sf_dir: str) -> dict[str, float]:
    """The IVM flat-cost claim, measured: per-batch maintenance wall with
    the DELTA FIXED while the maintained state grows x1/x2/x3.

    Corpus x{k}: k-1 extra copies of orders+lineitem with offset order/
    customer keys and their dates clamped into batch 1's window, so
    batches 2-4 (and in particular the TIMED final batch) carry exactly
    the base corpus's delta at every x — only the state the delta joins
    probe grows. ivm_maint_final_batch_x{k} is the timed application of
    the final delta (two broadcast joins against state + customer-
    cardinality view compaction); ivm_recompute_x{k} is the from-scratch
    join recompute on the same corpus (the reference's per-cycle answer),
    which grows linearly and is the baseline the maintenance path beats.
    Correctness asserted per x: maintained view == direct recompute,
    exact decimals."""
    from pyspark.sql import functions as F

    from redpanda_iceberg_duckdb_spark.operators.ivm_stream import (
        _REV, _batch_bounds)
    from redpanda_iceberg_duckdb_spark.streaming.ivm_sink import (
        IvmState, apply_delta, empty_state)

    out: dict[str, float] = {}
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    ostride = (o.agg(F.max("o_orderkey")).collect()[0][0] or 0) + 1
    cstride = (o.agg(F.max("o_custkey")).collect()[0][0] or 0) + 1
    for mult in (1, 2, 3):
        orders = o.select("o_orderkey", "o_custkey", "o_orderdate")
        line = li.select("l_orderkey", "l_shipdate",
                         F.expr(_REV).alias("rev"))
        for c in range(1, mult):
            orders = orders.unionByName(o.select(
                (F.col("o_orderkey") + c * ostride).alias("o_orderkey"),
                (F.col("o_custkey") + c * cstride).alias("o_custkey"),
                F.lit("1995-06-01").cast("timestamp").alias("o_orderdate")))
            line = line.unionByName(li.select(
                (F.col("l_orderkey") + c * ostride).alias("l_orderkey"),
                F.lit("1995-06-02").cast("timestamp").alias("l_shipdate"),
                F.expr(_REV).alias("rev")))

        def rng(col, lo, hi):
            cond = F.lit(True)
            if lo:
                cond = cond & (col >= F.lit(lo).cast("timestamp"))
            if hi:
                cond = cond & (col < F.lit(hi).cast("timestamp"))
            return cond

        bounds = _batch_bounds()
        state = empty_state(spark)
        for lo, hi in bounds[:-1]:   # untimed: build up the state
            nxt = apply_delta(
                state,
                orders.filter(rng(F.col("o_orderdate"), lo, hi))
                .select("o_orderkey", "o_custkey"),
                line.filter(rng(F.col("l_shipdate"), lo, hi))
                .select("l_orderkey", "rev"))
            state = IvmState(nxt.view.localCheckpoint(),
                             nxt.orders.localCheckpoint(),
                             nxt.lines.localCheckpoint())
        lo, hi = bounds[-1]
        d_o = (orders.filter(rng(F.col("o_orderdate"), lo, hi))
               .select("o_orderkey", "o_custkey").localCheckpoint())
        d_l = (line.filter(rng(F.col("l_shipdate"), lo, hi))
               .select("l_orderkey", "rev").localCheckpoint())
        t0 = time.perf_counter()
        fin = apply_delta(state, d_o, d_l)
        fin_view = fin.view.localCheckpoint()   # eager: materialize now
        out[f"ivm_maint_final_batch_x{mult}"] = round(
            time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        direct = (orders.join(line,
                              orders.o_orderkey == line.l_orderkey)
                  .groupBy(F.col("o_custkey").alias("c_custkey"))
                  .agg(F.sum("rev").cast("decimal(30,4)").alias("revenue")))
        n_direct = direct.count()
        out[f"ivm_recompute_x{mult}"] = round(time.perf_counter() - t0, 3)
        got = sorted(map(tuple, fin_view.collect()))
        want = sorted(map(tuple, direct.collect()))
        assert got == want, f"IVM drifted from direct recompute at x{mult}"
        print(f"# ivm x{mult}: maint "
              f"{out[f'ivm_maint_final_batch_x{mult}']}s vs recompute "
              f"{out[f'ivm_recompute_x{mult}']}s ({n_direct} customers)",
              file=sys.stderr)
        spark.catalog.clearCache()
    return out


def eval_tier_scaling_demo(spark, sf_dir: str) -> dict[str, float]:
    """x1-x3 replication sweep for the round-9 eval/stats tier (round-9
    verdict item 5): target_encoding_oof (orders-driven), auc_mann_whitney
    and quantile_normalize_by_type (events-driven). Copies get offset ids
    so group cardinalities scale with the corpus; near-linear (or flatter,
    idle-core-absorbed) wall ratios are the scale claim, measured."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    out: dict[str, float] = {}
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    ostride = (o.agg(F.max("o_orderkey")).collect()[0][0] or 0) + 1
    estride = (e.agg(F.max("event_id")).collect()[0][0] or 0) + 1
    ustride = (e.agg(F.max("user_id")).collect()[0][0] or 0) + 1
    tmp = tempfile.mkdtemp(prefix="eval_scale_")
    try:
        for mult in (1, 2, 3):
            d = os.path.join(tmp, f"x{mult}")
            oc = o
            ec = e
            for c in range(1, mult):
                oc = oc.unionByName(o.select(
                    (F.col("o_orderkey") + c * ostride).alias("o_orderkey"),
                    *[col for col in o.columns if col != "o_orderkey"])
                    .select(*o.columns))
                ec = ec.unionByName(e.select(
                    (F.col("event_id") + c * estride).alias("event_id"),
                    (F.col("user_id") + c * ustride).alias("user_id"),
                    *[col for col in e.columns
                      if col not in ("event_id", "user_id")])
                    .select(*e.columns))
            oc.write.mode("overwrite").parquet(
                os.path.join(d, "orders.parquet"))
            ec.write.mode("overwrite").parquet(
                os.path.join(d, "events.parquet"))
            for qname in ("target_encoding_oof", "auc_mann_whitney",
                          "quantile_normalize_by_type"):
                q = all_queries()[qname]
                if mult == 1:
                    q.fn(spark, d).count()  # untimed codegen warm-up
                t0 = time.perf_counter()
                n = q.fn(spark, d).count()
                dt = round(time.perf_counter() - t0, 3)
                out[f"evalscale_{qname}_x{mult}"] = dt
                print(f"# evalscale {qname} x{mult}: {dt}s ({n} rows)",
                      file=sys.stderr)
                spark.catalog.clearCache()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def fdr_scaling_demo(spark, sf_dir: str) -> dict[str, float]:
    """x1/x2 corpus sweep for the block-randomization resampling tier
    (round-10 verdict item 3): bh_fdr_discoveries and
    hash_permutation_test claim an O(cells x B) replicate ensemble whose
    cost is INDEPENDENT of the event count — the only full-data work is
    the one cell-aggregation pass (stats10d.py docstring). Doubling the
    events corpus (offset ids, so new rows hash into the same fixed cell
    lattice) should therefore move wall-clock by far less than 2x; this
    measures that claim rather than quoting it."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    out: dict[str, float] = {}
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    estride = (e.agg(F.max("event_id")).collect()[0][0] or 0) + 1
    ustride = (e.agg(F.max("user_id")).collect()[0][0] or 0) + 1
    tmp = tempfile.mkdtemp(prefix="fdr_scale_")
    try:
        for mult in (1, 2):
            d = os.path.join(tmp, f"x{mult}")
            ec = e
            for c in range(1, mult):
                ec = ec.unionByName(e.select(
                    (F.col("event_id") + c * estride).alias("event_id"),
                    (F.col("user_id") + c * ustride).alias("user_id"),
                    *[col for col in e.columns
                      if col not in ("event_id", "user_id")])
                    .select(*e.columns))
            ec.write.mode("overwrite").parquet(
                os.path.join(d, "events.parquet"))
            for qname in ("bh_fdr_discoveries", "hash_permutation_test"):
                q = all_queries()[qname]
                if mult == 1:
                    q.fn(spark, d).count()  # untimed codegen warm-up
                t0 = time.perf_counter()
                n = q.fn(spark, d).count()
                dt = round(time.perf_counter() - t0, 3)
                out[f"fdrscale_{qname}_x{mult}"] = dt
                print(f"# fdrscale {qname} x{mult}: {dt}s ({n} rows)",
                      file=sys.stderr)
                spark.catalog.clearCache()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def lsh_scaling_demo(spark, sf_dir: str) -> dict[str, float]:
    """Measured (not claimed) scaling of the dedup/LSH/connected-components
    path: replicate the documents corpus x1/x2/x3 with copy-tagged tokens —
    no shingle is ever shared across copies, so the true near-dup pair count
    scales exactly linearly with corpus size — and time minhash_lsh_pairs
    and dedup_clusters on each. Near-linear wall-clock ratios (x3 well under
    3x the x1 time on 32 cores, since the extra rows just fill idle task
    slots) are the docstrings' scale claim, demonstrated."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    out: dict[str, float] = {}
    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # Copy stride derived from the corpus, not a magic constant: doc_ids of
    # different copies can never collide at any SF (a collision would
    # silently corrupt the measured scaling — pair counts would stop being
    # linear in the copy count).
    stride = (base.agg(F.max("doc_id")).collect()[0][0] or 0) + 1
    tmp = tempfile.mkdtemp(prefix="lsh_scale_")
    try:
        for mult in (1, 2, 3):
            d = os.path.join(tmp, f"x{mult}")
            copies = [
                base.select(
                    (F.col("doc_id") + c * stride).alias("doc_id"),
                    F.array_join(
                        F.transform(F.split("text", " "),
                                    lambda w, _c=c: F.concat(w, F.lit(f"_{_c}"))),
                        " ").alias("text"),
                    "lang", "source", "n_chars")
                for c in range(mult)
            ]
            corpus = copies[0]
            for extra in copies[1:]:
                corpus = corpus.unionAll(extra)
            corpus.write.mode("overwrite").parquet(
                os.path.join(d, "documents.parquet"))
            # ppjoin rides the same replicated corpora: the measured
            # exact-join scaling curve next to the LSH approximation's —
            # copy-tagged tokens share nothing across copies, so both
            # candidate sets grow linearly and the curves are comparable.
            for qname in ("minhash_lsh_pairs", "dedup_clusters",
                          "ppjoin_exact_pairs"):
                q = all_queries()[qname]
                if mult == 1:
                    # untimed warm-up: first execution pays whole-stage
                    # codegen for this query shape; timing it would make x1
                    # look ~2x slower and flatter the x2/x3 ratios
                    q.fn(spark, d).count()
                t0 = time.perf_counter()
                n = q.fn(spark, d).count()
                dt = round(time.perf_counter() - t0, 3)
                out[f"scaling_{qname}_x{mult}"] = dt
                print(f"# scaling {qname} x{mult}: {dt}s ({n} rows)",
                      file=sys.stderr)
                spark.catalog.clearCache()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def pagerank_scaling_demo(spark, sf_dir: str) -> dict[str, float]:
    """Per-iteration flatness of the iterate-to-convergence graph family
    (round-7 verdict item 6). pagerank_converged and kmeans_train_converged
    run ONCE each (they are ~30 wall-seconds of driver-synchronized rounds;
    double-running them would double bench wall for no signal — each round
    is itself a warm repeated plan). PageRank additionally runs on a x2
    replicated trade graph (orders+lineitem copied with offset order/
    customer/supplier keys — two disjoint graph copies, so the convergence
    trajectory per copy is IDENTICAL to x1 and the round count is equal by
    construction): wall(x2)/wall(x1) well under 2 on idle cores is the
    measured per-iteration flatness claim — the extra vertices fill idle
    task slots instead of extending the critical path."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    out: dict[str, float] = {}
    # Warm the per-(application, dataset) edge-table cache first so the
    # convergence entry times the LOOP, not the orders-joins-lineitem
    # build — pagerank_trade_graph's own extras entry already measures
    # the build path.
    all_queries()["pagerank_trade_graph"].fn(spark, sf_dir).count()
    spark.catalog.clearCache()
    for name in ("pagerank_converged", "kmeans_train_converged"):
        q = all_queries()[name]
        t0 = time.perf_counter()
        q.fn(spark, sf_dir).count()
        out[name] = round(time.perf_counter() - t0, 3)
        print(f"# convergence {name}: {out[name]}s", file=sys.stderr)
        spark.catalog.clearCache()
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    ostride = (o.agg(F.max("o_orderkey")).collect()[0][0] or 0) + 1
    cstride = (o.agg(F.max("o_custkey")).collect()[0][0] or 0) + 1
    sstride = (li.agg(F.max("l_suppkey")).collect()[0][0] or 0) + 1
    tmp = tempfile.mkdtemp(prefix="pr_scale_")
    try:
        # Disjoint xN graph copies (offset order/customer/supplier keys):
        # identical per-copy convergence trajectory, equal round count by
        # construction, so wall(xN)/wall(x1) IS the per-iteration flatness.
        # x4 extends the x2 protocol (round-11 verdict item 6) to where
        # the graph-trio sweep already measured (commit 7c62c82).
        for scale in (2, 4):
            d = os.path.join(tmp, f"x{scale}")
            o_n = o
            li_n = li
            for c in range(1, scale):
                o_n = o_n.unionAll(o.select(
                    (F.col("o_orderkey") + c * ostride).alias("o_orderkey"),
                    (F.col("o_custkey") + c * cstride).alias("o_custkey"),
                    *[col for col in o.columns if col not in
                      ("o_orderkey", "o_custkey")]).select(*o.columns))
                li_n = li_n.unionAll(li.select(
                    (F.col("l_orderkey") + c * ostride).alias("l_orderkey"),
                    (F.col("l_suppkey") + c * sstride).alias("l_suppkey"),
                    *[col for col in li.columns if col not in
                      ("l_orderkey", "l_suppkey")]).select(*li.columns))
            o_n.write.mode("overwrite").parquet(
                os.path.join(d, "orders.parquet"))
            li_n.write.mode("overwrite").parquet(
                os.path.join(d, "lineitem.parquet"))
            q = all_queries()["pagerank_converged"]
            t0 = time.perf_counter()
            q.fn(spark, d).count()
            out[f"pagerank_converged_x{scale}"] = round(
                time.perf_counter() - t0, 3)
            print(f"# convergence pagerank_converged x{scale}: "
                  f"{out[f'pagerank_converged_x{scale}']}s", file=sys.stderr)
            spark.catalog.clearCache()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def graph_trio_scaling_demo(spark, sf_dir: str) -> dict[str, float]:
    """Per-round flatness of the round-10 iterative graph trio (k-core
    peel, label propagation, bounded-hop SSSP) on a x2 replicated dataset:
    orders+lineitem copied with offset order/customer/part/supplier keys,
    giving two DISJOINT copies of both the co-purchase graph (custkey x
    partkey) and the weighted trade graph (custkey x suppkey). Disjoint
    copies leave per-copy round trajectories identical to x1, so
    wall(xM)/wall(x1) well under M is the measured per-round scaling
    claim, the same protocol as pagerank_scaling_demo. Warm min-of-2 at
    every scale. The edge tables live in the package LRU (cache.py),
    keyed by dataset, so each scale's first call pays that dataset's
    one-off edge build; a final x1 re-warm run rebuilds the x1 entries
    if the scaled datasets' entries evicted them, so the extras loop's
    kcore/LPA timings never pay a rebuild (round-10 ADVICE)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    trio = ("kcore_degree_histogram", "label_propagation_sizes",
            "sssp_cheapest_paths")
    out: dict[str, float] = {}

    def run(name, d, tag, record=True):
        q = all_queries()[name]
        runs = []
        for _ in range(2):
            t0 = time.perf_counter()
            q.fn(spark, d).count()
            runs.append(time.perf_counter() - t0)
        if record:
            out[f"{name}_{tag}"] = round(min(runs), 3)
            print(f"# graph-trio {name} {tag}: {min(runs):.3f}s",
                  file=sys.stderr)
        spark.catalog.clearCache()

    for name in trio:
        run(name, sf_dir, "x1")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    ostride = (o.agg(F.max("o_orderkey")).collect()[0][0] or 0) + 1
    cstride = (o.agg(F.max("o_custkey")).collect()[0][0] or 0) + 1
    sstride = (li.agg(F.max("l_suppkey")).collect()[0][0] or 0) + 1
    pstride = (li.agg(F.max("l_partkey")).collect()[0][0] or 0) + 1
    tmp = tempfile.mkdtemp(prefix="graph_scale_")
    try:
        from functools import reduce as _reduce
        for mult in (2, 4):
            d = os.path.join(tmp, f"x{mult}")
            o_m = _reduce(lambda a, b: a.unionAll(b), [
                o.withColumn("o_orderkey", F.col("o_orderkey")
                             + F.lit(c * ostride))
                 .withColumn("o_custkey", F.col("o_custkey")
                             + F.lit(c * cstride))
                 .select(*o.columns) for c in range(1, mult)], o)
            li_m = _reduce(lambda a, b: a.unionAll(b), [
                li.withColumn("l_orderkey", F.col("l_orderkey")
                              + F.lit(c * ostride))
                  .withColumn("l_suppkey", F.col("l_suppkey")
                              + F.lit(c * sstride))
                  .withColumn("l_partkey", F.col("l_partkey")
                              + F.lit(c * pstride))
                  .select(*li.columns) for c in range(1, mult)], li)
            o_m.write.mode("overwrite").parquet(
                os.path.join(d, "orders.parquet"))
            li_m.write.mode("overwrite").parquet(
                os.path.join(d, "lineitem.parquet"))
            for name in trio:
                run(name, d, f"x{mult}")
        # re-warm the x1 edge cache for the extras loop (the scaled runs'
        # entries may have evicted it from the LRU)
        run(trio[0], sf_dir, "x1", record=False)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def pagerank_hot_vertex_demo(spark, sf_dir: str) -> dict[str, float]:
    """Planted-hot-vertex PageRank skew A/B (round-8 verdict stretch item):
    add 50k synthetic one-order customers to the trade graph, once with
    their edges SPREAD uniformly over all suppliers and once ALL pointed at
    a single supplier (in-degree ~50k vs a median in the hundreds). Both
    corpora have identical edge counts, so wall(hot) ≈ wall(spread) is the
    measured claim that the per-iteration groupBy(dst) absorbs a hot vertex
    via map-side partial sums — each of the 32 tasks pre-aggregates its own
    contributions to the hot node and the shuffle carries 32 partial rows,
    not 50k — with no AQE skew-split needed (the skewed side of the
    iteration JOIN is the src-partitioned edge table, which is NOT skewed;
    only the agg sees the hot dst)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    out: dict[str, float] = {}
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    n_extra = 50_000
    obase = (o.agg(F.max("o_orderkey")).collect()[0][0] or 0) + 1
    cbase = (o.agg(F.max("o_custkey")).collect()[0][0] or 0) + 1
    supps = sorted(r[0] for r in li.select("l_suppkey").distinct().collect())
    hot = supps[0]
    tmp = tempfile.mkdtemp(prefix="pr_hot_")
    try:
        for label, supp_col in [
            ("spread", F.expr(
                f"element_at(array({','.join(map(str, supps))}), "
                f"cast(id % {len(supps)} as int) + 1)")),
            ("hot", F.lit(hot)),
        ]:
            d = os.path.join(tmp, label)
            synth_o = spark.range(n_extra).select(
                (F.col("id") + obase).alias("o_orderkey"),
                (F.col("id") + cbase).alias("o_custkey"),
                *[F.lit(None).cast(dict(o.dtypes)[c]).alias(c)
                  for c in o.columns if c not in ("o_orderkey", "o_custkey")])
            synth_li = spark.range(n_extra).select(
                (F.col("id") + obase).alias("l_orderkey"),
                supp_col.cast("long").alias("l_suppkey"),
                *[F.lit(None).cast(dict(li.dtypes)[c]).alias(c)
                  for c in li.columns
                  if c not in ("l_orderkey", "l_suppkey")])
            o.unionByName(synth_o.select(*o.columns)).write.mode(
                "overwrite").parquet(os.path.join(d, "orders.parquet"))
            li.unionByName(synth_li.select(*li.columns)).write.mode(
                "overwrite").parquet(os.path.join(d, "lineitem.parquet"))
            q = all_queries()["pagerank_trade_graph"]
            q.fn(spark, d).count()      # warm-up: codegen + edge build
            t0 = time.perf_counter()
            q.fn(spark, d).count()
            out[f"pagerank_hotvertex_{label}"] = round(
                time.perf_counter() - t0, 3)
            print(f"# pagerank hot-vertex {label}: "
                  f"{out[f'pagerank_hotvertex_{label}']}s", file=sys.stderr)
            spark.catalog.clearCache()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def substring_scaling_demo(spark, sf_dir: str) -> dict[str, float]:
    """Linearity of the exact-substring dedup flow (substring_dedup.py):
    the corpus doubled with a DISJOINT-VOCABULARY copy (every word of the
    copy prefixed, doc_ids offset), so the copy shares no shingle with
    the original and the x2 run is exactly twice the x1 workload with an
    identical duplicated-span structure per copy. wall(x2)/wall(x1) well
    under 2 on idle cores is the no-pair-join linear-flow claim,
    measured. (A verbatim copy would instead make EVERY position
    duplicated — a different, worst-case workload — so the prefix is
    what keeps the comparison apples-to-apples.)"""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    out: dict[str, float] = {}
    q = all_queries()["exact_substring_spans"]
    q.fn(spark, sf_dir).count()       # warm-up: codegen + scan listing
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    q.fn(spark, sf_dir).count()
    out["substring_spans_x1"] = round(time.perf_counter() - t0, 3)
    spark.catalog.clearCache()
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stride = (d.agg(F.max("doc_id")).collect()[0][0] or 0) + 1
    copy = d.select(
        (F.col("doc_id") + stride).alias("doc_id"),
        F.concat_ws(" ", F.transform(
            F.split("text", " "), lambda w: F.concat(F.lit("zz"), w)))
        .alias("text"),
        *[c for c in d.columns if c not in ("doc_id", "text")])
    tmp = tempfile.mkdtemp(prefix="ss_scale_")
    try:
        (d.unionByName(copy.select(*d.columns))
         .write.mode("overwrite").parquet(f"{tmp}/documents.parquet"))
        t0 = time.perf_counter()
        q.fn(spark, tmp).count()
        out["substring_spans_x2"] = round(time.perf_counter() - t0, 3)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    spark.catalog.clearCache()
    print(f"# substring spans x1 {out['substring_spans_x1']}s "
          f"x2 {out['substring_spans_x2']}s", file=sys.stderr)
    return out


def triangle_scaling_demo(spark, sf_dir: str) -> dict[str, float]:
    """Scaling probe for degree-ordered triangle enumeration
    (graph/structure.py): lineitem doubled with a DISJOINT copy
    (orderkeys and partkeys offset past the originals), so the
    co-purchase graph becomes two isomorphic
    components and the x2 run is exactly twice the x1 edge/wedge
    workload. Wedge volume is the superlinear term (O(m^1.5) worst
    case); cold(x2)/cold(x1) staying near 2 on this graph shows the
    degree-ordered orientation keeps the constant small at doubled m.

    Since round 14 the oriented edge table is a cached checkpoint
    (cache.py) shared across the triangle family, so the SCALING claim
    is measured on COLD runs (edge cache cleared first — a warm re-run
    reuses checkpoint blocks and shuffle outputs and times ~0.15 s at
    any scale). The warm numbers are recorded too: triangles_x1 keeps
    its historical meaning (what a second call costs in a live session),
    *_cold carries the scaling evidence."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from redpanda_iceberg_duckdb_spark import cache

    out: dict[str, float] = {}
    q = all_queries()["clustering_coefficient_parts"]
    q.fn(spark, sf_dir).count()       # JIT/codegen warm-up
    spark.catalog.clearCache()
    cache.clear()
    t0 = time.perf_counter()
    q.fn(spark, sf_dir).count()
    out["triangles_x1_cold"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    q.fn(spark, sf_dir).count()
    out["triangles_x1"] = round(time.perf_counter() - t0, 3)
    spark.catalog.clearCache()
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    mx = li.agg(F.max("l_orderkey"), F.max("l_partkey")).collect()[0]
    so, sp = (mx[0] or 0) + 1, (mx[1] or 0) + 1
    copy = li.select(
        (F.col("l_orderkey") + so).alias("l_orderkey"),
        (F.col("l_partkey") + sp).alias("l_partkey"),
        *[c for c in li.columns if c not in ("l_orderkey", "l_partkey")])
    tmp = tempfile.mkdtemp(prefix="tri_scale_")
    try:
        (li.unionByName(copy.select(*li.columns))
         .write.mode("overwrite").parquet(f"{tmp}/lineitem.parquet"))
        # a new dataset: its edge table is a cache miss, so this is cold
        t0 = time.perf_counter()
        q.fn(spark, tmp).count()
        out["triangles_x2_cold"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        q.fn(spark, tmp).count()
        out["triangles_x2"] = round(time.perf_counter() - t0, 3)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    spark.catalog.clearCache()
    print(f"# triangles cold x1 {out['triangles_x1_cold']}s "
          f"x2 {out['triangles_x2_cold']}s | warm x1 "
          f"{out['triangles_x1']}s x2 {out['triangles_x2']}s",
          file=sys.stderr)
    return out


def hashing_vs_dictionary_demo(spark, sf_dir: str) -> dict[str, float]:
    """Measure (honestly) the hash-vs-dictionary featurization trade.
    Three paths, same output arity (token -> int feature id):
    - hash via xxhash64: the PRODUCTION hashing trick — one map-side JVM
      expression, zero coordination at any vocabulary size;
    - hash via md5-tail (what feature_hashing_collisions uses): the
      ORACLE-PARITY hash — same zero-coordination shape, paying string
      md5 cost for cross-engine verifiability;
    - dictionary: global distinct + row_number over the WHOLE vocabulary
      (a single-partition sort) + join back.
    On this corpus the vocabulary is tiny (~5k types), so the dictionary
    sort is cheap and md5's per-token cost can exceed it — the published
    numbers show exactly that. The asymmetry is in the SCALING variable:
    the hash paths scale only with corpus size (embarrassingly parallel),
    the dictionary path degrades with VOCABULARY size (its global sort
    and broadcast grow), which is what kills it on open-vocabulary
    100 TB text."""
    from pyspark.sql import Window as W, functions as F

    from redpanda_iceberg_duckdb_spark.functions.hashing import \
        md5_mod_spark
    from redpanda_iceberg_duckdb_spark.tables import load_table

    out: dict[str, float] = {}
    d = load_table(spark, sf_dir, "documents")
    toks = (d.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
            .filter(F.col("tok") != ""))

    def hashed():
        return (toks.select(F.expr(md5_mod_spark("tok", 512))
                            .alias("fid"))
                .groupBy("fid").count())

    def hashed_xx():
        return (toks.select((F.abs(F.xxhash64("tok")) % 512).alias("fid"))
                .groupBy("fid").count())

    def dictionary():
        vocab = (toks.distinct()
                 .withColumn("fid", F.row_number().over(
                     W.orderBy("tok")) % 512))
        return (toks.join(vocab, "tok")
                .groupBy("fid").count())

    for name, fn in (("feature_hash_md5_path", hashed),
                     ("feature_hash_xxhash_path", hashed_xx),
                     ("feature_dict_path", dictionary)):
        fn().count()                       # codegen warm-up
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        fn().count()
        out[name] = round(time.perf_counter() - t0, 3)
    print(f"# featurize md5 {out['feature_hash_md5_path']}s xxhash "
          f"{out['feature_hash_xxhash_path']}s dictionary "
          f"{out['feature_dict_path']}s", file=sys.stderr)
    return out


def cc_pathchoice_demo(spark, sf_dir: str) -> dict[str, float]:
    """Measure the round-14 connected_components path choice on the REAL
    near-dup edge set: the gate-bounded driver union-find vs the
    distributed min-label loop forced with driver_bound=0. The gap is the
    per-round job floor the fast path removes on small candidate graphs;
    the distributed number is what the same call costs when the gate
    does not apply (the at-scale path)."""
    from pyspark.sql import functions as F

    from redpanda_iceberg_duckdb_spark.operators.clusters import (
        connected_components)
    from redpanda_iceberg_duckdb_spark.operators.dedup import (
        minhash_lsh_pairs)

    out: dict[str, float] = {}
    pairs = minhash_lsh_pairs(spark, sf_dir).select("d1", "d2")
    pairs = pairs.localCheckpoint(eager=True)   # time CC, not the LSH build
    for name, bound in (("cc_driver_path", None), ("cc_distributed_path", 0)):
        t0 = time.perf_counter()
        kw = {} if bound is None else {"driver_bound": bound}
        n = connected_components(pairs, **kw).count()
        out[name] = round(time.perf_counter() - t0, 3)
        spark.catalog.clearCache()
    print(f"# cc driver {out['cc_driver_path']}s distributed "
          f"{out['cc_distributed_path']}s ({n} labeled nodes)",
          file=sys.stderr)
    return out


def mutual_nn_scaling_demo(spark, sf_dir: str) -> dict[str, float]:
    """Per-cell boundedness of mutual-NN: double the embeddings with a
    DISJOINT copy (vec_ids and labels offset), so cells double in number
    but not in size — the per-cell quadratic work doubles linearly.
    wall(x2)/wall(x1) near 2 is the sum-over-cells claim, measured."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    out: dict[str, float] = {}
    q = all_queries()["mutual_nn_pairs"]
    q.fn(spark, sf_dir).count()
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    q.fn(spark, sf_dir).count()
    out["mutual_nn_x1"] = round(time.perf_counter() - t0, 3)
    spark.catalog.clearCache()
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    mx = e.agg(F.max("vec_id"), F.max("label")).collect()[0]
    sv, sl = (mx[0] or 0) + 1, (mx[1] or 0) + 1
    copy = e.select((F.col("vec_id") + sv).alias("vec_id"),
                    "embedding",
                    (F.col("label") + sl).cast("int").alias("label"))
    tmp = tempfile.mkdtemp(prefix="mnn_scale_")
    try:
        (e.unionByName(copy.select(*e.columns))
         .write.mode("overwrite").parquet(f"{tmp}/embeddings.parquet"))
        t0 = time.perf_counter()
        q.fn(spark, tmp).count()
        out["mutual_nn_x2"] = round(time.perf_counter() - t0, 3)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    spark.catalog.clearCache()
    print(f"# mutual-NN x1 {out['mutual_nn_x1']}s x2 {out['mutual_nn_x2']}s",
          file=sys.stderr)
    return out


def pq_trained_demo(spark, sf_dir: str) -> dict[str, float]:
    """Trained-vs-untrained PQ delta (round-11 verdict item 4).
    pq_trained_distortion runs ONCE cold — its wall includes the full
    joint per-subspace Lloyd training (~92 rounds at sf0.1), which the
    per-(application, dataset) memo then makes marginal for every later
    trained query (the extras loop reports that warm marginal). The
    published values are the two deltas training buys: mean per-subspace
    quantization error and mean ADC recall@5 over the probe set,
    trained next to untrained."""
    out: dict[str, float] = {}
    t0 = time.perf_counter()
    rows_t = all_queries()["pq_trained_distortion"].fn(
        spark, sf_dir).collect()
    out["pq_trained_distortion_cold"] = round(time.perf_counter() - t0, 3)
    out["pq_trained_avg_sq_err"] = round(
        sum(r.avg_sq_err for r in rows_t) / len(rows_t), 6)
    rows_u = all_queries()["pq_code_distortion"].fn(spark, sf_dir).collect()
    out["pq_untrained_avg_sq_err"] = round(
        sum(r.avg_sq_err for r in rows_u) / len(rows_u), 6)
    rec_t = all_queries()["ivf_pq_trained_recall"].fn(
        spark, sf_dir).collect()
    out["ivf_pq_trained_recall_mean"] = round(
        sum(r.recall_at_5 for r in rec_t) / max(len(rec_t), 1), 6)
    rec_u = all_queries()["ivf_pq_recall_at_5"].fn(spark, sf_dir).collect()
    out["ivf_pq_untrained_recall_mean"] = round(
        sum(r.recall_at_5 for r in rec_u) / max(len(rec_u), 1), 6)
    print(f"# pq trained: cold {out['pq_trained_distortion_cold']}s, "
          f"distortion {out['pq_trained_avg_sq_err']} vs "
          f"{out['pq_untrained_avg_sq_err']} untrained, recall "
          f"{out['ivf_pq_trained_recall_mean']} vs "
          f"{out['ivf_pq_untrained_recall_mean']} untrained",
          file=sys.stderr)
    spark.catalog.clearCache()
    return out


def bpe_wordcount_demo(spark, sf_dir: str) -> dict[str, float]:
    """Measured payoff of (unique text, count) BPE training: replicate the
    documents corpus x3 as EXACT duplicates (same texts, new doc_ids) —
    the regime real web corpora live in — and time the per-row loop vs the
    weighted loop. The weighted path's per-round pair count and rewrite
    touch only the distinct texts (1/3 of the rows here), so its wall
    should sit well under the plain path's; both learn the identical
    merge table (asserted)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    out: dict[str, float] = {}
    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stride = (base.agg(F.max("doc_id")).collect()[0][0] or 0) + 1
    tmp = tempfile.mkdtemp(prefix="bpe_wc_")
    try:
        d = tmp
        corpus = base
        for c in (1, 2):
            corpus = corpus.unionAll(base.select(
                (F.col("doc_id") + c * stride).alias("doc_id"),
                *[col for col in base.columns if col != "doc_id"]))
        corpus.select(*base.columns).write.mode("overwrite").parquet(
            os.path.join(d, "documents.parquet"))
        tables = {}
        for qname in ("bpe_train_merges", "bpe_train_merges_wordcount"):
            q = all_queries()[qname]
            t0 = time.perf_counter()
            tables[qname] = sorted(map(tuple, q.fn(spark, d).collect()))
            out[f"bpe_x3dup_{qname}"] = round(time.perf_counter() - t0, 3)
            print(f"# bpe x3-dup {qname}: {out[f'bpe_x3dup_{qname}']}s",
                  file=sys.stderr)
            spark.catalog.clearCache()
        assert tables["bpe_train_merges"] == \
            tables["bpe_train_merges_wordcount"], \
            "weighted BPE learned a different merge table"
        # Tokenizer APPLY cost (round-10 verdict item 7): encoding with
        # the trained merges is the pass a production pipeline pays per
        # corpus refresh — train once, encode everything. x1 = sf_dir,
        # x3 = the duplicate-heavy corpus built above; near-linear (or
        # flatter, idle-core-absorbed) is the claim, measured.
        enc = all_queries()["bpe_encode_stats"]
        for tag, ed in (("x1", sf_dir), ("x3", d)):
            enc.fn(spark, ed).count()   # untimed warm-up: train + codegen
            t0 = time.perf_counter()
            n = enc.fn(spark, ed).count()
            out[f"bpe_encode_stats_{tag}"] = round(
                time.perf_counter() - t0, 3)
            print(f"# bpe encode {tag}: {out[f'bpe_encode_stats_{tag}']}s "
                  f"({n} rows)", file=sys.stderr)
            spark.catalog.clearCache()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def lsh_dfcap_skew_demo(spark, sf_dir: str) -> dict[str, float]:
    """Measured justification for making the df-capped LSH the headline
    path: capped vs uncapped wall-clock at x1..x5 corpus replication on a
    SYNTHETIC corpus with planted ground truth:

    - every doc = 120 doc-unique tokens + a global 180-token hot phrase, so
      the hot phrase's ~178 trigrams have document frequency = the whole
      corpus while unrelated-pair Jaccard is pinned at ~178/(120+120+178)
      = 0.43 — deterministically under the 0.5 verify threshold at EVERY x
      (a real corpus can't guarantee that: short docs let the hot phrase
      push unrelated pairs over threshold, changing the answer, not just
      cost) — while ~60% of each doc's minhash minima come from hot
      shingles, so ~0.6^4 = 13% of ALL docs share each band's mega-bucket;
    - every 10th doc gets a planted twin with IDENTICAL text (Jaccard 1.0,
      so minhash signatures are equal and candidacy is DETERMINISTIC in
      both paths — partial-overlap twins would make banding recall
      probabilistic and the equality assert flaky) — the pair set both
      paths must return, exactly.

    Hot trigrams seize ~half of each doc's minhash minima, so the uncapped
    path's band mega-buckets grow linearly in corpus size and its
    verified-then-rejected candidate count quadratically; the df cap drops
    those shingles before banding. Asserted: identical pair sets = exactly
    the planted twins. Measured: capped <= uncapped, gap widening with x."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    out: dict[str, float] = {}
    n = 1000  # originals per copy (+100 twins)
    hot = " ".join(f"s{k}" for k in range(180))
    tmp = tempfile.mkdtemp(prefix="lsh_skew_")
    try:
        for mult in (1, 2, 3, 4, 5):
            d = os.path.join(tmp, f"x{mult}")
            per_copy = []
            for c in range(mult):
                orig = spark.range(n).select(
                    F.col("id").alias("base"), F.lit(0).alias("twin"))
                twins = spark.range(0, n, 10).select(
                    F.col("id").alias("base"), F.lit(1).alias("twin"))
                ids = orig.unionAll(twins).select(
                    "base", "twin",
                    # copy-tagged so copies never share a shingle; twins sit
                    # far above every original id
                    (F.col("base") + c * n
                     + F.col("twin") * (10_000_000 + c * n)).alias("doc_id"),
                    F.lit(c).alias("copy"))
                text = F.expr(
                    "array_join(transform(sequence(0, 119), i -> "
                    "  concat('t', i, '_', base, '_', copy)), ' ')")
                per_copy.append(ids.select(
                    "doc_id",
                    F.concat_ws(" ", text, F.lit(hot)).alias("text"),
                    F.lit("en").alias("lang"),
                    F.concat(F.lit("src"), F.col("copy")).alias("source"),
                    F.length(text).alias("n_chars")))
            corpus = per_copy[0]
            for extra in per_copy[1:]:
                corpus = corpus.unionAll(extra)
            corpus.write.mode("overwrite").parquet(
                os.path.join(d, "documents.parquet"))
            pair_sets = {}
            for qname in ("minhash_lsh_pairs", "minhash_lsh_pairs_dfcap"):
                q = all_queries()[qname]
                if mult == 1:
                    q.fn(spark, d).count()  # untimed codegen warm-up
                t0 = time.perf_counter()
                pair_sets[qname] = {(r["d1"], r["d2"])
                                    for r in q.fn(spark, d).collect()}
                dt = round(time.perf_counter() - t0, 3)
                out[f"skewlsh_{qname}_x{mult}"] = dt
                print(f"# skewlsh {qname} x{mult}: {dt}s "
                      f"({len(pair_sets[qname])} pairs)", file=sys.stderr)
                spark.catalog.clearCache()
            assert (pair_sets["minhash_lsh_pairs"]
                    == pair_sets["minhash_lsh_pairs_dfcap"]), \
                f"df-cap changed the verified pair set at x{mult}"
            assert len(pair_sets["minhash_lsh_pairs"]) == mult * (n // 10), \
                f"planted twin recall broken at x{mult}"
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def skew_join_demo(spark, sf_dir: str) -> dict[str, float]:
    """Wall-clock A/B of the skew toolkit: join a hot-keyed fact (95% of
    lineitem rows share one key) against a keyed dim, plain vs salted_join,
    with auto-broadcast disabled so both run as shuffle joins (the regime
    where skew hurts; a broadcastable dim would sidestep skew entirely).
    Results are asserted identical; both timings go to the JSON so the
    skew-mitigation win is measured, not claimed."""
    import time as _t

    from pyspark.sql import functions as F

    from redpanda_iceberg_duckdb_spark.functions.skew import salted_join

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    # x8 row multiplier so the hot partition is heavy enough for the skew
    # cost to dominate scheduling noise at sf0.1 (~4.5M rows on one key).
    big = (li.select("l_orderkey", "l_extendedprice",
                     F.explode(F.array(*[F.lit(i) for i in range(8)]))
                     .alias("_r"))
           .select(
               F.when(F.pmod("l_orderkey", 100) < 95, F.lit(0))
                .otherwise(F.pmod("l_orderkey", 1000)).alias("k"),
               "l_extendedprice"))
    small = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 7 + 1).alias("w"))

    def agg(joined):
        return (joined.groupBy("w")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum(F.col("l_extendedprice")
                           .cast("decimal(18,2)")).alias("s"))
                .collect())

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out: dict[str, float] = {}
        results = {}
        for label, join_fn in [
            ("skew_join_plain", lambda: big.join(small, "k")),
            ("skew_join_salted", lambda: salted_join(big, small, "k",
                                                     salts=32)),
        ]:
            runs = []
            for _ in range(2):
                t0 = _t.perf_counter()
                results[label] = sorted(map(tuple, agg(join_fn())))
                runs.append(_t.perf_counter() - t0)
            out[label] = round(min(runs), 3)
            print(f"# {label}: warm {min(runs):.3f}s cold {max(runs):.3f}s",
                  file=sys.stderr)
        assert results["skew_join_plain"] == results["skew_join_salted"], \
            "salted join changed the result"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    return out


if __name__ == "__main__":
    main()
