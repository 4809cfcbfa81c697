"""Plan-doctor sweep: every query in the CURRENT driver verify window
must pass the codified plan audit (plans/doctor.py) — cartesians,
global-sort windows, row-at-a-time Python UDFs, and unpushed scan
predicates are flagged by default and tolerated only via an explicit
per-query allowlist with a stated reason.

This generalizes the one-at-a-time gates in test_plans.py: a NEW query
entering the window is audited automatically, without anyone remembering
to write its gate.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod
from redpanda_iceberg_duckdb_spark.plans import doctor
from redpanda_iceberg_duckdb_spark.registry import all_queries

_OFFSETS = ("offsets window over the per-partition/bucket count table "
            "(partition-count rows, the stable_row_ids_two_phase pattern)")
_CURVE = "cumulative/lag window over a curve- or grid-bounded frame"

# (code, reason) tolerances, one list for the window audit and the
# whole-registry sweep. A query absent here must audit clean.
ALLOW: dict[str, dict[str, str]] = {
    # 1x1 scalar combines compile to a cartesian of single-row frames.
    "funnel_view_click_purchase": {
        "cartesian": "final 1x1x1 combine of per-step scalar aggregates"},
    # The BH rank is a global row_number over the m=10 p-value rows.
    "bh_fdr_discoveries": {
        "global-window": "offsets window over the per-partition/bucket "
                         "count table (m=10 hypothesis rows, the "
                         "stable_row_ids_two_phase pattern)"},
    # Curve-/histogram-sized frames: the window input is a groupBy
    # reduction bounded by distinct durations / scores / segments, the
    # accepted offsets pattern (scale8.stable_row_ids_two_phase).
    "average_precision_purchases": {
        "global-window": "offsets window over the score histogram (KBs)"},
    "nelson_aalen_hazard": {
        "global-window": "cumulative window over the distinct-duration "
                         "curve table"},
    "sax_hourly_motifs": {
        "global-window": "lead window over 4-hour PAA segments "
                         "(time-range-bounded)"},
    "runs_test_hourly": {
        "global-window": "lag over the time-range-bounded hourly grid "
                         "(run-boundary detection)"},
    "cramer_von_mises_value": {
        "global-window": "cumulative window over the distinct-value curve "
                         "table (price-lattice-bounded)"},
    "cox_ph_converged": {
        "global-window": "descending cumulative over the distinct-"
                         "duration curve table (retention-window-bounded)"},
    "logrank_signup_conversion": {
        "global-window": "descending cumulative over the distinct-"
                         "duration curve table (cox13's shared shape)"},
    "permutation_entropy_hourly": {
        "global-window": "lead window over the zero-filled hourly grid "
                         "(time-range-bounded; child is already a 1-row-"
                         "aggregate explode)"},
    "page_hinkley_hourly": {
        "global-window": "cumulative/running-min windows over the dense "
                         "hourly grid (time-range-bounded)"},
    "anderson_darling_value": {
        "global-window": "ECDF cumulative over the distinct-cents value "
                         "lattice (ks_two_sample's bounded domain)"},
    # From the round-14 inaugural full sweep: 37 initial findings -> 9 exempted by the
    # doctor's plan-proven-bounded rule (a GlobalLimit /
    # TakeOrderedAndProject below the window), 2 fixed for real (the
    # UDTFs now run Arrow-batched), 26 recorded after reading each query.
    # two-phase global-rank offsets pattern:
    "auc_mann_whitney": {"global-window": _OFFSETS},
    "epoch_shuffle_ranks": {"global-window": _OFFSETS},
    "gini_customer_spend": {"global-window": _OFFSETS},
    "qini_uplift_deciles": {"global-window": _OFFSETS},
    "quantile_normalize_by_type": {"global-window": _OFFSETS},
    "stable_row_ids_two_phase": {"global-window": _OFFSETS},
    "token_block_assignment": {"global-window": _OFFSETS},
    "sorted_neighborhood_pairs": {
        "global-window": "offsets window over the 256-row first-byte "
                         "bucket totals (SNM's global order itself is "
                         "two-phase, never single-partition)"},
    # curve-/grid-bounded window inputs:
    "binary_segmentation_splits": {"global-window": _CURVE + " (hour grid)"},
    "decision_stump_hour_split": {"global-window": _CURVE + " (24 hods)"},
    "equi_depth_deciles": {"global-window": _CURVE + " (value buckets)"},
    "kaplan_meier_conversion": {
        "global-window": _CURVE + " (distinct durations)"},
    "kruskal_wallis_value": {"global-window": _CURVE + " (value lattice)"},
    "ks_two_sample_value": {"global-window": _CURVE + " (value lattice)"},
    "max_concurrent_open_lines": {
        "global-window": _CURVE + " (year-month grid)"},
    "snapshot_retention_audit": {
        "global-window": _CURVE + " (table versions)"},
    "sprt_sequential_decision": {"global-window": _CURVE + " (day grid)"},
    # handful-of-rows aggregate frames:
    "benford_price_digits": {
        "global-window": "window over the 9-row leading-digit histogram"},
    "quality_filter_funnel": {
        "global-window": "window over the filter-stage funnel rows"},
    "target_encoding_oof": {
        "global-window": "marginals over the key x fold cell grid "
                         "(priorities x folds, dozens of rows)"},
    "mixture_allocation": {
        "global-window": "largest-remainder rank over per-source rows"},
    "mixture_resample": {
        "global-window": "largest-remainder rank over per-source rows"},
    "neyman_allocation": {
        "global-window": "largest-remainder rank over per-type rows"},
    "temperature_mixture_allocation": {
        "global-window": "largest-remainder rank over per-source rows"},
    # documented single-sort bottleneck with the scale path stated in the
    # query docstring (score within hash-bucketed strata at 100 TB):
    "rfm_segments": {
        "global-window": "unpartitioned NTILE over the per-customer "
                         "rollup; docstring states the bucketed-stratum "
                         "variant for extreme cardinality"},
}

_WINDOW = [n for n in (entry_mod._VERIFY_FIRST
                       + entry_mod._PENDING_NEXT_WINDOW)
           # Streaming replays drive a full availableNow stream inside the
           # builder; their returned frame is a tiny telemetry table whose
           # plan says nothing about the streaming job — skip. Names not
           # yet registered (window slots pre-declared for queries being
           # built this round) are skipped here; the driver's
           # _ordered_queries applies the same existence filter.
           if "replay" not in n and n in all_queries()]


@pytest.mark.parametrize("name", _WINDOW)
def test_window_query_plan_audit(spark, sf_smoke, name):
    q = all_queries()[name]
    allow = tuple(ALLOW.get(name, {}))
    found = doctor.audit(q.fn(spark, sf_smoke), allow=allow)
    assert not found, (name, found)


# Whole-registry sweep (round-13 verdict item 8): every registered query,
# not just the current window — older queries were audited when they
# ENTERED a window, but a Spark upgrade can shift their plans without
# touching their fingerprints. Slow (~minutes at sf0.001), so gated behind
# `pytest -m plandoctor_full` (deselected by default via pytest.ini);
# run it once per round / after any Spark version bump.
_FULL = sorted(n for n in all_queries() if "replay" not in n)


@pytest.mark.plandoctor_full
@pytest.mark.parametrize("name", _FULL)
def test_full_registry_plan_audit(spark, sf_smoke, name):
    q = all_queries()[name]
    allow = tuple(ALLOW.get(name, {}))
    found = doctor.audit(q.fn(spark, sf_smoke), allow=allow)
    assert not found, (name, found)
