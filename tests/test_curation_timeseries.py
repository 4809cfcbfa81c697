"""Semantic contracts for the curation and timeseries modules, beyond the
row-level oracle parity already covered by test_operator_oracles.py:
apportionment exactness, funnel conservation, top-p minimality, gap-fill
interpolation geometry, and the plan shapes that make these scale."""

from __future__ import annotations

from redpanda_iceberg_duckdb_spark import plans
from redpanda_iceberg_duckdb_spark.operators.curation import _BUDGET
from redpanda_iceberg_duckdb_spark.registry import all_queries


def _q(spark, sf_dir, name):
    return all_queries()[name].fn(spark, sf_dir)


def test_mixture_allocation_sums_to_budget_and_stays_within_quota(
        spark, sf_correct):
    """Largest-remainder invariants: allocations sum to the budget EXACTLY,
    and every source's allocation is within 1 of its exact real quota
    (no source is ever off by a whole seat)."""
    rows = _q(spark, sf_correct, "mixture_allocation").collect()
    total_docs = sum(r.n_docs for r in rows)
    assert sum(r.n_alloc for r in rows) == _BUDGET
    for r in rows:
        exact = _BUDGET * r.n_docs / total_docs
        assert abs(r.n_alloc - exact) < 1.0, (r.source, r.n_alloc, exact)


def test_quality_filter_funnel_conserves_corpus(spark, sf_correct):
    """First-failing-rule attribution: stage counts sum to the corpus size
    and percentages to 100; all five stages fire on this corpus."""
    rows = _q(spark, sf_correct, "quality_filter_funnel").collect()
    from redpanda_iceberg_duckdb_spark.tables import load_table
    n_docs = load_table(spark, sf_correct, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs
    assert abs(sum(r.pct for r in rows) - 100.0) < 1e-6
    assert [r.stage for r in rows] == [
        "1_too_short", "2_too_long", "3_repetitive", "4_non_english",
        "5_kept"]


def test_token_budget_topp_is_minimal_80pct_prefix(spark, sf_correct):
    """Per source: kept tokens reach >= 80% of the total, and dropping the
    lowest-quality kept document would fall below 80% (prefix minimality)."""
    rows = _q(spark, sf_correct, "token_budget_topp").collect()
    for r in rows:
        assert 5 * r.tokens_kept >= 4 * r.tot_tokens, r.source
        assert r.n_kept <= r.n_docs
    # Minimality needs the per-doc frame: recompute and check the boundary.
    from pyspark.sql import Window as W, functions as F
    from redpanda_iceberg_duckdb_spark.operators.curation import \
        _quality_spark
    from redpanda_iceberg_duckdb_spark.tables import load_table
    d = load_table(spark, sf_correct, "documents")
    q = d.select("source",
                 F.size(F.split(F.col("text"), " ")).alias("n_tok"),
                 _quality_spark().alias("quality"), "doc_id")
    wcum = (W.partitionBy("source").orderBy(F.desc("quality"), "doc_id")
            .rowsBetween(W.unboundedPreceding, W.currentRow))
    c = (q.withColumn("cum", F.sum("n_tok").over(wcum))
         .withColumn("tot", F.sum("n_tok").over(W.partitionBy("source"))))
    kept = c.filter(5 * (F.col("cum") - F.col("n_tok")) < 4 * F.col("tot"))
    wlast = W.partitionBy("source").orderBy(F.desc("cum"))
    last = (kept.withColumn("rn", F.row_number().over(wlast))
            .filter(F.col("rn") == 1).collect())
    by_src = {r.source: r for r in rows}
    for r in last:
        assert r.cum == by_src[r.source].tokens_kept
        # with the boundary doc the budget is met ...
        assert 5 * r.cum >= 4 * r.tot
        # ... and without it the prefix falls below 80% (minimality)
        assert 5 * (r.cum - r.n_tok) < 4 * r.tot


def test_hash_sample_plans_window_group_limit(spark, sf_correct):
    """The rn <= k filter must plan as WindowGroupLimit (partial top-k on
    the map side) — the property that keeps k-per-group sampling from
    materializing whole groups at 100 TB."""
    df = _q(spark, sf_correct, "hash_sample_per_source")
    assert "WindowGroupLimit" in plans.physical_plan(df)
    rows = df.collect()
    from collections import Counter
    per_src = Counter(r.source for r in rows)
    assert all(v == 5 for v in per_src.values())
    # reproducible: same result on a second run
    again = _q(spark, sf_correct, "hash_sample_per_source").collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_curation_pipeline_never_exceeds_source_counts(spark, sf_correct):
    """Monotonicity of the pipeline: per source,
    n_final <= n_after_dedup <= raw docs."""
    from pyspark.sql import functions as F
    from redpanda_iceberg_duckdb_spark.tables import load_table
    raw = {r.source: r.n for r in
           load_table(spark, sf_correct, "documents")
           .groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    for r in _q(spark, sf_correct, "curation_pipeline_stats").collect():
        assert r.n_final <= r.n_after_dedup <= raw[r.source]


def test_gap_fill_geometry(spark, sf_smoke):
    """Gap-fill invariants on real gaps (sf0.001 has ~2.7k empty grid
    hours): zero-filled hours have null v but carried/interp values once
    inside the observed span; interp lies between its bracketing observed
    values; observed hours pass through untouched."""
    rows = _q(spark, sf_smoke, "gap_fill_hourly").collect()
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    n_gaps = sum(1 for r in rows if r.n_events == 0)
    assert n_gaps > 100  # the fixture genuinely exercises filling
    for seq in by_type.values():
        seq.sort(key=lambda r: r.hour)
        last_obs = None
        for r in seq:
            if r.n_events > 0:
                assert r.carried_avg is not None
                assert r.interp_avg == r.carried_avg  # observed: v itself
                last_obs = r.carried_avg
            else:
                assert r.carried_avg == last_obs  # forward fill (or None)
        # interp bounded by bracketing observations
        obs_idx = [i for i, r in enumerate(seq) if r.n_events > 0]
        for a, b in zip(obs_idx, obs_idx[1:]):
            lo = min(seq[a].interp_avg, seq[b].interp_avg)
            hi = max(seq[a].interp_avg, seq[b].interp_avg)
            for i in range(a + 1, b):
                assert lo - 1e-9 <= seq[i].interp_avg <= hi + 1e-9


def test_timeseries_windows_run_over_preaggregated_grid(spark, sf_smoke):
    """The moving-stats window must consume the (type, hour) aggregate, not
    raw events: a HashAggregate feeds the Window, and the events scan prunes
    to the three columns the grid needs."""
    df = _q(spark, sf_smoke, "hourly_moving_stats")
    plan = plans.physical_plan(df)
    assert "Window" in plan and "HashAggregate" in plan
    schema = plans.scan_read_schema(df, "events")
    assert "props" not in schema and "user_id" not in schema


def test_path_trigrams_plans_takeordered_and_single_exchange(
        spark, sf_smoke):
    """The top-20 must plan as TakeOrderedAndProject (no global sort), and
    the only wide exchange is the user_id window shuffle plus the trigram
    hash aggregate — no join, no extra sort of raw events."""
    df = _q(spark, sf_smoke, "event_path_trigrams")
    plan = plans.physical_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan


def test_transition_probabilities_sum_to_one(spark, sf_correct):
    rows = _q(spark, sf_correct, "event_type_transitions").collect()
    from collections import defaultdict
    by_src = defaultdict(float)
    for r in rows:
        by_src[r.src] += r.p_transition
    for src, tot in by_src.items():
        assert abs(tot - 1.0) < 1e-4, (src, tot)


def test_mad_and_chi2_invariants(spark, sf_correct):
    """MAD is positive and outliers are a strict minority per type; the
    chi-square statistic is non-negative with dof = (R-1)(C-1) over the
    5-priority x 12-month contingency."""
    rows = _q(spark, sf_correct, "mad_outliers_by_type").collect()
    assert len(rows) == 5
    for r in rows:
        assert r.mad > 0
        assert 0 <= r.n_outliers < r.n / 10
    c = _q(spark, sf_correct, "chi2_priority_seasonality").collect()[0]
    assert c.chi2 >= 0
    assert c.dof == (c.n_rows - 1) * (c.n_cols - 1)
    assert c.n_cells == c.n_rows * c.n_cols


def test_curation_pipeline_single_corpus_exchange(spark, sf_smoke):
    """The dedup step must be a window rank (WindowGroupLimit partial
    top-1), not an aggregate joined back: no Join node and exactly one
    exchange of the corpus-sized frame (the final |sources| rollup adds a
    second, dimension-sized one)."""
    df = _q(spark, sf_smoke, "curation_pipeline_stats")
    plan = plans.physical_plan(df)
    assert "WindowGroupLimit" in plan
    assert "Join" not in plan


def test_corr_and_ols_invariants(spark, sf_correct):
    """Pearson r bounded in [-1, 1]; OLS r2 in [0, 1]; the fitted line
    passes through the mean point (intercept = ybar - slope*xbar)."""
    for r in _q(spark, sf_correct, "corr_value_props_by_type").collect():
        assert -1.0 <= r.pearson_r <= 1.0, r
    from pyspark.sql import functions as F
    from redpanda_iceberg_duckdb_spark.operators.timeseries.hourly import \
        filled_grid as _filled_grid
    means = {r.event_type: (r.xbar, r.ybar) for r in
             _filled_grid(spark, sf_correct)
             .groupBy("event_type")
             .agg(F.avg("rn").alias("xbar"),
                  F.avg("n_events").alias("ybar")).collect()}
    for r in _q(spark, sf_correct, "ols_hourly_trend").collect():
        assert 0.0 <= r.r2 <= 1.0, r
        xbar, ybar = means[r.event_type]
        assert abs(r.intercept - (ybar - r.slope_per_hour * xbar)) < 1e-3


def test_ewma_bounded_and_identity_on_first_row(spark, sf_correct):
    """EWMA is a weighted average, so it lies within [min, max] of its
    window; the first grid row's window is itself, so ewma == n_events."""
    rows = _q(spark, sf_correct, "ewma_hourly_counts").collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for etype, series in by_type.items():
        series.sort(key=lambda r: r.hour)
        assert series[0].ewma == float(series[0].n_events), etype
        for i, r in enumerate(series):
            window = [x.n_events for x in series[max(0, i - 15):i + 1]]
            assert min(window) - 1e-9 <= r.ewma <= max(window) + 1e-9, r
