"""Stats-family tests (operators/stats/): the two-phase running sum against
a NumPy cumsum, PACF's session hygiene, a per-query scan ceiling, and the
ratchet on round-named operator modules."""

from __future__ import annotations

import os
import re

import numpy as np
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from redpanda_iceberg_duckdb_spark.operators.stats import rank
from redpanda_iceberg_duckdb_spark.registry import all_queries

_WIDTH = 4  # stands in for rank._BUCKET, so small keys span many buckets

# (partition, order key, t, u) rows. Keys repeat (ties), spread over
# [-40, 200] with width-4 buckets (so most buckets are empty), and half
# the draws land exactly on a bucket boundary.
_rows = st.lists(
    st.tuples(st.sampled_from(["a", "b", "c"]),
              st.one_of(st.integers(-40, 200),
                        st.integers(-10, 50).map(lambda k: k * _WIDTH)),
              st.integers(1, 3), st.integers(0, 5)),
    min_size=1, max_size=80)


def _reference(rows, partitioned):
    """Sorted (p, k, t, u, cum_t, cum_u) rows: NumPy cumsums in key order,
    every row of a tied key taking the cumsum through the last of them."""
    out = []
    for g in sorted({r[0] for r in rows} if partitioned else {None}):
        part = sorted((r for r in rows if g is None or r[0] == g),
                      key=lambda r: r[1])
        keys = np.array([r[1] for r in part])
        last = np.searchsorted(keys, keys, side="right") - 1
        cum_t = np.cumsum([r[2] for r in part])[last]
        cum_u = np.cumsum([r[3] for r in part])[last]
        out += [(*r, int(a), int(b)) for r, a, b in zip(part, cum_t, cum_u)]
    return sorted(out)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(rows=_rows, partitioned=st.booleans())
@example(rows=[("a", 0, 2, 1), ("a", 4, 2, 0), ("a", 4, 1, 5),
               ("a", 8, 2, 2), ("a", 40, 3, 0), ("b", 12, 1, 1)],
         partitioned=True)
@example(rows=[("a", 0, 2, 1), ("a", 4, 2, 0), ("b", 7, 1, 5),
               ("c", 8, 2, 2), ("c", 40, 3, 0), ("c", -5, 1, 1)],
         partitioned=False)
def test_running_sums_match_numpy_cumsum(spark, rows, partitioned):
    """running_sums == a NumPy cumsum, with and without a partition key:
    the input columns plus one inclusive sum per name."""
    df = spark.createDataFrame(rows, "p string, k long, t long, u long")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(rank, "_BUCKET", _WIDTH)
        got = rank.running_sums(df, "k", by=("p",) if partitioned else (),
                                cum_t="t", cum_u="u")
        assert got.columns == ["p", "k", "t", "u", "cum_t", "cum_u"]
        assert sorted(map(tuple, got.collect())) \
            == _reference(rows, partitioned)


def test_pacf_keeps_caller_temp_view(spark, sf_smoke):
    """PACF binds its 1-row autocorrelation frame as a query argument: a
    session temp view the caller named pacf15_r survives the query."""
    spark.range(3).createOrReplaceTempView("pacf15_r")
    try:
        rows = all_queries()["pacf_durbin_levinson"].fn(
            spark, sf_smoke).collect()
        assert [r.lag for r in rows] == [1, 2, 3, 4, 5]
        view = spark.table("pacf15_r")
        assert view.columns == ["id"] and view.count() == 3
    finally:
        spark.catalog.dropTempView("pacf15_r")


# Parquet scans in the formatted plan of each stats query (plus timeseries10's
# ACF and cross-correlation, which share the dense hourly builder) at
# sf0.001, measured on the commit before the stats modules were merged
# into operators/stats/. Queries that checkpoint during plan build scan 0
# here. Only ever lower a ceiling.
_SCAN_CEILINGS = {
    "acf_hourly_lags": 0,
    "anderson_darling_value": 1,
    "anova_f_oneway": 1,
    "bh_fdr_discoveries": 0,
    "boxcox_loglik_grid": 1,
    "brown_forsythe_variance": 2,
    "cochran_armitage_trend": 2,
    "crosscorr_lead_lag": 0,
    "eb_shrunken_user_rates": 2,
    "friedman_test_type_day": 8,
    "granger_lag1_hourly": 4,
    "hash_permutation_test": 2,
    "hodges_lehmann_quantity_shift": 0,
    "kendall_tau_b_hourly": 4,
    "kruskal_wallis_value": 8,
    "ks_two_sample_value": 6,
    "ljung_box_hourly": 0,
    "mahalanobis_outliers_topk": 2,
    "mann_kendall_trend": 4,
    "mcnemar_purchase_halves": 1,
    "negative_binomial_fit_by_type": 1,
    "pacf_durbin_levinson": 0,
    "page_hinkley_hourly": 0,
    "runs_test_hourly": 2,
    "spearman_value_hour": 4,
    "trimmed_winsorized_means": 2,
    "weighted_jaccard_sources": 3,
    "welch_ttest_value": 1,
    "wilson_ci_weekend_share": 1,
}


def test_scan_ceilings_cover_the_stats_package():
    """Every query registered from operators/stats/ has a scan ceiling."""
    stats = {n for n, q in all_queries().items()
             if q.fn.__module__.startswith(
                 "redpanda_iceberg_duckdb_spark.operators.stats.")}
    assert len(stats) == 27
    assert stats <= set(_SCAN_CEILINGS)


@pytest.mark.parametrize("name", sorted(_SCAN_CEILINGS))
def test_scan_ceiling(spark, sf_smoke, name):
    """The formatted physical plan scans parquet no more often than the
    committed ceiling (one "(N) Scan parquet" header per scan node, as
    tools/scan_audit.py counts them)."""
    df = all_queries()[name].fn(spark, sf_smoke)
    mode = (spark._jvm.org.apache.spark.sql.execution
            .ExplainMode.fromString("formatted"))
    plan = df._jdf.queryExecution().explainString(mode)
    scans = len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M))
    assert scans <= _SCAN_CEILINGS[name], (name, scans)


_OPERATORS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "redpanda_iceberg_duckdb_spark", "operators")


def test_round_named_operator_modules_only_shrink():
    """Operator modules named for the round that added them (`nblm10`,
    `lm15`) stay at or below 82: new code lands in a domain module."""
    named = [f for _, _, files in os.walk(_OPERATORS) for f in files
             if re.search(r"\d+[a-z]?\.py$", f)]
    assert len(named) <= 82, sorted(named)
