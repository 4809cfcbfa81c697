"""Time-series family tests (operators/timeseries/): the periodogram's
session hygiene, per-query job and scan ceilings, and oracle parity on an
events table that spans the Unix epoch, where the two hour buckets
disagree."""

from __future__ import annotations

import datetime as dt
import re

import pytest

from redpanda_iceberg_duckdb_spark import cache
from redpanda_iceberg_duckdb_spark.registry import all_queries

from .oracle_harness import run_compare
from .table_fixtures import write_single
from .test_graph import _jobs


def test_periodogram_keeps_caller_temp_views(spark, sf_smoke):
    """The periodogram binds its frames as query arguments: session temp
    views the caller named pgram15_d and pgram15_k survive the query."""
    spark.range(3).createOrReplaceTempView("pgram15_d")
    spark.range(5).createOrReplaceTempView("pgram15_k")
    try:
        rows = all_queries()["periodogram_hourly_power"].fn(
            spark, sf_smoke).collect()
        assert [r.k for r in rows] == list(range(1, 13))
        for view, n in (("pgram15_d", 3), ("pgram15_k", 5)):
            df = spark.table(view)
            assert df.columns == ["id"] and df.count() == n, view
    finally:
        spark.catalog.dropTempView("pgram15_d")
        spark.catalog.dropTempView("pgram15_k")


# (build jobs, action jobs, "Scan parquet" nodes in the formatted plan)
# of each query whose series comes from timeseries/hourly.py, at sf0.001
# with cache.clear() before each: the maximum over 3 runs on the commit
# before the time-series modules were merged into operators/timeseries/.
# Only ever lower a ceiling.
_CEILINGS = {
    "acf_hourly_lags": (2, 6, 0),
    "binary_segmentation_splits": (11, 3, 0),
    "crosscorr_lead_lag": (2, 10, 0),
    "cusum_changepoint_hourly": (0, 7, 2),
    "dtw_hour_profiles": (0, 4, 1),
    "ewma_hourly_counts": (0, 8, 3),
    "fano_factor_burstiness": (0, 5, 1),
    "gap_fill_hourly": (0, 8, 3),
    "haar_energy_by_level": (0, 8, 2),
    "holt_linear_hourly": (0, 4, 2),
    "holt_winters_seasonal_hourly": (4, 1, 0),
    "hourly_moving_stats": (0, 8, 3),
    "m4_downsample_events": (0, 6, 2),
    "mann_kendall_trend": (0, 10, 4),
    "mase_seasonal_naive": (0, 9, 3),
    "periodogram_hourly_power": (0, 7, 4),
    "permutation_entropy_hourly": (0, 5, 4),
    "pinball_loss_eval": (0, 8, 2),
    "sax_hourly_motifs": (0, 5, 4),
    "seasonality_strength_hourly": (4, 6, 0),
    "sliding_distinct_users_24h": (0, 10, 3),
    "theilsen_hourly_trend": (3, 5, 0),
}


def test_ceilings_cover_the_timeseries_package():
    """Every query registered from operators/timeseries/ has a ceiling."""
    family = {n for n, q in all_queries().items()
              if q.fn.__module__.startswith(
                  "redpanda_iceberg_duckdb_spark.operators.timeseries.")}
    assert len(family) == 18
    assert family <= set(_CEILINGS)


@pytest.mark.parametrize("name", sorted(_CEILINGS))
def test_job_and_scan_ceiling(spark, sf_smoke, name):
    """Plan build and action run no more Spark jobs, and the formatted
    physical plan holds no more parquet scans, than the committed
    ceiling (scans counted as in test_stats.test_scan_ceiling)."""
    qs = all_queries()
    qs["q1_trade_analytics"].fn(spark, sf_smoke).collect()   # warm session
    cache.clear()
    df, build = _jobs(spark, f"ts-{name}-build",
                      lambda: qs[name].fn(spark, sf_smoke))
    mode = (spark._jvm.org.apache.spark.sql.execution
            .ExplainMode.fromString("formatted"))
    plan = df._jdf.queryExecution().explainString(mode)
    scans = len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M))
    rows, action = _jobs(spark, f"ts-{name}-action", df.collect)
    assert rows
    got = (len(build), len(action), scans)
    assert all(g <= c for g, c in zip(got, _CEILINGS[name])), (
        name, got, _CEILINGS[name])


# ------------------------------------------------ the epoch-spanning table

_T0 = dt.datetime(1969, 12, 28, tzinfo=dt.timezone.utc)
_HOURS = 8 * 24
_TYPES = ("view", "purchase", "click", "view", "purchase")


def _epoch_events():
    """Events over the 8 days centred on 1970-01-01: 0-4 events per hour
    at minutes off the hour (so every event before 1970 lands in a
    different hour under the truncating and the flooring bucket), with
    empty hours every 11th and 12th hour and one empty 6-hour stretch."""
    rows, i = [], 0
    for h in range(_HOURS):
        if h % 11 in (3, 4) or 60 <= h < 66:
            continue
        for j in range((h * 7 + h // 24) % 5):
            ts = _T0 + dt.timedelta(hours=h, minutes=(13 * i + 7) % 60,
                                    seconds=i % 60)
            rows.append((i, ts, i % 17, _TYPES[(i + h) % 5],
                         round(1.25 * i + 0.5, 2), "{}"))
            i += 1
    return rows


@pytest.fixture(scope="module")
def epoch_dir(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("epoch_events")
    df = spark.createDataFrame(
        _epoch_events(), "event_id long, ts timestamp, user_id long, "
                         "event_type string, value double, props string")
    write_single(df, out, "events")
    return str(out)


# Every query whose hour bucket or grid comes from timeseries/hourly.py.
_EPOCH_QUERIES = sorted(set(_CEILINGS) | {
    "granger_lag1_hourly", "kendall_tau_b_hourly", "ljung_box_hourly",
    "ols_hourly_trend", "pacf_durbin_levinson", "page_hinkley_hourly",
    "runs_test_hourly"})


def test_epoch_table_spans_the_epoch():
    """The planted table has events on both sides of 1970 and empty
    hours, so the two bucket expressions give different series."""
    rows = _epoch_events()
    epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
    assert sum(r[1] < epoch for r in rows) > 100
    assert sum(r[1] >= epoch for r in rows) > 100
    hours = {int((r[1] - _T0).total_seconds()) // 3600 for r in rows}
    assert len(hours) < _HOURS - 30


@pytest.mark.parametrize("name", _EPOCH_QUERIES)
def test_oracle_parity_across_the_epoch(spark, epoch_dir, name):
    """Each query matches its oracle on the epoch-spanning table: the
    Spark bucket agrees with the oracle's on both sides of 1970."""
    run_compare(spark, all_queries()[name], epoch_dir)
