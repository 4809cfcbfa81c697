"""Driver-style oracle parity for the six reference queries (SURVEY.md 2.11)."""

from __future__ import annotations

import datetime as dt

import pytest

from redpanda_iceberg_duckdb_spark.registry import all_queries

from .oracle_harness import run_compare
from .table_fixtures import write_single

REF = [n for n, q in all_queries().items() if "reference" in q.tags]


@pytest.mark.parametrize("name", REF)
def test_reference_query_oracle_smoke(spark, sf_smoke, name):
    run_compare(spark, all_queries()[name], sf_smoke)


@pytest.mark.parametrize("name", REF)
def test_reference_query_oracle_sf001(spark, sf_correct, name):
    run_compare(spark, all_queries()[name], sf_correct)


_T0 = dt.datetime(2024, 1, 1, 12, 0, 0)


def _event(i, event_type, user_id):
    return (i, _T0 + dt.timedelta(minutes=7 * i), user_id, event_type,
            round(1.25 * i + 0.5, 2), "{}")


_EDGE_EVENTS = {
    "empty": [],
    "null_event_type": [_event(i, (None, "click", "view", None)[i % 4], i % 5)
                        for i in range(40)],
    "null_user_id": [_event(i, ("click", "view", "buy")[i % 3], None)
                     for i in range(30)],
}


@pytest.mark.parametrize("case", sorted(_EDGE_EVENTS))
@pytest.mark.parametrize("name", REF)
def test_reference_query_edge_events(spark, tmp_path, name, case):
    """Oracle parity on an empty table, NULL event types and all-NULL
    user ids. Pins Q6's COALESCE(sum(n), 0) on an empty table and
    count(event_type) over per-type groups standing in for
    COUNT(DISTINCT event_type)."""
    df = spark.createDataFrame(
        _EDGE_EVENTS[case], "event_id long, ts timestamp, user_id long, "
                            "event_type string, value double, props string")
    write_single(df, tmp_path, "events")
    run_compare(spark, all_queries()[name], str(tmp_path))
