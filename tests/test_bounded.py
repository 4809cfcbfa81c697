"""Key-bounded results finished in one partition (bounded.small_result):
job and scan gates, and the ORDER BY the oracle harness cannot see."""

from __future__ import annotations

import re

import pytest

from redpanda_iceberg_duckdb_spark import cache, plans
from redpanda_iceberg_duckdb_spark.registry import all_queries

from .test_graph import _jobs

REF = [n for n, q in all_queries().items() if "reference" in q.tags]
SORTED = ["q1_trade_analytics", "q3_verification_agg", "tpch_q1_pricing_summary"]


@pytest.mark.parametrize("name", REF + ["tpch_q1_pricing_summary"])
def test_bounded_query_job_count(spark, sf_smoke, name):
    """Over three runs at sf0.001, the plan build runs no Spark job and the
    action at most two: one map stage and one result stage. A range
    exchange (sampling job) or a second shuffle would add one."""
    q = all_queries()[name]
    all_queries()["q1_trade_analytics"].fn(spark, sf_smoke).collect()  # warm session
    counts = []
    for run in range(3):
        cache.clear()
        df, build = _jobs(spark, f"bounded-{name}-build-{run}",
                          lambda: q.fn(spark, sf_smoke))
        rows, action = _jobs(spark, f"bounded-{name}-action-{run}", df.collect)
        assert rows
        counts.append((len(build), len(action)))
    assert max(b for b, _ in counts) == 0 and max(a for _, a in counts) <= 2, (
        name, counts)


def test_q6_scans_events_once(spark, sf_smoke):
    """All four Q6 values come from one per-type pass over ``events``."""
    plan = plans.physical_plan(all_queries()["q6_summary_union"].fn(spark, sf_smoke))
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1


@pytest.mark.parametrize("name", SORTED)
def test_sorted_result_plans_no_range_exchange(spark, sf_smoke, name):
    plan = plans.physical_plan(all_queries()[name].fn(spark, sf_smoke))
    assert "rangepartitioning" not in plan.lower()


@pytest.mark.parametrize("name", SORTED)
def test_sorted_result_order(spark, sf_correct, name):
    """The collected rows keep the oracle's ORDER BY (run_compare sorts
    both sides, so it does not check the order)."""
    rows = all_queries()[name].fn(spark, sf_correct).collect()
    assert len(rows) > 1
    if name == "tpch_q1_pricing_summary":
        keys = [(r.l_returnflag, r.l_linestatus) for r in rows]
        assert keys == sorted(keys)
    else:
        vols = [r.total_volume for r in rows]
        assert vols == sorted(vols, reverse=True)
