"""Graph-family tests (operators/graph/): job-count sentinels for the
driver-stepped loops."""

from __future__ import annotations

import pytest

from redpanda_iceberg_duckdb_spark import cache
from redpanda_iceberg_duckdb_spark.registry import all_queries

# (build jobs, action jobs): the maximum over three runs at sf0.001 on a
# warmed local[4] session, cache cleared before each query, measured on
# the commit before the graph modules were merged into operators/graph/.
# Counts vary by a few build jobs from run to run (35-38 for BFS). Only
# ever lower a ceiling.
_JOB_CEILINGS = {
    "pagerank_converged": (213, 1),
    "double_sweep_diameter": (50, 7),
    "bfs_hop_distance": (38, 12),
}


def _jobs(spark, group, fn):
    """(fn(), ids of the Spark jobs it ran) inside job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


@pytest.mark.parametrize("name", sorted(_JOB_CEILINGS))
def test_loop_job_count_sentinel(spark, sf_smoke, name):
    """Plan build and action of a graph loop run no more Spark jobs than
    the committed ceiling."""
    qs = all_queries()
    qs["q1_trade_analytics"].fn(spark, sf_smoke).collect()   # warm session
    cache.clear()
    df, build = _jobs(spark, f"sentinel-{name}-build",
                      lambda: qs[name].fn(spark, sf_smoke))
    rows, action = _jobs(spark, f"sentinel-{name}-action", df.collect)
    assert rows
    max_build, max_action = _JOB_CEILINGS[name]
    assert len(build) <= max_build and len(action) <= max_action, (
        name, len(build), len(action))
