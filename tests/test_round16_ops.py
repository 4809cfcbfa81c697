"""Round-16 optimization pins: the gated broadcast-iterate strategy in the
graph loops (verdict item 2) and the matryoshka prefix-dot conversion
(verdict item 3)."""

from __future__ import annotations

import re

import pytest

from pyspark.sql import functions as F

from redpanda_iceberg_duckdb_spark import plans
from redpanda_iceberg_duckdb_spark.operators.graph import edges as graph_edges
from redpanda_iceberg_duckdb_spark.registry import all_queries


def _node_headers(plan: str, op: str) -> int:
    return len(re.findall(rf"(?m)^\(\d+\)\s+{op}\b", plan))


def test_iterate_join_strategy_plan_shapes(spark):
    """Under the gate the per-round join is a BroadcastHashJoin; above it
    the edge side is pre-partitioned (pay-once) and ONLY the iterate side
    shuffles — the plan-level contract of
    graph.edges.iterate_join_strategy."""
    edges = (spark.range(2000)
             .select((F.col("id") % 97).alias("src"),
                     (F.col("id") % 89).alias("dst"))
             .localCheckpoint())          # stat-less, like the real loops
    it = (spark.range(50).select(F.col("id").alias("src"))
          .localCheckpoint())

    e1, hint1 = graph_edges.iterate_join_strategy(
        spark, edges, "src", 50, ("t16", "under"))
    p1 = plans.physical_plan(e1.join(hint1(it), "src"))
    assert "BroadcastHashJoin" in p1
    assert "Exchange hashpartitioning" not in p1   # edge table never moves

    e2, hint2 = graph_edges.iterate_join_strategy(
        spark, edges, "src", graph_edges.ITERATE_BROADCAST_BOUND + 1,
        ("t16", "over"))
    # Emulate the above-gate regime honestly: at real scale the iterate's
    # stats exceed autoBroadcastJoinThreshold so the planner cannot
    # auto-broadcast it; the 50-row test iterate WOULD be, so disable the
    # threshold for the plan capture.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p2 = plans.physical_plan(e2.join(hint2(it), "src"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "BroadcastHashJoin" not in p2
    # the checkpointed layout records hashpartitioning(src, N) ...
    assert re.search(r"ExistingRDD, hashpartitioning\(src", p2), p2[:1500]
    # ... so exactly ONE shuffle remains: the iterate side moving INTO the
    # edge partitioning (formatted explain lists each node twice — count
    # node headers, not substrings)
    assert _node_headers(p2, "Exchange") == 1, p2[:1500]


_GATED = ["bfs_hop_distance", "kcore_degree_histogram",
          "label_propagation_sizes", "sssp_cheapest_paths",
          "double_sweep_diameter", "shortest_path_dag_sigma"]


@pytest.mark.parametrize("name", _GATED)
def test_gated_graph_loops_both_paths_agree(spark, sf_smoke, name,
                                            monkeypatch):
    """Mirror of test_property_components: the broadcast path (default —
    every local SF is far under the gate) and the forced pre-partitioned
    fallback (bound=0, the 100 TB path) must produce identical rows."""
    q = all_queries()[name]
    bcast = sorted(map(tuple, q.fn(spark, sf_smoke).collect()))
    monkeypatch.setattr(graph_edges, "ITERATE_BROADCAST_BOUND", 0)
    fallback = sorted(map(tuple, q.fn(spark, sf_smoke).collect()))
    assert bcast == fallback, name


def test_matryoshka_ships_candidates_once(spark, sf_smoke):
    """r16 shape (verdict item 3): the last pair-expanding Arrow boundary
    is gone — the query block rides a broadcast variable into ONE
    mapInPandas over the candidate scan; no BroadcastNestedLoopJoin, and
    the query embedding column never appears in the plan."""
    df = all_queries()["matryoshka_recall_curve"].fn(spark, sf_smoke)
    plan = plans.physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" in plan
    assert "qe#" not in plan
