"""Shortest-path DAG path counting (the sigma of Brandes' betweenness
algorithm) from a landmark on the co-purchase graph — the multiplicity
layer the BFS family lacks: bfs_hop_distance says HOW FAR nodes are,
sigma says HOW MANY distinct shortest routes reach them (redundancy /
bottleneck structure; the forward half of betweenness centrality).

sigma(v) = number of distinct shortest s->v paths: level 0 is the
landmark (sigma = 1); a node first reached at level k has
sigma(v) = sum of sigma over its level-(k-1) neighbors. All counts are
exact bigints — the full Brandes dependency accumulation would divide
sigmas (rationals whose float summation order differs between engines),
so this query reports the exact-integer forward pass and leaves the
one-divide-per-node readout to callers.

Hop cap 6 (the declared bounded-eccentricity convention shared with
double_sweep_diameter). Overflow: sigma multiplies branching factors,
<= deg^6 under the rare-part cap — far inside int64 here; the cap is
the guard.

Scale stance (100 TB): 6 frontier equi-joins + partial aggregates over
the shared checkpointed edge list with an anti-join against the
settled set per hop — the graph10b BFS discipline, plus one 7-row
per-level rollup and a deterministic top-10.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import register
from .graph10d import _edges_sql, copurchase_join_strategy

_HOPS = 6

_SIGMA_ORACLE = f"""
WITH {_edges_sql()},
lm AS (SELECT min(src) AS s FROM e),
l0 AS MATERIALIZED (SELECT s AS node, cast(1 AS bigint) AS sig FROM lm),
v0 AS (SELECT node FROM l0),
l1 AS MATERIALIZED (
  SELECT e.dst AS node, cast(sum(l0.sig) AS bigint) AS sig
  FROM l0 JOIN e ON e.src = l0.node
  WHERE e.dst NOT IN (SELECT node FROM v0) GROUP BY e.dst),
v1 AS (SELECT node FROM v0 UNION ALL SELECT node FROM l1),
l2 AS MATERIALIZED (
  SELECT e.dst AS node, cast(sum(l1.sig) AS bigint) AS sig
  FROM l1 JOIN e ON e.src = l1.node
  WHERE e.dst NOT IN (SELECT node FROM v1) GROUP BY e.dst),
v2 AS (SELECT node FROM v1 UNION ALL SELECT node FROM l2),
l3 AS MATERIALIZED (
  SELECT e.dst AS node, cast(sum(l2.sig) AS bigint) AS sig
  FROM l2 JOIN e ON e.src = l2.node
  WHERE e.dst NOT IN (SELECT node FROM v2) GROUP BY e.dst),
v3 AS (SELECT node FROM v2 UNION ALL SELECT node FROM l3),
l4 AS MATERIALIZED (
  SELECT e.dst AS node, cast(sum(l3.sig) AS bigint) AS sig
  FROM l3 JOIN e ON e.src = l3.node
  WHERE e.dst NOT IN (SELECT node FROM v3) GROUP BY e.dst),
v4 AS (SELECT node FROM v3 UNION ALL SELECT node FROM l4),
l5 AS MATERIALIZED (
  SELECT e.dst AS node, cast(sum(l4.sig) AS bigint) AS sig
  FROM l4 JOIN e ON e.src = l4.node
  WHERE e.dst NOT IN (SELECT node FROM v4) GROUP BY e.dst),
v5 AS (SELECT node FROM v4 UNION ALL SELECT node FROM l5),
l6 AS MATERIALIZED (
  SELECT e.dst AS node, cast(sum(l5.sig) AS bigint) AS sig
  FROM l5 JOIN e ON e.src = l5.node
  WHERE e.dst NOT IN (SELECT node FROM v5) GROUP BY e.dst),
lev AS (
  SELECT 0 AS level, node, sig FROM l0
  UNION ALL SELECT 1, node, sig FROM l1
  UNION ALL SELECT 2, node, sig FROM l2
  UNION ALL SELECT 3, node, sig FROM l3
  UNION ALL SELECT 4, node, sig FROM l4
  UNION ALL SELECT 5, node, sig FROM l5
  UNION ALL SELECT 6, node, sig FROM l6),
per AS MATERIALIZED (
  SELECT level, cast(count(*) AS bigint) AS n_nodes,
         cast(sum(sig) AS bigint) AS sigma_total,
         cast(max(sig) AS bigint) AS sigma_max
  FROM lev GROUP BY level),
am AS (SELECT lev.level, cast(min(lev.node) AS bigint) AS argmax_node
       FROM lev JOIN per ON per.level = lev.level
                        AND lev.sig = per.sigma_max
       GROUP BY lev.level)
SELECT cast(per.level AS int) AS level, n_nodes, sigma_total, sigma_max,
       argmax_node
FROM per JOIN am ON am.level = per.level ORDER BY level"""


@register(
    "shortest_path_dag_sigma",
    oracle=_SIGMA_ORACLE,
    tags=("graph", "centrality", "iterative"),
)
def shortest_path_dag_sigma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(level, n_nodes, sigma_total, sigma_max, argmax_node): exact
    shortest-path counts per BFS level from the min-id landmark, 6-hop
    cap (module docstring)."""
    from ..session import iterate_partitions, pinned_shuffle_partitions

    # r16 (verdict item 2): level/settled broadcast hints gated on the
    # measured vertex count; above the gate the edge table is
    # hash-partitioned by src once and only the O(V) iterate shuffles
    # per level (graph_iterate module docstring).
    edges, hint = copurchase_join_strategy(spark, sf_dir)
    lm = edges.agg(F.min("src").alias("node")).select(
        "node", F.lit(1).cast("long").alias("sig"))
    # r15 optimization (guide §2.2): per-level frames are O(V) iterates;
    # run the 6 frontier rounds at the loop shuffle width
    # (session.iterate_partitions, scale-adaptive) instead of 7 rounds x
    # full session width of task launches. Measured at sf0.1/local[32]:
    # 2.4 -> 1.4 s warm.
    with pinned_shuffle_partitions(spark, iterate_partitions(spark)):
        levels = [lm.localCheckpoint(eager=True)]
        settled = levels[0].select("node")
        for _ in range(1, _HOPS + 1):
            prev = levels[-1].select(F.col("node").alias("src"), "sig")
            nxt = (edges.join(hint(prev), "src")
                   .join(hint(settled),
                         edges["dst"] == settled["node"], "left_anti")
                   .groupBy(F.col("dst").alias("node"))
                   .agg(F.sum("sig").cast("long").alias("sig"))
                   .localCheckpoint(eager=True))
            levels.append(nxt)
            settled = settled.union(nxt.select("node"))
    lev = None
    for k, lk in enumerate(levels):
        part = lk.select(F.lit(k).alias("level"), "node", "sig")
        lev = part if lev is None else lev.union(part)
    per = (lev.groupBy("level")
           .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"),
                F.sum("sig").cast("long").alias("sigma_total"),
                F.max("sig").cast("long").alias("sigma_max")))
    argm = (lev.join(per.select("level",
                                F.col("sigma_max").alias("mx")), "level")
            .filter(F.col("sig") == F.col("mx"))
            .groupBy("level")
            .agg(F.min("node").cast("long").alias("argmax_node")))
    return (per.join(argm, "level")
            .select(F.col("level").cast("int").alias("level"),
                    "n_nodes", "sigma_total", "sigma_max", "argmax_node")
            .orderBy("level"))
