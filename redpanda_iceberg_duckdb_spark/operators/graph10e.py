"""Bounded-hop single-source shortest paths (Bellman-Ford relaxation) over
the weighted customer-supplier trade graph — the weighted-distance closer
of the graph tier (BFS gives hops, PageRank gives centrality; this gives
cheapest-path cost; reference has no graph surface, its 498 lines delegate
to DuckDB SQL).

Graph: bipartite customer<->supplier edges from orders x lineitem with the
graphrank node convention (2c / 2s+1), weighted by the CHEAPEST line ever
traded between the pair (min extendedprice cents — an exact bigint), made
symmetric. Source: the smallest node id. R = 6 synchronous relaxation
rounds: dist_{i+1}(v) = min(dist_i(v), min over edges (dist_i(u) + w)).
Like the k-core peel, relaxation is IDEMPOTENT at the fixpoint, so a fixed
round count is a complete semantics ("cheapest cost within <= 6 hops") and
both engines unroll the identical rounds — the oracle as chained
MATERIALIZED CTEs (inlined, DuckDB's plan goes exponential in R; same
lesson as graph10d, measured there).

At 100 TB: each round is ONE co-partitioned hash join edges-to-frontier +
one map-side-combinable min aggregate; no driver scalar inside the loop at
all (the landmark is one broadcast min). Distances stay exact bigints
(6 hops x max cents ~ 6e7, far inside int64). Output is order-stable:
top-10 closest nodes by (dist, node) + one summary row with the reached
count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..registry import register
from ..tables import load_table

_ROUNDS = 6
_TOPK = 10


def _oracle() -> str:
    rounds = []
    prev = "d0"
    for i in range(1, _ROUNDS + 1):
        rounds.append(f"""
d{i} AS MATERIALIZED (
  SELECT node, min(dist) AS dist FROM (
    SELECT e.dst AS node, d.dist + e.w AS dist
    FROM {prev} d JOIN e ON e.src = d.node
    UNION ALL SELECT node, dist FROM {prev})
  GROUP BY 1)""")
        prev = f"d{i}"
    return f"""
WITH ew AS (
  SELECT o.o_custkey AS c, l.l_suppkey AS s,
         min(cast(floor(l.l_extendedprice * 100) AS bigint)) AS w
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2),
e AS (
  SELECT 2 * c AS src, 2 * s + 1 AS dst, w FROM ew
  UNION ALL
  SELECT 2 * s + 1 AS src, 2 * c AS dst, w FROM ew),
lm AS (SELECT min(src) AS n FROM e),
d0 AS (SELECT n AS node, cast(0 AS bigint) AS dist FROM lm),{','.join(rounds)},
top AS (
  SELECT node, dist, row_number() OVER (ORDER BY dist, node) AS rnk
  FROM {prev})
SELECT cast(rnk AS int) AS rnk, cast(node AS bigint) AS node_id, dist
FROM top WHERE rnk <= {_TOPK}
UNION ALL
SELECT {_TOPK + 1}, -1, (SELECT count(*) FROM {prev})
ORDER BY rnk"""


@register(
    "sssp_cheapest_paths",
    oracle=_oracle(),
    tags=("graph", "iterative", "scale-pattern"),
)
def sssp_cheapest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(rnk, node_id, dist): the 10 cheapest-to-reach trade-graph nodes
    from the landmark after 6 Bellman-Ford relaxation rounds on exact
    min-cents edge weights, plus a (rnk=11, node_id=-1) row carrying the
    reached-node count (module docstring)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ew = (li.join(o, li["l_orderkey"] == o["o_orderkey"])
          .groupBy(F.col("o_custkey").alias("c"),
                   F.col("l_suppkey").alias("s"))
          .agg(F.min(F.floor(F.col("l_extendedprice") * 100).cast("long"))
               .alias("w")))
    e = (ew.select((F.col("c") * 2).alias("src"),
                   (F.col("s") * 2 + 1).alias("dst"), "w")
         .unionAll(ew.select((F.col("s") * 2 + 1).alias("src"),
                             (F.col("c") * 2).alias("dst"), "w"))
         .localCheckpoint(eager=False))  # 6 reuses: cut the lineage once
    from ..cache import data_fingerprint
    from ..session import iterate_partitions, pinned_shuffle_partitions
    from .graph_iterate import iterate_join_strategy, vertex_count

    # r16 (verdict item 2): the r15 broadcast hint on the O(V) distance
    # iterate is gated on the measured trade-graph vertex count (memoized
    # per dataset — one count job shared by repeated calls); above the
    # gate the weighted edge table is hash-partitioned by src once and
    # each relaxation round shuffles only the iterate.
    fp = ("trade_sssp", data_fingerprint(sf_dir, "orders", "lineitem"))
    e, hint = iterate_join_strategy(
        spark, e, "src", vertex_count(spark, e, "src", fp), fp)

    lm = e.agg(F.min("src").alias("n"))
    d = (e.join(F.broadcast(lm), e["src"] == F.col("n"))
         .select(F.col("n").alias("node")).distinct()
         .select("node", F.lit(0).cast("long").alias("dist")))
    # r15 optimization (guide §2.2): the distance table is an O(V)
    # iterate — run the 6 relaxation rounds at the loop shuffle width
    # (session.iterate_partitions, scale-adaptive) instead of full
    # session width per rung. Measured at sf0.1/local[32]: 6.1 -> 2.4 s
    # warm.
    with pinned_shuffle_partitions(spark, iterate_partitions(spark)):
        for _ in range(_ROUNDS):
            relaxed = (e.join(hint(d), d["node"] == e["src"])
                       .select(F.col("dst").alias("node"),
                               (F.col("dist") + F.col("w")).alias("dist")))
            d = (relaxed.unionByName(d)
                 .groupBy("node").agg(F.min("dist").alias("dist"))
                 .localCheckpoint())   # bound the iterative plan depth
    top = (d.orderBy("dist", "node").limit(_TOPK)
           .withColumn("rnk", F.row_number().over(
               W.orderBy("dist", "node"))))  # k rows only: no global sort
    reach = d.agg(F.count(F.lit(1)).alias("cnt"))
    summary = reach.select(F.lit(_TOPK + 1).alias("rnk"),
                           F.lit(-1).cast("long").alias("node_id"),
                           F.col("cnt").cast("long").alias("dist"))
    return (top.select(F.col("rnk").cast("int"),
                       F.col("node").cast("long").alias("node_id"), "dist")
            .unionByName(summary)
            .orderBy("rnk"))
