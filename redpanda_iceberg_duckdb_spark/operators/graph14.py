"""Double-sweep diameter lower bound on the rare-part co-purchase graph
(Magnien/Latapy/Habib 2009 — the standard way to bound a giant graph's
diameter without all-pairs BFS): BFS from a landmark, take the FARTHEST
node found, BFS again from there; the second eccentricity is a lower
bound that is exact on trees and empirically tight on real graphs.

Reuses the memoized co-purchase edge graph (graph10d.copurchase_edges —
the same build k-core, label propagation, and the landmark BFS iterate
over) and graph10b's frontier-join BFS discipline: each hop is ONE
co-partitioned join + an anti-join against the visited set,
localCheckpoint per round to bound lineage. Both sweeps are capped at
6 hops (capped eccentricity — the giant-graph convention; the cap
is part of the declared semantics, not a silent truncation). Tiebreak
for the farthest node: (max distance, min node id), so both engines pick
the identical second source. The one driver-side value is that single
(node, d) row — the bounded-scalar collect convention.

Scale stance (100 TB): 2 x 6 frontier joins over the shared
checkpointed edge list; the only global data motion is the per-hop
equi-join shuffle; outputs are a 1-row summary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import register

_HOPS = 6

_DS_ORACLE = f"""
WITH RECURSIVE baskets AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
rare AS (SELECT p FROM baskets GROUP BY p HAVING count(*) <= 25),
e AS (SELECT DISTINCT a.c AS src, b.c AS dst
      FROM baskets a JOIN rare r ON r.p = a.p
      JOIN baskets b ON b.p = a.p AND b.c <> a.c),
lm AS (SELECT min(src) AS c FROM e),
w1(node, d) AS (
  SELECT c, 0 FROM lm
  UNION
  SELECT e.dst, w1.d + 1 FROM w1 JOIN e ON e.src = w1.node
  WHERE w1.d < {_HOPS}),
d1 AS (SELECT node, min(d) AS d FROM w1 GROUP BY node),
far AS (SELECT node, d FROM d1 ORDER BY d DESC, node LIMIT 1),
w2(node, d) AS (
  SELECT node, 0 FROM far
  UNION
  SELECT e.dst, w2.d + 1 FROM w2 JOIN e ON e.src = w2.node
  WHERE w2.d < {_HOPS}),
d2 AS (SELECT node, min(d) AS d FROM w2 GROUP BY node)
SELECT (SELECT c FROM lm) AS landmark,
       (SELECT cast(max(d) AS bigint) FROM d1) AS ecc_landmark,
       (SELECT node FROM far) AS far_node,
       (SELECT cast(max(d) AS bigint) FROM d2) AS diameter_lb,
       (SELECT cast(count(*) AS bigint) FROM d2) AS n_reached"""


@register(
    "double_sweep_diameter",
    oracle=_DS_ORACLE,
    tags=("graph", "iterative", "scale-pattern"),
)
def double_sweep_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(landmark, ecc_landmark, far_node, diameter_lb, n_reached):
    hop-capped double-sweep BFS diameter lower bound (module
    docstring)."""
    from ..session import iterate_partitions, pinned_shuffle_partitions
    from .graph10d import copurchase_join_strategy

    # r16 (verdict item 2): the r15 broadcast hints (frontier/visited are
    # O(V) iterates behind stat-less checkpointed RDDs — without a hint
    # the planner re-shuffled the WHOLE edge table by src every hop) are
    # now gated on the measured vertex count; above the gate the edge
    # table is hash-partitioned by src once (pay-once layout, guide §2.4
    # — the pre-bucketing fallback r15 only promised in this comment) and
    # each hop shuffles only the iterate side.
    edges, hint = copurchase_join_strategy(spark, sf_dir)

    def bfs(source_df: DataFrame) -> DataFrame:
        dist = source_df.select("c", F.lit(0).alias("d"))
        frontier = dist
        for k in range(1, _HOPS + 1):
            nxt = (edges.join(hint(frontier),
                              frontier["c"] == edges["src"])
                   .select(F.col("dst").alias("c")).distinct()
                   .join(hint(dist.select("c")), "c", "left_anti")
                   .withColumn("d", F.lit(k))
                   .localCheckpoint())      # bound the iterative plan depth
            dist = dist.union(nxt)
            frontier = nxt
        return dist

    lm = edges.agg(F.min("src").alias("c"))
    # r15 optimization (guide §2.2): the per-hop frontier/visited frames
    # are O(V) iterates, far smaller than the corpus width the session
    # shuffle count is sized for — run both sweeps at the loop width
    # (scale-adaptive, session.iterate_partitions) instead of paying
    # 12 rounds x full-width task launch. Measured at sf0.1/local[32]:
    # 7.8 -> 3.4 s warm.
    with pinned_shuffle_partitions(spark, iterate_partitions(spark)):
        d1 = bfs(lm.select("c"))
        # The single driver-side row: the farthest node of sweep 1 (max d,
        # min node) — bounded-scalar collect, the offsets convention.
        far = (d1.orderBy(F.desc("d"), "c").limit(1).collect())[0]
        d2 = bfs(edges.sparkSession.createDataFrame([(int(far["c"]),)],
                                                    "c long"))
    s1 = d1.agg(F.max("d").alias("ecc_landmark"))
    s2 = d2.agg(F.max("d").cast("long").alias("diameter_lb"),
                F.count(F.lit(1)).cast("long").alias("n_reached"))
    return (lm.select(F.col("c").alias("landmark"))
            .crossJoin(F.broadcast(s1.select(
                F.col("ecc_landmark").cast("long").alias("ecc_landmark"))))
            .withColumn("far_node", F.lit(int(far["c"])))
            .crossJoin(F.broadcast(s2))
            .select("landmark", "ecc_landmark", "far_node",
                    "diameter_lb", "n_reached"))
