"""Traversal queries: BFS hop histogram, double-sweep diameter bound,
shortest-path counts (sigma), bounded-hop SSSP, k-core peeling and label
propagation — six driver-stepped loops on one round driver.

Round driver (``run_rounds``). Each loop keeps a small O(V) iterate
(frontier, survivor set, labels, distances) and joins it against a
memoized edge table every round. The driver owns the loop discipline:

- the rounds run at the loop shuffle width
  (``pinned_shuffle_partitions(spark, iterate_partitions(spark))``), not
  at the session width sized for corpus scans — measured at sf0.1 on
  local[32], 1.7-2.5x faster per loop;
- each round's frame is cut from its lineage with ONE eager
  ``localCheckpoint``, so the plan does not deepen round by round;
- an optional early-exit rule is asked after each round.

Joins go through ``edges.iterate_join_strategy``: under the vertex-count
gate the iterate side is broadcast and the edge table never moves; above
it the edge table is pre-partitioned once and only the iterate shuffles.

Every query has a fixed round cap that is part of its declared semantics
(hop caps, peel and relaxation rounds), and its DuckDB oracle unrolls the
identical rounds — as a recursive CTE for BFS, as chained MATERIALIZED
CTEs otherwise (inlined, DuckDB's plan goes exponential in the round
count: 288 s at sf0.001 vs milliseconds materialized). All values are
exact integers (hops, counts, ids, min-cents distances).

- **BFS** (rare-part co-purchase graph): from the landmark (smallest
  customer id in the graph), each hop is one join against the frontier
  plus an anti-join against the visited set (``expand_frontier``);
  unreachable customers report hop -1.
- **Double sweep** (Magnien/Latapy/Habib 2009): BFS from the landmark,
  then again from the farthest node found (max distance, min id); the
  second eccentricity is a diameter lower bound, exact on trees. The one
  driver-side value is that (node, d) row.
- **Sigma** (the forward pass of Brandes' betweenness): a node first
  reached at level k has sigma = the sum of sigma over its level-(k-1)
  neighbors — the number of distinct shortest landmark paths reaching it.
  Exact bigints (<= deg^6 under the rare-part cap); the dependency
  accumulation would divide them, so it is left to callers.
- **SSSP** (Bellman-Ford on the trade graph): edges weighted by the
  cheapest line ever traded between the pair (min extendedprice cents),
  source the smallest node id; dist_{i+1}(v) = min(dist_i(v), min over
  edges (dist_i(u) + w)). Relaxation is idempotent at the fixpoint, so 6
  rounds mean "cheapest cost within <= 6 hops".
- **k-core** (Seidman 1983): delete vertices of degree < K until the
  remainder is the K-core, in at most 8 peel rounds. Peeling is
  idempotent at the fixpoint, so the early exit (a round removed nothing)
  is bit-equal to the oracle's fully unrolled rounds.
- **Label propagation** (Raghavan, Hu & Albert 2007): labels start at the
  vertex id; each synchronous round every vertex adopts the modal label of
  its neighbors, ties to the SMALLEST label (the paper's random tie-break
  replaced by min so both engines agree). The output histogram of
  community sizes is invariant to label identity churn.
"""

from __future__ import annotations

from functools import reduce
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ...cache import data_fingerprint
from ...registry import register
from ...session import iterate_partitions, pinned_shuffle_partitions
from ...tables import load_table
from .edges import (_COPURCHASE_SQL, copurchase_join_strategy,
                    iterate_join_strategy, vertex_count)

_BFS_HOPS = 4
_SWEEP_HOPS = 6    # double sweep and sigma
_SSSP_ROUNDS = 6
_TOPK = 10
_K = 3             # core order
_PEELS = 8         # peel-round cap (idempotent past the fixpoint)
_LPA_ROUNDS = 4

Step = Callable[[list[DataFrame]], DataFrame]


def run_rounds(spark: SparkSession, start: DataFrame, step: Step,
               rounds: int,
               stop: Callable[[list[DataFrame]], bool] | None = None,
               ) -> list[DataFrame]:
    """Run up to ``rounds`` rounds of ``step`` at the loop shuffle width
    and return every round's frame, ``start`` (round 0) first.
    ``step(frames)`` builds the next round from the frames so far; the
    driver cuts its lineage with one eager localCheckpoint. ``stop``, if
    given, is asked after each round and ends the loop when true."""
    with pinned_shuffle_partitions(spark, iterate_partitions(spark)):
        frames = [start]
        for _ in range(rounds):
            frames.append(step(frames).localCheckpoint(eager=True))
            if stop is not None and stop(frames):
                break
    return frames


def expand_frontier(edges: DataFrame,
                    hint: Callable[[DataFrame], DataFrame]) -> Step:
    """BFS step over (c, d) frames: the neighbors of the last frontier
    that no earlier round visited, at distance = the round number."""
    def step(frames: list[DataFrame]) -> DataFrame:
        frontier = frames[-1]
        visited = reduce(DataFrame.union, frames).select("c")
        return (edges.join(hint(frontier), frontier["c"] == edges["src"])
                .select(F.col("dst").alias("c")).distinct()
                .join(hint(visited), "c", "left_anti")
                .withColumn("d", F.lit(len(frames))))
    return step


def _bfs_oracle() -> str:
    return f"""
WITH RECURSIVE {_COPURCHASE_SQL},
nodes AS (SELECT DISTINCT c FROM baskets),
lm AS (SELECT min(src) AS c FROM e),
walk(node, d) AS (
  SELECT c, 0 FROM lm
  UNION
  SELECT e.dst, walk.d + 1 FROM walk JOIN e ON e.src = walk.node
  WHERE walk.d < {_BFS_HOPS}),
dist AS (SELECT node, min(d) AS d FROM walk GROUP BY node)
SELECT coalesce(d.d, -1) AS hops,
       cast(count(*) AS bigint) AS n_customers
FROM nodes n LEFT JOIN dist d ON d.node = n.c
GROUP BY 1 ORDER BY 1"""


@register(
    "bfs_hop_distance",
    oracle=_bfs_oracle(),
    tags=("graph", "iterative", "scale-pattern"),
)
def bfs_hop_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(hops, n_customers): BFS hop histogram from the landmark customer
    over the rare-part co-purchase graph, 4 frontier rounds, unreachable =
    -1 (module docstring)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    baskets = (li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
               .select(F.col("o_custkey").alias("c"),
                       F.col("l_partkey").alias("p"))
               .distinct())
    edges, hint = copurchase_join_strategy(spark, sf_dir)
    nodes = baskets.select("c").distinct()
    lm = edges.agg(F.min("src").alias("lmc"))
    start = (nodes.join(F.broadcast(lm), nodes["c"] == F.col("lmc"))
             .select("c", F.lit(0).alias("d")))
    dist = reduce(DataFrame.union, run_rounds(
        spark, start, expand_frontier(edges, hint), _BFS_HOPS))
    return (nodes.join(dist, "c", "left")
            .select(F.coalesce("d", F.lit(-1)).alias("hops"))
            .groupBy("hops")
            .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
            .orderBy("hops"))


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
  WHERE w1.d < {_SWEEP_HOPS}),
d1 AS (SELECT node, min(d) AS d FROM w1 GROUP BY node),
far AS (SELECT node, d FROM d1 ORDER BY d DESC, node LIMIT 1),
w2(node, d) AS (
  SELECT node, 0 FROM far
  UNION
  SELECT e.dst, w2.d + 1 FROM w2 JOIN e ON e.src = w2.node
  WHERE w2.d < {_SWEEP_HOPS}),
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
    edges, hint = copurchase_join_strategy(spark, sf_dir)

    def sweep(source: DataFrame) -> DataFrame:
        return reduce(DataFrame.union, run_rounds(
            spark, source.select("c", F.lit(0).alias("d")),
            expand_frontier(edges, hint), _SWEEP_HOPS))

    lm = edges.agg(F.min("src").alias("c"))
    d1 = sweep(lm.select("c"))
    far = int(d1.orderBy(F.desc("d"), "c").limit(1).collect()[0]["c"])
    d2 = sweep(spark.createDataFrame([(far,)], "c long"))
    s1 = d1.agg(F.max("d").alias("ecc_landmark"))
    s2 = d2.agg(F.max("d").cast("long").alias("diameter_lb"),
                F.count(F.lit(1)).cast("long").alias("n_reached"))
    return (lm.select(F.col("c").alias("landmark"))
            .crossJoin(F.broadcast(s1.select(
                F.col("ecc_landmark").cast("long").alias("ecc_landmark"))))
            .withColumn("far_node", F.lit(far))
            .crossJoin(F.broadcast(s2))
            .select("landmark", "ecc_landmark", "far_node",
                    "diameter_lb", "n_reached"))


_SIGMA_ORACLE = f"""
WITH {_COPURCHASE_SQL},
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
    edges, hint = copurchase_join_strategy(spark, sf_dir)
    lm = edges.agg(F.min("src").alias("node")).select(
        "node", F.lit(1).cast("long").alias("sig"))

    def level(frames: list[DataFrame]) -> DataFrame:
        prev = frames[-1].select(F.col("node").alias("src"), "sig")
        settled = reduce(DataFrame.union, [f.select("node") for f in frames])
        return (edges.join(hint(prev), "src")
                .join(hint(settled),
                      edges["dst"] == settled["node"], "left_anti")
                .groupBy(F.col("dst").alias("node"))
                .agg(F.sum("sig").cast("long").alias("sig")))

    levels = run_rounds(spark, lm.localCheckpoint(eager=True), level,
                        _SWEEP_HOPS)
    lev = reduce(DataFrame.union, [
        lk.select(F.lit(k).alias("level"), "node", "sig")
        for k, lk in enumerate(levels)])
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


def _sssp_oracle() -> str:
    rounds = []
    prev = "d0"
    for i in range(1, _SSSP_ROUNDS + 1):
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
    oracle=_sssp_oracle(),
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
    fp = ("trade_sssp", data_fingerprint(sf_dir, "orders", "lineitem"))
    e, hint = iterate_join_strategy(
        spark, e, "src", vertex_count(spark, e, "src", fp), fp)
    lm = e.agg(F.min("src").alias("n"))
    start = (e.join(F.broadcast(lm), e["src"] == F.col("n"))
             .select(F.col("n").alias("node")).distinct()
             .select("node", F.lit(0).cast("long").alias("dist")))

    def relax(frames: list[DataFrame]) -> DataFrame:
        d = frames[-1]
        relaxed = (e.join(hint(d), d["node"] == e["src"])
                   .select(F.col("dst").alias("node"),
                           (F.col("dist") + F.col("w")).alias("dist")))
        return (relaxed.unionByName(d)
                .groupBy("node").agg(F.min("dist").alias("dist")))

    d = run_rounds(spark, start, relax, _SSSP_ROUNDS)[-1]
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


def _kcore_oracle() -> str:
    rounds = []
    prev = "v0"
    for i in range(1, _PEELS + 1):
        # MATERIALIZED: each v{i} is referenced twice by the next round's
        # degree count (module docstring).
        rounds.append(f"""
d{i} AS MATERIALIZED (
  SELECT e.src AS c, count(*) AS dg
  FROM e JOIN {prev} a ON a.c = e.src JOIN {prev} b ON b.c = e.dst
  GROUP BY 1),
v{i} AS MATERIALIZED (SELECT c FROM d{i} WHERE dg >= {_K})""")
        prev = f"v{i}"
    return f"""
WITH {_COPURCHASE_SQL},
v0 AS (SELECT DISTINCT src AS c FROM e),{','.join(rounds)},
dfin AS (
  SELECT e.src AS c, count(*) AS dg
  FROM e JOIN {prev} a ON a.c = e.src JOIN {prev} b ON b.c = e.dst
  GROUP BY 1)
SELECT cast(dg AS bigint) AS core_degree,
       cast(count(*) AS bigint) AS n_customers
FROM dfin GROUP BY 1 ORDER BY 1"""


@register(
    "kcore_degree_histogram",
    oracle=_kcore_oracle(),
    tags=("graph", "iterative", "scale-pattern"),
)
def kcore_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(core_degree, n_customers): within-core degree histogram of the
    3-core after <= 8 peel rounds over the rare-part co-purchase graph,
    leaving early when a round removes nothing (module docstring)."""
    edges, hint = copurchase_join_strategy(spark, sf_dir)

    def _deg(surv: DataFrame) -> DataFrame:
        # Above the gate the dst leg is a plain shuffle join.
        return (edges
                .join(hint(surv.withColumnRenamed("c", "src")), "src")
                .join(hint(surv.withColumnRenamed("c", "dst")), "dst")
                .groupBy("src").agg(F.count(F.lit(1)).alias("dg")))

    def peel(frames: list[DataFrame]) -> DataFrame:
        return (_deg(frames[-1]).filter(F.col("dg") >= _K)
                .select(F.col("src").alias("c")))

    start = (edges.select(F.col("src").alias("c")).distinct()
             .localCheckpoint())
    sizes = [start.count()]

    def stalled(frames: list[DataFrame]) -> bool:
        sizes.append(frames[-1].count())   # one scalar job per round
        return sizes[-1] == sizes[-2]

    v = run_rounds(spark, start, peel, _PEELS, stalled)[-1]
    return (_deg(v)
            .select(F.col("dg").cast("long").alias("core_degree"))
            .groupBy("core_degree")
            .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
            .orderBy("core_degree"))


def _lpa_oracle() -> str:
    rounds = []
    prev = "l0"
    for i in range(1, _LPA_ROUNDS + 1):
        rounds.append(f"""
s{i} AS (
  SELECT e.dst AS node, l.label, count(*) AS cnt
  FROM e JOIN {prev} l ON l.node = e.src GROUP BY 1, 2),
l{i} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node
                              ORDER BY cnt DESC, label ASC) AS rn
    FROM s{i}) WHERE rn = 1)""")
        prev = f"l{i}"
    return f"""
WITH {_COPURCHASE_SQL},
l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),{','.join(rounds)},
sizes AS (SELECT label, count(*) AS sz FROM {prev} GROUP BY 1)
SELECT cast(sz AS bigint) AS community_size,
       cast(count(*) AS bigint) AS n_communities
FROM sizes GROUP BY 1 ORDER BY 1"""


@register(
    "label_propagation_sizes",
    oracle=_lpa_oracle(),
    tags=("graph", "iterative", "scale-pattern"),
)
def label_propagation_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(community_size, n_communities): community-size histogram after 4
    synchronous min-tie-break label-propagation rounds over the rare-part
    co-purchase graph (module docstring)."""
    edges, hint = copurchase_join_strategy(spark, sf_dir)
    start = (edges.select(F.col("src").alias("node")).distinct()
             .withColumn("label", F.col("node")))

    def propagate(frames: list[DataFrame]) -> DataFrame:
        scores = (edges
                  .join(hint(frames[-1].withColumnRenamed("node", "src")),
                        "src")
                  .groupBy(F.col("dst").alias("node"), "label")
                  .agg(F.count(F.lit(1)).alias("cnt")))
        # argmax(cnt, ties -> min label) as ONE struct-max aggregate: the
        # (max cnt, max -label) ordering of a struct max IS the mode with
        # min tie-break, and the second agg re-uses the first's shuffle.
        return (scores
                .groupBy("node")
                .agg(F.max(F.struct(F.col("cnt"),
                                    (-F.col("label")).alias("nl")))
                     .alias("m"))
                .select("node", (-F.col("m.nl")).alias("label")))

    labels = run_rounds(spark, start, propagate, _LPA_ROUNDS)[-1]
    return (labels.groupBy("label").agg(F.count(F.lit(1)).alias("sz"))
            .groupBy(F.col("sz").cast("long").alias("community_size"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_communities"))
            .orderBy("community_size"))
