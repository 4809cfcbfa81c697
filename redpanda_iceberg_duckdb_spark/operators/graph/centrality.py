"""Centrality queries: integer-scaled PageRank (fixed rounds, to
convergence, and personalized) on the trade graph, HITS on the purchase
bipartite graph and truncated Katz on the rare-part co-purchase graph.

Integer PageRank. Floating-point PageRank is not cross-engine
reproducible (partial-sum order changes the low bits, and rank ORDERING
can flip on near-ties), so the recurrence is defined over scaled BIGINTs:

    r_0(v)     = 1_000_000
    r_{t+1}(v) = teleport(v) + sum_{u->v} (85 * (r_t(u) div outdeg(u))) div 100

(damping 0.85, scale 10^6, floor division at each step; teleport(v) is
150_000 everywhere, or only at the seeds for personalized PageRank). Both
engines run the same integer recurrence, so ranks match bit for bit.
Floor-division loss is at most outdeg units per node per round. Each
round is ONE equi-join (edges x ranks on src) plus one groupBy(dst) with
map-side partial sums (``pagerank_step``); ``ranked_output`` takes a
distributed top-20 (TakeOrderedAndProject) and ranks only the survivors
with a window, never a global single-partition window over all nodes.

HITS (Kleinberg, JACM 1999) on the customer->part purchase graph:
authority(part) = sum of buyer hub scores, hub(customer) = sum of bought
authority scores. With unit initialization the iterates stay exact
integers (a1 = in-degree, h1 = sum a1, a2 = sum h1, h2 = sum a2), so no
normalization and no floating aggregation exist; int64 headroom holds to
about sf10 (growth is bounded by (max degree)^k).

Katz: Katz(v) = sum_{k=1..4} alpha^k * walks_k(v) with alpha = 1/10,
walks_k(v) = length-k walks ending at v. Truncation at 4 hops is declared
semantics, and alpha = 1/10 puts the score on the exact 1e4 lattice,
katz_e4 = 1000*w1 + 100*w2 + 10*w3 + w4. w4 <= max_deg^4 stays inside
int64 under the rare-part cap.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ...registry import register
from ...session import iterate_partitions, pinned_shuffle_partitions
from ...tables import load_table
from .edges import (_BASKETS_SQL, _COPURCHASE_SQL, _edges_with_deg,
                    copurchase_edges)

_SCALE = 1_000_000
_TELEPORT = 150_000     # 0.15 * SCALE
_ITER = 5
_TOPN = 20
_TOPK = 10    # HITS: hubs and authorities each
_NSEEDS = 5

_TRADE_SQL = """
eraw AS (SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
         FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
e AS (SELECT 2 * c AS src, 2 * s + 1 AS dst FROM eraw
      UNION ALL
      SELECT 2 * s + 1 AS src, 2 * c AS dst FROM eraw),
deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src)"""

_RANKED_SQL = f""",
ranked AS (SELECT node, r,
                  row_number() OVER (ORDER BY r DESC, node) AS rn
           FROM {{}})
SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
       node // 2 AS key, r AS rank_scaled, rn
FROM ranked WHERE rn <= {_TOPN} ORDER BY rn"""


def pagerank_step(ew: DataFrame, ranks: DataFrame,
                  teleport: Column) -> DataFrame:
    """One integer PageRank round over the degree-annotated trade edges
    ``ew``: (node, r) ranks in, (node, r) ranks out. ``teleport`` is a
    column over the target ``dst``; the caller picks the join hint by
    passing ``ranks`` hinted or not."""
    return (ew.join(ranks, ew.src == ranks.node)
            .select(F.col("dst"),
                    F.expr("(85 * (r div outdeg)) div 100").alias("contrib"))
            .groupBy("dst")
            .agg(F.sum("contrib").alias("c"))
            .select(F.col("dst").alias("node"),
                    (teleport + F.col("c")).cast("bigint").alias("r")))


def ranked_output(r: DataFrame) -> DataFrame:
    """(kind, key, rank_scaled, rn) for the top-20 (node, r) ranks."""
    top = r.orderBy(F.desc("r"), "node").limit(_TOPN)
    ranked = top.withColumn(
        "rn", F.row_number().over(W.orderBy(F.desc("r"), "node")))
    return (ranked
            .select(F.when(F.col("node") % 2 == 0, "customer")
                     .otherwise("supplier").alias("kind"),
                    F.expr("node div 2").alias("key"),
                    F.col("r").alias("rank_scaled"), "rn")
            .orderBy("rn"))


def _initial_ranks(ew: DataFrame, r0: Column) -> DataFrame:
    return (ew.select("src").distinct()
            .select(F.col("src").alias("node"), r0.cast("bigint").alias("r")))


def _pr_oracle() -> str:
    ctes = [_TRADE_SQL + f""",
p0 AS (SELECT src AS node, cast({_SCALE} AS bigint) AS r FROM deg)"""]
    for t in range(1, _ITER + 1):
        ctes.append(f"""
p{t} AS (SELECT e.dst AS node,
               cast({_TELEPORT} + sum((85 * (p.r // d.outdeg)) // 100)
                    AS bigint) AS r
        FROM e JOIN p{t-1} p ON e.src = p.node
               JOIN deg d ON d.src = e.src
        GROUP BY e.dst)""")
    return f"""
WITH {','.join(ctes)}""" + _RANKED_SQL.format(f"p{_ITER}")


@register(
    "pagerank_trade_graph",
    oracle=_pr_oracle(),
    tags=("graph", "iterative", "pagerank"),
)
def pagerank_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 nodes by 5-iteration integer-scaled PageRank over the
    symmetric customer<->supplier trade graph (module docstring)."""
    ew = _edges_with_deg(spark, sf_dir)
    r = _initial_ranks(ew, F.lit(_SCALE))
    for _ in range(_ITER):
        r = pagerank_step(ew, r, F.lit(_TELEPORT))
    return ranked_output(r)


_EPS = 50_000          # stop when max |delta r| <= 5% of scale
_MAX_ROUNDS = 200
_CHECK_BATCH = 6       # chained rounds per driver-synchronized delta check

_PR_CONV_ORACLE = f"""
WITH RECURSIVE{_TRADE_SQL},
it AS (
  SELECT src AS node, cast({_SCALE} AS bigint) AS r, 0 AS t,
         cast(1152921504606846976 AS bigint) AS md
  FROM deg
  UNION ALL
  SELECT n.node, n.r, n.t, max(abs(n.r - p2.r)) OVER () AS md
  FROM (SELECT e.dst AS node,
               cast({_TELEPORT} + sum((85 * (p.r // d.outdeg)) // 100)
                    AS bigint) AS r,
               max(p.t) + 1 AS t
        FROM e JOIN it p ON e.src = p.node
             JOIN deg d ON d.src = e.src
        WHERE p.md > {_EPS}
        GROUP BY e.dst) n
  JOIN it p2 ON p2.node = n.node),
fin AS (SELECT node, r FROM it WHERE t = (SELECT max(t) FROM it))""" + \
    _RANKED_SQL.format("fin")


@register(
    "pagerank_converged",
    oracle=_PR_CONV_ORACLE,
    tags=("graph", "iterative", "pagerank", "convergence"),
)
def pagerank_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank iterated TO CONVERGENCE: the first iterate with
    max |r_t - r_{t-1}| <= _EPS (5% of the 10^6 scale). The integer
    recurrence never reaches an exact fixpoint (floor-division noise
    leaves an oscillation of ~570 units at sf0.001), so the stopping rule
    is an integer epsilon both engines apply to the same trajectory, and
    the stopping ROUND is part of what the oracle checks (T = 36 +- 1
    across sf0.001-sf0.1).

    Rounds run in blocks of _CHECK_BATCH: each rung is persisted, ONE job
    materializes the block (counting the block end fills every interior
    rung's cache, since each rung is the next one's parent), and ONE
    collect of a union of per-round delta aggregates reads the rung
    caches. The stopping round is still the first with delta <= eps, so
    the recursive-CTE oracle is unchanged. Ranks are broadcast (O(V)) and
    the loop runs at the loop shuffle width. At each block boundary the
    surviving rung is eagerly localCheckpointed AFTER the delta collect
    (delta joins against a row-format RDD rung measured 7x slower than
    against the columnar rung caches) and the rest unpersist, so each
    block starts from a lineage-free O(V) leaf."""
    ew = _edges_with_deg(spark, sf_dir)

    def _max_delta(cur: DataFrame, prev: DataFrame) -> DataFrame:
        # symmetric graph -> node sets of consecutive rounds are
        # identical, inner join is total
        return (cur.join(prev.withColumnRenamed("r", "r_prev"), "node")
                .agg(F.max(F.abs(F.col("r") - F.col("r_prev")))
                     .alias("md")))

    with pinned_shuffle_partitions(spark, iterate_partitions(spark)):
        r = _initial_ranks(ew, F.lit(_SCALE)).persist()
        final = None
        t = 0
        while t < _MAX_ROUNDS and final is None:
            B = min(_CHECK_BATCH, _MAX_ROUNDS - t)
            rungs = [r]
            for _ in range(B):
                rungs.append(pagerank_step(
                    ew, F.broadcast(rungs[-1]), F.lit(_TELEPORT)).persist())
            rungs[-1].count()      # ONE job materializes the whole block
            dd = None
            for j in range(1, B + 1):
                dj = (_max_delta(rungs[j], rungs[j - 1])
                      .select(F.lit(j).alias("j"), "md"))
                dd = dj if dd is None else dd.unionAll(dj)
            deltas = {row["j"]: row["md"] for row in dd.collect()}
            stop_j = next(
                (j for j in range(1, B + 1)
                 if deltas.get(j) is not None and deltas[j] <= _EPS), None)
            keep = rungs[stop_j] if stop_j is not None else rungs[-1]
            r = keep.localCheckpoint(eager=True)
            for rung in rungs:
                rung.unpersist()
            t += B
            if stop_j is not None:
                final = r
        if final is None:
            r.unpersist()
            raise RuntimeError(
                f"pagerank_converged: no convergence within {_MAX_ROUNDS} "
                f"rounds (eps={_EPS}) — oscillation floor exceeds eps on "
                "this graph; raise eps deliberately rather than looping "
                "forever")
        r = final
    out = ranked_output(r).localCheckpoint(eager=True)  # then free ranks
    r.unpersist()
    return out


def _ppr_oracle() -> str:
    ctes = [_TRADE_SQL + f""",
seeds AS (SELECT 2 * o_custkey AS node FROM orders
          GROUP BY o_custkey ORDER BY count(*) DESC, o_custkey
          LIMIT {_NSEEDS}),
p0 AS (SELECT src AS node,
              cast(CASE WHEN src IN (SELECT node FROM seeds)
                        THEN {_SCALE} ELSE 0 END AS bigint) AS r
       FROM deg)"""]
    for t in range(1, _ITER + 1):
        ctes.append(f"""
p{t} AS (SELECT e.dst AS node,
               cast(CASE WHEN e.dst IN (SELECT node FROM seeds)
                         THEN {_TELEPORT} ELSE 0 END
                    + sum((85 * (p.r // d.outdeg)) // 100)
                    AS bigint) AS r
        FROM e JOIN p{t-1} p ON e.src = p.node
               JOIN deg d ON d.src = e.src
        GROUP BY e.dst)""")
    return f"""
WITH {','.join(ctes)}""" + _RANKED_SQL.format(f"p{_ITER}")


@register(
    "personalized_pagerank_seeds",
    oracle=_ppr_oracle(),
    tags=("graph", "iterative", "recommendation", "scale-pattern"),
)
def personalized_pagerank_seeds(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """(kind, key, rank_scaled, rn): top-20 nodes by 5-iteration
    personalized PageRank (Haveliwala, WWW 2002): teleport mass re-injects
    only at the 5 customers with the most orders (smallest key on ties),
    so the ranking is "what is close to these accounts", not global
    prominence (module docstring). Seeds are one bounded collect."""
    ew = _edges_with_deg(spark, sf_dir)
    o = load_table(spark, sf_dir, "orders")
    seed_rows = (o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
                 .orderBy(F.desc("n"), "o_custkey").limit(_NSEEDS)
                 .select((F.col("o_custkey") * 2).alias("node"))
                 .collect())                     # bounded: _NSEEDS ints
    seeds = [int(r["node"]) for r in seed_rows]
    r = _initial_ranks(ew, F.when(F.col("src").isin(seeds), F.lit(_SCALE))
                       .otherwise(F.lit(0)))
    for _ in range(_ITER):
        r = pagerank_step(ew, r, F.when(F.col("dst").isin(seeds),
                                        F.lit(_TELEPORT))
                          .otherwise(F.lit(0)))
    return ranked_output(r)


def _hits_oracle() -> str:
    return f"""
WITH {_BASKETS_SQL},
a1 AS (SELECT p, cast(count(*) AS bigint) AS s FROM baskets GROUP BY p),
h1 AS (SELECT b.c, sum(a1.s) AS s FROM baskets b
       JOIN a1 ON a1.p = b.p GROUP BY b.c),
a2 AS (SELECT b.p, sum(h1.s) AS s FROM baskets b
       JOIN h1 ON h1.c = b.c GROUP BY b.p),
h2 AS (SELECT b.c, sum(a2.s) AS s FROM baskets b
       JOIN a2 ON a2.p = b.p GROUP BY b.c),
th AS (SELECT 'hub' AS role, c AS node_id, s,
              row_number() OVER (ORDER BY s DESC, c) AS rank FROM h2),
ta AS (SELECT 'authority' AS role, p AS node_id, s,
              row_number() OVER (ORDER BY s DESC, p) AS rank FROM a2)
SELECT role, cast(rank AS int) AS rank, cast(node_id AS bigint) AS node_id,
       cast(s AS bigint) AS score
FROM (SELECT * FROM th WHERE rank <= {_TOPK}
      UNION ALL SELECT * FROM ta WHERE rank <= {_TOPK})
ORDER BY role, rank"""


@register(
    "hits_hubs_authorities",
    oracle=_hits_oracle(),
    tags=("graph", "iterative"),
)
def hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(role, rank, node_id, score): top-10 HITS hubs (customers) and
    authorities (parts) after two exact-integer mutual-recursion steps
    on the purchase bipartite graph (module docstring)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    baskets = (li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
               .select(F.col("o_custkey").alias("c"),
                       F.col("l_partkey").alias("p"))
               .distinct().localCheckpoint())  # reused by all four steps
    a1 = baskets.groupBy("p").agg(F.count(F.lit(1)).alias("s"))
    h1 = (baskets.join(a1, "p")
          .groupBy("c").agg(F.sum("s").alias("s")))
    a2 = (baskets.join(h1, "c")
          .groupBy("p").agg(F.sum("s").alias("s")))
    h2 = (baskets.join(a2, "p")
          .groupBy("c").agg(F.sum("s").alias("s")))
    # Distributed top-k first (TakeOrderedAndProject), THEN rank the
    # k survivors with a window — never a global row_number.
    wh = W.orderBy(F.desc("s"), F.asc("node_id"))
    th = (h2.select(F.lit("hub").alias("role"),
                    F.col("c").alias("node_id"), "s")
          .orderBy(F.desc("s"), F.asc("node_id")).limit(_TOPK)
          .withColumn("rank", F.row_number().over(wh)))
    ta = (a2.select(F.lit("authority").alias("role"),
                    F.col("p").alias("node_id"), "s")
          .orderBy(F.desc("s"), F.asc("node_id")).limit(_TOPK)
          .withColumn("rank", F.row_number().over(wh)))
    return (th.union(ta)
            .select("role", F.col("rank").cast("int").alias("rank"),
                    F.col("node_id").cast("long").alias("node_id"),
                    F.col("s").cast("long").alias("score"))
            .orderBy("role", "rank"))


_KATZ_HOPS = 4

_KATZ_ORACLE = f"""
WITH {_COPURCHASE_SQL},
nodes AS (SELECT DISTINCT src AS v FROM e),
w1 AS MATERIALIZED (
  SELECT e.dst AS v, cast(count(*) AS bigint) AS w
  FROM e GROUP BY e.dst),
w2 AS MATERIALIZED (
  SELECT e.dst AS v, cast(sum(w1.w) AS bigint) AS w
  FROM e JOIN w1 ON w1.v = e.src GROUP BY e.dst),
w3 AS MATERIALIZED (
  SELECT e.dst AS v, cast(sum(w2.w) AS bigint) AS w
  FROM e JOIN w2 ON w2.v = e.src GROUP BY e.dst),
w4 AS MATERIALIZED (
  SELECT e.dst AS v, cast(sum(w3.w) AS bigint) AS w
  FROM e JOIN w3 ON w3.v = e.src GROUP BY e.dst)
SELECT n.v AS node,
       coalesce(w1.w, 0) AS w1,
       coalesce(w2.w, 0) AS w2,
       coalesce(w3.w, 0) AS w3,
       coalesce(w4.w, 0) AS w4,
       1000 * coalesce(w1.w, 0) + 100 * coalesce(w2.w, 0)
         + 10 * coalesce(w3.w, 0) + coalesce(w4.w, 0) AS katz_e4
FROM nodes n
LEFT JOIN w1 ON w1.v = n.v
LEFT JOIN w2 ON w2.v = n.v
LEFT JOIN w3 ON w3.v = n.v
LEFT JOIN w4 ON w4.v = n.v
ORDER BY katz_e4 DESC, node LIMIT {_TOPN}"""


@register(
    "katz_centrality_4hop",
    oracle=_KATZ_ORACLE,
    tags=("graph", "centrality", "scale-pattern"),
)
def katz_centrality_4hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 nodes by 4-hop truncated Katz centrality on the exact
    integer 1e4-lattice (module docstring): one keyed join + partial
    aggregate per hop over the shared checkpointed co-purchase edges."""
    edges = copurchase_edges(spark, sf_dir)
    nodes = edges.select(F.col("src").alias("v")).distinct()
    walks = [edges.groupBy(F.col("dst").alias("v"))
             .agg(F.count(F.lit(1)).cast("long").alias("w"))]
    for _ in range(2, _KATZ_HOPS + 1):
        prev = walks[-1].select(F.col("v").alias("src"),
                                F.col("w").alias("pw"))
        walks.append(edges.join(prev, "src")
                     .groupBy(F.col("dst").alias("v"))
                     .agg(F.sum("pw").cast("long").alias("w")))
    out = nodes
    for k, wk in enumerate(walks, start=1):
        out = out.join(wk.select("v", F.col("w").alias(f"w{k}")), "v",
                       "left")
    out = out.select(
        F.col("v").alias("node"),
        *[F.coalesce(f"w{k}", F.lit(0)).alias(f"w{k}")
          for k in range(1, _KATZ_HOPS + 1)])
    katz = (F.lit(1000) * F.col("w1") + F.lit(100) * F.col("w2")
            + F.lit(10) * F.col("w3") + F.col("w4"))
    return (out.withColumn("katz_e4", katz)
            .orderBy(F.col("katz_e4").desc(), "node").limit(_TOPN))
