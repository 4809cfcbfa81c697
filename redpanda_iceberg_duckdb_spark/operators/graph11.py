"""Round-11 graph additions: personalized PageRank (topic-sensitive
teleport, Haveliwala WWW 2002) on the trade graph and common-neighbor /
Jaccard link prediction (Liben-Nowell & Kleinberg, CIKM 2003) on the
rare-part co-purchase graph — the "related accounts" and "customers who
also bought" primitives of a recommendation pipeline, both reusing the
memoized edge tables the existing iterative queries share.

Determinism: PPR runs graphrank.py's integer-scaled recurrence
unchanged, only the teleport vector differs — mass re-injects at the 5
seed customers (top order counts, smallest-key tie-break) instead of
everywhere, so ranks stay bit-identical cross-engine (scaled bigints,
floor division). Jaccard scores are exact rationals (cn, du, dw are
counts); ordering is on the 6-decimal rounding with a total (u, w)
tie-break, so both engines pick the same top-20.

Scale stance (100 TB):
- PPR: per iteration ONE co-partitioned equi-join (edges ⋈ ranks on
  src) + one combinable groupBy(dst) — identical layout to
  pagerank_trade_graph; the edge table comes from graphrank._edges_with_deg
  (built once per dataset). Seed discovery is one combinable aggregate
  + a bounded top-5 collect.
- Link prediction: candidate pairs enumerate as WEDGES (edge ⋈ edge on
  the shared middle vertex) — cost Σ_v deg(v)^2. The co-purchase graph
  is dense enough that hubs dominate that sum (measured at sf0.1:
  350M wedges unrestricted), so middles above a degree cap are DROPPED
  before pairing — the stop-node rule of graph10.py's bipartite
  projection and dedup.py's df-cap, applied identically in the oracle
  (measured: cap 64 keeps 3.8M wedges, ~100x less). Common-neighbor
  counts therefore mean "common LOW-DEGREE neighbors" — the standard
  production trade: hub co-membership carries almost no similarity
  signal and all the cost. Existing edges drop via one anti-join; the
  all-pairs product never appears. Top-20 via distributed TakeOrdered,
  never a global window over the candidate set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..registry import register
from ..tables import load_table
from .graph10d import _edges_sql, copurchase_edges
from .graphrank import _SCALE, _TELEPORT, _edges_with_deg

_ITER = 5
_TOPN = 20
_NSEEDS = 5
_MID_CAP = 64    # wedge middles above this degree are stop-nodes


def _ppr_oracle() -> str:
    ctes = [f"""
eraw AS (SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
         FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
e AS (SELECT 2 * c AS src, 2 * s + 1 AS dst FROM eraw
      UNION ALL
      SELECT 2 * s + 1 AS src, 2 * c AS dst FROM eraw),
deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
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
WITH {','.join(ctes)},
ranked AS (SELECT node, r,
                  row_number() OVER (ORDER BY r DESC, node) AS rn
           FROM p{_ITER})
SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
       node // 2 AS key, r AS rank_scaled, rn
FROM ranked WHERE rn <= {_TOPN} ORDER BY rn"""


@register(
    "personalized_pagerank_seeds",
    oracle=_ppr_oracle(),
    tags=("graph", "iterative", "recommendation", "scale-pattern"),
)
def personalized_pagerank_seeds(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """(kind, key, rank_scaled, rn): top-20 nodes by 5-iteration
    integer-scaled PERSONALIZED PageRank — teleport mass re-injects only
    at the 5 highest-order-count customers, so the ranking is "what is
    close to these accounts", not global prominence (module docstring)."""
    ew = _edges_with_deg(spark, sf_dir)
    o = load_table(spark, sf_dir, "orders")
    seed_rows = (o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
                 .orderBy(F.desc("n"), "o_custkey").limit(_NSEEDS)
                 .select((F.col("o_custkey") * 2).alias("node"))
                 .collect())                     # bounded: _NSEEDS ints
    seeds = [int(r["node"]) for r in seed_rows]
    r = (ew.select("src").distinct()
         .select(F.col("src").alias("node"),
                 F.when(F.col("src").isin(seeds), F.lit(_SCALE))
                 .otherwise(F.lit(0)).cast("bigint").alias("r")))
    for _ in range(_ITER):
        r = (ew.join(r, ew.src == r.node)
             .select(F.col("dst"),
                     F.expr("(85 * (r div outdeg)) div 100")
                     .alias("contrib"))
             .groupBy("dst")
             .agg(F.sum("contrib").alias("c"))
             .select(F.col("dst").alias("node"),
                     (F.when(F.col("dst").isin(seeds), F.lit(_TELEPORT))
                      .otherwise(F.lit(0)) + F.col("c"))
                     .cast("bigint").alias("r")))
    top = r.orderBy(F.desc("r"), "node").limit(_TOPN)
    ranked = top.withColumn(
        "rn", F.row_number().over(W.orderBy(F.desc("r"), "node")))
    return (ranked
            .select(F.when(F.col("node") % 2 == 0, "customer")
                    .otherwise("supplier").alias("kind"),
                    F.expr("node div 2").alias("key"),
                    F.col("r").alias("rank_scaled"), "rn")
            .orderBy("rn"))


def _lp_oracle() -> str:
    return f"""
WITH {_edges_sql()},
deg AS (SELECT src AS c, count(*) AS dg FROM e GROUP BY 1),
mid AS (SELECT c FROM deg WHERE dg <= {_MID_CAP}),
wedge AS (
  SELECT a.dst AS u, b.dst AS w, count(*) AS cn
  FROM e a JOIN e b ON a.src = b.src AND a.dst < b.dst
  JOIN mid m ON m.c = a.src
  GROUP BY 1, 2),
cand AS (
  SELECT w.u, w.w, w.cn
  FROM wedge w
  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.src = w.u AND e.dst = w.w)),
scored AS (
  SELECT u, w, cn, du.dg AS du, dw.dg AS dw,
         round(cast(cn AS double) / (du.dg + dw.dg - cn), 6) AS jacc
  FROM cand JOIN deg du ON du.c = u JOIN deg dw ON dw.c = w),
ranked AS (
  SELECT u, w, cn, du, dw, jacc,
         row_number() OVER (ORDER BY jacc DESC, u, w) AS rn
  FROM scored)
SELECT rn, u AS cust_a, w AS cust_b, cast(cn AS bigint) AS common_n,
       cast(du AS bigint) AS deg_a, cast(dw AS bigint) AS deg_b, jacc
FROM ranked WHERE rn <= {_TOPN} ORDER BY rn"""


@register(
    "link_prediction_jaccard",
    oracle=_lp_oracle(),
    tags=("graph", "recommendation", "similarity", "scale-pattern"),
)
def link_prediction_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(rn, cust_a, cust_b, common_n, deg_a, deg_b, jacc): top-20
    NON-adjacent customer pairs of the rare-part co-purchase graph by
    neighbor-set Jaccard — wedge enumeration through middles of degree
    <= _MID_CAP (stop-node rule, mirrored in the oracle), one anti-join
    to drop existing edges, exact-rational scores (module docstring)."""
    e = copurchase_edges(spark, sf_dir)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("dg"))
    mid = deg.filter(F.col("dg") <= _MID_CAP) \
        .select(F.col("src").alias("m"))
    a = e.select(F.col("src").alias("m"), F.col("dst").alias("u"))
    b = e.select(F.col("src").alias("m"), F.col("dst").alias("w"))
    wedge = (a.join(mid, "m").join(b, "m")
             .filter(F.col("u") < F.col("w"))
             .groupBy("u", "w").agg(F.count(F.lit(1)).alias("cn")))
    cand = wedge.join(
        e.select(F.col("src").alias("u"), F.col("dst").alias("w")),
        ["u", "w"], "left_anti")
    du = deg.select(F.col("src").alias("u"), F.col("dg").alias("du"))
    dw = deg.select(F.col("src").alias("w"), F.col("dg").alias("dw"))
    scored = (cand.join(du, "u").join(dw, "w")
              .select("u", "w", "cn", "du", "dw",
                      F.round(F.col("cn").cast("double")
                              / (F.col("du") + F.col("dw") - F.col("cn")),
                              6).alias("jacc")))
    top = scored.orderBy(F.desc("jacc"), "u", "w").limit(_TOPN)
    ranked = top.withColumn(
        "rn", F.row_number().over(W.orderBy(F.desc("jacc"), "u", "w")))
    return (ranked.select(
        "rn", F.col("u").alias("cust_a"), F.col("w").alias("cust_b"),
        F.col("cn").cast("long").alias("common_n"),
        F.col("du").cast("long").alias("deg_a"),
        F.col("dw").cast("long").alias("deg_b"), "jacc")
        .orderBy("rn"))
