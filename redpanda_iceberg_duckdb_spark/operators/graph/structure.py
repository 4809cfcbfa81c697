"""Structure queries: degree profile, bipartite projection, triangles
(near-duplicate candidates, clustering coefficients, per-edge support),
rich club and link prediction.

Triangles on the oriented part co-purchase graph
(``edges.copurchase_oriented_edges``): wedges are built on a common
SOURCE and closed by looking the third edge up in the same oriented list
(``_oriented_triangles``). With edges oriented by (degree, id) the
forward degree is O(sqrt(m)), so wedge volume stays O(m^1.5) on hub
nodes, and each triangle is produced exactly once. The customer<->supplier
trade graph is bipartite, so its clustering coefficient is identically
zero; the co-purchase projection is where triangles mean something.

Exactness: counts are integers; per-node clustering coefficients are
snapped to an exact micro lattice by INTEGER division
(2t * 1e6 div d(d-1)) before averaging, and every other ratio is one
float division of two exact integers, rounded once.

Stop-node caps (the df-cap rule of dedup.py, mirrored in each oracle):
the supplier projection drops customers with more than _CAP suppliers
before pairing (each customer then emits at most C(40, 2) = 780 pairs),
and link prediction drops wedge middles of degree above _MID_CAP (350M
wedges unrestricted at sf0.1, 3.8M with the cap): its common-neighbor
counts mean common LOW-DEGREE neighbors, since hub co-membership carries
almost no similarity signal and all the cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ...registry import register
from ...tables import load_table
from ..dedup import _LSH_CAND_CTE_DUCK, lsh_candidates
from ..shingles import _TG_CTE_DUCK, _doc_trigrams
from .edges import (_COPURCHASE_SQL, copurchase_edges,
                    copurchase_oriented_edges)

_CAP = 40        # projection: customers with more suppliers are hubs
_K = 20
_MID_CAP = 64    # link prediction: wedge middles above this are stop-nodes
_TOPN = 20
_KS = (4, 8, 16, 32, 64)


def _oriented_triangles(eo: DataFrame, n_edges: int) -> DataFrame:
    """(c, u, v) for every triangle of the oriented graph, once each."""
    e1 = eo.select("src", F.col("dst").alias("u"), F.col("dd").alias("ud"))
    e2 = eo.select("src", F.col("dst").alias("v"), F.col("dd").alias("vd"))
    u_first = (F.col("ud") < F.col("vd")) | (
        (F.col("ud") == F.col("vd")) & (F.col("u") < F.col("v")))
    w = (e1.join(e2, "src").filter(u_first)
         .select(F.col("src").alias("c"), "u", "v"))
    # Size-gated broadcast of the closing edge list: the probe side is the
    # wedge stream (34x the edges at sf0.1), so keeping it from shuffling
    # measured 8.1 -> 6.5 s warm; past the gate only a shuffle join fits.
    close = eo.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    if n_edges <= 5_000_000:
        close = F.broadcast(close)
    return w.join(close, ["u", "v"])


_DEG_ORACLE = """
WITH eraw AS (SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
              FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
cd AS (SELECT 'customer' AS kind, c AS key, count(*) AS deg
       FROM eraw GROUP BY c),
sd AS (SELECT 'supplier' AS kind, s AS key, count(*) AS deg
       FROM eraw GROUP BY s),
deg AS (SELECT * FROM cd UNION ALL SELECT * FROM sd),
rk AS (SELECT kind, deg,
              row_number() OVER (PARTITION BY kind ORDER BY deg, key) AS rn,
              count(*) OVER (PARTITION BY kind) AS n
       FROM deg),
med AS (SELECT kind, deg AS median_deg FROM rk WHERE rn = (n + 1) // 2)
SELECT d.kind, cast(count(*) AS bigint) AS n_nodes,
       cast(min(deg) AS bigint) AS min_deg,
       cast(max(deg) AS bigint) AS max_deg,
       round(avg(deg), 6) AS avg_deg,
       cast(max(m.median_deg) AS bigint) AS median_deg
FROM deg d JOIN med m ON m.kind = d.kind
GROUP BY d.kind ORDER BY d.kind"""


@register(
    "graph_degree_stats",
    oracle=_DEG_ORACLE,
    tags=("graph", "profile"),
)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree profile of the customer<->supplier trade graph — the skew
    diagnostic read before choosing a graph partitioning (a max/median
    ratio in the hundreds means vertex-cut or hot-key salting; near 1,
    plain hash partitioning). The median is the exact element at
    ceil(n/2) under (deg, key) order, not an interpolated percentile; all
    windows are partitioned by kind, nothing global."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    eraw = (o.join(li, o.o_orderkey == li.l_orderkey)
            .select("o_custkey", "l_suppkey").distinct())
    cd = (eraw.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("deg"))
          .select(F.lit("customer").alias("kind"),
                  F.col("o_custkey").alias("key"), "deg"))
    sd = (eraw.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("deg"))
          .select(F.lit("supplier").alias("kind"),
                  F.col("l_suppkey").alias("key"), "deg"))
    deg = cd.unionAll(sd)
    rk = (deg.withColumn("rn", F.row_number().over(
              W.partitionBy("kind").orderBy("deg", "key")))
          .withColumn("n", F.count(F.lit(1)).over(W.partitionBy("kind"))))
    med = (rk.filter(F.col("rn") == F.expr("(n + 1) div 2"))
           .select("kind", F.col("deg").alias("median_deg")))
    return (deg.groupBy("kind")
            .agg(F.count(F.lit(1)).alias("n_nodes"),
                 F.min("deg").cast("bigint").alias("min_deg"),
                 F.max("deg").cast("bigint").alias("max_deg"),
                 F.round(F.avg("deg"), 6).alias("avg_deg"))
            .join(med.groupBy("kind")
                  .agg(F.max("median_deg").cast("bigint")
                       .alias("median_deg")), "kind")
            .orderBy("kind"))


def _projection_oracle() -> str:
    return f"""
WITH e AS (SELECT DISTINCT o.o_custkey c, l.l_suppkey s
           FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
deg AS (SELECT c, count(*) dg FROM e GROUP BY c),
kept AS (SELECT e.c, e.s FROM e JOIN deg USING (c) WHERE deg.dg <= {_CAP}),
pairs AS (SELECT a.s s1, b.s s2, count(*) w
          FROM kept a JOIN kept b ON a.c = b.c AND a.s < b.s
          GROUP BY 1, 2)
SELECT s1, s2, cast(w AS bigint) AS n_shared_customers
FROM pairs ORDER BY w DESC, s1, s2 LIMIT {_K}"""


@register(
    "bipartite_supplier_projection",
    oracle=_projection_oracle(),
    tags=("graph", "projection", "scale-pattern"),
)
def bipartite_supplier_projection(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """(s1, s2, n_shared_customers): the 20 strongest supplier pairs of
    the customer-projected trade graph (Newman 2001's collaboration
    projection), hub customers (> _CAP suppliers) dropped before pairing
    (module docstring)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # The (c, s) edge table feeds the degree aggregate and both pairing
    # sides: checkpoint it eagerly so the fact join and the distinct run
    # once (lazily, the three branches race to compute it).
    e = (o.join(li, o.o_orderkey == li.l_orderkey)
         .select(F.col("o_custkey").alias("c"),
                 F.col("l_suppkey").alias("s"))
         .distinct()
         .localCheckpoint(eager=True))
    deg = e.groupBy("c").agg(F.count(F.lit(1)).alias("dg"))
    # Broadcast of the kept-customer keys is O(customers).
    kept = e.join(F.broadcast(deg.filter(F.col("dg") <= _CAP)
                              .select("c")), "c")
    a = kept.select("c", F.col("s").alias("s1"))
    b = kept.select(F.col("c").alias("c2"), F.col("s").alias("s2"))
    pairs = (a.join(b, (F.col("c") == F.col("c2"))
                    & (F.col("s1") < F.col("s2")))
             .groupBy("s1", "s2")
             .agg(F.count(F.lit(1)).alias("w")))
    return (pairs.select("s1", "s2",
                         F.col("w").cast("long").alias("n_shared_customers"))
            .orderBy(F.desc("n_shared_customers"), "s1", "s2")
            .limit(_K))


_TRI_ORACLE = f"""
WITH {_TG_CTE_DUCK},
{_LSH_CAND_CTE_DUCK},
tri AS (SELECT e1.d1 AS a, e1.d2 AS b, e2.d2 AS c
        FROM cand e1
        JOIN cand e2 ON e2.d1 = e1.d2
        JOIN cand e3 ON e3.d1 = e1.d1 AND e3.d2 = e2.d2),
per_node AS (
    SELECT node, count(*) AS n_triangles FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri) GROUP BY node)
SELECT node AS doc_id, n_triangles
FROM per_node ORDER BY n_triangles DESC, doc_id"""


@register(
    "triangle_count_neardup",
    oracle=_TRI_ORACLE,
    tags=("graph", "dedup", "triangles"),
)
def triangle_count_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document triangle membership count in the MinHash-LSH candidate
    graph: duplicate CLUSTERS (cliques) make many triangles, chance band
    collisions (isolated edges) none — the cheap structural screen before
    exact-Jaccard verification. Edges are oriented d1 < d2, so the wedge
    join produces each triangle (a<b<c) once; candidates are near-linear
    in corpus size (dedup.py), so no all-pairs product exists."""
    tg = _doc_trigrams(spark, sf_dir)
    # Lazy localCheckpoint: the three join branches share one
    # materialization inside the first action, released with the plan.
    cand = lsh_candidates(tg).localCheckpoint(eager=False)
    e2 = cand.select(F.col("d1").alias("b"), F.col("d2").alias("c"))
    e3 = cand.select(F.col("d1").alias("a"), F.col("d2").alias("c"))
    tri = (cand.select(F.col("d1").alias("a"), F.col("d2").alias("b"))
           .join(e2, "b")
           .join(e3, ["a", "c"]))
    nodes = (tri.select(F.col("a").alias("node"))
             .unionAll(tri.select(F.col("b").alias("node")))
             .unionAll(tri.select(F.col("c").alias("node"))))
    return (nodes.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))
            .select(F.col("node").alias("doc_id"), "n_triangles")
            .orderBy(F.desc("n_triangles"), "doc_id"))


_CC_ORACLE = """
WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
e AS (SELECT DISTINCT x.p AS a, y.p AS b
      FROM op x JOIN op y ON x.o = y.o AND x.p < y.p),
deg AS (SELECT node, cast(count(*) AS bigint) AS d
        FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
        GROUP BY node),
eo AS (SELECT CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.a ELSE e.b END AS src,
              CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.b ELSE e.a END AS dst,
              CASE WHEN (da.d, e.a) < (db.d, e.b) THEN da.d ELSE db.d END AS sd,
              CASE WHEN (da.d, e.a) < (db.d, e.b) THEN db.d ELSE da.d END AS dd
       FROM e JOIN deg da ON da.node = e.a JOIN deg db ON db.node = e.b),
w AS (SELECT e1.src AS c, e1.dst AS u, e2.dst AS v
      FROM eo e1 JOIN eo e2
        ON e1.src = e2.src AND (e1.dd, e1.dst) < (e2.dd, e2.dst)),
tri AS (SELECT w.c, w.u, w.v FROM w JOIN eo ON eo.src = w.u AND eo.dst = w.v),
tpn AS (SELECT node, cast(count(*) AS bigint) AS t
        FROM (SELECT c AS node FROM tri UNION ALL
              SELECT u FROM tri UNION ALL SELECT v FROM tri)
        GROUP BY node),
pn AS (SELECT deg.node, deg.d, coalesce(tpn.t, 0) AS t,
              CASE WHEN deg.d >= 2
                   THEN (2 * coalesce(tpn.t, 0) * 1000000) // (deg.d * (deg.d - 1))
                   ELSE 0 END AS cc_micro
       FROM deg LEFT JOIN tpn ON tpn.node = deg.node)
SELECT cast(count(*) AS bigint) AS n_nodes,
       cast(sum(d) // 2 AS bigint) AS n_edges,
       cast(sum(t) // 3 AS bigint) AS n_triangles,
       cast(sum(d * (d - 1) // 2) AS bigint) AS n_wedges,
       round(cast(sum(t) AS double)
             / cast(sum(d * (d - 1) // 2) AS double), 6) AS transitivity,
       round(cast(sum(cc_micro) AS double) / cast(count(*) AS double) / 1e6, 6)
         AS avg_local_cc
FROM pn"""


@register(
    "clustering_coefficient_parts",
    oracle=_CC_ORACLE,
    tags=("graph", "triangles"),
)
def clustering_coefficient_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global transitivity + average local clustering coefficient of the
    part co-purchase graph via degree-ordered triangle enumeration (module
    docstring). Per-node coefficients ride an exact micro-integer lattice,
    so the average is order-independent."""
    eo, deg, n_edges = copurchase_oriented_edges(spark, sf_dir)
    tri = _oriented_triangles(eo, n_edges)
    # ONE explode pass over the triangle stream (a 3-way unionAll re-runs
    # the wedge and closing joins per branch).
    tpn = (tri.select(F.explode(F.array("c", "u", "v")).alias("node"))
           .groupBy("node").agg(F.count(F.lit(1)).alias("t")))
    pn = (deg.join(tpn, "node", "left_outer")
          .select("d", F.coalesce("t", F.lit(0)).alias("t"))
          .withColumn(
              "cc_micro",
              F.when(F.col("d") >= 2,
                     F.expr("(2 * t * 1000000) div (d * (d - 1))"))
               .otherwise(F.lit(0)).cast("long")))
    return pn.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.expr("sum(d) div 2").cast("long").alias("n_edges"),
        F.expr("sum(t) div 3").cast("long").alias("n_triangles"),
        F.expr("sum((d * (d - 1)) div 2)").cast("long").alias("n_wedges"),
        F.round(F.sum("t").cast("double")
                / F.expr("sum((d * (d - 1)) div 2)").cast("double"), 6)
         .alias("transitivity"),
        F.round(F.sum("cc_micro").cast("double")
                / F.count(F.lit(1)).cast("double") / 1e6, 6)
         .alias("avg_local_cc"))


_SUPPORT_ORACLE = """
WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
e AS (SELECT DISTINCT x.p AS a, y.p AS b
      FROM op x JOIN op y ON x.o = y.o AND x.p < y.p),
deg AS (SELECT node, cast(count(*) AS bigint) AS d
        FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
        GROUP BY node),
eo AS (SELECT CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.a ELSE e.b END AS src,
              CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.b ELSE e.a END AS dst,
              CASE WHEN (da.d, e.a) < (db.d, e.b) THEN db.d ELSE da.d END AS dd
       FROM e JOIN deg da ON da.node = e.a JOIN deg db ON db.node = e.b),
w AS (SELECT e1.src AS c, e1.dst AS u, e2.dst AS v
      FROM eo e1 JOIN eo e2
        ON e1.src = e2.src AND (e1.dd, e1.dst) < (e2.dd, e2.dst)),
tri AS (SELECT w.c, w.u, w.v FROM w JOIN eo ON eo.src = w.u AND eo.dst = w.v),
te AS (SELECT c AS src, u AS dst FROM tri
       UNION ALL SELECT c, v FROM tri
       UNION ALL SELECT u, v FROM tri),
es AS (SELECT eo.src, eo.dst, cast(count(te.src) AS bigint) AS support
       FROM eo LEFT JOIN te ON te.src = eo.src AND te.dst = eo.dst
       GROUP BY eo.src, eo.dst)
SELECT support, cast(count(*) AS bigint) AS n_edges
FROM es GROUP BY support ORDER BY support"""


@register(
    "edge_triangle_support",
    oracle=_SUPPORT_ORACLE,
    tags=("graph", "triangles", "truss"),
)
def edge_triangle_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(support, n_edges): histogram of per-edge triangle support — the
    edge statistic under k-truss decomposition — on the part co-purchase
    graph, support-0 edges included. Tree-like fringes have support 0,
    dense co-purchase cores high support (module docstring)."""
    eo, _deg, n_edges = copurchase_oriented_edges(spark, sf_dir)
    tri = _oriented_triangles(eo, n_edges)
    # ONE pass over the triangle stream: each triangle explodes into its 3
    # oriented edges. A 3-way unionAll would re-run the wedge and closing
    # joins per branch (15.6 s at sf0.1), and materializing tri OOMs.
    te = tri.select(F.explode(F.array(
        F.struct(F.col("c").alias("src"), F.col("u").alias("dst")),
        F.struct(F.col("c").alias("src"), F.col("v").alias("dst")),
        F.struct(F.col("u").alias("src"), F.col("v").alias("dst"))))
        .alias("e")).select("e.src", "e.dst")
    ts = te.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("nt"))
    # Every (src, dst) in ts is an edge of eo (both wedge arms and the
    # closing edge come from it), so the support-0 count is n_edges - |ts|
    # — no left join of the whole edge list back onto ts. The collect is
    # histogram-bounded: one row per distinct support value.
    hist = (ts.groupBy("nt").agg(F.count(F.lit(1)).alias("ne"))).collect()
    n_nz = sum(int(r["ne"]) for r in hist)
    rows = sorted([(int(r["nt"]), int(r["ne"])) for r in hist]
                  + ([(0, n_edges - n_nz)] if n_edges > n_nz else []))
    return (spark.createDataFrame(rows, "support long, n_edges long")
            .orderBy("support"))


_RC_ORACLE = f"""
WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
e AS (SELECT DISTINCT x.p AS a, y.p AS b
      FROM op x JOIN op y ON x.o = y.o AND x.p < y.p),
deg AS (SELECT node, cast(count(*) AS bigint) AS d
        FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
        GROUP BY node),
ed AS (SELECT da.d AS dda, db.d AS ddb
       FROM e JOIN deg da ON da.node = e.a JOIN deg db ON db.node = e.b),
ks AS (SELECT unnest([{', '.join(str(k) for k in _KS)}]) AS k)
SELECT ks.k,
       (SELECT cast(count(*) AS bigint) FROM deg WHERE d > ks.k) AS club_size,
       (SELECT cast(count(*) AS bigint) FROM ed
        WHERE dda > ks.k AND ddb > ks.k) AS club_edges,
       CASE WHEN (SELECT count(*) FROM deg WHERE d > ks.k) >= 2
            THEN round(2.0 * (SELECT count(*) FROM ed
                              WHERE dda > ks.k AND ddb > ks.k)
                 / ((SELECT count(*) FROM deg WHERE d > ks.k)
                    * ((SELECT count(*) FROM deg WHERE d > ks.k) - 1)), 6)
            ELSE NULL END AS phi
FROM ks ORDER BY ks.k"""


@register(
    "rich_club_coefficient",
    oracle=_RC_ORACLE,
    tags=("graph", "structure"),
)
def rich_club_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """phi(k) = 2 E_k / (N_k (N_k - 1)) for k in _KS (Zhou & Mondragon
    2004): the density of the subgraph of nodes with degree > k — do the
    hubs trade with each other? Club size, club-internal edge count and
    density per threshold, all thresholds from ONE conditional-aggregate
    pass. The oriented edges start at their lower (degree, id) endpoint,
    so deg(src) is the edge's MIN endpoint degree and the both-endpoints
    test ``min > k`` needs one broadcast degree join, not two."""
    eo, deg, _ = copurchase_oriented_edges(spark, sf_dir)
    ds = F.broadcast(deg.select(F.col("node").alias("src"),
                                F.col("d").alias("sd")))
    ed = eo.join(ds, "src")
    edge_aggs = ed.agg(*[
        F.sum(F.when(F.col("sd") > k, 1)
              .otherwise(0)).cast("long").alias(f"e{k}") for k in _KS])
    size_aggs = deg.agg(*[
        F.sum(F.when(F.col("d") > k, 1).otherwise(0)).cast("long")
        .alias(f"n{k}") for k in _KS])
    one = edge_aggs.crossJoin(F.broadcast(size_aggs))
    stack = ", ".join(
        f"{k}, n{k}, e{k}, CASE WHEN n{k} >= 2 THEN "
        f"round(2.0 * e{k} / (n{k} * (n{k} - 1)), 6) ELSE NULL END"
        for k in _KS)
    return (one.selectExpr(
        f"stack({len(_KS)}, {stack}) AS (k, club_size, club_edges, phi)")
        .orderBy("k"))


def _lp_oracle() -> str:
    return f"""
WITH {_COPURCHASE_SQL},
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
    neighbor-set Jaccard (Liben-Nowell & Kleinberg, CIKM 2003): wedges
    through middles of degree <= _MID_CAP, one anti-join to drop existing
    edges, exact-rational scores ordered on their 6-decimal rounding with
    a total (u, w) tie-break (module docstring)."""
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
