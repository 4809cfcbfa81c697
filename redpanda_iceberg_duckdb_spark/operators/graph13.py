"""Per-EDGE triangle support over the part co-purchase graph — the edge
statistic under k-truss decomposition and the complement of the per-NODE
clustering coefficients in graph12.py: support(e) = number of triangles
containing edge e. The support histogram separates tree-like fringes
(support 0) from dense co-purchase cores (high support), which is what a
recommender prunes on before mining association rules.

Triangle enumeration is graph12.py's degree-ordered orientation verbatim
(lower (degree, id) endpoint -> higher; wedges on the common source;
closing edge looked up in the oriented list), so wedge volume stays
O(m^1.5) by the arboricity bound and each triangle is produced exactly
once. Support attribution then unions the three edges of each triangle —
all as ORIENTED pairs, which is bijective with the undirected edges — and
a left join back to the edge list keeps the support-0 edges the
triangle-only path would drop.

Scale stance (100 TB): identical join budget to
clustering_coefficient_parts (one per-order self-join bounded by order
sizes, one broadcast degree orientation, one orientation-pruned wedge
join, one closing-edge join) plus one union-aggregate keyed by edge; the
result is histogram-sized. No window, no driver loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import register
from .graph12 import copurchase_oriented_edges

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
    """Histogram of per-edge triangle support on the part co-purchase
    graph (module docstring): (support, n_edges), support-0 edges
    included. Cites graph12.clustering_coefficient_parts for the shared
    orientation discipline."""
    # Shared cached edge table (graph12.copurchase_oriented_edges):
    # eo feeds the wedge join twice, the closing lookup, and the final
    # support join — and is reused across the whole triangle family.
    eo, _deg, n_edges = copurchase_oriented_edges(spark, sf_dir)
    e1 = eo.select("src", F.col("dst").alias("u"), F.col("dd").alias("ud"))
    e2 = eo.select("src", F.col("dst").alias("v"), F.col("dd").alias("vd"))
    u_first = (F.col("ud") < F.col("vd")) | (
        (F.col("ud") == F.col("vd")) & (F.col("u") < F.col("v")))
    w = (e1.join(e2, "src").filter(u_first)
         .select(F.col("src").alias("c"), "u", "v"))
    # Size-gated broadcast of the closing edge list: the probe side is the
    # WEDGE stream (34x the edges here — 41M vs 1.2M at sf0.1), so keeping
    # it from shuffling buys 8.1 -> 6.5 s warm; past the gate the shuffle
    # join is the only shape that fits executors.
    close = eo.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    if n_edges <= 5_000_000:
        close = F.broadcast(close)
    tri = w.join(close, ["u", "v"])
    # ONE pass over the triangle stream: each triangle explodes into its 3
    # oriented edges. A 3-way unionAll would re-run the wedge + closing
    # joins per branch (measured 15.6 s at sf0.1), and materializing tri
    # instead OOMs — triangle streams are corpus-sized++, never cached.
    te = tri.select(F.explode(F.array(
        F.struct(F.col("c").alias("src"), F.col("u").alias("dst")),
        F.struct(F.col("c").alias("src"), F.col("v").alias("dst")),
        F.struct(F.col("u").alias("src"), F.col("v").alias("dst"))))
        .alias("e")).select("e.src", "e.dst")
    ts = te.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("nt"))
    # r15 optimization (guide §2.4 "remove shuffles outright"): every
    # (src, dst) in ts IS an oriented edge of eo by construction (all
    # three triangle edges come from eo: the two wedge arms and the
    # closing edge the join just looked up), so the old
    # eo LEFT JOIN ts existed only to re-attach the support-0 edges —
    # a full shuffle of the 1.2M-row edge list plus a second edge-keyed
    # aggregate, paid to learn ONE number. The histogram over ts plus
    # the support-0 count n_edges - |ts| (n_edges is already a driver
    # scalar from the shared edge cache) is identical. The collect is
    # histogram-bounded: one row per distinct support value.
    hist = (ts.groupBy("nt").agg(F.count(F.lit(1)).alias("ne"))).collect()
    n_nz = sum(int(r["ne"]) for r in hist)
    rows = sorted([(int(r["nt"]), int(r["ne"])) for r in hist]
                  + ([(0, n_edges - n_nz)] if n_edges > n_nz else []))
    return (spark.createDataFrame(rows, "support long, n_edges long")
            .orderBy("support"))
