"""Clustering coefficients over the part co-purchase graph (parts are
adjacent when some order contains both) — the triangle/transitivity family
the trade graph cannot exercise (customer<->supplier is bipartite, so its
clustering coefficient is identically zero; co-purchase is the classic
market-basket projection where triangles mean something).

Triangle enumeration uses DEGREE-ORDERED orientation: every undirected
edge points from its lower-(degree, id) endpoint to the higher one, wedges
are built on the common SOURCE, and the closing edge is looked up in the
same oriented list. Forward degree under this orientation is O(sqrt(m))
on any graph (arboricity bound), so wedge volume — the term that explodes
on hub nodes under naive smaller-id orientation — stays subquadratic at
any scale. Each triangle is produced exactly once.

Exactness: triangle/wedge/degree counts are integers; the only divisions
are (a) global transitivity = one float division of two exact integers and
(b) per-node coefficients, snapped to an exact micro lattice via INTEGER
division (2t*1e6 div d(d-1)) before averaging, so no float-sum-order
hazard exists anywhere.

Scale stance: one distinct-projection of lineitem, one per-order self-join
(order sizes are bounded small), one broadcast degree join to orient, one
wedge self-join pre-pruned by orientation, one closing-edge join. All
joins are key-equality shuffles Catalyst handles with AQE; nothing touches
the driver but the final single row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..cache import cached, data_fingerprint
from ..registry import register
from ..tables import load_table


def copurchase_oriented_edges(
        spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame, int]:
    """Degree-ordered oriented edge list of the part co-purchase graph
    (src, dst, dd=dst degree), per-node degrees (node, d), and the edge
    count — localCheckpointed and memoized per dataset (cache.py). THREE
    query families build this graph (clustering coefficients, edge
    triangle support, the bench triangle-scaling probes); the per-call
    checkpoint re-materialized it every run (the measured ~1.5x, A/B in
    COVERAGE.md r14)."""
    def build() -> tuple[DataFrame, DataFrame, int]:
        li = load_table(spark, sf_dir, "lineitem")
        op = li.select(F.col("l_orderkey").alias("o"),
                       F.col("l_partkey").alias("p")).distinct()
        e = (op.alias("x").join(op.alias("y"), "o")
             .filter(F.col("x.p") < F.col("y.p"))
             .select(F.col("x.p").alias("a"), F.col("y.p").alias("b"))
             .distinct())
        deg = (e.select(F.col("a").alias("node"))
               .unionAll(e.select(F.col("b").alias("node")))
               .groupBy("node").agg(F.count(F.lit(1)).alias("d")))
        # Orient each edge from lower (degree, id) to higher — the degree
        # table is O(V), broadcast onto both endpoints.
        da = F.broadcast(deg.select(F.col("node").alias("a"),
                                    F.col("d").alias("da")))
        db = F.broadcast(deg.select(F.col("node").alias("b"),
                                    F.col("d").alias("db")))
        a_first = (F.col("da") < F.col("db")) | (
            (F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
        eo = (e.join(da, "a").join(db, "b")
              .select(F.when(a_first, F.col("a")).otherwise(F.col("b"))
                      .alias("src"),
                      F.when(a_first, F.col("b")).otherwise(F.col("a"))
                      .alias("dst"),
                      F.when(a_first, F.col("db")).otherwise(F.col("da"))
                      .alias("dd"))
              ).localCheckpoint(eager=True)
        # Degrees re-derived from the CHECKPOINTED bijective edge list —
        # one cheap pass instead of re-running the per-order self-join.
        degc = (eo.select(F.col("src").alias("node"))
                .unionAll(eo.select(F.col("dst").alias("node")))
                .groupBy("node").agg(F.count(F.lit(1)).alias("d"))
                ).localCheckpoint(eager=True)
        return eo, degc, eo.count()

    return cached(spark, ("copurchase_oriented",
                          data_fingerprint(sf_dir, "lineitem")), build)

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
    e1 = eo.select("src", F.col("dst").alias("u"), F.col("dd").alias("ud"))
    e2 = eo.select("src", F.col("dst").alias("v"), F.col("dd").alias("vd"))
    u_first = (F.col("ud") < F.col("vd")) | (
        (F.col("ud") == F.col("vd")) & (F.col("u") < F.col("v")))
    w = (e1.join(e2, "src").filter(u_first)
         .select(F.col("src").alias("c"), "u", "v"))
    # Size-gated broadcast of the closing edge list (the probe side is the
    # 34x-larger wedge stream) + ONE explode pass over the triangle stream
    # — the prior 3-way unionAll re-ran the wedge and closing joins per
    # branch (graph13's round-13 fix, applied here too).
    close = eo.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    if n_edges <= 5_000_000:
        close = F.broadcast(close)
    tri = w.join(close, ["u", "v"])
    tpn = (tri.select(F.explode(F.array("c", "u", "v")).alias("node"))
           .groupBy("node").agg(F.count(F.lit(1)).alias("t")))
    pn = (deg.join(tpn, "node", "left_outer")
          .select("d", F.coalesce("t", F.lit(0)).alias("t"))
          .withColumn(
              "cc_micro",
              F.when(F.col("d") >= 2,
                     F.expr("(2 * t * 1000000) div (d * (d - 1))"))
               .otherwise(F.lit(0)).cast("long")))
    out = pn.agg(
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
    return out
