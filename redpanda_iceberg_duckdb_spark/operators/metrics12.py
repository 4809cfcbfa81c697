"""Round-12 analytics additions: degree assortativity of the trade graph
and closed-form OLS regression as one combinable aggregate pass.

Degree assortativity (Newman 2002): Pearson correlation between the
degrees at the two ends of each edge — positive means hubs link to hubs
(social), negative means hubs link to leaves (bipartite-ish, which the
customer<->supplier trade graph is by construction, so the measured value
is strongly negative and a useful structural fingerprint). All moment
sums are exact integers (degrees are ints); the only floating-point steps
are two sqrt's and one division off identical integers, rounded to 6 —
deterministic cross-engine.

OLS (extendedprice ~ quantity over lineitem): the normal-equation
closed form computed in ONE scan — slope/intercept/R^2 are ratios of
integer moment sums on the cents lattice, so the whole regression is a
single combinable aggregate (map-side partials, one reduce row), the
shape that makes "fit a line to 100 TB" a non-event. Products reach
~1e19 at large SF, so moments accumulate in decimal(38,0) / hugeint.

Scale stance: assortativity = the cached degree-annotated edge table
(graph.edges._edges_with_deg — built once per dataset per application) +
one broadcast join of the O(V) degree table + one global aggregate; OLS
= one scan + one aggregate. No per-row Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import register
from ..tables import load_table
from .graph.edges import _edges_with_deg

_ASSORT_ORACLE = """
WITH eraw AS (SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
              FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
e AS (SELECT 2 * c AS src, 2 * s + 1 AS dst FROM eraw
      UNION ALL
      SELECT 2 * s + 1 AS src, 2 * c AS dst FROM eraw),
deg AS (SELECT src AS node, count(*) AS d FROM e GROUP BY src),
ed AS (SELECT ds.d AS x, dd.d AS y
       FROM e JOIN deg ds ON ds.node = e.src
              JOIN deg dd ON dd.node = e.dst),
m AS (SELECT cast(count(*) AS hugeint) AS n,
             cast(sum(x) AS hugeint) AS sx, cast(sum(y) AS hugeint) AS sy,
             cast(sum(cast(x AS hugeint) * x) AS hugeint) AS sxx,
             cast(sum(cast(y AS hugeint) * y) AS hugeint) AS syy,
             cast(sum(cast(x AS hugeint) * y) AS hugeint) AS sxy
      FROM ed)
SELECT cast(n AS bigint) AS n_edges,
       round(cast(n * sxy - sx * sy AS double)
             / (sqrt(cast(n * sxx - sx * sx AS double))
                * sqrt(cast(n * syy - sy * sy AS double))), 6)
         AS assortativity
FROM m"""


@register(
    "degree_assortativity",
    oracle=_ASSORT_ORACLE,
    tags=("graph", "statistics"),
)
def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-degree Pearson correlation over the symmetric trade graph's
    directed edge list (module docstring). The src side's degree already
    rides the cached edge table; the dst side joins the O(V) degree table
    by broadcast."""
    dec = "decimal(38,0)"
    ew = _edges_with_deg(spark, sf_dir)   # (src, dst, outdeg=deg(src))
    deg = ew.select("src", "outdeg").distinct().select(
        F.col("src").alias("dst"), F.col("outdeg").alias("ddeg"))
    ed = (ew.join(F.broadcast(deg), "dst")
          .select(F.col("outdeg").alias("x"), F.col("ddeg").alias("y")))
    m = ed.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y")).alias("syy"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"))
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return m.select(
        F.col("n").cast("long").alias("n_edges"),
        F.round(num.cast("double")
                / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))),
                6).alias("assortativity"))


_OLS_ORACLE = """
WITH pts AS (SELECT cast(l_quantity AS bigint) AS x,
                    cast(round(l_extendedprice * 100) AS bigint) AS y
             FROM lineitem),
m AS (SELECT cast(count(*) AS hugeint) AS n,
             cast(sum(x) AS hugeint) AS sx, cast(sum(y) AS hugeint) AS sy,
             cast(sum(cast(x AS hugeint) * x) AS hugeint) AS sxx,
             cast(sum(cast(y AS hugeint) * y) AS hugeint) AS syy,
             cast(sum(cast(x AS hugeint) * y) AS hugeint) AS sxy
      FROM pts)
SELECT cast(n AS bigint) AS n_rows,
       round(cast(n * sxy - sx * sy AS double)
             / cast(n * sxx - sx * sx AS double) / 100, 6)
         AS slope_price_per_qty,
       round((cast(sy AS double) / cast(n AS double)
              - (cast(n * sxy - sx * sy AS double)
                 / cast(n * sxx - sx * sx AS double))
                * (cast(sx AS double) / cast(n AS double))) / 100, 6)
         AS intercept_price,
       round(cast(n * sxy - sx * sy AS double)
             * cast(n * sxy - sx * sy AS double)
             / (cast(n * sxx - sx * sx AS double)
                * cast(n * syy - sy * sy AS double)), 6) AS r_squared
FROM m"""


@register(
    "ols_price_on_quantity",
    oracle=_OLS_ORACLE,
    tags=("statistics", "regression", "scale-pattern"),
)
def ols_price_on_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinary least squares of extendedprice (cents lattice) on quantity
    over all of lineitem, via the normal-equation closed form — slope,
    intercept, and R^2 as ratios of exact integer moment sums computed in
    ONE combinable aggregate (module docstring). Every float op runs on
    identical integers in both engines, so round-6 outputs match."""
    dec = "decimal(38,0)"
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"))
    m = pts.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y")).alias("syy"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"))
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
    vx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    slope = num.cast("double") / vx.cast("double")
    return m.select(
        F.col("n").cast("long").alias("n_rows"),
        F.round(slope / 100, 6).alias("slope_price_per_qty"),
        F.round((F.col("sy").cast("double") / F.col("n").cast("double")
                 - slope * (F.col("sx").cast("double")
                            / F.col("n").cast("double"))) / 100, 6)
         .alias("intercept_price"),
        F.round(num.cast("double") * num.cast("double")
                / (vx.cast("double") * vy.cast("double")), 6)
         .alias("r_squared"))
