"""Tests built from sufficient statistics: one-way ANOVA and the
Brown-Forsythe variance test (one fixed-point F, ``anova_f``), Welch's
t, Mahalanobis outliers, the negative-binomial fit, the Box-Cox
likelihood grid, Cochran-Armitage, McNemar, the Wilson interval,
empirical-Bayes rate shrinkage and weighted Jaccard.

Each query reduces the corpus with one map-side-combinable aggregate to
exact integer moments or counts (per group, per user, per hour of day,
per token) and then evaluates a fixed expression over that small frame;
the package docstring has the lattice rules they follow.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ...registry import register
from ...tables import load_table

_DEC = "decimal(38,0)"

# ----------------------------------------------------------- ANOVA's F

# Fixed-point lattice for the between-group terms s_h^2 / n_h. Headroom:
# s_h^2 * 1e15 needs n_h <= ~3e9 per group to stay under 38 digits;
# beyond that drop the scale.
_SCALE = 10 ** 15


def _floor_div_scaled(num: Column, divisor: Column) -> Column:
    """floor(num^2 * SCALE / divisor) exactly: decimal mod, subtract, then
    an exactly divisible decimal division (the oracle's hugeint //)."""
    prod = num.cast(_DEC) * num * F.lit(_SCALE)
    return ((prod - prod % divisor) / divisor).cast(_DEC)


def anova_f(groups: DataFrame) -> DataFrame:
    """One row (n, k, ssb_s, ssw_s, sst_s, f) of one-way ANOVA from
    per-group sufficient statistics (n_h, s_h = sum x, q_h = sum x^2) of
    an integer variable x. The sums of squares are carried x1e15 on the
    fixed-point lattice — each between-group term s_h^2/n_h is the exact
    integer floor(s_h^2 * 1e15 / n_h), so the reduction is
    order-insensitive integer addition — and cast to double once;
    f = (ssb/(k-1)) / (ssw/(n-k))."""
    t = groups.agg(
        F.sum("n_h").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(_floor_div_scaled(F.col("s_h"), F.col("n_h")))
        .cast(_DEC).alias("between_s"),
        F.sum("s_h").cast(_DEC).alias("s"),
        F.sum("q_h").cast(_DEC).alias("q"))
    total = _floor_div_scaled(F.col("s"), F.col("n"))
    q = F.col("q") * _SCALE
    u = t.select(
        "n", "k",
        F.greatest(F.col("between_s") - total, F.lit(0).cast(_DEC))
        .cast("double").alias("ssb_s"),
        (q - F.col("between_s")).cast("double").alias("ssw_s"),
        (q - total).cast("double").alias("sst_s"))
    return u.withColumn("f", (F.col("ssb_s") / (F.col("k") - 1))
                        / (F.col("ssw_s") / (F.col("n") - F.col("k"))))


def _anova_oracle() -> str:
    return f"""
WITH s AS (
  SELECT event_type,
         count(*) AS n_h,
         sum(cast(floor(value * 100) AS bigint)) AS s_h,
         sum(cast(floor(value * 100) AS bigint)
             * cast(floor(value * 100) AS bigint)) AS q_h
  FROM events GROUP BY 1),
t AS (
  SELECT cast(sum(n_h) AS bigint) AS n,
         cast(count(*) AS bigint) AS k,
         sum((cast(s_h AS hugeint) * s_h * {_SCALE}) // n_h)
           AS between_s,
         cast(sum(s_h) AS bigint) AS s,
         cast(sum(q_h) AS bigint) AS q
  FROM s),
u AS (
  SELECT n, k,
         cast(greatest(between_s
              - (cast(s AS hugeint) * s * {_SCALE}) // n, 0)
              AS double) AS ssb_s,
         cast(cast(q AS hugeint) * {_SCALE} - between_s
              AS double) AS ssw_s,
         cast(cast(q AS hugeint) * {_SCALE}
              - (cast(s AS hugeint) * s * {_SCALE}) // n
              AS double) AS sst_s
  FROM t)
SELECT n, k,
       round(ssb_s / {_SCALE}e4, 4) AS ssb,
       round(ssw_s / {_SCALE}e4, 4) AS ssw,
       round((ssb_s / (k - 1)) / (ssw_s / (n - k)), 6) AS f_stat,
       round(ssb_s / sst_s, 6) AS eta_sq
FROM u"""


@register(
    "anova_f_oneway",
    oracle=_anova_oracle(),
    tags=("evaluation", "statistics"),
)
def anova_f_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n, k, ssb, ssw, f_stat, eta_sq): one-way ANOVA of `value` across
    the five event types from exact bigint sufficient statistics of the
    cents; sums of squares reported in dollars^2."""
    e = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100).cast("bigint")
    s = (e.select(F.col("event_type"), cents.alias("cents"))
         .groupBy("event_type")
         .agg(F.count(F.lit(1)).alias("n_h"),
              F.sum("cents").alias("s_h"),
              F.sum(F.col("cents") * F.col("cents")).alias("q_h")))
    return anova_f(s).select(
        "n", "k",
        F.round(F.col("ssb_s") / (_SCALE * 1e4), 4).alias("ssb"),
        F.round(F.col("ssw_s") / (_SCALE * 1e4), 4).alias("ssw"),
        F.round("f", 6).alias("f_stat"),
        F.round(F.col("ssb_s") / F.col("sst_s"), 6).alias("eta_sq"))


def _bf_oracle() -> str:
    return f"""
WITH v AS (
  SELECT event_type, cast(floor(value * 100) AS bigint) AS cents
  FROM events),
g AS (SELECT event_type, cents, count(*) AS t FROM v GROUP BY 1, 2),
cum AS (
  SELECT event_type, cents, t,
         coalesce(sum(t) OVER (PARTITION BY event_type ORDER BY cents
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before,
         sum(t) OVER (PARTITION BY event_type) AS n_h
  FROM g),
med AS (  -- doubled median: x_((n+1)//2) + x_((n+2)//2), exact integer
  SELECT event_type,
         sum(CASE WHEN (n_h + 1) // 2 > before
                   AND (n_h + 1) // 2 <= before + t THEN cents END)
       + sum(CASE WHEN (n_h + 2) // 2 > before
                   AND (n_h + 2) // 2 <= before + t THEN cents END)
           AS med2
  FROM cum GROUP BY 1),
z AS (
  SELECT v.event_type, abs(2 * v.cents - m.med2) AS z2
  FROM v JOIN med m ON m.event_type = v.event_type),
s AS (
  SELECT event_type, count(*) AS n_h,
         sum(z2) AS s_h, sum(cast(z2 AS hugeint) * z2) AS q_h
  FROM z GROUP BY 1),
t2 AS (
  SELECT cast(sum(n_h) AS bigint) AS n, cast(count(*) AS bigint) AS k,
         sum((cast(s_h AS hugeint) * s_h * {_SCALE}) // n_h) AS between_s,
         cast(sum(s_h) AS hugeint) AS s,
         cast(sum(q_h) AS hugeint) AS q
  FROM s),
u AS (
  SELECT n, k,
         cast(greatest(between_s - (s * s * {_SCALE}) // n, 0)
              AS double) AS ssb_s,
         cast(q * {_SCALE} - between_s AS double) AS ssw_s
  FROM t2)
SELECT n, k,
       round((ssb_s / (k - 1)) / (ssw_s / (n - k)), 6) AS f_bf
FROM u"""


@register(
    "brown_forsythe_variance",
    oracle=_bf_oracle(),
    tags=("evaluation", "statistics"),
)
def brown_forsythe_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n, k, f_bf): Brown-Forsythe variance-homogeneity test (the
    median-centered Levene) of `value` across the five event types — each
    group centered at its DOUBLED median (the sum of the two middle order
    statistics, an integer for odd or even n), integer absolute
    deviations, then ANOVA's F over them (``anova_f``)."""
    e = load_table(spark, sf_dir, "events")
    v = e.select("event_type",
                 F.floor(F.col("value") * 100).cast("bigint").alias("cents"))
    g = v.groupBy("event_type", "cents").agg(F.count(F.lit(1)).alias("t"))
    wc = (W.partitionBy("event_type").orderBy("cents")
          .rowsBetween(W.unboundedPreceding, -1))
    wt = W.partitionBy("event_type")
    cum = (g.withColumn("before",
                        F.coalesce(F.sum("t").over(wc), F.lit(0)))
           .withColumn("n_h", F.sum("t").over(wt)))
    # positions (n+1)//2 and (n+2)//2 located inside the cumulated runs
    lo = F.floor((F.col("n_h") + 1) / 2).cast("long")
    hi = F.floor((F.col("n_h") + 2) / 2).cast("long")
    med = (cum.groupBy("event_type")
           .agg((F.sum(F.when((lo > F.col("before"))
                              & (lo <= F.col("before") + F.col("t")),
                              F.col("cents")))
                 + F.sum(F.when((hi > F.col("before"))
                                & (hi <= F.col("before") + F.col("t")),
                                F.col("cents")))).alias("med2")))
    z = (v.join(F.broadcast(med), "event_type")
         .select("event_type",
                 F.abs(2 * F.col("cents") - F.col("med2")).alias("z2")))
    s = (z.groupBy("event_type")
         .agg(F.count(F.lit(1)).alias("n_h"),
              F.sum("z2").alias("s_h"),
              F.sum(F.col("z2").cast(_DEC) * F.col("z2")).alias("q_h")))
    return anova_f(s).select("n", "k", F.round("f", 6).alias("f_bf"))


# ----------------------------------------------------------------- Welch

_WELCH_ORACLE = """
WITH x AS (SELECT CASE WHEN isodow(o_orderdate) >= 6 THEN 1 ELSE 0 END
                    AS wk,
                  cast(round(o_totalprice * 100) AS bigint) AS xc
           FROM orders),
s AS (SELECT wk, cast(count(*) AS bigint) AS n,
             cast(sum(xc) AS bigint) AS sx,
             cast(sum(cast(xc AS decimal(19, 0)) * xc) AS decimal(38, 0))
               AS sxx
      FROM x GROUP BY wk),
w AS (SELECT max(CASE WHEN wk = 1 THEN n END) AS n1,
             max(CASE WHEN wk = 0 THEN n END) AS n2,
             max(CASE WHEN wk = 1 THEN sx END) AS sx1,
             max(CASE WHEN wk = 0 THEN sx END) AS sx2,
             max(CASE WHEN wk = 1 THEN sxx END) AS sxx1,
             max(CASE WHEN wk = 0 THEN sxx END) AS sxx2
      FROM s),
m AS (SELECT n1, n2,
             cast(sx1 AS double) / n1 / 100.0 AS m1,
             cast(sx2 AS double) / n2 / 100.0 AS m2,
             (cast(sxx1 AS double)
              - cast(sx1 AS double) * sx1 / n1) / (n1 - 1) / 10000.0
               AS v1,
             (cast(sxx2 AS double)
              - cast(sx2 AS double) * sx2 / n2) / (n2 - 1) / 10000.0
               AS v2
      FROM w)
SELECT n1 AS n_weekend, n2 AS n_weekday,
       round(m1, 6) AS mean_weekend, round(m2, 6) AS mean_weekday,
       round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 6) AS t_stat,
       round((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)
             / ((v1 / n1) * (v1 / n1) / (n1 - 1)
                + (v2 / n2) * (v2 / n2) / (n2 - 1)), 6) AS df
FROM m"""


@register(
    "welch_ttest_value",
    oracle=_WELCH_ORACLE,
    tags=("statistics", "hypothesis-test"),
)
def welch_ttest_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test of weekend vs weekday order value
    (cents-lattice sufficient statistics, Satterthwaite df)."""
    o = load_table(spark, sf_dir, "orders")
    x = o.select(
        F.when(F.weekday("o_orderdate") >= 5, 1).otherwise(0).alias("wk"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("xc"))
    s = x.groupBy("wk").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xc").cast("long").alias("sx"),
        F.sum(F.col("xc").cast("decimal(19,0)") * F.col("xc"))
        .cast(_DEC).alias("sxx"))
    w = s.agg(
        F.max(F.when(F.col("wk") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("wk") == 0, F.col("n"))).alias("n2"),
        F.max(F.when(F.col("wk") == 1, F.col("sx"))).alias("sx1"),
        F.max(F.when(F.col("wk") == 0, F.col("sx"))).alias("sx2"),
        F.max(F.when(F.col("wk") == 1, F.col("sxx"))).alias("sxx1"),
        F.max(F.when(F.col("wk") == 0, F.col("sxx"))).alias("sxx2"))
    m = w.select(
        "n1", "n2",
        (F.col("sx1").cast("double") / F.col("n1") / 100.0).alias("m1"),
        (F.col("sx2").cast("double") / F.col("n2") / 100.0).alias("m2"),
        ((F.col("sxx1").cast("double")
          - F.col("sx1").cast("double") * F.col("sx1") / F.col("n1"))
         / (F.col("n1") - 1) / 10000.0).alias("v1"),
        ((F.col("sxx2").cast("double")
          - F.col("sx2").cast("double") * F.col("sx2") / F.col("n2"))
         / (F.col("n2") - 1) / 10000.0).alias("v2"))
    se1, se2 = F.col("v1") / F.col("n1"), F.col("v2") / F.col("n2")
    return m.select(
        F.col("n1").alias("n_weekend"), F.col("n2").alias("n_weekday"),
        F.round("m1", 6).alias("mean_weekend"),
        F.round("m2", 6).alias("mean_weekday"),
        F.round((F.col("m1") - F.col("m2")) / F.sqrt(se1 + se2), 6)
        .alias("t_stat"),
        F.round((se1 + se2) * (se1 + se2)
                / (se1 * se1 / (F.col("n1") - 1)
                   + se2 * se2 / (F.col("n2") - 1)), 6).alias("df"))


# ----------------------------------------------------------- Mahalanobis

_TOP = 20

# n^2-scaled covariance entries from the raw integer moments (exact
# integers; computed on decimal(38,0)/hugeint).
_C = {
    "c11": "(n * s11 - s1 * s1)", "c12": "(n * s12 - s1 * s2)",
    "c13": "(n * s13 - s1 * s3)", "c22": "(n * s22 - s2 * s2)",
    "c23": "(n * s23 - s2 * s3)", "c33": "(n * s33 - s3 * s3)",
}
# Double-precision adjugate/determinant over the exact C integers — the
# SAME text in Spark and DuckDB (IEEE ops, fixed tree => identical bits).
_DBL = {k: f"cast({v} AS double)" for k, v in _C.items()}
_ADJ = {
    "a11": "({c22} * {c33} - {c23} * {c23})",
    "a22": "({c11} * {c33} - {c13} * {c13})",
    "a33": "({c11} * {c22} - {c12} * {c12})",
    "a12": "(-({c12} * {c33} - {c13} * {c23}))",
    "a13": "({c12} * {c23} - {c13} * {c22})",
    "a23": "(-({c11} * {c23} - {c13} * {c12}))",
}
_ADJ = {k: v.format(**_DBL) for k, v in _ADJ.items()}
_DET = ("({c11} * ({c22} * {c33} - {c23} * {c23})"
        " - {c12} * ({c12} * {c33} - {c23} * {c13})"
        " + {c13} * ({c12} * {c23} - {c22} * {c13}))").format(**_DBL)
# z' adj(C) z / det(C), z cast to double once per axis.
_D2 = (f"(({_ADJ['a11']} * zd1 * zd1 + {_ADJ['a22']} * zd2 * zd2"
       f" + {_ADJ['a33']} * zd3 * zd3"
       f" + 2 * ({_ADJ['a12']} * zd1 * zd2 + {_ADJ['a13']} * zd1 * zd3"
       f" + {_ADJ['a23']} * zd2 * zd3)) / {_DET})")

_MAHA_ORACLE = f"""
WITH pts AS (SELECT event_id,
                    cast(round(value * 100) AS bigint) AS x1,
                    cast(extract(hour FROM ts) AS bigint) AS x2,
                    cast(extract(isodow FROM ts) AS bigint) AS x3
             FROM events),
m AS (SELECT cast(count(*) AS hugeint) AS n,
             cast(sum(x1) AS hugeint) AS s1, cast(sum(x2) AS hugeint) AS s2,
             cast(sum(x3) AS hugeint) AS s3,
             cast(sum(cast(x1 AS hugeint) * x1) AS hugeint) AS s11,
             cast(sum(cast(x1 AS hugeint) * x2) AS hugeint) AS s12,
             cast(sum(cast(x1 AS hugeint) * x3) AS hugeint) AS s13,
             cast(sum(cast(x2 AS hugeint) * x2) AS hugeint) AS s22,
             cast(sum(cast(x2 AS hugeint) * x3) AS hugeint) AS s23,
             cast(sum(cast(x3 AS hugeint) * x3) AS hugeint) AS s33
      FROM pts),
d AS (SELECT event_id,
             cast(cast(n * x1 - s1 AS hugeint) AS double) AS zd1,
             cast(cast(n * x2 - s2 AS hugeint) AS double) AS zd2,
             cast(cast(n * x3 - s3 AS hugeint) AS double) AS zd3,
             n, s1, s2, s3, s11, s12, s13, s22, s23, s33
      FROM pts, m)
SELECT event_id, round({_D2}, 6) AS d2
FROM d ORDER BY d2 DESC, event_id LIMIT {_TOP}"""


@register(
    "mahalanobis_outliers_topk",
    oracle=_MAHA_ORACLE,
    tags=("statistics", "anomaly", "data-quality"),
)
def mahalanobis_outliers_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 events by exact-moment Mahalanobis distance over (value
    cents, hour, iso weekday) — a point can be unremarkable on every
    marginal yet far from the cloud once the covariance couples the axes.
    With integer features and exact integer moments, z = n*x - S and
    C = n*Sxy - Sx*Sy (the n^2-scaled covariance) are integers and
    d^2 = z' adj(C) z / det(C) needs no epsilon. The adjugate, determinant
    and quadratic form run in DOUBLE over those integers (their products
    overflow any fixed decimal) with ONE expression tree shared verbatim
    by both engines, then d^2 rounds once to 6 dp."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("x1"),
        F.hour("ts").cast("long").alias("x2"),
        F.expr("extract(DAYOFWEEK_ISO FROM ts)").cast("long").alias("x3"))
    m = pts.agg(
        F.count(F.lit(1)).cast(_DEC).alias("n"),
        F.sum("x1").cast(_DEC).alias("s1"),
        F.sum("x2").cast(_DEC).alias("s2"),
        F.sum("x3").cast(_DEC).alias("s3"),
        F.sum(F.col("x1").cast(_DEC) * F.col("x1")).alias("s11"),
        F.sum(F.col("x1").cast(_DEC) * F.col("x2")).alias("s12"),
        F.sum(F.col("x1").cast(_DEC) * F.col("x3")).alias("s13"),
        F.sum(F.col("x2").cast(_DEC) * F.col("x2")).alias("s22"),
        F.sum(F.col("x2").cast(_DEC) * F.col("x3")).alias("s23"),
        F.sum(F.col("x3").cast(_DEC) * F.col("x3")).alias("s33"))
    d = (pts.crossJoin(F.broadcast(m))
         .selectExpr("event_id",
                     "cast(n * x1 - s1 AS double) AS zd1",
                     "cast(n * x2 - s2 AS double) AS zd2",
                     "cast(n * x3 - s3 AS double) AS zd3",
                     "n", "s1", "s2", "s3",
                     "s11", "s12", "s13", "s22", "s23", "s33"))
    return (d.selectExpr("event_id", f"round({_D2}, 6) AS d2")
            .orderBy(F.desc("d2"), "event_id").limit(_TOP))


# ------------------------------------------------------ negative binomial

_NB_ORACLE = """
WITH dc AS (SELECT event_type AS et, date_trunc('day', ts) AS d,
                   cast(count(*) AS bigint) AS c
            FROM events GROUP BY 1, 2),
m AS (SELECT et, cast(count(*) AS bigint) AS nd,
             cast(sum(c) AS bigint) AS s1,
             cast(sum(c * c) AS bigint) AS s2
      FROM dc GROUP BY et)
SELECT et AS event_type, nd AS n_days,
       round(cast(s1 AS double) / nd, 6) AS mean_daily,
       round(cast(nd * s2 - s1 * s1 AS double) / (nd * nd), 6)
         AS var_daily,
       CASE WHEN nd * s2 - s1 * s1 > nd * s1 THEN
         round((cast(s1 AS double) / nd) * (cast(s1 AS double) / nd)
               / (cast(nd * s2 - s1 * s1 AS double) / (nd * nd)
                  - cast(s1 AS double) / nd), 6)
       END AS nb_r,
       CASE WHEN nd * s2 - s1 * s1 > nd * s1 THEN
         round((cast(s1 AS double) / nd)
               / (cast(nd * s2 - s1 * s1 AS double) / (nd * nd)), 6)
       END AS nb_p
FROM m ORDER BY event_type"""


@register(
    "negative_binomial_fit_by_type",
    oracle=_NB_ORACLE,
    tags=("statistics", "distribution-fit", "timeseries"),
)
def negative_binomial_fit_by_type(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Method-of-moments NB(r, p) on daily event counts per type — the
    overdispersion model behind the Fano factor: r = m^2/(v - m),
    p = m/v from exact integer day-count moments, population variance.
    Types with v <= m (under-dispersed) report NULL r/p through a guard
    both engines share."""
    ev = load_table(spark, sf_dir, "events")
    dc = (ev.groupBy(F.col("event_type").alias("et"),
                     F.date_trunc("day", "ts").alias("d"))
          .agg(F.count(F.lit(1)).cast("long").alias("c")))
    m = dc.groupBy("et").agg(
        F.count(F.lit(1)).cast("long").alias("nd"),
        F.sum("c").cast("long").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"))
    return (m.selectExpr(
        "et AS event_type", "nd AS n_days",
        "round(cast(s1 AS double) / nd, 6) AS mean_daily",
        "round(cast(nd * s2 - s1 * s1 AS double) / (nd * nd), 6)"
        " AS var_daily",
        "CASE WHEN nd * s2 - s1 * s1 > nd * s1 THEN"
        " round((cast(s1 AS double) / nd) * (cast(s1 AS double) / nd)"
        " / (cast(nd * s2 - s1 * s1 AS double) / (nd * nd)"
        "    - cast(s1 AS double) / nd), 6) END AS nb_r",
        "CASE WHEN nd * s2 - s1 * s1 > nd * s1 THEN"
        " round((cast(s1 AS double) / nd)"
        " / (cast(nd * s2 - s1 * s1 AS double) / (nd * nd)), 6)"
        " END AS nb_p")
        .orderBy("event_type"))


# --------------------------------------------------------------- Box-Cox

_LAMBDAS = ("-1.0", "-0.5", "0.0", "0.5", "1.0")
_LAM_SQL = ",".join(f"({v})" for v in _LAMBDAS)

# Per-row 1e6-snapped transform, shared text between both engines' SQL.
_Y_SNAP = """CASE WHEN lam = 0.0 THEN round(1e6 * ln(x))
     ELSE round(1e6 * (pow(x, lam) - 1.0) / lam) END"""

_BOXCOX_ORACLE = f"""
WITH x AS (SELECT cast(l_extendedprice AS double) AS x FROM lineitem
           WHERE l_extendedprice > 0),
g AS (SELECT lam FROM (VALUES {_LAM_SQL}) l(lam)),
ym AS (SELECT lam, cast({_Y_SNAP} AS bigint) AS y,
              cast(round(1e6 * ln(x)) AS bigint) AS lnx
       FROM x CROSS JOIN g),
s AS (SELECT lam, cast(count(*) AS bigint) AS n,
             cast(sum(y) AS bigint) AS sy,
             sum(cast(y AS decimal(19, 0)) * y) AS syy,
             cast(sum(lnx) AS bigint) AS slnx
      FROM ym GROUP BY lam)
SELECT lam AS lambda,
       round(cast(n * syy - cast(sy AS decimal(19, 0)) * sy AS double)
             / (cast(n AS double) * n) / 1e12, 6) AS sigma2,
       round(-0.5 * n * ln(cast(n * syy - cast(sy AS decimal(19, 0)) * sy
                                AS double)
                           / (cast(n AS double) * n) / 1e12)
             + (lam - 1.0) * (slnx / 1e6), 6) AS loglik
FROM s ORDER BY lambda"""


@register(
    "boxcox_loglik_grid",
    oracle=_BOXCOX_ORACLE,
    tags=("statistics", "feature-engineering"),
)
def boxcox_loglik_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Box-Cox profile log-likelihood of l_extendedprice over the lambda
    grid (-1, -0.5, 0, 0.5, 1): loglik(lam) = -n/2 ln(sigma^2_lam) +
    (lam-1) sum(ln x). The transformed values y = (x^lam - 1)/lam (ln x
    at lam = 0) are snapped per row to a 1e6 lattice, the variance comes
    from DECIMAL(38,0)-exact sufficient statistics and sum(ln x) rides
    the micro-nat lattice; x^0.5 and ln carry the accepted 1-ulp libm
    risk only. The grid row with max loglik is the transform a feature
    pipeline would pick."""
    li = load_table(spark, sf_dir, "lineitem")
    x = (li.filter(F.col("l_extendedprice") > 0)
         .select(F.col("l_extendedprice").cast("double").alias("x")))
    g = F.explode(F.array(*[F.lit(float(v)) for v in _LAMBDAS])).alias("lam")
    ym = (x.select("x", g)
          .select("lam",
                  F.expr(f"cast({_Y_SNAP} as bigint)").alias("y"),
                  F.expr("cast(round(1e6 * ln(x)) as bigint)").alias("lnx")))
    s = (ym.groupBy("lam")
         .agg(F.count(F.lit(1)).cast("long").alias("n"),
              F.sum("y").alias("sy"),
              F.sum(F.col("y").cast("decimal(19,0)") * F.col("y"))
              .alias("syy"),
              F.sum("lnx").alias("slnx")))
    var_num = (F.col("n") * F.col("syy")
               - F.col("sy").cast("decimal(19,0)") * F.col("sy"))
    sigma2 = (var_num.cast("double")
              / (F.col("n").cast("double") * F.col("n")) / F.lit(1e12))
    return (s.select(
        F.col("lam").alias("lambda"),
        F.round(sigma2, 6).alias("sigma2"),
        F.round(F.lit(-0.5) * F.col("n") * F.log(sigma2)
                + (F.col("lam") - 1.0) * (F.col("slnx") / F.lit(1e6)), 6)
        .alias("loglik"))
        .orderBy("lambda"))


# ------------------------------------------------------ Cochran-Armitage

def _ca_oracle() -> str:
    return """
WITH h AS (
  SELECT (epoch_us(ts) // 3600000000) % 24 AS w,
         count(*) AS n,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS r
  FROM events GROUP BY 1),
agg AS (
  SELECT cast(sum(n) AS bigint) AS nt, cast(sum(r) AS bigint) AS rt,
         cast(sum(w * n) AS bigint) AS swn,
         cast(sum(w * w * n) AS bigint) AS sw2n,
         cast(sum(w * (r * (SELECT sum(n) FROM h)
                       - n * (SELECT sum(r) FROM h))) AS hugeint) AS t_num
  FROM h)
SELECT nt AS n, rt AS r, cast(t_num AS bigint) AS t_stat,
       round(cast(t_num AS double)
             / sqrt(cast(cast(rt AS hugeint) * (nt - rt)
                         * (cast(nt AS hugeint) * sw2n - cast(swn AS hugeint)
                            * swn) AS double)
                    / cast(nt AS double)), 6) AS z_ca
FROM agg"""


@register(
    "cochran_armitage_trend",
    oracle=_ca_oracle(),
    tags=("evaluation", "statistics"),
)
def cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n, r, t_stat, z_ca): Cochran-Armitage trend test of purchase
    proportion across hour-of-day scores 0..23 — T = sum w*(r_h*N -
    n_h*R) is an exact integer (N x the classical statistic), its
    variance R(N-R)*(N*sum(w^2 n) - (sum w n)^2)/N an exact rational,
    one sqrt (IEEE correctly rounded) and one division for z."""
    e = load_table(spark, sf_dir, "events")
    h = (e.groupBy(F.expr("(unix_micros(ts) div 3600000000) % 24")
                   .alias("w"))
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum(F.when(F.col("event_type") == "purchase", 1)
                    .otherwise(0)).alias("r")))
    tot = h.agg(F.sum("n").alias("nt0"), F.sum("r").alias("rt0"))
    agg = (h.crossJoin(F.broadcast(tot))
           .agg(F.max("nt0").cast("long").alias("nt"),
                F.max("rt0").cast("long").alias("rt"),
                F.sum(F.col("w") * F.col("n")).cast("long").alias("swn"),
                F.sum(F.col("w") * F.col("w") * F.col("n"))
                .cast("long").alias("sw2n"),
                F.sum(F.col("w").cast(_DEC)
                      * (F.col("r") * F.col("nt0")
                         - F.col("n") * F.col("rt0"))).alias("t_num")))
    # t_num = N*T, so Var(t_num) = N^2 * Var(T)
    #        = R(N-R) * (N*sum(w^2 n) - (sum w n)^2) / N.
    var = (F.col("rt").cast(_DEC) * (F.col("nt") - F.col("rt"))
           * (F.col("nt").cast(_DEC) * F.col("sw2n")
              - F.col("swn").cast(_DEC) * F.col("swn"))).cast("double") \
        / F.col("nt").cast("double")
    return agg.select(
        F.col("nt").alias("n"), F.col("rt").alias("r"),
        F.col("t_num").cast("long").alias("t_stat"),
        F.round(F.col("t_num").cast("double") / F.sqrt(var), 6)
        .alias("z_ca"))


# --------------------------------------------------------------- McNemar

_HALF_CUT = "2024-01-16"
# "Engaged purchaser" = at least _THR purchases in the half-month; the
# raw any-purchase indicator saturates on this corpus (~13 purchases per
# user-month: b = c = 0 at every SF), so the paired test rides the
# engagement threshold instead — measured healthy flip counts at
# sf0.001/0.01/0.1 (b, c = 5/4, 38/41, 378/388).
_THR = 7


def _mcnemar_oracle() -> str:
    return f"""
WITH u AS (
  SELECT user_id,
         CASE WHEN sum(CASE WHEN event_type = 'purchase'
                   AND ts < TIMESTAMP '{_HALF_CUT}' THEN 1 ELSE 0 END)
              >= {_THR} THEN 1 ELSE 0 END AS a1,
         CASE WHEN sum(CASE WHEN event_type = 'purchase'
                   AND ts >= TIMESTAMP '{_HALF_CUT}' THEN 1 ELSE 0 END)
              >= {_THR} THEN 1 ELSE 0 END AS a2
  FROM events GROUP BY 1),
f AS (
  SELECT cast(count(*) AS bigint) AS n_users,
         cast(sum(CASE WHEN a1 = 1 AND a2 = 0 THEN 1 ELSE 0 END)
              AS bigint) AS b,
         cast(sum(CASE WHEN a1 = 0 AND a2 = 1 THEN 1 ELSE 0 END)
              AS bigint) AS c
  FROM u)
SELECT n_users, b, c,
       round(CASE WHEN b + c = 0 THEN 0.0
                  ELSE cast((abs(b - c) - 1) * (abs(b - c) - 1) AS double)
                       / (b + c) END, 6) AS chi2_cc
FROM f"""


@register(
    "mcnemar_purchase_halves",
    oracle=_mcnemar_oracle(),
    tags=("evaluation", "statistics", "experiment"),
)
def mcnemar_purchase_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_users, b, c, chi2_cc): McNemar's paired test of per-user
    ENGAGED-purchaser status (>= _THR purchases) between the two halves
    of the month — b = users engaged early but not late, c = the
    reverse; the continuity-corrected statistic (|b-c|-1)^2/(b+c) is pure
    counting plus one division."""
    e = load_table(spark, sf_dir, "events")
    cut = F.lit(_HALF_CUT).cast("timestamp")
    u = (e.groupBy("user_id")
         .agg((F.sum(F.when((F.col("event_type") == "purchase")
                            & (F.col("ts") < cut), 1).otherwise(0))
               >= _THR).cast("int").alias("a1"),
              (F.sum(F.when((F.col("event_type") == "purchase")
                            & (F.col("ts") >= cut), 1).otherwise(0))
               >= _THR).cast("int").alias("a2")))
    f = u.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.when((F.col("a1") == 1) & (F.col("a2") == 0), 1)
              .otherwise(0)).cast("long").alias("b"),
        F.sum(F.when((F.col("a1") == 0) & (F.col("a2") == 1), 1)
              .otherwise(0)).cast("long").alias("c"))
    d = F.abs(F.col("b") - F.col("c"))
    return f.select(
        "n_users", "b", "c",
        F.round(F.when(F.col("b") + F.col("c") == 0, 0.0)
                .otherwise(((d - 1) * (d - 1)).cast("double")
                           / (F.col("b") + F.col("c"))), 6)
        .alias("chi2_cc"))


# ---------------------------------------------------------------- Wilson

_Z = 1.959964  # 95% two-sided normal quantile, fixed literal

_WILSON_ORACLE = f"""
WITH g AS (
  SELECT event_type,
         cast(count(*) AS bigint) AS n,
         cast(sum(CASE WHEN isodow(ts) >= 6 THEN 1 ELSE 0 END)
              AS bigint) AS k
  FROM events GROUP BY event_type),
w AS (SELECT event_type, n, k,
             cast(k AS double) / n AS p,
             {_Z} * {_Z} AS z2
      FROM g)
SELECT event_type, n, k, round(p, 6) AS p_hat,
       round((p + z2 / (2 * n)
              - {_Z} * sqrt((p * (1 - p) + z2 / (4 * n)) / n))
             / (1 + z2 / n), 6) AS ci_lo,
       round((p + z2 / (2 * n)
              + {_Z} * sqrt((p * (1 - p) + z2 / (4 * n)) / n))
             / (1 + z2 / n), 6) AS ci_hi
FROM w ORDER BY event_type"""


@register(
    "wilson_ci_weekend_share",
    oracle=_WILSON_ORACLE,
    tags=("statistics", "interval", "proportion"),
)
def wilson_ci_weekend_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n, k, p_hat, ci_lo, ci_hi): Wilson 95% score
    interval for the weekend share of each event type — the closed-form
    interval that behaves at small n and extreme rates; identical double
    tree in both engines over exact counts."""
    e = load_table(spark, sf_dir, "events")
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.weekday("ts") >= 5, 1).otherwise(0))
        .cast("long").alias("k"))
    p = F.col("k").cast("double") / F.col("n")
    z2 = F.lit(_Z * _Z)
    center = p + z2 / (2 * F.col("n"))
    half = F.lit(_Z) * F.sqrt((p * (1 - p) + z2 / (4 * F.col("n")))
                              / F.col("n"))
    denom = 1 + z2 / F.col("n")
    return (g.select("event_type", "n", "k",
                     F.round(p, 6).alias("p_hat"),
                     F.round((center - half) / denom, 6).alias("ci_lo"),
                     F.round((center + half) / denom, 6).alias("ci_hi"))
            .orderBy("event_type"))


# ------------------------------------------------------- empirical Bayes

_EB_ORACLE = """
WITH u AS (
  SELECT user_id, cast(count(*) AS bigint) AS n,
         cast(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS bigint) AS k
  FROM events GROUP BY user_id),
r9 AS (SELECT user_id, n, k,
              cast(round(1000000000 * (cast(k AS double) / n))
                   AS bigint) AS ri
       FROM u),
m AS (SELECT cast(count(*) AS bigint) AS nu,
             cast(sum(ri) AS bigint) AS sr9,
             cast(sum(cast(ri AS decimal(19, 0)) * ri)
                  AS decimal(38, 0)) AS srr18
      FROM r9),
h AS (SELECT nu,
             cast(sr9 AS double) / nu / 1e9 AS mu,
             (cast(srr18 AS double)
              - cast(sr9 AS double) * sr9 / nu) / (nu - 1) / 1e18 AS vr
      FROM m),
ab AS (SELECT mu, vr,
             CASE WHEN vr > 0 AND mu * (1 - mu) > vr
                  THEN mu * (mu * (1 - mu) / vr - 1) ELSE 1.0 END
               AS alpha,
             CASE WHEN vr > 0 AND mu * (1 - mu) > vr
                  THEN (1 - mu) * (mu * (1 - mu) / vr - 1) ELSE 1.0 END
               AS beta
      FROM h)
SELECT u.user_id, u.n, u.k,
       round(cast(u.k AS double) / u.n, 6) AS raw_rate,
       round((u.k + ab.alpha) / (u.n + ab.alpha + ab.beta), 6)
         AS eb_rate
FROM u CROSS JOIN ab
ORDER BY eb_rate DESC, user_id LIMIT 10"""


@register(
    "eb_shrunken_user_rates",
    oracle=_EB_ORACLE,
    tags=("statistics", "empirical-bayes", "ranking"),
)
def eb_shrunken_user_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, n, k, raw_rate, eb_rate): top-10 users by beta-binomial
    empirical-Bayes shrunken purchase rate — method-of-moments
    (alpha, beta) from the per-user rate mean/variance, posterior-mean
    shrinkage (k + a)/(n + a + b), deterministic (rate, user) order. The
    per-user rates are snapped once to the 1e9 lattice, so their moments
    are exact bigint/DECIMAL sums."""
    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long").alias("k"))
    r = F.col("k").cast("double") / F.col("n")
    r9 = u.select("user_id", "n", "k",
                  F.round(F.lit(1_000_000_000) * r).cast("long")
                  .alias("ri"))
    m = r9.agg(F.count(F.lit(1)).cast("long").alias("nu"),
               F.sum("ri").cast("long").alias("sr9"),
               F.sum(F.col("ri").cast("decimal(19,0)") * F.col("ri"))
               .cast(_DEC).alias("srr18"))
    h = m.select(
        "nu",
        (F.col("sr9").cast("double") / F.col("nu") / 1e9).alias("mu"),
        ((F.col("srr18").cast("double")
          - F.col("sr9").cast("double") * F.col("sr9") / F.col("nu"))
         / (F.col("nu") - 1) / 1e18).alias("vr"))
    fit_ok = (F.col("vr") > 0) & (F.col("mu") * (1 - F.col("mu"))
                                  > F.col("vr"))
    scale = F.col("mu") * (1 - F.col("mu")) / F.col("vr") - 1
    ab = h.select(
        F.when(fit_ok, F.col("mu") * scale).otherwise(F.lit(1.0))
        .alias("alpha"),
        F.when(fit_ok, (1 - F.col("mu")) * scale).otherwise(F.lit(1.0))
        .alias("beta"))
    return (u.crossJoin(F.broadcast(ab))
            .select("user_id", "n", "k",
                    F.round(r, 6).alias("raw_rate"),
                    F.round((F.col("k") + F.col("alpha"))
                            / (F.col("n") + F.col("alpha")
                               + F.col("beta")), 6).alias("eb_rate"))
            .orderBy(F.col("eb_rate").desc(), "user_id").limit(10))


# ------------------------------------------------------ weighted Jaccard

_WJ_ORACLE = """
WITH tk AS (SELECT source, unnest(string_split(text, ' ')) AS tok
            FROM documents),
cf AS (SELECT source, tok, cast(count(*) AS bigint) AS cf
       FROM tk GROUP BY 1, 2),
pr AS (SELECT a.source AS sa, b.source AS sb FROM
       (SELECT DISTINCT source FROM cf) a
       JOIN (SELECT DISTINCT source FROM cf) b ON a.source < b.source),
j AS (SELECT pr.sa, pr.sb, cf.tok,
             sum(CASE WHEN cf.source = pr.sa THEN cf.cf ELSE 0 END) AS ca,
             sum(CASE WHEN cf.source = pr.sb THEN cf.cf ELSE 0 END) AS cb
      FROM pr JOIN cf ON cf.source = pr.sa OR cf.source = pr.sb
      GROUP BY 1, 2, 3)
SELECT sa AS src_a, sb AS src_b,
       cast(sum(least(ca, cb)) AS bigint) AS min_mass,
       cast(sum(greatest(ca, cb)) AS bigint) AS max_mass,
       round(cast(sum(least(ca, cb)) AS double)
             / sum(greatest(ca, cb)), 6) AS weighted_jaccard
FROM j GROUP BY sa, sb
ORDER BY weighted_jaccard DESC, src_a, src_b LIMIT 30"""


@register(
    "weighted_jaccard_sources",
    oracle=_WJ_ORACLE,
    tags=("text", "similarity", "mixture", "llm-pipeline"),
)
def weighted_jaccard_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-frequency-weighted Jaccard between source pairs, top 30:
    sum(min(cf_a, cf_b)) / sum(max(cf_a, cf_b)) over the union vocabulary
    with exact integer numerator and denominator. The unweighted vocab
    overlap says WHETHER sources share words; the weighted form says how
    much of their mass coincides (near 1 = same distribution)."""
    d = load_table(spark, sf_dir, "documents")
    cf = (d.select("source", F.explode(F.split("text", " ")).alias("tok"))
          .groupBy("source", "tok")
          .agg(F.count(F.lit(1)).cast("long").alias("cf")))
    srcs = cf.select("source").distinct()
    pr = (srcs.alias("a").join(srcs.alias("b"),
                               F.col("a.source") < F.col("b.source"))
          .select(F.col("a.source").alias("sa"),
                  F.col("b.source").alias("sb")))
    j = (F.broadcast(pr).join(
            cf, (F.col("source") == F.col("sa"))
            | (F.col("source") == F.col("sb")))
         .groupBy("sa", "sb", "tok")
         .agg(F.sum(F.when(F.col("source") == F.col("sa"), F.col("cf"))
                    .otherwise(0)).alias("ca"),
              F.sum(F.when(F.col("source") == F.col("sb"), F.col("cf"))
                    .otherwise(0)).alias("cb")))
    return (j.groupBy("sa", "sb")
            .agg(F.sum(F.least("ca", "cb")).cast("long").alias("min_mass"),
                 F.sum(F.greatest("ca", "cb")).cast("long")
                 .alias("max_mass"))
            .select(F.col("sa").alias("src_a"), F.col("sb").alias("src_b"),
                    "min_mass", "max_mass",
                    F.round(F.col("min_mass").cast("double")
                            / F.col("max_mass"), 6)
                    .alias("weighted_jaccard"))
            .orderBy(F.desc("weighted_jaccard"), "src_a", "src_b")
            .limit(30))
