"""Tests on the hourly event-count series: Mann-Kendall trend, the
Wald-Wolfowitz runs test, the Ljung-Box portmanteau, Page-Hinkley drift,
Kendall tau-b, a lag-1 Granger F-test and the partial autocorrelation.

The series comes from ``timeseries.hourly``: ``dense_hourly`` holds one
row per hour from the first to the last event hour, missing hours are
true zeros. Centering rides the N-scaled deviation ``z_t = n * c_t - S``,
an exact bigint, so every lag's covariance numerator and the variance
denominator are exact integer sums (package docstring for the lattice
rules). Each test works on the hour grid, whose size is bounded by the
time range, not the corpus; the windows and pair joins here run over
that grid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ...registry import register
from ...tables import load_table
from ..timeseries.hourly import (_MAX_POINTS, centered, dense_hourly,
                                 hourly_counts, hourly_spine_sql,
                                 lag_products, micros_hour, thin_series)


# ---------------------------------------------------------- Mann-Kendall

# Thinned hourly counts per event type — identical arithmetic to
# theilsen_hourly_trend's oracle, so the guard can never fork.
_HOURLY_THINNED = f"""
hourly0 AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h, count(*) AS c
  FROM events GROUP BY 1, 2),
hourly AS (
  SELECT event_type, h, c FROM (
    SELECT event_type, h, c,
           row_number() OVER (PARTITION BY event_type ORDER BY h) - 1
             AS rn,
           count(*) OVER (PARTITION BY event_type) AS len
    FROM hourly0)
  WHERE rn % cast(ceil(len / {_MAX_POINTS}.0) AS bigint) = 0)"""


def _mk_oracle() -> str:
    return f"""
WITH {_HOURLY_THINNED},
pairs AS (
  SELECT a.event_type,
         CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1 ELSE 0 END AS sg
  FROM hourly a JOIN hourly b
    ON a.event_type = b.event_type AND b.h > a.h),
s AS (SELECT event_type, sum(sg) AS s_stat FROM pairs GROUP BY 1),
npts AS (SELECT event_type, count(*) AS n FROM hourly GROUP BY 1),
ties AS (
  SELECT event_type,
         sum(t * (t - 1) * (2 * t + 5)) AS tie18
  FROM (SELECT event_type, c, count(*) AS t FROM hourly GROUP BY 1, 2)
  GROUP BY 1),
v AS (
  SELECT n.event_type, n.n, s.s_stat,
         n.n * (n.n - 1) * (2 * n.n + 5) - ties.tie18 AS var18
  FROM npts n JOIN s USING (event_type) JOIN ties USING (event_type))
SELECT event_type, cast(n AS bigint) AS n_points,
       cast(s_stat AS bigint) AS s_stat,
       cast(var18 AS bigint) AS var_s18,
       round(CASE WHEN var18 = 0 THEN 0.0
                  WHEN s_stat > 0
                    THEN (s_stat - 1) / sqrt(var18 / 18.0)
                  WHEN s_stat < 0
                    THEN (s_stat + 1) / sqrt(var18 / 18.0)
                  ELSE 0.0 END, 6) AS z_mk
FROM v ORDER BY event_type"""


@register(
    "mann_kendall_trend",
    oracle=_mk_oracle(),
    tags=("robust", "trend", "statistics", "scale-pattern"),
)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_points, s_stat, var_s18, z_mk): Mann-Kendall trend
    test per event type over the hourly count series, thinned to at most
    2048 points per series (hourly.thin_series, the same guard the
    oracle mirrors). S comes from exact sign pairs; the tie-corrected
    variance n(n-1)(2n+5) - sum t(t-1)(2t+5) is carried x18 as an integer;
    one division by 18 and one sqrt give the continuity-corrected z."""
    hourly = thin_series(
        hourly_counts(load_table(spark, sf_dir, "events"), micros_hour(),
                      "event_type"),
        "event_type", "h")
    a = hourly.select("event_type", F.col("h").alias("h1"),
                      F.col("c").alias("c1"))
    b = hourly.select("event_type", F.col("h").alias("h2"),
                      F.col("c").alias("c2"))
    s = (a.join(b, ["event_type"])
         .filter(F.col("h2") > F.col("h1"))
         .select("event_type",
                 F.when(F.col("c2") > F.col("c1"), 1)
                 .when(F.col("c2") < F.col("c1"), -1)
                 .otherwise(0).alias("sg"))
         .groupBy("event_type").agg(F.sum("sg").alias("s_stat")))
    npts = hourly.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    ties = (hourly.groupBy("event_type", "c")
            .agg(F.count(F.lit(1)).alias("t"))
            .groupBy("event_type")
            .agg(F.sum(F.col("t") * (F.col("t") - 1)
                       * (2 * F.col("t") + 5)).alias("tie18")))
    v = (npts.join(s, "event_type").join(ties, "event_type")
         .withColumn("var18",
                     F.col("n") * (F.col("n") - 1)
                     * (2 * F.col("n") + 5) - F.col("tie18")))
    sd = F.sqrt(F.col("var18") / 18.0)
    return (v.select(
        "event_type", F.col("n").cast("long").alias("n_points"),
        F.col("s_stat").cast("long").alias("s_stat"),
        F.col("var18").cast("long").alias("var_s18"),
        F.round(
            F.when(F.col("var18") == 0, 0.0)
            .when(F.col("s_stat") > 0, (F.col("s_stat") - 1) / sd)
            .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / sd)
            .otherwise(0.0), 6).alias("z_mk"))
        .orderBy("event_type"))


# ------------------------------------------------------------------ runs

_RUNS_ORACLE = """
WITH hc AS (SELECT epoch_us(ts) // 3600000000 AS h,
                   cast(count(*) AS bigint) AS c
            FROM events GROUP BY 1),
med AS (SELECT c AS m FROM hc ORDER BY c, h
        LIMIT 1 OFFSET (SELECT (count(*) - 1) // 2 FROM hc)),
sgn AS (SELECT h, CASE WHEN c > (SELECT m FROM med) THEN 1 ELSE 0 END AS s
        FROM hc WHERE c <> (SELECT m FROM med)),
runs AS (SELECT s, lag(s) OVER (ORDER BY h) AS ps FROM sgn),
agg AS (SELECT cast(sum(CASE WHEN ps IS NULL OR s <> ps
                             THEN 1 ELSE 0 END) AS bigint) AS r,
               cast(sum(s) AS bigint) AS n1,
               cast(sum(1 - s) AS bigint) AS n2
        FROM runs)
SELECT r AS n_runs, n1 AS n_above, n2 AS n_below,
       round(1 + 2.0 * n1 * n2 / (n1 + n2), 6) AS expected_runs,
       round((r - (1 + 2.0 * n1 * n2 / (n1 + n2)))
             / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                    / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1))), 6)
         AS z_score
FROM agg"""


@register(
    "runs_test_hourly",
    oracle=_RUNS_ORACLE,
    tags=("statistics", "hypothesis-test", "timeseries"),
)
def runs_test_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test of the hourly series against its median:
    (n_runs, n_above, n_below, expected_runs, z_score), z against
    E[R] = 1 + 2 n1 n2 / n. Median = lower middle by (count, hour) order;
    exact-median ties dropped — both stated identically in each engine.
    The complement of Mann-Kendall: MK detects monotone trend, runs detect
    any serial structure."""
    hc = hourly_counts(load_table(spark, sf_dir, "events"), micros_hour())
    # lower median via sorted array of (c, h) — grid-sized
    med = (hc.agg(F.array_sort(F.collect_list(F.struct("c", "h")))
                  .alias("a"))
           .selectExpr(
               "element_at(a, cast((size(a) - 1) div 2 AS int) + 1).c"
               " AS m"))
    sgn = (hc.crossJoin(F.broadcast(med))
           .filter(F.col("c") != F.col("m"))
           .select("h", (F.col("c") > F.col("m")).cast("int").alias("s")))
    runs = sgn.select("s", F.lag("s").over(W.orderBy("h")).alias("ps"))
    agg = runs.agg(
        F.sum(F.when(F.col("ps").isNull()
                     | (F.col("s") != F.col("ps")), 1).otherwise(0))
        .cast("long").alias("r"),
        F.sum("s").cast("long").alias("n1"),
        F.sum(1 - F.col("s")).cast("long").alias("n2"))
    return agg.selectExpr(
        "r AS n_runs", "n1 AS n_above", "n2 AS n_below",
        "round(1 + 2.0 * n1 * n2 / (n1 + n2), 6) AS expected_runs",
        "round((r - (1 + 2.0 * n1 * n2 / (n1 + n2)))"
        " / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)"
        " / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1))), 6) AS z_score")


# ------------------------------------------------------------- Ljung-Box

_LB_MAXLAG = 8

_LB_ORACLE = f"""
WITH {hourly_spine_sql()},
t AS (SELECT cast(count(*) AS bigint) AS n,
             cast(sum(c) AS bigint) AS s FROM d),
z AS (SELECT d.hr, t.n * d.c - t.s AS z FROM d, t),
den AS (SELECT sum(z * z) AS dvar FROM z),
lags AS (SELECT unnest(generate_series(1, {_LB_MAXLAG})) AS lag),
nums AS (
  SELECT l.lag, sum(a.z * b.z) AS numer
  FROM lags l JOIN z a ON TRUE JOIN z b ON b.hr = a.hr + l.lag
  GROUP BY l.lag),
terms AS (
  SELECT cast(round(1e9 * (cast(numer AS double) / den.dvar)
                        * (cast(numer AS double) / den.dvar)
                        / (t.n - lag)) AS bigint) AS t9
  FROM nums, den, t)
SELECT t.n AS n_hours, cast({_LB_MAXLAG} AS bigint) AS m_lags,
       cast({_LB_MAXLAG} AS bigint) AS df,
       round(t.n * (t.n + 2) * cast((SELECT sum(t9) FROM terms) AS double)
             / 1e9, 6) AS q_stat
FROM t"""


@register(
    "ljung_box_hourly",
    oracle=_LB_ORACLE,
    tags=("timeseries", "statistics", "scale-pattern"),
)
def ljung_box_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box Q over lags 1..8 of the dense hourly event-count series:
    Q = n(n+2) sum rho_k^2/(n-k). Each lag's rho^2/(n-k) term is snapped
    to the 1e-9 lattice before the integer sum; the autocorrelation
    numerators/denominator are the exact N-scaled bigint moments of
    acf_hourly_lags."""
    # d feeds every branch below; checkpointing its hourly counts scans
    # events once instead of once per branch.
    d = dense_hourly(spark, sf_dir, checkpoint=True, c=F.lit(True))
    z, t = centered(d)
    den = z.agg(F.sum(F.col("z") * F.col("z")).alias("dvar"))
    nums = lag_products(z, z, range(1, _LB_MAXLAG + 1))
    # numer/dvar stay below 2^53 at bench SFs (z ~ 1e5, 1e3 hours ->
    # dvar ~ 1e13), so the int64 -> double casts are exact.
    rho = F.col("numer").cast("double") / F.col("dvar")
    terms = (nums.crossJoin(F.broadcast(den)).crossJoin(F.broadcast(t))
             .select(F.round(F.lit(1e9) * rho * rho
                             / (F.col("n") - F.col("lag")))
                     .cast("long").alias("t9")))
    tsum = terms.agg(F.sum("t9").alias("t9s"))
    return (t.crossJoin(F.broadcast(tsum))
            .select(F.col("n").alias("n_hours"),
                    F.lit(_LB_MAXLAG).cast("long").alias("m_lags"),
                    F.lit(_LB_MAXLAG).cast("long").alias("df"),
                    F.round(F.col("n") * (F.col("n") + 2)
                            * F.col("t9s").cast("double") / 1e9, 6)
                    .alias("q_stat")))


# ---------------------------------------------------------- Page-Hinkley

_PH_ORACLE = f"""
WITH {hourly_spine_sql()},
t AS (SELECT cast(count(*) AS bigint) AS n,
             cast(sum(c) AS bigint) AS s FROM d),
z AS (SELECT d.hr, t.n * d.c - t.s AS z FROM d, t),
cum1 AS (SELECT hr, sum(z) OVER (ORDER BY hr) AS m FROM z),
cum AS (SELECT hr, m,
               min(m) OVER (ORDER BY hr ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS mmin
        FROM cum1),
ph AS (SELECT hr, m - mmin AS gap FROM cum)
SELECT (SELECT n FROM t) AS n_hours,
       cast(max(gap) AS bigint) AS ph_scaled,
       cast(min(CASE WHEN gap = (SELECT max(gap) FROM ph) THEN hr END)
            AS bigint) AS alarm_hr,
       round(cast(max(gap) AS double) / (SELECT n FROM t), 6) AS ph_value
FROM ph"""


@register(
    "page_hinkley_hourly",
    oracle=_PH_ORACLE,
    tags=("timeseries", "drift", "statistics"),
)
def page_hinkley_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley upward-shift detector over the dense hourly series
    (delta = 0): PH = max_t (m_t - min_{i<=t} m_i) with m the cumulative
    N-scaled deviation — exact bigints end to end, one final unscaling
    division. Returns the sup, its first hour, and the unscaled value."""
    d = dense_hourly(spark, sf_dir, checkpoint=True, c=F.lit(True))
    z, _ = centered(d)
    w = W.orderBy("hr").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = z.select("hr", "n", F.sum("z").over(w).alias("m"))
    cum = cum.select("hr", "n", "m", F.min("m").over(w).alias("mmin"))
    ph = cum.select("hr", "n", (F.col("m") - F.col("mmin")).alias("gap"))
    mx = ph.agg(F.max("gap").alias("mg"))
    return (ph.crossJoin(F.broadcast(mx))
            .agg(F.max("n").alias("n_hours"),
                 F.max("gap").cast("long").alias("ph_scaled"),
                 F.min(F.when(F.col("gap") == F.col("mg"), F.col("hr")))
                 .cast("long").alias("alarm_hr"),
                 F.round(F.max("gap").cast("double") / F.max("n"), 6)
                 .alias("ph_value")))


# --------------------------------------------------------- Kendall tau-b

_KX, _KY = "view", "purchase"

_TAU_ORACLE = f"""
WITH h AS (
  SELECT cast(floor(epoch(ts) / 3600) AS bigint) AS hr,
         count(*) FILTER (WHERE event_type = '{_KX}') AS x,
         count(*) FILTER (WHERE event_type = '{_KY}') AS y
  FROM events WHERE event_type IN ('{_KX}', '{_KY}') GROUP BY 1),
b AS (SELECT min(hr) AS lo, max(hr) AS hi FROM h),
spine AS (SELECT g.hr FROM b, lateral (
            SELECT unnest(generate_series(b.lo, b.hi)) AS hr) g),
d AS (SELECT s.hr, coalesce(h.x, 0) AS x, coalesce(h.y, 0) AS y
      FROM spine s LEFT JOIN h USING (hr)),
p AS (
  SELECT sum(CASE WHEN (a.x - c.x) * (a.y - c.y) > 0 THEN 1 ELSE 0 END)
           AS nc,
         sum(CASE WHEN (a.x - c.x) * (a.y - c.y) < 0 THEN 1 ELSE 0 END)
           AS nd,
         sum(CASE WHEN a.x = c.x THEN 1 ELSE 0 END) AS tx,
         sum(CASE WHEN a.y = c.y THEN 1 ELSE 0 END) AS ty,
         count(*) AS n0
  FROM d a JOIN d c ON a.hr < c.hr)
SELECT cast(n0 AS bigint) AS n_pairs, cast(nc AS bigint) AS concordant,
       cast(nd AS bigint) AS discordant,
       round((nc - nd) / sqrt(cast((n0 - tx) AS double) * (n0 - ty)), 6)
         AS tau_b
FROM p"""


@register(
    "kendall_tau_b_hourly",
    oracle=_TAU_ORACLE,
    tags=("statistics", "dependence", "timeseries"),
)
def kendall_tau_b_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between the hourly view-count and purchase-count
    series (dense spine, zero-filled): exact concordant/discordant/tie
    tallies over the hour-pair join, which the time range bounds at any
    corpus size; tau_b = (nc-nd)/sqrt((n0-tx)(n0-ty))."""
    et = F.col("event_type")
    d = dense_hourly(spark, sf_dir, x=et == _KX, y=et == _KY)
    a = d.select(F.col("hr").alias("ha"), F.col("x").alias("xa"),
                 F.col("y").alias("ya"))
    c = d.select(F.col("hr").alias("hc"), F.col("x").alias("xc"),
                 F.col("y").alias("yc"))
    sgn = (F.col("xa") - F.col("xc")) * (F.col("ya") - F.col("yc"))
    p = (a.join(c, F.col("ha") < F.col("hc"))
         .agg(F.sum(F.when(sgn > 0, 1).otherwise(0)).alias("nc"),
              F.sum(F.when(sgn < 0, 1).otherwise(0)).alias("nd"),
              F.sum(F.when(F.col("xa") == F.col("xc"), 1).otherwise(0))
              .alias("tx"),
              F.sum(F.when(F.col("ya") == F.col("yc"), 1).otherwise(0))
              .alias("ty"),
              F.count(F.lit(1)).alias("n0")))
    return p.select(
        F.col("n0").cast("long").alias("n_pairs"),
        F.col("nc").cast("long").alias("concordant"),
        F.col("nd").cast("long").alias("discordant"),
        F.round((F.col("nc") - F.col("nd"))
                / F.sqrt((F.col("n0") - F.col("tx")).cast("double")
                         * (F.col("n0") - F.col("ty"))), 6).alias("tau_b"))


# --------------------------------------------------------------- Granger

_GX, _GY = "view", "purchase"

_GRANGER_ORACLE = f"""
WITH h AS (
  SELECT cast(floor(epoch(ts) / 3600) AS bigint) AS hr,
         count(*) FILTER (WHERE event_type = '{_GX}') AS x,
         count(*) FILTER (WHERE event_type = '{_GY}') AS y
  FROM events WHERE event_type IN ('{_GX}', '{_GY}') GROUP BY 1),
b AS (SELECT min(hr) AS lo, max(hr) AS hi FROM h),
spine AS (SELECT g.hr FROM b, lateral (
            SELECT unnest(generate_series(b.lo, b.hi)) AS hr) g),
d AS (SELECT s.hr, coalesce(h.x, 0) AS x, coalesce(h.y, 0) AS y
      FROM spine s LEFT JOIN h USING (hr)),
pr AS (SELECT cur.y AS yv, prv.y AS a, prv.x AS bb
       FROM d cur JOIN d prv ON prv.hr = cur.hr - 1),
s AS (SELECT cast(count(*) AS bigint) AS n,
             cast(sum(a) AS bigint) AS sa, cast(sum(bb) AS bigint) AS sb,
             cast(sum(yv) AS bigint) AS sy,
             cast(sum(a * a) AS bigint) AS saa,
             cast(sum(bb * bb) AS bigint) AS sbb,
             cast(sum(a * bb) AS bigint) AS sab,
             cast(sum(a * yv) AS bigint) AS say,
             cast(sum(bb * yv) AS bigint) AS sby,
             cast(sum(yv * yv) AS bigint) AS syy
      FROM pr),
c AS (SELECT n,
             cast(n * saa - sa * sa AS double) AS caa,
             cast(n * sbb - sb * sb AS double) AS cbb,
             cast(n * sab - sa * sb AS double) AS cab,
             cast(n * say - sa * sy AS double) AS cay,
             cast(n * sby - sb * sy AS double) AS cby,
             cast(n * syy - sy * sy AS double) AS cyy
      FROM s),
f AS (SELECT n, cay / caa AS b_r,
             (cay * cbb - cby * cab) / (caa * cbb - cab * cab) AS b1,
             (cby * caa - cay * cab) / (caa * cbb - cab * cab) AS b2,
             cyy - (cay / caa) * cay AS rss_r_scaled,
             cyy - ((cay * cbb - cby * cab) / (caa * cbb - cab * cab)) * cay
                 - ((cby * caa - cay * cab) / (caa * cbb - cab * cab)) * cby
               AS rss_u_scaled
      FROM c)
SELECT n, round(b1, 6) AS beta_ylag, round(b2, 6) AS beta_xlag,
       round((rss_r_scaled - rss_u_scaled)
             / (rss_u_scaled / (n - 3)), 6) AS f_stat
FROM f"""


@register(
    "granger_lag1_hourly",
    oracle=_GRANGER_ORACLE,
    tags=("statistics", "timeseries", "causality"),
)
def granger_lag1_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 Granger predictability test: does the previous hour's VIEW
    count predict this hour's PURCHASE count beyond the purchase series'
    own lag? F = ((RSS_r - RSS_u)/1) / (RSS_u/(n-3)) from the exact
    centered sufficient sums over the (t-1, t) hour pairs (restricted:
    y~y_lag; unrestricted: y~y_lag+x_lag), dense zero-filled hour spine;
    the normal equations solve in closed form (2x2 determinant), doubles
    only at the end."""
    et = F.col("event_type")
    d = dense_hourly(spark, sf_dir, x=et == _GX, y=et == _GY)
    cur = d.select(F.col("hr").alias("hc"), F.col("y").alias("yv"))
    prv = d.select((F.col("hr") + 1).alias("hc"), F.col("y").alias("a"),
                   F.col("x").alias("bb"))
    pr = cur.join(prv, "hc")
    s = pr.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("a").cast("long").alias("sa"),
        F.sum("bb").cast("long").alias("sb"),
        F.sum("yv").cast("long").alias("sy"),
        F.sum(F.col("a") * F.col("a")).cast("long").alias("saa"),
        F.sum(F.col("bb") * F.col("bb")).cast("long").alias("sbb"),
        F.sum(F.col("a") * F.col("bb")).cast("long").alias("sab"),
        F.sum(F.col("a") * F.col("yv")).cast("long").alias("say"),
        F.sum(F.col("bb") * F.col("yv")).cast("long").alias("sby"),
        F.sum(F.col("yv") * F.col("yv")).cast("long").alias("syy"))
    c = s.select(
        "n",
        (F.col("n") * F.col("saa") - F.col("sa") * F.col("sa"))
        .cast("double").alias("caa"),
        (F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb"))
        .cast("double").alias("cbb"),
        (F.col("n") * F.col("sab") - F.col("sa") * F.col("sb"))
        .cast("double").alias("cab"),
        (F.col("n") * F.col("say") - F.col("sa") * F.col("sy"))
        .cast("double").alias("cay"),
        (F.col("n") * F.col("sby") - F.col("sb") * F.col("sy"))
        .cast("double").alias("cby"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        .cast("double").alias("cyy"))
    det = F.col("caa") * F.col("cbb") - F.col("cab") * F.col("cab")
    b1 = (F.col("cay") * F.col("cbb") - F.col("cby") * F.col("cab")) / det
    b2 = (F.col("cby") * F.col("caa") - F.col("cay") * F.col("cab")) / det
    rss_r = F.col("cyy") - (F.col("cay") / F.col("caa")) * F.col("cay")
    rss_u = F.col("cyy") - b1 * F.col("cay") - b2 * F.col("cby")
    return c.select(
        "n", F.round(b1, 6).alias("beta_ylag"),
        F.round(b2, 6).alias("beta_xlag"),
        F.round((rss_r - rss_u) / (rss_u / (F.col("n") - 3)), 6)
        .alias("f_stat"))


# ------------------------------------------------------------------ PACF

_PACF_LAGS = 5

# Durbin-Levinson unroll shared between both engines: one text, two
# dialects only in how r1..r5 are produced. It holds no braces, so
# spark.sql's formatter leaves it as it is.
_DL_SQL = """
p1 AS (SELECT r1, r2, r3, r4, r5, r1 AS f11 FROM r),
p2 AS (SELECT *, (r2 - f11 * r1) / (1 - f11 * r1) AS f22 FROM p1),
p2b AS (SELECT *, f11 - f22 * f11 AS f21 FROM p2),
p3 AS (SELECT *, (r3 - (f21 * r2 + f22 * r1))
                 / (1 - (f21 * r1 + f22 * r2)) AS f33 FROM p2b),
p3b AS (SELECT *, f21 - f33 * f22 AS f31, f22 - f33 * f21 AS f32
        FROM p3),
p4 AS (SELECT *, (r4 - (f31 * r3 + f32 * r2 + f33 * r1))
                 / (1 - (f31 * r1 + f32 * r2 + f33 * r3)) AS f44
       FROM p3b),
p4b AS (SELECT *, f31 - f44 * f33 AS f41, f32 - f44 * f32 AS f42,
                  f33 - f44 * f31 AS f43
        FROM p4),
p5 AS (SELECT *, (r5 - (f41 * r4 + f42 * r3 + f43 * r2 + f44 * r1))
                 / (1 - (f41 * r1 + f42 * r2 + f43 * r3 + f44 * r4))
                   AS f55
       FROM p4b)"""

_PACF_ORACLE = f"""
WITH h AS (
  SELECT cast(floor(epoch(ts) / 3600) AS bigint) AS hr, count(*) AS c
  FROM events GROUP BY 1),
b AS (SELECT min(hr) AS lo, max(hr) AS hi FROM h),
spine AS (SELECT g.hr FROM b, lateral (
            SELECT unnest(generate_series(b.lo, b.hi)) AS hr) g),
d AS (SELECT s.hr, coalesce(h.c, 0) AS c FROM spine s LEFT JOIN h
      USING (hr)),
t AS (SELECT cast(count(*) AS bigint) AS n, cast(sum(c) AS bigint) AS s
      FROM d),
den AS (SELECT sum((t.n * d.c - t.s) * (t.n * d.c - t.s)) AS dvar
        FROM d, t),
lags AS (SELECT unnest(generate_series(1, {_PACF_LAGS})) AS lag),
pairs AS (
  SELECT l.lag, sum((t.n * a.c - t.s) * (t.n * b.c - t.s)) AS numer
  FROM lags l JOIN d a ON TRUE JOIN d b ON b.hr = a.hr + l.lag
  CROSS JOIN t GROUP BY l.lag),
r AS (SELECT
        max(CASE WHEN lag = 1 THEN cast(numer AS double) END) / max(dvar)
          AS r1,
        max(CASE WHEN lag = 2 THEN cast(numer AS double) END) / max(dvar)
          AS r2,
        max(CASE WHEN lag = 3 THEN cast(numer AS double) END) / max(dvar)
          AS r3,
        max(CASE WHEN lag = 4 THEN cast(numer AS double) END) / max(dvar)
          AS r4,
        max(CASE WHEN lag = 5 THEN cast(numer AS double) END) / max(dvar)
          AS r5
      FROM pairs, (SELECT cast(dvar AS double) AS dvar FROM den)),
{_DL_SQL}
SELECT lag, round(pacf, 6) AS pacf FROM (
  SELECT 1 AS lag, f11 AS pacf FROM p5
  UNION ALL SELECT 2, f22 FROM p5
  UNION ALL SELECT 3, f33 FROM p5
  UNION ALL SELECT 4, f44 FROM p5
  UNION ALL SELECT 5, f55 FROM p5)
ORDER BY lag"""


@register(
    "pacf_durbin_levinson",
    oracle=_PACF_ORACLE,
    tags=("statistics", "timeseries"),
)
def pacf_durbin_levinson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of the dense hourly event-count series at
    lags 1..5 via the Durbin-Levinson recursion, applied to the SAME
    exact-integer boundary-pair autocorrelation estimates
    acf_hourly_lags reports (PACF is defined here ON those estimates; the
    recursion itself is pure +-*/ and unrolls to an identical expression
    tree in both engines)."""
    # d feeds the variance and both sides of the lag join; checkpointing
    # its hourly counts scans events once instead of once per branch.
    d = dense_hourly(spark, sf_dir, checkpoint=True, c=F.lit(True))
    z, _ = centered(d)
    den = z.agg(F.sum(F.col("z") * F.col("z")).alias("dvar"))
    pairs = lag_products(z, z, range(1, _PACF_LAGS + 1))
    r = (pairs.crossJoin(F.broadcast(den))
         .agg(*[(F.max(F.when(F.col("lag") == k,
                              F.col("numer").cast("double")))
                 / F.max(F.col("dvar").cast("double"))).alias(f"r{k}")
                for k in range(1, _PACF_LAGS + 1)]))
    # stack() instead of the oracle's 5-way UNION over p5: each UNION
    # branch re-references the 1-row recursion frame and Catalyst would
    # re-evaluate the whole upstream build per branch; stack pivots the
    # same five (lag, pacf) rows out of ONE p5 evaluation. Identical
    # values and types; the oracle keeps its UNION (DuckDB CTEs are
    # shared). `r` binds as a query argument under a generated name that
    # is dropped after analysis, so the caller's temp views are untouched.
    return spark.sql(f"""
        WITH r AS (SELECT * FROM {{r}}),
        {_DL_SQL.lstrip()}
        SELECT lag, round(pacf, 6) AS pacf FROM (
          SELECT stack(5, 1, f11, 2, f22, 3, f33, 4, f44, 5, f55)
                 AS (lag, pacf) FROM p5)
        ORDER BY lag""", r=r)
