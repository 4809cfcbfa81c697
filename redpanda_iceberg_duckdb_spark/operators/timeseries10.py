"""Autocorrelation and cross-correlation of hourly event series — the
lag-structure diagnostics (seasonality fingerprint, lead/lag between two
activity streams) that sit beside the repo's EWMA/OLS/Theil-Sen trend
tier.

Exactness. Hourly counts y_t are integers on a DENSE hour spine (missing
hours are true zeros, materialized from a min..max hour sequence — no
silent gaps). Mean-centering is done on the N-SCALED lattice:
(N*y_t - S) is an exact bigint, so every lag's covariance numerator and
the variance denominators are exact bigint sums; the single final
division (and, for the cross-correlation, one IEEE-exact sqrt) happens
once per output row and rounds at 6.

Scale. One scan -> per-hour counts (map-side combinable); the spine is
an exploded sequence off a 1-row min/max aggregate; each lagged pair set
is ONE equi-join on (hour+lag) with the lag list exploded on the probe
side (|lags| x hours rows, hash-partitioned — no window over a global
order, no driver loop).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import register
from .stats.series import (centered, dense_hourly, hourly_spine_sql,
                           lag_products)

_MAX_LAG = 8
_X, _Y = "view", "purchase"  # pairs are (x_t, y_{t+lag}): +lag = y follows x
_CCF_LAGS = list(range(-6, 7))


def _acf_oracle() -> str:
    return f"""
WITH {hourly_spine_sql()},
t AS (SELECT cast(count(*) AS bigint) AS n,
             cast(sum(c) AS bigint) AS s FROM d),
den AS (
  SELECT sum((t.n * d.c - t.s) * (t.n * d.c - t.s)) AS dvar
  FROM d, t),
lags AS (SELECT unnest(generate_series(1, {_MAX_LAG})) AS lag),
pairs AS (
  SELECT l.lag,
         count(*) AS n_pairs,
         sum((t.n * a.c - t.s) * (t.n * b.c - t.s)) AS numer
  FROM lags l
  JOIN d a ON TRUE
  JOIN d b ON b.hr = a.hr + l.lag
  CROSS JOIN t
  GROUP BY l.lag)
SELECT p.lag AS lag, cast(p.n_pairs AS bigint) AS n_pairs,
       round(cast(p.numer AS double) / den.dvar, 6) AS acf
FROM pairs p, den ORDER BY p.lag"""


@register(
    "acf_hourly_lags",
    oracle=_acf_oracle(),
    tags=("timeseries", "evaluation", "scale-pattern"),
)
def acf_hourly_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lag, n_pairs, acf): autocorrelation of the dense hourly event-count
    series at lags 1..8, exact N-scaled integer moments (module
    docstring)."""
    # d feeds the variance and both sides of every lag join;
    # checkpointing its hourly counts scans events once instead of once
    # per branch.
    d = dense_hourly(spark, sf_dir, checkpoint=True, c=F.lit(True))
    z, _ = centered(d)
    den = z.agg(F.sum(F.col("z") * F.col("z")).alias("dvar"))
    pairs = lag_products(z, z, range(1, _MAX_LAG + 1))
    return (pairs.crossJoin(F.broadcast(den))
            .select(F.col("lag").cast("int").alias("lag"), "n_pairs",
                    F.round(F.col("numer").cast("double") / F.col("dvar"),
                            6).alias("acf"))
            .orderBy("lag"))


def _ccf_oracle() -> str:
    return f"""
WITH hx AS (
  SELECT cast(floor(epoch(ts) / 3600) AS bigint) AS hr, count(*) AS c
  FROM events WHERE event_type = '{_X}' GROUP BY 1),
hy AS (
  SELECT cast(floor(epoch(ts) / 3600) AS bigint) AS hr, count(*) AS c
  FROM events WHERE event_type = '{_Y}' GROUP BY 1),
b AS (
  SELECT least((SELECT min(hr) FROM hx), (SELECT min(hr) FROM hy)) AS lo,
         greatest((SELECT max(hr) FROM hx), (SELECT max(hr) FROM hy)) AS hi),
spine AS (
  SELECT g.hr FROM b, lateral (
    SELECT unnest(generate_series(b.lo, b.hi)) AS hr) g),
dx AS (SELECT s.hr, coalesce(hx.c, 0) AS c
       FROM spine s LEFT JOIN hx USING (hr)),
dy AS (SELECT s.hr, coalesce(hy.c, 0) AS c
       FROM spine s LEFT JOIN hy USING (hr)),
t AS (SELECT cast(count(*) AS bigint) AS n,
             cast((SELECT sum(c) FROM dx) AS bigint) AS sx,
             cast((SELECT sum(c) FROM dy) AS bigint) AS sy
      FROM spine),
den AS (
  SELECT (SELECT sum((t.n * c - t.sx) * (t.n * c - t.sx))
          FROM dx, t) AS vx,
         (SELECT sum((t.n * c - t.sy) * (t.n * c - t.sy))
          FROM dy, t) AS vy),
lags AS (SELECT unnest(generate_series({_CCF_LAGS[0]},
                                       {_CCF_LAGS[-1]})) AS lag),
pairs AS (
  SELECT l.lag, count(*) AS n_pairs,
         sum((t.n * a.c - t.sx) * (t.n * b.c - t.sy)) AS numer
  FROM lags l
  JOIN dx a ON TRUE
  JOIN dy b ON b.hr = a.hr + l.lag
  CROSS JOIN t GROUP BY l.lag)
SELECT p.lag AS lag, cast(p.n_pairs AS bigint) AS n_pairs,
       round(cast(p.numer AS double)
             / sqrt(cast(den.vx AS double) * den.vy), 6) AS ccf
FROM pairs p, den ORDER BY p.lag"""


@register(
    "crosscorr_lead_lag",
    oracle=_ccf_oracle(),
    tags=("timeseries", "evaluation", "scale-pattern"),
)
def crosscorr_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lag, n_pairs, ccf): cross-correlation between the view (x) and
    purchase (y) hourly series at lags -6..6, pairing (x_t, y_{t+lag})
    — a positive-lag peak means purchases FOLLOW views by `lag` hours;
    shared dense spine, exact integer moments (module docstring)."""
    # d feeds the moments, both variances and every lag join;
    # checkpointing its hourly counts scans events once instead of once
    # per branch.
    et = F.col("event_type")
    d = dense_hourly(spark, sf_dir, checkpoint=True,
                     x=et == _X, y=et == _Y)
    t = d.agg(F.count(F.lit(1)).cast("long").alias("n"),
              F.sum("x").cast("long").alias("sx"),
              F.sum("y").cast("long").alias("sy"))
    z = d.crossJoin(F.broadcast(t)).select(
        "hr", (F.col("n") * F.col("x") - F.col("sx")).alias("zx"),
        (F.col("n") * F.col("y") - F.col("sy")).alias("zy"))
    den = z.agg(F.sum(F.col("zx") * F.col("zx")).alias("vx"),
                F.sum(F.col("zy") * F.col("zy")).alias("vy"))
    pairs = lag_products(z.select("hr", F.col("zx").alias("z")),
                         z.select("hr", F.col("zy").alias("z")), _CCF_LAGS)
    return (pairs.crossJoin(F.broadcast(den))
            .select(F.col("lag").cast("int").alias("lag"), "n_pairs",
                    F.round(F.col("numer").cast("double")
                            / F.sqrt(F.col("vx").cast("double")
                                     * F.col("vy")), 6).alias("ccf"))
            .orderBy("lag"))

