"""Forecasting the hourly event-count series: Holt linear and Holt-Winters
seasonal smoothing, the MASE backtest of a seasonal-naive forecast, and
Hyndman's trend and seasonality strength.

Holt and Holt-Winters are linear recurrences over time, the one
operator class Catalyst cannot parallelize; but the series is bounded by
the time range (one row per hour), so the corpus reduces once to the
dense grid and the fold runs over the collected grid. Their oracles are
recursive CTEs walking the identical integer recurrence.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, functions as F

from ...registry import register
from ...tables import load_table
from .hourly import grid_sql, hourly_counts, micros_hour, zero_filled


def _micros_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(h, c): the dense ``micros_hour`` series of all events."""
    return zero_filled(hourly_counts(load_table(spark, sf_dir, "events"),
                                     micros_hour()))


# ------------------------------------------------------------------ Holt

_HOLT_ORACLE = f"""{grid_sql(recursive=True)},
g2 AS (SELECT row_number() OVER (ORDER BY h) - 1 AS t, c FROM grid),
it AS (
  SELECT 0 AS t, cast(1000000 * c AS bigint) AS l, cast(0 AS bigint) AS b,
         cast(0 AS hugeint) AS sse
  FROM g2 WHERE t = 0
  UNION ALL
  SELECT s.t, cast(floor((1000000 * s.c + s.l + s.b) / 2.0) AS bigint) AS l2,
         cast(floor(((cast(floor((1000000 * s.c + s.l + s.b) / 2.0)
                      AS bigint) - s.l) + s.b) / 2.0) AS bigint),
         s.sse + cast(1000000 * s.c - (s.l + s.b) AS hugeint)
               * cast(1000000 * s.c - (s.l + s.b) AS hugeint)
  FROM (SELECT g.t, g.c, it.l, it.b, it.sse
        FROM it JOIN g2 g ON g.t = it.t + 1) s),
fin AS (SELECT * FROM it WHERE t = (SELECT max(t) FROM it))
SELECT (SELECT cast(count(*) AS bigint) FROM g2) AS n_hours,
       l AS level_micro, b AS trend_micro,
       round(sqrt(cast(sse AS double)
                  / (SELECT count(*) - 1 FROM g2)) / 1e6, 6) AS rmse
FROM fin"""


@register(
    "holt_linear_hourly",
    oracle=_HOLT_ORACLE,
    tags=("timeseries", "forecast", "smoothing"),
)
def holt_linear_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final Holt level/trend state and one-step-ahead forecast RMSE over
    the zero-filled hourly series, alpha = beta = 1/2 on the micro
    lattice:

        l_t = floor((1e6*y_t + l_{t-1} + b_{t-1}) / 2)
        b_t = floor(((l_t - l_{t-1}) + b_{t-1}) / 2)
        e_t = 1e6*y_t - (l_{t-1} + b_{t-1})      (pre-update error)

    The fold is one aggregate() over the collected grid array."""
    grid = _micros_grid(spark, sf_dir)
    arr = grid.agg(F.array_sort(F.collect_list(F.struct("h", "c")))
                   .alias("a"))
    # Single fold over the bounded grid: accumulator (t, l, b, sse); t < 0
    # marks "uninitialized" so the first element seeds the state.
    fold = F.expr("""
      aggregate(
        a,
        struct(cast(-1 AS bigint) AS t, cast(0 AS bigint) AS l,
               cast(0 AS bigint) AS b, cast(0 AS decimal(38,0)) AS sse),
        (acc, x) -> CASE WHEN acc.t < 0 THEN
            struct(cast(0 AS bigint) AS t,
                   cast(1000000 * x.c AS bigint) AS l,
                   cast(0 AS bigint) AS b,
                   cast(0 AS decimal(38,0)) AS sse)
          ELSE
            struct(acc.t + 1 AS t,
                   cast(floor((1000000 * x.c + acc.l + acc.b) / 2.0)
                        AS bigint) AS l,
                   cast(floor(((cast(floor((1000000 * x.c + acc.l + acc.b)
                                            / 2.0) AS bigint) - acc.l)
                               + acc.b) / 2.0) AS bigint) AS b,
                   acc.sse
                   + cast((1000000 * x.c - (acc.l + acc.b))
                          * (1000000 * x.c - (acc.l + acc.b))
                          AS decimal(38,0)) AS sse)
          END)
    """).alias("f")
    return (arr.select(F.size("a").cast("long").alias("n_hours"), fold)
            .select("n_hours",
                    F.col("f.l").alias("level_micro"),
                    F.col("f.b").alias("trend_micro"),
                    F.round(F.sqrt(F.col("f.sse").cast("double")
                                   / (F.col("n_hours") - 1)) / 1e6, 6)
                     .alias("rmse")))


# ----------------------------------------------------------- Holt-Winters

_M = 24


def _hw_oracle() -> str:
    seas_init = ", ".join(
        f"cast(1000000 * (SELECT c FROM g2 WHERE t = {j - 1}) "
        f"- (SELECT l0 FROM init) AS bigint) AS s{j}"
        for j in range(1, _M + 1))
    shift = ", ".join(f"m.s{j + 1} AS s{j}" for j in range(1, _M))
    carry = ", ".join(f"it.s{j}" for j in range(1, _M + 1))
    return f"""{grid_sql(recursive=True)},
g2 AS (SELECT row_number() OVER (ORDER BY h) - 1 AS t, c FROM grid),
init AS (SELECT cast(sum(1000000 * c) // {_M} AS bigint) AS l0
         FROM g2 WHERE t < {_M}),
it AS (
  SELECT {_M - 1} AS t, (SELECT l0 FROM init) AS l, cast(0 AS bigint) AS b,
         cast(0 AS hugeint) AS sse, {seas_init}
  UNION ALL
  SELECT m.t, m.l2, cast(floor(((m.l2 - m.l) + m.b) / 2.0) AS bigint),
         m.sse + cast(m.e AS hugeint) * m.e,
         {shift},
         cast(floor((m.y - m.l2 + m.s1) / 2.0) AS bigint) AS s24
  FROM (SELECT g.t, 1000000 * g.c AS y, it.l, it.b, it.sse, {carry},
               1000000 * g.c - (it.l + it.b + it.s1) AS e,
               cast(floor((1000000 * g.c - it.s1 + it.l + it.b) / 2.0)
                    AS bigint) AS l2
        FROM it JOIN g2 g ON g.t = it.t + 1) m),
fin AS (SELECT * FROM it WHERE t = (SELECT max(t) FROM it))
SELECT (SELECT cast(count(*) AS bigint) FROM g2) AS n_hours,
       l AS level_micro, b AS trend_micro, s24 AS season_micro,
       round(sqrt(cast(sse AS double)
                  / (SELECT count(*) - {_M} FROM g2)) / 1e6, 6) AS rmse
FROM fin"""


@register(
    "holt_winters_seasonal_hourly",
    oracle=_hw_oracle(),
    tags=("timeseries", "forecast", "smoothing", "seasonal", "iterative"),
)
def holt_winters_seasonal_hourly(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Final Holt-Winters level/trend/newest-seasonal state and
    one-step-ahead RMSE over hours >= 24: additive seasonality with 24
    slots, alpha = beta = gamma = 1/2 on the micro lattice:

        e_t = 1e6*y_t - (l_{t-1} + b_{t-1} + s_{t-24})
        l_t = floor((1e6*y_t - s_{t-24} + l_{t-1} + b_{t-1}) / 2)
        b_t = floor(((l_t - l_{t-1}) + b_{t-1}) / 2)
        s_t = floor((1e6*y_t - l_t + s_{t-24}) / 2)

    initialized after the first 24 hours with l = floor(mean of
    1e6*y_0..y_23), b = 0, s_i = 1e6*y_i - l. The oracle's recursive CTE
    carries the seasonal state as a 24-column shift register (s1 oldest,
    s24 newest): a recursive arm sees only the previous iteration, so
    the lookback buffer rides along as columns."""
    # The grid is time-range-bounded: the fold runs on the driver.
    ys = [int(r["c"]) for r in _micros_grid(spark, sf_dir).orderBy("h")
          .collect()]
    n = len(ys)
    if n <= _M:
        raise ValueError(f"need more than {_M} hours, got {n}")
    l = sum(1_000_000 * y for y in ys[:_M]) // _M
    b = 0
    seas = [1_000_000 * y - l for y in ys[:_M]]   # seas[0] = oldest
    sse = 0
    for t in range(_M, n):
        y = 1_000_000 * ys[t]
        s_old = seas[0]
        e = y - (l + b + s_old)
        sse += e * e
        l2 = math.floor((y - s_old + l + b) / 2.0)
        b = math.floor(((l2 - l) + b) / 2.0)
        s_new = math.floor((y - l2 + s_old) / 2.0)
        l = l2
        seas = seas[1:] + [s_new]
    # float(sse) FIRST, then divide — the oracle's cast(sse AS double)
    # rounds the hugeint to double before the division; Python's int/int
    # true division would round the exact quotient instead (differs in
    # the last ulp once sse exceeds 2^53).
    return spark.createDataFrame(
        [(n, l, b, seas[-1],
          float(round(math.sqrt(float(sse) / (n - _M)) / 1e6, 6)))],
        "n_hours long, level_micro long, trend_micro long, "
        "season_micro long, rmse double")


# ------------------------------------------------------------------ MASE

_SEASON = 168          # hours: weekly seasonality
_HOLDOUT = 168         # last week is the test period


def _mase_oracle() -> str:
    return f"""
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h, count(*) AS c
  FROM events GROUP BY 1, 2),
hmax AS (SELECT event_type, max(h) AS hm FROM hourly GROUP BY event_type),
pairs AS (
  SELECT a.event_type, a.h, abs(a.c - b.c) AS err,
         CASE WHEN a.h > m.hm - {_HOLDOUT} THEN 1 ELSE 0 END AS is_test
  FROM hourly a
  JOIN hourly b ON b.event_type = a.event_type
               AND b.h = a.h - {_SEASON}
  JOIN hmax m ON m.event_type = a.event_type)
SELECT event_type,
       cast(sum(is_test) AS bigint) AS n_test,
       cast(sum(1 - is_test) AS bigint) AS n_train,
       round((cast(sum(CASE WHEN is_test = 1 THEN err ELSE 0 END) AS double)
              / nullif(sum(is_test), 0))
             / nullif(cast(sum(CASE WHEN is_test = 0 THEN err ELSE 0 END)
                           AS double)
                      / nullif(sum(1 - is_test), 0), 0.0), 6) AS mase
FROM pairs
GROUP BY event_type
ORDER BY event_type"""


@register(
    "mase_seasonal_naive",
    oracle=_mase_oracle(),
    tags=("forecast", "evaluation", "scale-pattern"),
)
def mase_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event_type: MASE (Hyndman & Koehler 2006) of the weekly
    seasonal-naive forecast y_{t-168} over the final week of hourly
    counts, scaled by the in-sample seasonal-naive error — MASE ~ 1 means
    no better than persistence. The lag join is a self-join on (type,
    h - 168); hours with no events make no pair in either engine. Integer
    error sums keep both engines exact up to the one final quotient."""
    hourly = hourly_counts(load_table(spark, sf_dir, "events"),
                           micros_hour(), "event_type")
    hmax = hourly.groupBy("event_type").agg(F.max("h").alias("hm"))
    lag = hourly.select(F.col("event_type").alias("et2"),
                        (F.col("h") + _SEASON).alias("h2"),
                        F.col("c").alias("c_lag"))
    pairs = (hourly
             .join(lag, (hourly.event_type == F.col("et2"))
                   & (hourly.h == F.col("h2")))
             .join(F.broadcast(hmax), "event_type")
             .select("event_type",
                     F.abs(F.col("c") - F.col("c_lag")).alias("err"),
                     F.when(F.col("h") > F.col("hm") - _HOLDOUT, 1)
                     .otherwise(0).alias("is_test")))
    test_err = F.sum(F.when(F.col("is_test") == 1, F.col("err"))
                     .otherwise(0)).cast("double")
    train_err = F.sum(F.when(F.col("is_test") == 0, F.col("err"))
                      .otherwise(0)).cast("double")
    n_test = F.sum("is_test")
    n_train = F.sum(F.lit(1) - F.col("is_test"))
    # MASE is undefined when a split is empty or the series is perfectly
    # periodic in-sample (train error 0): surface NULL, never divide by
    # zero — the same nullif guards as the oracle.
    test_mae = test_err / F.nullif(n_test.cast("double"), F.lit(0.0))
    train_mae = train_err / F.nullif(n_train.cast("double"), F.lit(0.0))
    return (pairs.groupBy("event_type")
            .agg(n_test.cast("long").alias("n_test"),
                 n_train.cast("long").alias("n_train"),
                 F.round(test_mae / F.nullif(train_mae, F.lit(0.0)), 6)
                 .alias("mase"))
            .orderBy("event_type"))


# ------------------------------------------------- trend/seasonal strength

_HALF = 12          # centered MA half-width -> 25-hour window

_STL_ORACLE = f"""{grid_sql()},
ma AS (SELECT g1.h, g1.c,
              sum(g2.c) AS s25, cast(count(*) AS bigint) AS nw
       FROM grid g1 JOIN grid g2
         ON g2.h BETWEEN g1.h - {_HALF} AND g1.h + {_HALF}
       GROUP BY g1.h, g1.c
       HAVING count(*) = {2 * _HALF + 1}),
dt AS (SELECT h, (h % 24) AS hod,
              1000000 * c
              - (2000000 * s25 + {2 * _HALF + 1})
                // (2 * {2 * _HALF + 1}) AS d
       FROM ma),
sh AS (SELECT hod, (2 * sum(d) + count(*)) // (2 * count(*)) AS s
       FROM dt GROUP BY hod),
rr AS (SELECT dt.h, dt.d, dt.d - sh.s AS r,
              (SELECT 1000000 * ma.c FROM ma WHERE ma.h = dt.h)
              - sh.s AS ds
       FROM dt JOIN sh ON sh.hod = dt.hod),
v AS (SELECT cast(count(*) AS hugeint) AS n,
             cast(sum(cast(r AS hugeint) * r) AS hugeint) AS srr,
             cast(sum(r) AS hugeint) AS sr,
             cast(sum(cast(d AS hugeint) * d) AS hugeint) AS sdd,
             cast(sum(d) AS hugeint) AS sd,
             cast(sum(cast(ds AS hugeint) * ds) AS hugeint) AS sss,
             cast(sum(ds) AS hugeint) AS ss
      FROM rr)
SELECT cast(n AS bigint) AS n_hours,
       round(greatest(0.0, 1 - cast(n * srr - sr * sr AS double)
                             / cast(n * sss - ss * ss AS double)), 6)
         AS trend_strength,
       round(greatest(0.0, 1 - cast(n * srr - sr * sr AS double)
                             / cast(n * sdd - sd * sd AS double)), 6)
         AS seasonal_strength
FROM v"""


@register(
    "seasonality_strength_hourly",
    oracle=_STL_ORACLE,
    tags=("timeseries", "decomposition", "statistics"),
)
def seasonality_strength_hourly(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """(n_hours, trend_strength, seasonal_strength): Hyndman's
    variance-ratio decomposition of the hourly series,

        F_trend    = max(0, 1 - Var(R) / Var(T + R))
        F_seasonal = max(0, 1 - Var(R) / Var(S + R))

    with T a centered 25-hour moving average, S the hour-of-day means of
    the detrended series and R the remainder. The moving average and the
    hour-of-day means snap to integer micros with the half-up div, so
    T/S/R are exact micro integers and each variance is exact
    (n*sum(x^2) - sum(x)^2 on decimal/hugeint). Only hours with a full
    +-12 window enter. The moving average is a grid-to-grid band join on
    broadcast frames, the seasonal means one 24-row aggregate."""
    dec = "decimal(38,0)"
    # band-joined against itself
    grid = _micros_grid(spark, sf_dir).localCheckpoint(eager=True)
    win = 2 * _HALF + 1
    ma = (grid.alias("g1")
          .join(F.broadcast(grid.alias("g2")),
                (F.col("g2.h") >= F.col("g1.h") - _HALF)
                & (F.col("g2.h") <= F.col("g1.h") + _HALF))
          .groupBy(F.col("g1.h").alias("h"), F.col("g1.c").alias("c"))
          .agg(F.sum("g2.c").alias("s25"), F.count(F.lit(1)).alias("nw"))
          .filter(F.col("nw") == win))
    dt = ma.selectExpr(
        "h", "c", "h % 24 AS hod",
        f"1000000 * c - (2000000 * s25 + {win}) div (2 * {win}) AS d")
    sh = dt.groupBy("hod").agg(
        F.expr("(2 * sum(d) + count(*)) div (2 * count(*))").alias("s"))
    rr = (dt.join(F.broadcast(sh), "hod")
          .selectExpr("d", "d - s AS r", "1000000 * c - s AS ds"))
    v = rr.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.expr(f"cast(r AS {dec}) * r")).alias("srr"),
        F.sum("r").cast(dec).alias("sr"),
        F.sum(F.expr(f"cast(d AS {dec}) * d")).alias("sdd"),
        F.sum("d").cast(dec).alias("sd"),
        F.sum(F.expr(f"cast(ds AS {dec}) * ds")).alias("sss"),
        F.sum("ds").cast(dec).alias("ss"))
    return v.selectExpr(
        "cast(n AS bigint) AS n_hours",
        "round(greatest(0.0, 1 - cast(n * srr - sr * sr AS double)"
        " / cast(n * sss - ss * ss AS double)), 6) AS trend_strength",
        "round(greatest(0.0, 1 - cast(n * srr - sr * sr AS double)"
        " / cast(n * sdd - sd * sd AS double)), 6) AS seasonal_strength")
