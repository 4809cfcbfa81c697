"""Change in the hourly event-count series: the CUSUM drift alarm, binary
segmentation into mean-shift segments, and the Theil-Sen robust trend.

Each query first reduces events by one hash aggregate to one row per
(series, hour); the windows, self-joins and anti-joins after it run on
that hour frame, partitioned by series where there is one, so the series
count is the scale-out dimension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ...registry import register
from ...tables import load_table
from .hourly import (_MAX_POINTS, hourly_counts, micros_hour, thin_series,
                     trunc_hour)

# ----------------------------------------------------------------- CUSUM

# Allowance k = mean + _K_STD * stddev; alarm when S_t > _H_STD * stddev.
_K_STD = 0.5
_H_STD = 4.0


def _cusum_oracle() -> str:
    return f"""
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h, count(*) AS c
  FROM events GROUP BY 1, 2),
params AS (
  SELECT event_type, avg(c) AS mu, stddev_pop(c) AS sd
  FROM hourly GROUP BY event_type),
pref AS (
  SELECT h.event_type, h.h,
         sum(h.c - (p.mu + {_K_STD} * p.sd)) OVER (
             PARTITION BY h.event_type ORDER BY h.h) AS pt,
         {_H_STD} * p.sd AS thresh
  FROM hourly h JOIN params p USING (event_type)),
cusum AS (
  SELECT event_type, h, thresh,
         pt - min(pt) OVER (PARTITION BY event_type ORDER BY h
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS s
  FROM pref),
alarm AS (
  SELECT event_type, min(h) FILTER (WHERE s > thresh) AS alarm_h,
         max(s) AS max_s, any_value(thresh) AS thresh
  FROM cusum GROUP BY event_type)
SELECT event_type, cast(alarm_h AS bigint) AS alarm_hour,
       round(max_s, 4) AS max_cusum, round(thresh, 4) AS threshold
FROM alarm ORDER BY event_type"""


@register(
    "cusum_changepoint_hourly",
    oracle=_cusum_oracle(),
    tags=("timeseries", "changepoint", "scale-pattern"),
)
def cusum_changepoint_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event_type: the first hour the one-sided CUSUM (Page 1954) of
    hourly counts exceeds its threshold (NULL if never), plus the max
    statistic and the threshold. The recursion S_t = max(0, S_{t-1} +
    (x_t - k)) has the closed window form S_t = P_t - min(P_0..P_t) with
    P_t = cumsum(x - k): one cumulative sum and one running min, no
    per-row state. Slack k and threshold derive from the per-series
    mean and stddev."""
    hourly = hourly_counts(load_table(spark, sf_dir, "events"),
                           micros_hour(), "event_type")
    params = hourly.groupBy("event_type").agg(
        F.avg("c").alias("mu"), F.stddev_pop("c").alias("sd"))
    w = (W.partitionBy("event_type").orderBy("h")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    withs = (hourly.join(F.broadcast(params), "event_type")
             .withColumn("pt", F.sum(
                 F.col("c") - (F.col("mu") + _K_STD * F.col("sd"))).over(w))
             .withColumn("thresh", _H_STD * F.col("sd"))
             .withColumn("s", F.col("pt") - F.min("pt").over(w)))
    return (withs.groupBy("event_type")
            .agg(F.min(F.when(F.col("s") > F.col("thresh"), F.col("h")))
                 .cast("long").alias("alarm_hour"),
                 F.round(F.max("s"), 4).alias("max_cusum"),
                 F.round(F.any_value("thresh"), 4).alias("threshold"))
            .orderBy("event_type"))


# -------------------------------------------------- binary segmentation

_DEC = "decimal(38,0)"


def _binseg_oracle() -> str:
    # better(j, k): j's gain strictly exceeds k's, or ties at a smaller rn.
    better = ("cast(j.a AS decimal(38,0)) * j.a * k.b "
              "> cast(k.a AS decimal(38,0)) * k.a * j.b "
              "OR (cast(j.a AS decimal(38,0)) * j.a * k.b "
              "= cast(k.a AS decimal(38,0)) * k.a * j.b AND j.rn < k.rn)")
    return f"""
WITH h AS (
  SELECT cast(date_trunc('hour', ts) AS timestamp) AS hr,
         cast(count(*) AS bigint) AS y
  FROM events GROUP BY 1),
r AS (
  SELECT hr, y, row_number() OVER (ORDER BY hr) AS rn,
         sum(y) OVER (ORDER BY hr) AS s
  FROM h),
tot AS (SELECT max(rn) AS n, max(s) AS sn FROM r),
c1 AS (
  SELECT rn, hr, s * (t.n - rn) - (t.sn - s) * rn AS a,
         rn * (t.n - rn) AS b
  FROM r, tot t WHERE rn < t.n),
b1 AS (
  SELECT k.rn FROM c1 k
  WHERE k.a <> 0 AND NOT EXISTS (SELECT 1 FROM c1 j WHERE {better})),
c2 AS (
  SELECT r.rn, r.hr,
         CASE WHEN r.rn <= b1.rn THEN 0 ELSE 1 END AS side,
         CASE WHEN r.rn <= b1.rn
              THEN (r.s) * (b1.rn - r.rn)
                   - ((SELECT s FROM r x WHERE x.rn = b1.rn) - r.s) * r.rn
              ELSE (r.s - (SELECT s FROM r x WHERE x.rn = b1.rn))
                       * (t.n - r.rn)
                   - (t.sn - r.s) * (r.rn - b1.rn) END AS a,
         CASE WHEN r.rn <= b1.rn
              THEN r.rn * (b1.rn - r.rn)
              ELSE (r.rn - b1.rn) * (t.n - r.rn) END AS b
  FROM r, tot t, b1
  WHERE r.rn <> b1.rn AND r.rn < t.n),
b2 AS (
  SELECT k.rn FROM c2 k
  WHERE k.a <> 0 AND NOT EXISTS (
    SELECT 1 FROM c2 j WHERE j.side = k.side AND ({better}))),
splits AS (SELECT rn FROM b1 UNION ALL SELECT rn FROM b2),
seg AS (
  SELECT r.rn, r.hr, r.y,
         1 + (SELECT count(*) FROM splits s WHERE s.rn < r.rn) AS seg_id
  FROM r)
SELECT cast(row_number() OVER (ORDER BY min(hr)) AS int) AS seg,
       min(hr) AS start_hour, max(hr) AS end_hour,
       cast(count(*) AS bigint) AS n_hours,
       cast(sum(y) AS bigint) AS total_events
FROM seg GROUP BY seg_id ORDER BY start_hour"""


@register(
    "binary_segmentation_splits",
    oracle=_binseg_oracle(),
    tags=("timeseries", "changepoint", "scale-pattern"),
)
def binary_segmentation_splits(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """(seg, start_hour, end_hour, n_hours, total_events): up to four
    mean-shift segments of the hourly event-count series from depth-2
    binary segmentation (Scott & Knott 1974), each split accepted only if
    it strictly reduces SSE. For a segment with prefix sums S, the SSE
    reduction of a split at k is (S1*n2 - S2*n1)^2 / (n1*n2*len), so the
    argmax needs no division: k beats j iff A_k^2 * B_j > A_j^2 * B_k
    with A the cross-term and B = n1*n2, products on decimal(38,0), ties
    to the earliest hour. Each argmax is an anti-join over the hours
    frame; its <= 2 winners come back as driver scalars."""
    h = hourly_counts(load_table(spark, sf_dir, "events"), trunc_hour(),
                      hour="hr")
    wh = W.orderBy("hr")                         # hours-sized frame
    r = (h.withColumn("rn", F.row_number().over(wh))
         .withColumn("s", F.sum("c").over(
             wh.rowsBetween(W.unboundedPreceding, 0)))
         .localCheckpoint())                     # reused by every level
    n, sn = r.agg(F.max("rn"), F.max("s")).collect()[0]

    def argmax_split(cand: DataFrame) -> list:
        """Rows (rn, side, a, b) -> winning rn per side via anti-join."""
        k = cand.alias("k")
        j = cand.alias("j")
        ka, kb = F.col("k.a").cast(_DEC), F.col("k.b").cast(_DEC)
        ja, jb = F.col("j.a").cast(_DEC), F.col("j.b").cast(_DEC)
        beats = (ja * ja * kb > ka * ka * jb) | \
            ((ja * ja * kb == ka * ka * jb)
             & (F.col("j.rn") < F.col("k.rn")))
        return (k.filter(F.col("k.a") != 0)
                .join(j, (F.col("j.side") == F.col("k.side")) & beats,
                      "left_anti")
                .select(F.col("k.rn")).collect())

    c1 = (r.where(F.col("rn") < n)
          .select("rn", F.lit(0).alias("side"),
                  (F.col("s") * (n - F.col("rn"))
                   - (sn - F.col("s")) * F.col("rn")).alias("a"),
                  (F.col("rn") * (n - F.col("rn"))).alias("b")))
    splits = [int(row.rn) for row in argmax_split(c1)]
    if splits:
        rn1 = splits[0]
        s1 = r.where(F.col("rn") == rn1).select("s").collect()[0][0]
        left = (r.where((F.col("rn") < rn1))
                .select("rn", F.lit(0).alias("side"),
                        (F.col("s") * (rn1 - F.col("rn"))
                         - (s1 - F.col("s")) * F.col("rn")).alias("a"),
                        (F.col("rn") * (rn1 - F.col("rn"))).alias("b")))
        right = (r.where((F.col("rn") > rn1) & (F.col("rn") < n))
                 .select("rn", F.lit(1).alias("side"),
                         ((F.col("s") - s1) * (n - F.col("rn"))
                          - (sn - F.col("s"))
                          * (F.col("rn") - rn1)).alias("a"),
                         ((F.col("rn") - rn1)
                          * (n - F.col("rn"))).alias("b")))
        splits += [int(row.rn) for row in argmax_split(left.union(right))]
    cond = F.lit(1)
    for p in splits:
        cond = cond + F.when(F.col("rn") > p, 1).otherwise(0)
    seg = r.withColumn("seg_id", cond)
    ws = W.orderBy("start_hour")
    return (seg.groupBy("seg_id")
            .agg(F.min("hr").alias("start_hour"),
                 F.max("hr").alias("end_hour"),
                 F.count(F.lit(1)).cast("long").alias("n_hours"),
                 F.sum("c").cast("long").alias("total_events"))
            .withColumn("seg", F.row_number().over(ws).cast("int"))
            .select("seg", "start_hour", "end_hour", "n_hours",
                    "total_events")
            .orderBy("start_hour"))


# -------------------------------------------------------------- Theil-Sen

def _theilsen_oracle() -> str:
    return f"""
WITH hourly0 AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
         count(*) AS c
  FROM events GROUP BY 1, 2),
hourly AS (
  -- mirrors thin_series exactly (round-10 ADVICE #1): if a series ever
  -- exceeds the pair-join cap, BOTH engines thin to the same
  -- rank-equi-spaced subset instead of silently diverging.
  SELECT event_type, h, c FROM (
    SELECT event_type, h, c,
           row_number() OVER (PARTITION BY event_type ORDER BY h) - 1
             AS rn,
           count(*) OVER (PARTITION BY event_type) AS len
    FROM hourly0)
  WHERE rn % cast(ceil(len / {_MAX_POINTS}.0) AS bigint) = 0),
slopes AS (
  SELECT a.event_type,
         cast(b.c - a.c AS double) / (b.h - a.h) AS slope,
         a.h AS h1, b.h AS h2
  FROM hourly a JOIN hourly b
    ON a.event_type = b.event_type AND b.h > a.h),
ranked AS (
  SELECT event_type, slope,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY slope, h1, h2) AS r,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM slopes)
SELECT event_type, cast(n AS bigint) AS n_pairs,
       round(slope, 6) AS ts_slope
FROM ranked
WHERE r = (n + 1) // 2
ORDER BY event_type"""


@register(
    "theilsen_hourly_trend",
    oracle=_theilsen_oracle(),
    tags=("robust", "trend", "scale-pattern"),
)
def theilsen_hourly_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event_type: the Theil-Sen slope (Sen 1968) of hourly event
    counts — the median of pairwise slopes, which one wild hour moves by
    one rank where it moves OLS arbitrarily — and the pair count it was
    the median of. The median is the lower order statistic (rank
    ceil(n/2), ties broken on (h1, h2)), so both engines select the same
    pair; slopes are quotients of exact integers. Pairing is quadratic in
    series length, so each series is thinned to ``_MAX_POINTS`` first
    (``thin_series``, mirrored in the oracle)."""
    # Checkpointed: both pair-join sides read this frame, and without the
    # checkpoint each side re-runs the events scan + hourly aggregate.
    hourly = thin_series(
        hourly_counts(load_table(spark, sf_dir, "events"), micros_hour(),
                      "event_type"),
        "event_type", "h").localCheckpoint(eager=True)
    a = hourly.select("event_type", F.col("h").alias("h1"),
                      F.col("c").alias("c1"))
    # Broadcast the build side: the checkpointed frame is stat-less, so
    # without the hint Catalyst shuffles BOTH sides of the self-join.
    # At a series count where hourly outgrows broadcast, drop the hint
    # and pre-partition by series key instead (the pair join is already
    # an equi-join on the series column).
    b = F.broadcast(hourly.select(F.col("event_type").alias("et2"),
                                  F.col("h").alias("h2"),
                                  F.col("c").alias("c2")))
    slopes = (a.join(b, (a.event_type == F.col("et2"))
                     & (F.col("h2") > F.col("h1")))
              .select("event_type",
                      ((F.col("c2") - F.col("c1")).cast("double")
                       / (F.col("h2") - F.col("h1"))).alias("slope"),
                      "h1", "h2"))
    w = W.partitionBy("event_type")
    ranked = (slopes
              .withColumn("r", F.row_number().over(
                  w.orderBy("slope", "h1", "h2")))
              .withColumn("n", F.count(F.lit(1)).over(w)))
    return (ranked.filter(F.expr("r = (n + 1) div 2"))
            .select("event_type", F.col("n").cast("long").alias("n_pairs"),
                    F.round("slope", 6).alias("ts_slope"))
            .orderBy("event_type"))
