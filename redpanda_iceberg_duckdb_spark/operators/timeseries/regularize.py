"""Regularizing the event stream: the dense hourly grid with zero-fill,
forward-fill and linear interpolation, trailing moving statistics and
an EWMA over it, sliding distinct users, and M4 downsampling.

The grid (``hourly.filled_grid``) reduces events to (type, hour)
aggregates before any window runs, so every window partition holds the
hours of one type: bounded by calendar time, not by data volume. Grid
positions are integer row indexes, so fill and interpolation distances
are exact integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ...registry import register
from ...tables import load_table
from .hourly import FILLED_GRID_SQL, filled_grid, trunc_hour


@register(
    "gap_fill_hourly",
    bench=True,
    oracle=f"""
WITH {FILLED_GRID_SQL},
f AS (
  SELECT event_type, hour, n_events, v, rn,
         last_value(v IGNORE NULLS) OVER w_prev AS pv,
         last_value(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS)
             OVER w_prev AS prn,
         first_value(v IGNORE NULLS) OVER w_next AS nv,
         first_value(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS)
             OVER w_next AS nrn
  FROM grid
  WINDOW
    w_prev AS (PARTITION BY event_type ORDER BY rn
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
    w_next AS (PARTITION BY event_type ORDER BY rn
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
SELECT event_type, hour, n_events,
       coalesce(v, pv) AS carried_avg,
       CASE WHEN v IS NOT NULL THEN v
            WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
              round(pv + (nv - pv) * (rn - prn) * 1.0 / (nrn - prn), 6)
            END AS interp_avg
FROM f ORDER BY event_type, hour""",
    tags=("timeseries", "gapfill", "window"),
)
def gap_fill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regularize the event stream to a dense hourly series per type:
    missing hours get n_events = 0, `carried_avg` forward-fills the last
    observed hourly mean, and `interp_avg` linearly interpolates between
    the nearest observed hours (null before the first / after the last
    observation). Fill distances use the integer grid index, so the
    interpolation fraction is an exact small-int ratio."""
    g = filled_grid(spark, sf_dir)
    w_prev = (W.partitionBy("event_type").orderBy("rn")
              .rowsBetween(W.unboundedPreceding, -1))
    w_next = (W.partitionBy("event_type").orderBy("rn")
              .rowsBetween(1, W.unboundedFollowing))
    vrn = F.when(F.col("v").isNotNull(), F.col("rn"))
    f = (g.withColumn("pv", F.last("v", ignorenulls=True).over(w_prev))
         .withColumn("prn", F.last(vrn, ignorenulls=True).over(w_prev))
         .withColumn("nv", F.first("v", ignorenulls=True).over(w_next))
         .withColumn("nrn", F.first(vrn, ignorenulls=True).over(w_next)))
    interp = (F.when(F.col("v").isNotNull(), F.col("v"))
              .when(F.col("pv").isNotNull() & F.col("nv").isNotNull(),
                    F.round(F.col("pv")
                            + (F.col("nv") - F.col("pv"))
                            * (F.col("rn") - F.col("prn"))
                            / (F.col("nrn") - F.col("prn")), 6)))
    return (f.select("event_type", "hour", "n_events",
                     F.coalesce("v", "pv").alias("carried_avg"),
                     interp.alias("interp_avg"))
            .orderBy("event_type", "hour"))


@register(
    "hourly_moving_stats",
    oracle=f"""
WITH {FILLED_GRID_SQL}
SELECT event_type, hour, n_events,
       cast(sum(n_events) OVER w AS bigint) AS moving_sum_24h,
       round(sum(n_events) OVER w * 1.0 / count(*) OVER w, 6)
           AS moving_avg_24h,
       min(n_events) OVER w AS moving_min_24h,
       max(n_events) OVER w AS moving_max_24h
FROM grid
WINDOW w AS (PARTITION BY event_type ORDER BY rn
             ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
ORDER BY event_type, hour""",
    tags=("timeseries", "window", "moving"),
)
def hourly_moving_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 24-hour moving sum/avg/min/max of hourly event counts over
    the ZERO-FILLED grid — computing moving stats over the raw (sparse)
    hourly rollup silently skips empty hours and overstates activity; the
    dense grid makes the window truly calendar-24h. Integer sums with an
    exact row-count divisor."""
    g = filled_grid(spark, sf_dir)
    w = (W.partitionBy("event_type").orderBy("rn").rowsBetween(-23, 0))
    return (g.select(
                "event_type", "hour", "n_events",
                F.sum("n_events").over(w).alias("moving_sum_24h"),
                F.round(F.sum("n_events").over(w)
                        / F.count(F.lit(1)).over(w), 6)
                .alias("moving_avg_24h"),
                F.min("n_events").over(w).alias("moving_min_24h"),
                F.max("n_events").over(w).alias("moving_max_24h"))
            .orderBy("event_type", "hour"))


@register(
    "ewma_hourly_counts",
    oracle=f"""
WITH {FILLED_GRID_SQL},
win AS (
  SELECT event_type, hour, n_events,
         list(n_events) OVER (PARTITION BY event_type ORDER BY rn
                              ROWS BETWEEN 15 PRECEDING AND CURRENT ROW)
             AS l
  FROM grid)
SELECT event_type, hour, n_events,
       list_sum(list_transform(range(1, len(l) + 1),
                               i -> l[i] * pow(0.5, len(l) - i + 1)))
           / (1 - pow(0.5, len(l))) AS ewma
FROM win ORDER BY event_type, hour""",
    tags=("timeseries", "smoothing"),
)
def ewma_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (alpha = 1/2) of the hourly
    event count, truncated to a 16-hour window and renormalized by the
    truncated weight mass. The weights are powers of two and the inputs
    integers, so every product and sum is an exact dyadic rational in
    IEEE doubles: summation order cannot change the result, and both
    engines agree bit for bit with no rounding step. (An untruncated
    recursive EWMA is a sequential fold; the 16-term tail carries weight
    2^-16.) collect_list holds <= 16 integers per row."""
    g = filled_grid(spark, sf_dir)
    w = (W.partitionBy("event_type").orderBy("rn").rowsBetween(-15, 0))
    arr = F.collect_list("n_events").over(w)
    with_arr = g.select("event_type", "hour", "n_events", arr.alias("l"))
    size = F.size("l")
    weighted = F.transform(
        "l", lambda x, i: x * F.pow(F.lit(0.5), size - i))
    wsum = F.aggregate(weighted, F.lit(0.0), lambda acc, x: acc + x)
    return (with_arr.select(
                "event_type", "hour", "n_events",
                (wsum / (F.lit(1.0) - F.pow(F.lit(0.5), size))).alias("ewma"))
            .orderBy("event_type", "hour"))


@register(
    "sliding_distinct_users_24h",
    oracle="""
WITH p AS (SELECT DISTINCT date_trunc('hour', ts) AS hour, user_id
           FROM events),
hours AS (SELECT DISTINCT hour FROM p)
SELECT h.hour,
       count(DISTINCT p.user_id) AS n_users_24h
FROM hours h
JOIN p ON p.hour BETWEEN h.hour - INTERVAL 23 HOUR AND h.hour
GROUP BY h.hour
ORDER BY h.hour""",
    tags=("timeseries", "window", "distinct"),
)
def sliding_distinct_users_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing-24-hour distinct users per hour (the sliding-DAU
    metric). COUNT(DISTINCT) OVER a sliding frame does not exist in either
    engine, and the naive range join of every hour against every (hour,
    user) pair is O(|hours| * |pairs|). Instead: reduce events to distinct
    (hour, user) pairs once, then EXPLODE each pair into the <= 24 window
    endpoints it covers — a bounded 24x fan-out of the hour-level rollup
    that turns the range join into a plain hash aggregate. The oracle
    keeps the literal range join."""
    e = load_table(spark, sf_dir, "events")
    p = e.select(trunc_hour().alias("hour"), "user_id").distinct()
    hours = p.select("hour").distinct()
    max_hour = hours.agg(F.max("hour").alias("mx"))
    covered = (p.select(
        F.explode(F.expr("sequence(0, 23)")).alias("k"), "hour", "user_id")
        .select(F.expr("hour + make_interval(0, 0, 0, 0, k)")
                .alias("target_hour"), "user_id"))
    in_range = (covered.join(F.broadcast(max_hour))
                .filter(F.col("target_hour") <= F.col("mx"))
                .drop("mx"))
    observed = in_range.join(hours.withColumnRenamed("hour", "target_hour"),
                             "target_hour", "left_semi")
    return (observed.groupBy(F.col("target_hour").alias("hour"))
            .agg(F.countDistinct("user_id").alias("n_users_24h"))
            .orderBy("hour"))


# ---------------------------------------------------------------- M4

_W = 48  # pixel-column buckets per series


def _m4_oracle() -> str:
    # Struct field order matters: {'u','e','v'} compares (us, event_id)
    # first — identical to the Spark struct below.
    return f"""
WITH pts AS (
  SELECT event_type, epoch_us(ts) AS us, value, event_id FROM events),
bounds AS (
  SELECT event_type, min(us) AS mn, max(us) AS mx
  FROM pts GROUP BY event_type),
bucketed AS (
  SELECT p.event_type,
         least({_W - 1}, ((p.us - b.mn) * {_W}) // (b.mx - b.mn + 1))
           AS bucket,
         p.us, p.value, p.event_id
  FROM pts p JOIN bounds b USING (event_type))
SELECT event_type, cast(bucket AS bigint) AS bucket,
       (min({{'u': us, 'e': event_id, 'v': value}})).u AS t_first_us,
       (min({{'u': us, 'e': event_id, 'v': value}})).v AS v_first,
       (min({{'v': value, 'u': us, 'e': event_id}})).u AS t_min_us,
       (min({{'v': value, 'u': us, 'e': event_id}})).v AS v_min,
       (max({{'v': value, 'u': us, 'e': event_id}})).u AS t_max_us,
       (max({{'v': value, 'u': us, 'e': event_id}})).v AS v_max,
       (max({{'u': us, 'e': event_id, 'v': value}})).u AS t_last_us,
       (max({{'u': us, 'e': event_id, 'v': value}})).v AS v_last
FROM bucketed
GROUP BY event_type, bucket
ORDER BY event_type, bucket"""


@register(
    "m4_downsample_events",
    oracle=_m4_oracle(),
    tags=("timeseries", "downsample", "scale-pattern"),
)
def m4_downsample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 downsampling (Jugel et al., VLDB 2014): per (event_type, bucket)
    of W = 48 uniform pixel-column buckets over each series' time range,
    the first/last points by (ts, event_id) and the min/max points by
    (value, ts, event_id) — the sufficient set for error-free line
    rendering at width W. Each role is a lexicographic min/max over a
    struct (Spark structs and DuckDB ROWs both order lexicographically,
    so field order is part of the contract), which keeps the whole
    reduction one map-side-combinable aggregate. Timestamps surface as
    epoch microseconds so both engines compare integers."""
    pts = (load_table(spark, sf_dir, "events")
           .select("event_type", F.unix_micros("ts").alias("us"),
                   "value", "event_id"))
    bounds = pts.groupBy("event_type").agg(
        F.min("us").alias("mn"), F.max("us").alias("mx"))
    b = (pts.join(F.broadcast(bounds), "event_type")
         .withColumn(
             "bucket",
             F.least(F.lit(_W - 1).cast("long"),
                     F.expr(f"((us - mn) * {_W}) div (mx - mn + 1)"))))
    firstlast = F.struct(F.col("us").alias("u"),
                         F.col("event_id").alias("e"),
                         F.col("value").alias("v"))
    minmax = F.struct(F.col("value").alias("v"), F.col("us").alias("u"),
                      F.col("event_id").alias("e"))
    return (b.groupBy("event_type", "bucket")
            .agg(F.min(firstlast).alias("fs"), F.max(firstlast).alias("ls"),
                 F.min(minmax).alias("ms"), F.max(minmax).alias("xs"))
            .select("event_type", F.col("bucket").cast("long").alias("bucket"),
                    F.col("fs.u").alias("t_first_us"),
                    F.col("fs.v").alias("v_first"),
                    F.col("ms.u").alias("t_min_us"),
                    F.col("ms.v").alias("v_min"),
                    F.col("xs.u").alias("t_max_us"),
                    F.col("xs.v").alias("v_max"),
                    F.col("ls.u").alias("t_last_us"),
                    F.col("ls.v").alias("v_last"))
            .orderBy("event_type", "bucket"))
