"""The hourly event-count series, built from ``events`` in one place,
with the oracle CTEs that build the same series in DuckDB (package
docstring for the bucket and lattice rules).
"""

from __future__ import annotations

from functools import reduce
from operator import or_

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ...tables import load_table


def micros_hour() -> Column:
    """Hour index truncated toward zero: DuckDB ``epoch_us(ts) //
    3600000000``."""
    return F.expr("unix_micros(ts) div 3600000000")


def epoch_hour() -> Column:
    """Hour index floored: DuckDB ``floor(epoch(ts) / 3600)``."""
    return F.floor(F.unix_timestamp("ts") / 3600).cast("long")


def trunc_hour() -> Column:
    """The hour as a timestamp: DuckDB ``date_trunc('hour', ts)``."""
    return F.date_trunc("hour", F.col("ts"))


def hourly_counts(ev: DataFrame, bucket: Column, *keys: str,
                  hour: str = "h", **conds: Column) -> DataFrame:
    """(keys..., hour, c): one row per key and hour holding an event, and
    ``c`` its event count. With named conditions, only events matching one
    of them count, and each name counts the events matching its own
    condition instead of ``c``."""
    if not conds:
        return ev.groupBy(*keys, bucket.alias(hour)).agg(
            F.count(F.lit(1)).alias("c"))
    return (ev.filter(reduce(or_, conds.values()))
            .groupBy(*keys, bucket.alias(hour))
            .agg(*[F.count(F.when(cond, 1)).alias(name)
                   for name, cond in conds.items()]))


def zero_filled(counts: DataFrame, hour: str = "h",
                offset: str | None = None) -> DataFrame:
    """(hour, [offset], counts...): one row per hour from the first to the
    last hour of the per-hour count frame, each count 0 where the frame
    has no row. ``offset`` names an extra column holding hour - first
    hour. The spine is an exploded sequence off one min/max row."""
    spine = (counts.agg(F.min(hour).alias("lo"), F.max(hour).alias("hi"))
             .select(F.explode(F.sequence("lo", "hi")).alias(hour), "lo"))
    t = [(F.col(hour) - F.col("lo")).alias(offset)] if offset else []
    return (spine.join(counts, hour, "left")
            .select(hour, *t, *[F.coalesce(c, F.lit(0)).alias(c)
                                for c in counts.columns if c != hour]))


def dense_hourly(spark: SparkSession, sf_dir: str, *,
                 checkpoint: bool = False, **counts: Column) -> DataFrame:
    """(hr, <name>...): the dense ``epoch_hour`` series of the events
    matching each named condition; ``dense_hourly(spark, sf_dir,
    c=F.lit(True))`` is the series of all events.

    With ``checkpoint``, the per-hour counts (one events scan, O(hours)
    rows) are eagerly localCheckpointed before the spine is built: a
    caller that reads the series from several branches then scans events
    once, not once per branch."""
    h = hourly_counts(load_table(spark, sf_dir, "events"), epoch_hour(),
                      hour="hr", **counts)
    if checkpoint:
        h = h.localCheckpoint(eager=True)
    return zero_filled(h, "hr")


def filled_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, hour, n_events, v, rn): the ``trunc_hour`` grid of
    every hour from the first to the last event crossed with every event
    type, left-joined with the per-(type, hour) count (0 when none) and
    rounded mean value (null when none); ``rn`` is the integer grid
    position within the type. Oracle: ``FILLED_GRID_SQL``."""
    e = load_table(spark, sf_dir, "events")
    agg = (e.groupBy("event_type", trunc_hour().alias("hour"))
           .agg(F.count(F.lit(1)).alias("n"),
                F.round(F.avg("value"), 6).alias("v")))
    hours = (e.agg(F.min(trunc_hour()).alias("h0"),
                   F.max(trunc_hour()).alias("h1"))
             .select(F.explode(F.expr("sequence(h0, h1, interval 1 hour)"))
                     .alias("hour")))
    grid = hours.crossJoin(e.select("event_type").distinct())
    return (grid.join(agg, ["event_type", "hour"], "left")
            .select("event_type", "hour",
                    F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
                    "v",
                    F.row_number().over(
                        W.partitionBy("event_type").orderBy("hour"))
                    .alias("rn")))


FILLED_GRID_SQL = """
b AS (SELECT date_trunc('hour', min(ts)) AS h0,
             date_trunc('hour', max(ts)) AS h1 FROM events),
g AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM b),
ty AS (SELECT DISTINCT event_type FROM events),
c AS (SELECT event_type, date_trunc('hour', ts) AS hour,
             count(*) AS n, round(avg(value), 6) AS v
      FROM events GROUP BY 1, 2),
grid AS (
  SELECT ty.event_type, g.hour,
         coalesce(c.n, 0) AS n_events, c.v,
         row_number() OVER (PARTITION BY ty.event_type
                            ORDER BY g.hour) AS rn
  FROM g CROSS JOIN ty
  LEFT JOIN c ON c.event_type = ty.event_type AND c.hour = g.hour)
"""


def grid_sql(recursive: bool = False) -> str:
    """``WITH`` head of the dense ``micros_hour`` series: hc(h, c), its
    bounds (h0, h1) in ``b`` (``bnd`` under ``WITH RECURSIVE``) and
    grid(h, c)."""
    head, b = ("WITH RECURSIVE ", "bnd") if recursive else ("WITH ", "b")
    pad = " " * len(head)
    return f"""
{head}hc AS (SELECT epoch_us(ts) // 3600000000 AS h,
{pad}              cast(count(*) AS bigint) AS c
{pad}       FROM events GROUP BY 1),
{b} AS (SELECT min(h) AS h0, max(h) AS h1 FROM hc),
grid AS (SELECT g.h, coalesce(hc.c, 0) AS c
         FROM (SELECT unnest(generate_series((SELECT h0 FROM {b}),
                                             (SELECT h1 FROM {b}))) AS h) g
         LEFT JOIN hc ON hc.h = g.h)"""


def hourly_spine_sql() -> str:
    """Dense (hr, c) CTE body: the oracle's ``epoch_hour`` series."""
    return """
h AS (
  SELECT cast(floor(epoch(ts) / 3600) AS bigint) AS hr, count(*) AS c
  FROM events WHERE TRUE GROUP BY 1),
b AS (SELECT min(hr) AS lo, max(hr) AS hi FROM h),
spine AS (
  SELECT g.hr FROM b, lateral (
    SELECT unnest(generate_series(b.lo, b.hi)) AS hr) g),
d AS (
  SELECT s.hr, coalesce(h.c, 0) AS c FROM spine s LEFT JOIN h USING (hr))"""


def centered(d: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(z, t): the (hr, n, z) N-scaled deviations of the series column c,
    and the 1-row (n, s) frame they are centered on."""
    t = d.agg(F.count(F.lit(1)).cast("long").alias("n"),
              F.sum("c").cast("long").alias("s"))
    z = (d.crossJoin(F.broadcast(t))
         .select("hr", "n", (F.col("n") * F.col("c") - F.col("s"))
                 .alias("z")))
    return z, t


def lag_products(za: DataFrame, zb: DataFrame, lags) -> DataFrame:
    """(lag, n_pairs, numer): for each lag, the count and the sum of
    za(t) * zb(t + lag) over the hours both frames hold; ``za`` and ``zb``
    are (hr, z) frames. One equi-join on hr + lag with the lag list
    exploded on the probe side — no window over a global order."""
    probe = (za.select("hr", F.col("z").alias("za"))
             .withColumn("lag", F.explode(F.array(*[F.lit(k) for k in lags])))
             .withColumn("hr_b", F.col("hr") + F.col("lag")))
    return (probe.join(zb.select(F.col("hr").alias("hr_b"),
                                 F.col("z").alias("zb")), "hr_b")
            .groupBy("lag")
            .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"),
                 F.sum(F.col("za") * F.col("zb")).alias("numer")))


# Per-series point cap before a pairwise join: 2048 points -> <= ~2.1M
# pairs per series, a bounded task. A 10-year hourly series is 87,600
# points = 7.6e9 pairs unthinned. Oracles mirror the thinning (same
# stride arithmetic), so an activated cap stays verified; at fixture
# scale it is a no-op in both engines.
_MAX_POINTS = 2048


def thin_series(points: DataFrame, series_col: str, x: str,
                max_points: int = _MAX_POINTS) -> DataFrame:
    """Deterministically thin each series to <= ~max_points points, equi-
    spaced in x-rank: keep every ceil(L/max_points)-th point of the series
    ordered by x. A no-op (stride 1) for series within the cap. One
    per-series window over already-aggregated points — cheap relative to
    the pair join it bounds."""
    ws = W.partitionBy(series_col)
    return (points
            .withColumn("_rn", F.row_number().over(ws.orderBy(x)) - 1)
            .withColumn("_len", F.count(F.lit(1)).over(ws))
            .filter(F.pmod("_rn",
                           F.ceil(F.col("_len") / max_points)) == 0)
            .drop("_rn", "_len"))
