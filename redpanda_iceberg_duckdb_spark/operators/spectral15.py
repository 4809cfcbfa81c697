"""Discrete-Fourier periodogram of the hourly event-count series — the
frequency-domain seasonality readout beside the time-domain tier (ACF /
PACF / Haar energy / SAX motifs): which cycle lengths carry the series'
energy, asked directly at each harmonic.

P_k = Sc_k^2 + Ss_k^2 with Sc_k = sum_t x_t cos(2 pi k t / N),
Ss_k the sine sum, over the dense zero-filled hour spine (t = hr - lo,
N hours), harmonics k = 1..12.

Exactness: each cos/sin value is snapped ONCE per (k, t) to the 1e6
integer lattice — round(1e6 * cos(2 * pi() * k * t / n)) — written as
the same literal expression in both engines, so the products
x_t * c_kt and the Sc/Ss accumulations are exact bigint sums in ANY
order; the power ratio divides once at the end. The only cross-engine
exposure is the repo's accepted 1-ulp libm risk (cos/sin at the lattice
rounding boundary — the stats.moments Box-Cox pow/ln acceptance).

Scale stance (100 TB): the corpus reduces map-side to per-hour counts;
the (k, t) grid is 12 x N rows (time-range-bounded, independent of
corpus size), one keyed aggregate to 12 output rows. No window, no
global sort, no FFT needed at this harmonic count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import register
from ..tables import load_table

_MAX_K = 12

# Shared tail: expects CTE d(t, c) (dense 0-based hour index + count)
# and k(k) (harmonics); dialect-free.
_TAIL = f"""
n AS (SELECT cast(count(*) AS bigint) AS n FROM d),
terms AS (
  SELECT k.k, d.c,
         cast(round(1000000 * cos(2 * pi() * k.k * d.t / n.n))
              AS bigint) AS ci,
         cast(round(1000000 * sin(2 * pi() * k.k * d.t / n.n))
              AS bigint) AS si
  FROM d CROSS JOIN k CROSS JOIN n),
sums AS (
  SELECT k, cast(sum(c * ci) AS bigint) AS sc,
         cast(sum(c * si) AS bigint) AS ss
  FROM terms GROUP BY k)
SELECT cast(k AS int) AS k, (SELECT max(n) FROM n) AS n_hours, sc, ss,
       round((cast(sc AS double) * sc + cast(ss AS double) * ss)
             / 1e12, 3) AS power
FROM sums ORDER BY k"""

_PERIODOGRAM_ORACLE = f"""
WITH h AS (
  SELECT cast(floor(epoch(ts) / 3600) AS bigint) AS hr, count(*) AS c
  FROM events GROUP BY 1),
b AS (SELECT min(hr) AS lo, max(hr) AS hi FROM h),
spine AS (SELECT g.hr FROM b, lateral (
            SELECT unnest(generate_series(b.lo, b.hi)) AS hr) g),
d AS (SELECT s.hr - (SELECT lo FROM b) AS t, coalesce(h.c, 0) AS c
      FROM spine s LEFT JOIN h USING (hr)),
k AS (SELECT unnest(generate_series(1, {_MAX_K})) AS k),
{_TAIL.lstrip()}"""


@register(
    "periodogram_hourly_power",
    oracle=_PERIODOGRAM_ORACLE,
    tags=("timeseries", "spectral", "lattice"),
)
def periodogram_hourly_power(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """(k, n_hours, sc, ss, power): DFT periodogram of the dense hourly
    count series at harmonics 1..12, exact 1e6-lattice trig sums
    (module docstring)."""
    e = load_table(spark, sf_dir, "events")
    h = (e.select(F.floor(F.unix_timestamp("ts") / 3600).cast("long")
                  .alias("hr"))
         .groupBy("hr").agg(F.count(F.lit(1)).alias("c")))
    b = h.agg(F.min("hr").alias("lo"), F.max("hr").alias("hi"))
    spine = b.select(F.explode(F.sequence("lo", "hi")).alias("hr"),
                     F.col("lo"))
    d = (spine.join(h, "hr", "left")
         .select((F.col("hr") - F.col("lo")).alias("t"),
                 F.coalesce("c", F.lit(0)).alias("c")))
    ks = spark.range(1, _MAX_K + 1).select(F.col("id").alias("k"))
    d.createOrReplaceTempView("pgram15_d")
    ks.createOrReplaceTempView("pgram15_k")
    return spark.sql(
        "WITH d AS (SELECT * FROM pgram15_d), "
        "k AS (SELECT * FROM pgram15_k),\n" + _TAIL.lstrip())
