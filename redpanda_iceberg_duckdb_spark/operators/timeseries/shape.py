"""The shape of the hourly event-count series: autocorrelation and
cross-correlation (lag structure), the DFT periodogram (which cycle
lengths carry the energy), Haar wavelet energy per level (where the
variance lives), SAX motifs (recurring shapes) and DTW between the
weekday and weekend hour profiles (how far one is warped in time).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ...registry import register
from ...tables import load_table
from .hourly import (centered, dense_hourly, epoch_hour, grid_sql,
                     hourly_counts, hourly_spine_sql, lag_products,
                     micros_hour, zero_filled)

# -------------------------------------------------------------- ACF, CCF

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
    series at lags 1..8 from exact N-scaled integer moments; each lag's
    pairs are one equi-join on hr + lag."""
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
    shared dense spine, exact integer moments, one sqrt per row."""
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


# ----------------------------------------------------------- periodogram

_MAX_K = 12

# Shared tail: expects CTE d(t, c) (dense 0-based hour index + count)
# and k(k) (harmonics); dialect-free, and free of braces, so spark.sql's
# argument formatter leaves it as it is.
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
    """(k, n_hours, sc, ss, power): DFT periodogram P_k = Sc_k^2 + Ss_k^2
    of the dense hourly count series at harmonics k = 1..12, with Sc_k =
    sum_t x_t cos(2 pi k t / N) over t = hr - lo. Each cos/sin value is
    snapped once per (k, t) to the 1e6 integer lattice by the same
    literal expression in both engines, so the sums are exact bigints in
    any order; the only cross-engine exposure is a 1-ulp libm difference
    at a rounding boundary. The (k, t) grid is 12 x N rows."""
    d = (zero_filled(hourly_counts(load_table(spark, sf_dir, "events"),
                                   epoch_hour(), hour="hr"),
                     "hr", offset="t")
         .select("t", "c"))
    ks = spark.range(1, _MAX_K + 1).select(F.col("id").alias("k"))
    # d and k bind as query arguments under generated names that are
    # dropped after analysis, so the caller's temp views are untouched.
    return spark.sql(
        "WITH d AS (SELECT * FROM {d}), "
        "k AS (SELECT * FROM {k}),\n" + _TAIL.lstrip(), d=d, k=ks)


# ------------------------------------------------------------ Haar energy

_LEVELS = 10   # block sizes 2..1024 hours — covers a month-scale series

_HAAR_ORACLE = f"""
WITH hc AS (SELECT epoch_us(ts) // 3600000000 AS h,
                   cast(count(*) AS bigint) AS c
            FROM events GROUP BY 1),
b AS (SELECT min(h) AS h0 FROM hc),
idx AS (SELECT h - (SELECT h0 FROM b) AS i, c FROM hc),
contrib AS (
  SELECT l, i // (1 << l) AS pos,
         CASE WHEN i % (1 << l) < (1 << (l - 1)) THEN c ELSE -c END AS v
  FROM idx, (SELECT unnest(generate_series(1, {_LEVELS})) AS l)),
coef AS (SELECT l, pos, cast(sum(v) AS bigint) AS w
         FROM contrib GROUP BY l, pos)
SELECT l AS level,
       cast(1 << l AS bigint) AS block_hours,
       cast(count(*) AS bigint) AS n_nonzero_blocks,
       cast(sum(w * w) AS bigint) AS energy,
       cast(max(abs(w)) AS bigint) AS max_abs_coef,
       round(cast(sum(w * w) AS double) / (1 << l), 6) AS energy_norm
FROM coef WHERE w <> 0
GROUP BY l ORDER BY l"""


@register(
    "haar_energy_by_level",
    oracle=_HAAR_ORACLE,
    tags=("timeseries", "wavelet", "sketch", "scale-pattern"),
)
def haar_energy_by_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-level Haar detail energy of the hourly series (Matias, Vitter
    and Wang 1998): nonzero block count, exact integer energy and
    max|coefficient|, and the dyadic normalized energy / 2^level.
    Unnormalized detail coefficients are signed integer sums (first
    half-block minus second). Absent hours are exact zeros and add
    nothing to any coefficient, so no grid is needed: each observed hour
    explodes into its 10 (level, pos, sign) contributions and one
    groupBy(level, pos) produces every coefficient of every level."""
    hc = hourly_counts(load_table(spark, sf_dir, "events"), micros_hour())
    h0 = hc.agg(F.min("h").alias("h0"))
    idx = (hc.crossJoin(F.broadcast(h0))
           .select((F.col("h") - F.col("h0")).alias("i"), "c"))
    contrib = (idx.select(
        "i", "c",
        F.explode(F.sequence(F.lit(1), F.lit(_LEVELS))).alias("l"))
        .select(
            "l",
            F.expr("i div (shiftleft(1, l))").alias("pos"),
            F.expr("CASE WHEN i % shiftleft(1, l) < shiftleft(1, l - 1)"
                   " THEN c ELSE -c END").alias("v")))
    coef = (contrib.groupBy("l", "pos")
            .agg(F.sum("v").cast("long").alias("w"))
            .filter(F.col("w") != 0))
    return (coef.groupBy("l")
            .agg(F.count(F.lit(1)).cast("long").alias("n_nonzero_blocks"),
                 F.sum(F.col("w") * F.col("w")).cast("long").alias("energy"),
                 F.max(F.abs("w")).cast("long").alias("max_abs_coef"))
            .select(F.col("l").alias("level"),
                    F.expr("cast(shiftleft(1, l) as bigint)")
                     .alias("block_hours"),
                    "n_nonzero_blocks", "energy", "max_abs_coef",
                    F.round(F.col("energy").cast("double")
                            / F.expr("shiftleft(1, l)"), 6)
                     .alias("energy_norm"))
            .orderBy("level"))


# -------------------------------------------------------------------- SAX

_SAX_ORACLE = f"""{grid_sql()},
m AS (SELECT cast(count(*) AS bigint) AS n, cast(sum(c) AS bigint) AS s,
             cast(sum(c * c) AS bigint) AS ss FROM grid),
seg AS (SELECT (h - (SELECT h0 FROM b)) // 4 AS sg,
               cast(sum(c) AS bigint) AS ssum, count(*) AS sn
        FROM grid GROUP BY 1),
sym AS (SELECT sg,
               CASE WHEN ssum / 4.0 < mu - 0.6745 * sig THEN 'a'
                    WHEN ssum / 4.0 < mu THEN 'b'
                    WHEN ssum / 4.0 < mu + 0.6745 * sig THEN 'c'
                    ELSE 'd' END AS sym
        FROM seg,
             (SELECT s * 1.0 / n AS mu,
                     sqrt(cast(n * ss - s * s AS double)) / n AS sig FROM m)
        WHERE sn = 4),
w AS (SELECT sym || lead(sym, 1) OVER (ORDER BY sg)
                 || lead(sym, 2) OVER (ORDER BY sg) AS word
      FROM sym)
SELECT word, cast(count(*) AS bigint) AS n
FROM w WHERE word IS NOT NULL
GROUP BY 1 ORDER BY n DESC, word"""


@register(
    "sax_hourly_motifs",
    oracle=_SAX_ORACLE,
    tags=("timeseries", "symbolic", "motif"),
)
def sax_hourly_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-symbol SAX motif counts (Lin and Keogh 2003) over the zero-filled
    hourly series: PAA averages 4-hour segments, and the normal quartile
    breakpoints (+-0.6745) map each to a 4-letter alphabet. Segment sums
    and the global moments are exact integers; mu/sigma and each
    breakpoint test are the identical float expression in both engines
    (seg_sum/4.0 is compared against mu + b*sigma, so a flat series never
    divides by zero)."""
    grid = zero_filled(hourly_counts(load_table(spark, sf_dir, "events"),
                                     micros_hour()), offset="t")
    m = grid.agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.sum("c").cast("long").alias("s"),
                 F.sum(F.col("c") * F.col("c")).cast("long").alias("ss"))
    seg = (grid.groupBy(F.expr("t div 4").alias("sg"))
           .agg(F.sum("c").cast("long").alias("ssum"),
                F.count(F.lit(1)).alias("sn"))
           .filter(F.col("sn") == 4))
    stats = m.select((F.col("s") * 1.0 / F.col("n")).alias("mu"),
                     (F.sqrt((F.col("n") * F.col("ss")
                              - F.col("s") * F.col("s")).cast("double"))
                      / F.col("n")).alias("sig"))
    paa = F.col("ssum") / 4.0
    sym = (seg.crossJoin(F.broadcast(stats))
           .select("sg", F.when(paa < F.col("mu") - 0.6745 * F.col("sig"), "a")
                   .when(paa < F.col("mu"), "b")
                   .when(paa < F.col("mu") + 0.6745 * F.col("sig"), "c")
                   .otherwise("d").alias("sym")))
    wlead = W.orderBy("sg")
    w = sym.select(F.concat(F.col("sym"),
                            F.lead("sym", 1).over(wlead),
                            F.lead("sym", 2).over(wlead)).alias("word"))
    return (w.filter(F.col("word").isNotNull())
            .groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("n"))
            .orderBy(F.col("n").desc(), "word"))


# -------------------------------------------------------------------- DTW

_DTW_ORACLE = """
WITH RECURSIVE pts AS (
  SELECT cast(extract(hour FROM ts) AS bigint) AS h,
         CASE WHEN extract(isodow FROM ts) <= 5 THEN 1 ELSE 0 END AS wd
  FROM events),
hc AS (SELECT g.h,
              (SELECT coalesce(sum(CASE WHEN wd = 1 THEN 1 ELSE 0 END), 0)
               FROM pts WHERE pts.h = g.h) AS c1,
              (SELECT coalesce(sum(CASE WHEN wd = 0 THEN 1 ELSE 0 END), 0)
               FROM pts WHERE pts.h = g.h) AS c2
       FROM (SELECT unnest(range(24)) AS h) g),
n AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM hc),
lists AS (SELECT list(c1 ORDER BY h) AS l1, list(c2 ORDER BY h) AS l2
           FROM hc),
prof AS (SELECT [(2000 * x + n1) // (2 * n1) FOR x IN l1] AS pa,
                [(2000 * x + n2) // (2 * n2) FOR x IN l2] AS pb
         FROM lists, n),
it AS (
  SELECT 0 AS i,
         [list_sum([abs(pa[1] - pb[m + 1])
                    FOR m IN range(j + 1)]) FOR j IN range(24)] AS dp
  FROM prof
  UNION ALL
  SELECT it.i + 1,
         [ list_sum([abs(pa[it.i + 2] - pb[m + 1]) FOR m IN range(j + 1)])
           + list_min([
               (CASE WHEN k = 0 THEN it.dp[1]
                     ELSE least(it.dp[k + 1], it.dp[k]) END)
               - CASE WHEN k = 0 THEN 0
                      ELSE list_sum([abs(pa[it.i + 2] - pb[m + 1])
                                     FOR m IN range(k)]) END
             FOR k IN range(j + 1)])
           FOR j IN range(24) ]
  FROM it, prof WHERE it.i < 23),
fin AS (SELECT dp FROM it WHERE i = 23)
SELECT (SELECT cast(n1 AS bigint) FROM n) AS n_weekday,
       (SELECT cast(n2 AS bigint) FROM n) AS n_weekend,
       cast(dp[24] AS bigint) AS dtw_cost_permille,
       round(dp[24] / 1000.0, 6) AS dtw_cost
FROM fin"""


@register(
    "dtw_hour_profiles",
    oracle=_DTW_ORACLE,
    tags=("timeseries", "alignment", "drift"),
)
def dtw_hour_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_weekday, n_weekend, dtw_cost_permille, dtw_cost): exact integer
    DTW between the per-mille weekday and weekend hour-of-day profiles
    (half-up lattice), cost c(i,j) = |pa_i - pb_j|. DTW warps time where
    the circular EMD (ot13) moves mass, so a weekend that runs two hours
    later scores near zero here. The min-plus DP

        dp[i][j] = c(i,j) + min(dp[i-1][j], dp[i-1][j-1], dp[i][j-1])

    loses its within-row dependency by the enter-column closed form (a
    path enters row i at some column k and moves right):

        S[j]   = prefix sum of row i's costs
        q[k]   = min(prev[k], prev[k-1])        (q[0] = prev[0])
        new[j] = S[j] + min_{k<=j} (q[k] - S[k-1])     (S[-1] = 0)

    so each row is a comprehension over the previous one: an aggregate()
    fold over 24 rows here, a recursive CTE in the oracle."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        F.hour("ts").cast("long").alias("h"),
        (F.expr("extract(DAYOFWEEK_ISO FROM ts)") <= 5).cast("int")
        .alias("wd"))
    raw = pts.groupBy("h").agg(
        F.sum("wd").cast("long").alias("c1"),
        F.sum(1 - F.col("wd")).cast("long").alias("c2"))
    grid = spark.range(24).select(F.col("id").alias("h"))
    hc = (grid.join(raw, "h", "left_outer")
          .select("h", F.coalesce("c1", F.lit(0)).alias("c1"),
                  F.coalesce("c2", F.lit(0)).alias("c2")))
    one = (hc.agg(
        F.sum("c1").alias("n1"), F.sum("c2").alias("n2"),
        F.array_sort(F.collect_list(F.struct("h", "c1", "c2"))).alias("a"))
        .selectExpr(
            "n1", "n2",
            "transform(a, x -> (2000 * x.c1 + n1) div (2 * n1)) AS pa",
            "transform(a, x -> (2000 * x.c2 + n2) div (2 * n2)) AS pb"))
    dp = one.selectExpr("n1", "n2", """
      aggregate(
        sequence(1, 23),
        transform(sequence(0, 23), j ->
          aggregate(slice(pb, 1, j + 1), cast(0 AS bigint),
                    (acc, x) -> acc + abs(element_at(pa, 1) - x))),
        (prev, i) -> transform(sequence(0, 23), j ->
          aggregate(sequence(0, j), cast(1000000000000000000 AS bigint),
            (best, k) -> least(best,
              (CASE WHEN k = 0 THEN element_at(prev, 1)
                    ELSE least(element_at(prev, k + 1),
                               element_at(prev, k)) END)
              - aggregate(slice(pb, 1, k), cast(0 AS bigint),
                          (a2, x) -> a2
                          + abs(element_at(pa, i + 1) - x))))
          + aggregate(slice(pb, 1, j + 1), cast(0 AS bigint),
                      (a3, x) -> a3 + abs(element_at(pa, i + 1) - x)))
      ) AS dp""")
    return dp.selectExpr(
        "cast(n1 AS bigint) AS n_weekday",
        "cast(n2 AS bigint) AS n_weekend",
        "cast(element_at(dp, 24) AS bigint) AS dtw_cost_permille",
        "round(cast(element_at(dp, 24) AS double) / 1000.0, 6)"
        " AS dtw_cost")
