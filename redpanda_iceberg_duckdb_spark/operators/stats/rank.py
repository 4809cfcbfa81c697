"""Rank and distribution-comparison tests on the value lattice: trimmed
and winsorized means, two-sample Kolmogorov-Smirnov and Anderson-Darling,
Kruskal-Wallis, Spearman, Friedman and the Hodges-Lehmann shift.

Ranks are doubled midranks and every cumulative count is an exact bigint
(package docstring). KS, Kruskal-Wallis and Spearman cumulate through
``running_sums``, the two-phase bucketed running sum. Anderson-Darling
keeps one plain window over its per-cents frame on purpose: the helper
reads its input twice, which would raise AD's parquet scans from 1 to 3
(Brown-Forsythe's per-type cumulation in ``moments`` likewise, 2 to 3).
Frames bounded by the grid (24 hours of day, k types per day, a 99-value
difference lattice) use one plain window or a self-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ...registry import register
from ...tables import load_table

_BUCKET = 2048  # cents per running-sum bucket; value domain [1, ~49100]


def running_sums(df: DataFrame, order: str, *, by: tuple[str, ...] = (),
                 **sums: str) -> DataFrame:
    """``df`` plus, for each ``name=column``, the inclusive running sum of
    ``column`` in ``order`` within each ``by`` partition: the sum over the
    partition's rows whose integer ``order`` is at most this row's, so
    rows tied on ``order`` share one sum. On a frame grouped by ``order``
    the exclusive sum is ``name - column``.

    Two phases, so no window sorts a data-sized frame on one partition:
    running sums within ``_BUCKET``-wide buckets of ``order`` (a window
    partitioned by bucket), plus each bucket's offset, the running sum of
    the bucket totals before it — a window over the small per-bucket
    summary, broadcast back. Fixed widths suit the bounded value domain;
    an open domain would take approx-quantile cuts instead."""
    keys = [*by, "bucket"]
    b = df.withColumn("bucket", F.expr(f"{order} div {_BUCKET}"))
    within = (W.partitionBy(*keys).orderBy(order)
              .rangeBetween(W.unboundedPreceding, W.currentRow))
    local = b.select(*b.columns, *[F.sum(col).over(within).alias(f"_l_{n}")
                                   for n, col in sums.items()])
    before = (W.partitionBy(*by).orderBy("bucket")
              .rowsBetween(W.unboundedPreceding, -1))
    offs = (b.groupBy(*keys)
            .agg(*[F.sum(col).alias(f"_t_{n}") for n, col in sums.items()])
            .select(*keys, *[F.coalesce(F.sum(f"_t_{n}").over(before),
                                        F.lit(0)).alias(f"_o_{n}")
                             for n in sums]))
    return (local.join(F.broadcast(offs), keys)
            .select(*df.columns, *[(F.col(f"_l_{n}") + F.col(f"_o_{n}"))
                                  .alias(n) for n in sums]))


def _cents():
    return F.floor(F.col("value") * 100).cast("bigint").alias("cents")


# ------------------------------------------------- trimmed / winsorized

_TRIM = 10  # percent per tail


def _trim_oracle() -> str:
    return f"""
WITH v AS (
  SELECT event_type, event_id,
         cast(floor(value * 100) AS bigint) AS cents
  FROM events),
r AS (
  SELECT event_type, cents,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY cents, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM v),
marked AS (
  SELECT event_type, cents, n, n // {100 // _TRIM} AS k,
         rn > n // {100 // _TRIM} AND rn <= n - n // {100 // _TRIM} AS mid,
         CASE WHEN rn <= n // {100 // _TRIM}
              THEN 'lo' WHEN rn > n - n // {100 // _TRIM}
              THEN 'hi' ELSE 'mid' END AS zone
  FROM r),
cuts AS (
  SELECT event_type,
         min(CASE WHEN zone = 'mid' THEN cents END) AS lo_cut,
         max(CASE WHEN zone = 'mid' THEN cents END) AS hi_cut
  FROM marked GROUP BY event_type)
SELECT m.event_type,
       cast(max(m.n) AS bigint) AS n,
       cast(max(m.k) AS bigint) AS k_trimmed_per_side,
       round(sum(CASE WHEN m.zone = 'mid' THEN cast(m.cents AS double)
                      ELSE 0 END)
             / (max(m.n) - 2 * max(m.k)) / 100, 6) AS trimmed_mean,
       round(sum(CASE WHEN m.zone = 'lo' THEN cast(c.lo_cut AS double)
                      WHEN m.zone = 'hi' THEN cast(c.hi_cut AS double)
                      ELSE cast(m.cents AS double) END)
             / max(m.n) / 100, 6) AS winsorized_mean
FROM marked m JOIN cuts c ON c.event_type = m.event_type
GROUP BY m.event_type ORDER BY m.event_type"""


@register(
    "trimmed_winsorized_means",
    oracle=_trim_oracle(),
    tags=("robust", "evaluation", "scale-pattern"),
)
def trimmed_winsorized_means(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """(event_type, n, k_trimmed_per_side, trimmed_mean, winsorized_mean):
    10%-per-tail trimmed and winsorized means of `value` per event type.
    The trim boundaries are RANK cuts (k = floor(n/10) rows off each side
    by (cents, event_id) order, not a percentile interpolation), so both
    engines sum identical exact sets. One per-group window; groups run in
    parallel, no global order."""
    e = load_table(spark, sf_dir, "events")
    v = e.select("event_type", "event_id", _cents())
    wp = W.partitionBy("event_type")
    r = (v.withColumn("rn", F.row_number().over(
            wp.orderBy("cents", "event_id")))
         .withColumn("n", F.count(F.lit(1)).over(wp)))
    k = F.expr(f"n div {100 // _TRIM}")
    marked = r.select(
        "event_type", "cents", "n", k.alias("k"),
        F.when(F.col("rn") <= k, "lo")
        .when(F.col("rn") > F.col("n") - k, "hi")
        .otherwise("mid").alias("zone"))
    cuts = (marked.groupBy("event_type")
            .agg(F.min(F.when(F.col("zone") == "mid", F.col("cents")))
                 .alias("lo_cut"),
                 F.max(F.when(F.col("zone") == "mid", F.col("cents")))
                 .alias("hi_cut")))
    m = marked.join(F.broadcast(cuts), "event_type")
    trimmed = (F.sum(F.when(F.col("zone") == "mid",
                            F.col("cents").cast("double")).otherwise(0.0))
               / (F.max("n") - 2 * F.max("k")) / 100)
    winsor = (F.sum(F.when(F.col("zone") == "lo",
                           F.col("lo_cut").cast("double"))
                    .when(F.col("zone") == "hi",
                          F.col("hi_cut").cast("double"))
                    .otherwise(F.col("cents").cast("double")))
              / F.max("n") / 100)
    return (m.groupBy("event_type")
            .agg(F.max("n").cast("long").alias("n"),
                 F.max("k").cast("long").alias("k_trimmed_per_side"),
                 F.round(trimmed, 6).alias("trimmed_mean"),
                 F.round(winsor, 6).alias("winsorized_mean"))
            .orderBy("event_type"))


# ------------------------------------------------ two-sample KS and AD

_A, _B = "purchase", "click"


def _two_sample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cents, c1, c2): purchase and click counts per distinct cents."""
    e = load_table(spark, sf_dir, "events")
    return (e.filter(F.col("event_type").isin(_A, _B))
            .select(_cents(), "event_type")
            .groupBy("cents")
            .agg(F.count(F.when(F.col("event_type") == _A, 1)).alias("c1"),
                 F.count(F.when(F.col("event_type") == _B, 1)).alias("c2")))


def _ks_oracle() -> str:
    return f"""
WITH v AS (
  SELECT cast(floor(value * 100) AS bigint) AS cents,
         count(*) FILTER (WHERE event_type = '{_A}') AS c1,
         count(*) FILTER (WHERE event_type = '{_B}') AS c2
  FROM events WHERE event_type IN ('{_A}', '{_B}')
  GROUP BY 1),
c AS (
  SELECT cents,
         sum(c1) OVER (ORDER BY cents) AS cum1,
         sum(c2) OVER (ORDER BY cents) AS cum2,
         sum(c1) OVER () AS n1, sum(c2) OVER () AS n2
  FROM v),
g AS (
  SELECT cents, n1, n2, abs(cum1 * n2 - cum2 * n1) AS gap
  FROM c)
SELECT cast(max(n1) AS bigint) AS n1, cast(max(n2) AS bigint) AS n2,
       cast(max(gap) AS bigint) AS d_scaled,
       cast(min(CASE WHEN gap = (SELECT max(gap) FROM g) THEN cents END)
            AS bigint) AS ks_at_cents,
       round(cast(max(gap) AS double) / (max(n1) * max(n2)), 6) AS ks_stat
FROM g"""


@register(
    "ks_two_sample_value",
    oracle=_ks_oracle(),
    tags=("evaluation", "drift", "scale-pattern"),
)
def ks_two_sample_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n1, n2, d_scaled, ks_at_cents, ks_stat): exact two-sample KS
    distance between the `value` distributions of purchase vs click
    events. The sup is located on the cross-multiplied lattice:
    D_scaled = max |cum1*n2 - cum2*n1| over distinct cents, an exact
    bigint max; only the final division by n1*n2 is floating."""
    v = _two_sample_counts(spark, sf_dir)
    c = running_sums(v, "cents", cum1="c1", cum2="c2")
    n = v.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    g = (c.crossJoin(F.broadcast(n))
         .select("cents", "n1", "n2",
                 F.abs(F.col("cum1") * F.col("n2")
                       - F.col("cum2") * F.col("n1")).alias("gap")))
    mx = g.agg(F.max("gap").alias("mx"))
    return (g.join(F.broadcast(mx), g["gap"] == mx["mx"])
            .groupBy()
            .agg(F.max("n1").cast("long").alias("n1"),
                 F.max("n2").cast("long").alias("n2"),
                 F.max("gap").cast("long").alias("d_scaled"),
                 F.min("cents").cast("long").alias("ks_at_cents"),
                 F.round(F.max("gap").cast("double")
                         / (F.max("n1") * F.max("n2")), 6).alias("ks_stat")))


_AD_ORACLE = f"""
WITH v AS (
  SELECT cast(floor(value * 100) AS bigint) AS cents,
         count(*) FILTER (WHERE event_type = '{_A}') AS c1,
         count(*) FILTER (WHERE event_type = '{_B}') AS c2
  FROM events WHERE event_type IN ('{_A}', '{_B}')
  GROUP BY 1),
c AS (
  SELECT cents, c1 + c2 AS l,
         2 * sum(c1) OVER (ORDER BY cents) - c1 AS hm1,
         2 * sum(c1 + c2) OVER (ORDER BY cents) - (c1 + c2) AS hb,
         sum(c1) OVER () AS n1, sum(c2) OVER () AS n2
  FROM v),
terms AS (
  SELECT n1, n2, n1 + n2 AS nn,
         cast(round(1e9 * l
              * cast((n1 + n2) * hm1 - n1 * hb AS double)
              * cast((n1 + n2) * hm1 - n1 * hb AS double)
              / (cast(hb AS double) * (2 * (n1 + n2) - hb)
                 - (n1 + n2) * l) / (n1 + n2)) AS bigint) AS t9
  FROM c
  WHERE cast(hb AS double) * (2 * (n1 + n2) - hb) - (n1 + n2) * l > 0)
SELECT cast(max(n1) AS bigint) AS n1, cast(max(n2) AS bigint) AS n2,
       round((cast(max(nn) AS double) - 1) / max(nn)
             * (cast(sum(t9) AS double) / max(n1)
                + cast(sum(t9) AS double) / max(n2)) / 1e9, 6)
         AS a2_stat
FROM terms"""


@register(
    "anderson_darling_value",
    oracle=_AD_ORACLE,
    tags=("statistics", "drift", "evaluation"),
)
def anderson_darling_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Anderson-Darling A^2 (Scholz-Stephens midrank/ties
    version, k=2) between purchase and click `value` distributions on the
    integer-cents lattice. With two samples the per-sample inner sums
    coincide ((N*M1 - n1*B)^2 = (N*M2 - n2*B)^2 since M1+M2=B), so ONE
    term column serves both, divided by n1 and n2 at the end. Doubled
    half-step cumulatives (hm1 = 2*Mbar_1, hb = 2*Bbar) keep midranks
    integral; the doubling cancels between numerator and denominator
    (num^2/4 over den4/4). Each value's term is snapped to the 1e-9
    lattice before the integer sum."""
    v = _two_sample_counts(spark, sf_dir)
    wc = W.orderBy("cents").rowsBetween(W.unboundedPreceding, W.currentRow)
    wall = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    c = v.select(
        "cents", (F.col("c1") + F.col("c2")).alias("l"),
        (2 * F.sum("c1").over(wc) - F.col("c1")).alias("hm1"),
        (2 * F.sum(F.col("c1") + F.col("c2")).over(wc)
         - (F.col("c1") + F.col("c2"))).alias("hb"),
        F.sum("c1").over(wall).alias("n1"),
        F.sum("c2").over(wall).alias("n2"))
    nn = F.col("n1") + F.col("n2")
    # num <= N*2N ~ 3e9 at sf0.1: exact as double (< 2^53); squaring in
    # DOUBLE, not int64 — num^2 ~ 1e19 would wrap bigint.
    num = (nn * F.col("hm1") - F.col("n1") * F.col("hb")).cast("double")
    den = (F.col("hb").cast("double") * (2 * nn - F.col("hb"))
           - nn * F.col("l"))
    terms = (c.filter(den > 0)
             .select("n1", "n2", nn.alias("nn"),
                     F.round(F.lit(1e9) * F.col("l")
                             * num * num / den / nn)
                     .cast("long").alias("t9")))
    return terms.agg(
        F.max("n1").cast("long").alias("n1"),
        F.max("n2").cast("long").alias("n2"),
        F.round((F.max("nn").cast("double") - 1) / F.max("nn")
                * (F.sum("t9").cast("double") / F.max("n1")
                   + F.sum("t9").cast("double") / F.max("n2"))
                / 1e9, 6).alias("a2_stat"))


# -------------------------------------------------------- Kruskal-Wallis

def _kw_oracle() -> str:
    return """
WITH v AS (
  SELECT event_type, cast(floor(value * 100) AS bigint) AS cents
  FROM events),
g AS (
  SELECT cents, event_type, count(*) AS c FROM v GROUP BY 1, 2),
tot AS (
  SELECT cents, sum(c) AS t FROM g GROUP BY 1),
cum AS (
  SELECT cents, t,
         coalesce(sum(t) OVER (ORDER BY cents
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
  FROM tot),
mr AS (  -- doubled midrank of each tied run: exact integer
  SELECT cents, 2 * before + t + 1 AS mr2, t FROM cum),
rs AS (
  SELECT g.event_type, cast(count(*) AS bigint) AS cnt_groups,
         sum(g.c) AS n_h, sum(g.c * m.mr2) AS r2_h
  FROM g JOIN mr m ON m.cents = g.cents GROUP BY g.event_type),
n AS (SELECT cast(sum(n_h) AS bigint) AS n, count(*) AS k FROM rs),
ties AS (
  SELECT sum(t * t * t - t) AS tcorr,
         sum(CASE WHEN t > 1 THEN 1 ELSE 0 END) AS n_tie_runs
  FROM mr),
h AS (
  SELECT n.n, n.k,
         12.0 / (n.n * (n.n + 1.0))
           * (SELECT sum(cast(r2_h AS double) * r2_h / (4.0 * n_h))
              FROM rs)
           - 3.0 * (n.n + 1) AS h_raw,
         1.0 - cast(t.tcorr AS double)
             / (cast(n.n AS double) * n.n * n.n - n.n) AS corr,
         t.n_tie_runs
  FROM n, ties t)
SELECT n, cast(k AS bigint) AS k,
       cast(n_tie_runs AS bigint) AS n_tie_runs,
       round(h_raw, 6) AS h_stat,
       round(h_raw / corr, 6) AS h_tie_corrected
FROM h"""


@register(
    "kruskal_wallis_value",
    oracle=_kw_oracle(),
    tags=("evaluation", "statistics", "scale-pattern"),
)
def kruskal_wallis_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n, k, n_tie_runs, h_stat, h_tie_corrected): Kruskal-Wallis H (the
    k-group Mann-Whitney) over `value` across the five event types. Pooled
    doubled midranks make every per-group rank sum a bigint; only the
    final H assembly (a fixed k=5-term formula) is floating."""
    e = load_table(spark, sf_dir, "events")
    v = e.select("event_type", _cents())
    g = (v.groupBy("cents", "event_type")
         .agg(F.count(F.lit(1)).alias("c")))
    tot = g.groupBy("cents").agg(F.sum("c").alias("t"))
    mr = (running_sums(tot, "cents", cum="t")
          .select("cents", "t",
                  (2 * F.col("cum") - F.col("t") + 1).alias("mr2")))
    rs = (g.join(mr.select("cents", "mr2"), "cents")
          .groupBy("event_type")
          .agg(F.sum("c").alias("n_h"),
               F.sum(F.col("c") * F.col("mr2")).alias("r2_h")))
    n = rs.agg(F.sum("n_h").cast("long").alias("n"),
               F.count(F.lit(1)).cast("long").alias("k"))
    ties = mr.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .alias("tcorr"),
        F.sum(F.when(F.col("t") > 1, 1).otherwise(0)).alias("n_tie_runs"))
    sumterm = rs.agg(
        F.sum(F.col("r2_h").cast("double") * F.col("r2_h")
              / (4.0 * F.col("n_h"))).alias("st"))
    out = (n.crossJoin(F.broadcast(ties))
           .crossJoin(F.broadcast(sumterm)))
    h_raw = (12.0 / (F.col("n") * (F.col("n") + F.lit(1.0))) * F.col("st")
             - 3.0 * (F.col("n") + 1))
    corr = (F.lit(1.0) - F.col("tcorr").cast("double")
            / (F.col("n").cast("double") * F.col("n") * F.col("n")
               - F.col("n")))
    return out.select(
        "n", "k", F.col("n_tie_runs").cast("long").alias("n_tie_runs"),
        F.round(h_raw, 6).alias("h_stat"),
        F.round(h_raw / corr, 6).alias("h_tie_corrected"))


# -------------------------------------------------------------- Spearman

def _spearman_oracle() -> str:
    return """
WITH v AS (
  SELECT event_type, cast(floor(value * 100) AS bigint) AS cents,
         (epoch_us(ts) // 3600000000) % 24 AS hod
  FROM events),
xg AS (SELECT event_type, cents, count(*) AS t FROM v GROUP BY 1, 2),
xmr AS (  -- doubled midrank of each cents run, per type
  SELECT event_type, cents,
         2 * coalesce(sum(t) OVER (PARTITION BY event_type ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + t + 1 AS mrx2
  FROM xg),
yg AS (SELECT event_type, hod, count(*) AS t FROM v GROUP BY 1, 2),
ymr AS (
  SELECT event_type, hod,
         2 * coalesce(sum(t) OVER (PARTITION BY event_type ORDER BY hod
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + t + 1 AS mry2
  FROM yg),
m AS (
  SELECT v.event_type, x.mrx2, y.mry2
  FROM v JOIN xmr x ON x.event_type = v.event_type AND x.cents = v.cents
         JOIN ymr y ON y.event_type = v.event_type AND y.hod = v.hod),
agg AS (
  SELECT event_type, count(*) AS n,
         sum(cast(mrx2 AS hugeint)) AS sx, sum(cast(mry2 AS hugeint)) AS sy,
         sum(cast(mrx2 AS hugeint) * mrx2) AS sxx,
         sum(cast(mry2 AS hugeint) * mry2) AS syy,
         sum(cast(mrx2 AS hugeint) * mry2) AS sxy
  FROM m GROUP BY 1)
SELECT event_type, cast(n AS bigint) AS n,
       round(cast(n * sxy - sx * sy AS double)
             / (sqrt(cast(n * sxx - sx * sx AS double))
                * sqrt(cast(n * syy - sy * sy AS double))), 6) AS rho
FROM agg ORDER BY event_type"""


@register(
    "spearman_value_hour",
    oracle=_spearman_oracle(),
    tags=("evaluation", "statistics", "scale-pattern"),
)
def spearman_value_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n, rho): Spearman rank correlation between `value`
    and hour-of-day per event type — Pearson on doubled midranks,
    decimal(38,0) cross-moments, the two variance factors rooted
    separately so no intermediate exceeds 38 digits."""
    e = load_table(spark, sf_dir, "events")
    dec = "decimal(38,0)"
    v = e.select(
        "event_type", _cents(),
        F.expr("(unix_micros(ts) div 3600000000) % 24").alias("hod"))

    # cents midranks: two-phase running sum per type.
    xg = v.groupBy("event_type", "cents").agg(F.count(F.lit(1)).alias("t"))
    xmr = (running_sums(xg, "cents", by=("event_type",), cum="t")
           .select("event_type", "cents",
                   (2 * F.col("cum") - F.col("t") + 1).alias("mrx2")))
    # hour-of-day midranks: 24 rows per type — one tiny window.
    yg = v.groupBy("event_type", "hod").agg(F.count(F.lit(1)).alias("t"))
    wy = (W.partitionBy("event_type").orderBy("hod")
          .rowsBetween(W.unboundedPreceding, -1))
    ymr = (yg.withColumn("lb", F.coalesce(F.sum("t").over(wy), F.lit(0)))
           .select("event_type", "hod",
                   (2 * F.col("lb") + F.col("t") + 1).alias("mry2")))

    # Cross-moments from the (cents, hod) CONTINGENCY, not the raw rows:
    # one combinable rollup of the corpus, then group-cardinality joins.
    ct = (v.groupBy("event_type", "cents", "hod")
          .agg(F.count(F.lit(1)).alias("w")))
    m = (ct.join(xmr, ["event_type", "cents"])
         .join(F.broadcast(ymr), ["event_type", "hod"]))
    w = F.col("w").cast(dec)
    agg = (m.groupBy("event_type")
           .agg(F.sum("w").cast("long").alias("n"),
                F.sum(w * F.col("mrx2")).alias("sx"),
                F.sum(w * F.col("mry2")).alias("sy"),
                F.sum(w * F.col("mrx2") * F.col("mrx2")).alias("sxx"),
                F.sum(w * F.col("mry2") * F.col("mry2")).alias("syy"),
                F.sum(w * F.col("mrx2") * F.col("mry2")).alias("sxy")))
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) \
        .cast("double")
    dx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) \
        .cast("double")
    dy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")) \
        .cast("double")
    return (agg.select("event_type", F.col("n").cast("long").alias("n"),
                       F.round(num / (F.sqrt(dx) * F.sqrt(dy)), 6)
                       .alias("rho"))
            .orderBy("event_type"))


# -------------------------------------------------------------- Friedman

_FRIEDMAN_ORACLE = """
WITH cells_raw AS (
  SELECT cast(date_trunc('day', ts) AS date) AS day, event_type,
         count(*) AS c
  FROM events GROUP BY 1, 2),
days AS (SELECT DISTINCT day FROM cells_raw),
types AS (SELECT DISTINCT event_type FROM cells_raw),
cells AS (
  SELECT d.day, t.event_type, coalesce(r.c, 0) AS c
  FROM days d CROSS JOIN types t
  LEFT JOIN cells_raw r ON r.day = d.day AND r.event_type = t.event_type),
dr AS (
  SELECT a.day, a.event_type,
         2 * sum(CASE WHEN b.c < a.c THEN 1 ELSE 0 END)
           + sum(CASE WHEN b.c = a.c THEN 1 ELSE 0 END) + 1 AS drank
  FROM cells a JOIN cells b ON b.day = a.day
  GROUP BY a.day, a.event_type, a.c),
rsum AS (SELECT event_type, cast(sum(drank) AS bigint) AS r2
         FROM dr GROUP BY event_type),
dims AS (SELECT cast((SELECT count(*) FROM days) AS bigint) AS b,
                cast((SELECT count(*) FROM types) AS bigint) AS k)
SELECT dims.b AS b_days, dims.k AS k_types, dims.k - 1 AS df,
       round(3.0 * (SELECT sum(r2 * r2) FROM rsum)
             / (dims.b * dims.k * (dims.k + 1))
             - 3.0 * dims.b * (dims.k + 1), 6) AS chi2_f
FROM dims"""


@register(
    "friedman_test_type_day",
    oracle=_FRIEDMAN_ORACLE,
    tags=("statistics", "experiment"),
)
def friedman_test_type_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman chi-square across event types (treatments) blocked by
    calendar day: within each day the k type-counts get DOUBLED midranks
    (exact under ties; zero-filled cells so every block ranks all k),
    chi2_F = 3*sum(R2_j^2)/(b k (k+1)) - 3 b (k+1) on the doubled-rank
    lattice where R2_j = 2*R_j (the 12/4 and 2^2 fold into 3). One
    bounded self-join per day (k^2 rows per block)."""
    e = load_table(spark, sf_dir, "events")
    raw = (e.select(F.to_date(F.date_trunc("day", "ts")).alias("day"),
                    "event_type")
           .groupBy("day", "event_type").agg(F.count(F.lit(1)).alias("c")))
    days = raw.select("day").distinct()
    types = raw.select("event_type").distinct()
    cells = (days.crossJoin(F.broadcast(types))
             .join(raw, ["day", "event_type"], "left")
             .select("day", "event_type",
                     F.coalesce("c", F.lit(0)).alias("c")))
    b_side = cells.select(F.col("day").alias("day"),
                          F.col("c").alias("cb"))
    dr = (cells.join(b_side, "day")
          .groupBy("day", "event_type", "c")
          .agg((2 * F.sum(F.when(F.col("cb") < F.col("c"), 1).otherwise(0))
                + F.sum(F.when(F.col("cb") == F.col("c"), 1).otherwise(0))
                + 1).alias("drank")))
    rsum = dr.groupBy("event_type").agg(F.sum("drank").alias("r2"))
    dims = (days.agg(F.count(F.lit(1)).cast("long").alias("b"))
            .crossJoin(F.broadcast(
                types.agg(F.count(F.lit(1)).cast("long").alias("k")))))
    s = rsum.agg(F.sum(F.col("r2") * F.col("r2")).alias("sr"))
    return (dims.crossJoin(F.broadcast(s))
            .select(F.col("b").alias("b_days"), F.col("k").alias("k_types"),
                    (F.col("k") - 1).alias("df"),
                    F.round(F.lit(3.0) * F.col("sr")
                            / (F.col("b") * F.col("k") * (F.col("k") + 1))
                            - F.lit(3.0) * F.col("b") * (F.col("k") + 1), 6)
                    .alias("chi2_f")))


# -------------------------------------------------------- Hodges-Lehmann

_HL_ORACLE = """
WITH q AS (SELECT cast(l_quantity AS bigint) AS qv, l_returnflag AS fl
           FROM lineitem WHERE l_returnflag IN ('R', 'N')),
ha AS (SELECT qv, cast(count(*) AS bigint) AS ca FROM q
       WHERE fl = 'R' GROUP BY qv),
hb AS (SELECT qv, cast(count(*) AS bigint) AS cb FROM q
       WHERE fl = 'N' GROUP BY qv),
diff AS (SELECT ha.qv - hb.qv AS dv, sum(ha.ca * hb.cb) AS wt
         FROM ha JOIN hb ON TRUE GROUP BY dv),
tot AS (SELECT sum(wt) AS t FROM diff),
cum AS (SELECT a.dv, sum(b.wt) AS cw
        FROM diff a JOIN diff b ON b.dv <= a.dv GROUP BY a.dv),
ranks AS (SELECT (t + 1) // 2 AS r_lo, t // 2 + 1 AS r_hi FROM tot),
lo AS (SELECT min(dv) AS d_lo FROM cum, ranks WHERE cw >= r_lo),
hi AS (SELECT min(dv) AS d_hi FROM cum, ranks WHERE cw >= r_hi)
SELECT cast((SELECT sum(ca) FROM ha) AS bigint) AS n_r,
       cast((SELECT sum(cb) FROM hb) AS bigint) AS n_n,
       cast(d_lo AS bigint) AS d_lo, cast(d_hi AS bigint) AS d_hi,
       round((d_lo + d_hi) / 2.0, 1) AS hl_shift
FROM lo, hi"""


@register(
    "hodges_lehmann_quantity_shift",
    oracle=_HL_ORACLE,
    tags=("statistics", "robust", "lattice"),
)
def hodges_lehmann_quantity_shift(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Hodges-Lehmann location-shift estimate between returned ('R')
    and non-returned ('N') line quantities: the exact median of ALL
    n_R x n_N pairwise differences, computed on the 50x50
    value-histogram grid with counts-product weights — order statistics
    by cumulative weight over the ~99-value difference lattice."""
    li = (load_table(spark, sf_dir, "lineitem")
          .filter(F.col("l_returnflag").isin("R", "N"))
          .select(F.col("l_quantity").cast("long").alias("qv"),
                  F.col("l_returnflag").alias("fl")))
    # The two histograms feed diff, the rank cumulation's self-join and
    # the n_r/n_n scalars: ONE scan builds the (flag, quantity) histogram
    # (<= 2 x 50 rows), eagerly checkpointed, and every branch reads it.
    h2 = (li.groupBy("fl", "qv")
          .agg(F.count(F.lit(1)).cast("long").alias("c"))
          .localCheckpoint(eager=True))
    ha = (h2.filter(F.col("fl") == "R")
          .select("qv", F.col("c").alias("ca")))
    hb = (h2.filter(F.col("fl") == "N")
          .select("qv", F.col("c").alias("cb")))
    diff = (ha.crossJoin(hb.select(F.col("qv").alias("qb"), "cb"))
            .groupBy((F.col("qv") - F.col("qb")).alias("dv"))
            .agg(F.sum(F.col("ca") * F.col("cb")).alias("wt")))
    tot = diff.agg(F.sum("wt").alias("t"))
    cum = (diff.alias("a")
           .join(F.broadcast(diff.alias("b")),
                 F.col("b.dv") <= F.col("a.dv"))
           .groupBy(F.col("a.dv").alias("dv"))
           .agg(F.sum("b.wt").alias("cw")))
    ranks = tot.select(((F.col("t") + 1) / 2).cast("long").alias("r_lo"),
                       (F.col("t") / 2 + 1).cast("long").alias("r_hi"))
    wr = cum.crossJoin(F.broadcast(ranks))
    lo = (wr.filter(F.col("cw") >= F.col("r_lo"))
          .agg(F.min("dv").alias("d_lo")))
    hi = (wr.filter(F.col("cw") >= F.col("r_hi"))
          .agg(F.min("dv").alias("d_hi")))
    na = ha.agg(F.sum("ca").cast("long").alias("n_r"))
    nb = hb.agg(F.sum("cb").cast("long").alias("n_n"))
    return (na.crossJoin(nb).crossJoin(lo).crossJoin(hi)
            .select("n_r", "n_n",
                    F.col("d_lo").cast("long").alias("d_lo"),
                    F.col("d_hi").cast("long").alias("d_hi"),
                    F.round((F.col("d_lo") + F.col("d_hi")) / 2.0, 1)
                    .alias("hl_shift")))
