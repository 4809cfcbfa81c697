"""Round-11 eval/ML additions: a trained decision STUMP (the depth-1
CART split — the simplest model a feature-quality pipeline actually
fits, and the unit every gradient-boosting library stacks), PINBALL
(quantile) loss for the seasonal-naive forecaster (the quantile sibling
of mase_seasonal_naive — point error says nothing about P10/P90 bands),
the FANO factor (variance-to-mean dispersion of hourly counts — the
burstiness/overdispersion drift signal for event streams), and a
per-cluster DAVIES-BOULDIN validity profile over the embedding label
cells (Davies & Bouldin, TPAMI 1979; the companion of
cluster_quality_silhouette).

Exactness discipline:
- Stump: per-hour (n, pos) counts -> 23 candidate thresholds scored by
  Gini gain. Every input is an exact integer and the gain expression has
  ONE shape (two integer/integer divisions + fixed-order arithmetic), so
  the doubles are bit-identical cross-engine; argmax breaks ties to the
  smallest threshold.
- Pinball: the residual (y - f) is an integer; tau rides x10 so each
  term max(tau10*d, (tau10-10)*d) is an exact integer; one division.
- Fano: (n*sum(c^2) - S^2) / (n*S) from exact integers; one division.
- Davies-Bouldin: scatter S_i and centroid gaps M_ij ride the
  floor(x*1e4) lattice (sum (s_i*n_j - s_j*n_i)^2 hugeint/decimal(38,0)
  integers); the output is PER-CLUSTER (its scatter, worst neighbor,
  and DB term) — no cross-cluster float sum whose order could differ,
  the same reason anova_f_oneway reports lattice sums.

Scale stance (100 TB): stump/pinball/fano reduce to 24-row / series-
length frames after ONE combinable rollup; Davies-Bouldin is k^2 work
on k centroid sufficient-stat rows (KBs) after one aggregate over the
embedding scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..registry import register
from ..tables import load_table
from .timeseries.hourly import hourly_counts, micros_hour

_SEASON = 24
_TAUS10 = (1, 5, 9)     # tau * 10


def _stump_oracle() -> str:
    return """
WITH h AS (
  SELECT (epoch_us(ts) // 3600000000) % 24 AS hod,
         count(*) AS n,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS pos
  FROM events GROUP BY 1),
tot AS (SELECT sum(n) AS nt, sum(pos) AS post FROM h),
pre AS (
  SELECT hod,
         sum(n) OVER (ORDER BY hod) AS nl,
         sum(pos) OVER (ORDER BY hod) AS posl
  FROM h),
cand AS (
  SELECT p.hod AS thr, p.nl, p.posl,
         t.nt - p.nl AS nr, t.post - p.posl AS posr,
         t.nt, t.post
  FROM pre p CROSS JOIN tot t
  WHERE p.nl > 0 AND t.nt - p.nl > 0),
scored AS (
  SELECT thr, nl, nr,
         1.0 - (cast(post AS double) / nt) * (cast(post AS double) / nt)
             - (cast(nt - post AS double) / nt)
               * (cast(nt - post AS double) / nt) AS g_parent,
         (cast(nl AS double) / nt)
           * (1.0 - (cast(posl AS double) / nl)
                    * (cast(posl AS double) / nl)
                  - (cast(nl - posl AS double) / nl)
                    * (cast(nl - posl AS double) / nl))
         + (cast(nr AS double) / nt)
           * (1.0 - (cast(posr AS double) / nr)
                    * (cast(posr AS double) / nr)
                  - (cast(nr - posr AS double) / nr)
                    * (cast(nr - posr AS double) / nr)) AS g_split
  FROM cand)
SELECT cast(thr AS bigint) AS split_hour,
       cast(nl AS bigint) AS n_left, cast(nr AS bigint) AS n_right,
       round(g_parent, 6) AS gini_parent,
       round(g_split, 6) AS gini_split,
       round(g_parent - g_split, 6) AS gain
FROM scored
ORDER BY g_parent - g_split DESC, thr LIMIT 1"""


@register(
    "decision_stump_hour_split",
    oracle=_stump_oracle(),
    tags=("ml", "training", "evaluation"),
)
def decision_stump_hour_split(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """(split_hour, n_left, n_right, gini_parent, gini_split, gain): the
    best depth-1 CART split of hour-of-day for predicting purchase
    events — 23 candidate thresholds scored by exact-integer-fed Gini
    gain, ties to the earliest hour (module docstring)."""
    e = load_table(spark, sf_dir, "events")
    h = (e.groupBy(F.expr("(unix_micros(ts) div 3600000000) % 24")
                   .alias("hod"))
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum(F.when(F.col("event_type") == "purchase", 1)
                    .otherwise(0)).alias("pos")))
    tot = h.agg(F.sum("n").alias("nt"), F.sum("pos").alias("post"))
    wp = W.orderBy("hod").rowsBetween(W.unboundedPreceding, 0)
    pre = h.select("hod", F.sum("n").over(wp).alias("nl"),
                   F.sum("pos").over(wp).alias("posl"))
    cand = (pre.crossJoin(F.broadcast(tot))
            .withColumn("nr", F.col("nt") - F.col("nl"))
            .withColumn("posr", F.col("post") - F.col("posl"))
            .filter((F.col("nl") > 0) & (F.col("nr") > 0)))

    def gini(pos, n):
        p = pos.cast("double") / n
        q = (n - pos).cast("double") / n
        return F.lit(1.0) - p * p - q * q

    g_parent = gini(F.col("post"), F.col("nt"))
    g_split = ((F.col("nl").cast("double") / F.col("nt"))
               * gini(F.col("posl"), F.col("nl"))
               + (F.col("nr").cast("double") / F.col("nt"))
               * gini(F.col("posr"), F.col("nr")))
    scored = cand.select(
        F.col("hod").cast("long").alias("split_hour"),
        F.col("nl").cast("long").alias("n_left"),
        F.col("nr").cast("long").alias("n_right"),
        g_parent.alias("g_parent"), g_split.alias("g_split"))
    return (scored
            .orderBy(F.desc(F.col("g_parent") - F.col("g_split")),
                     "split_hour")
            .limit(1)
            .select("split_hour", "n_left", "n_right",
                    F.round("g_parent", 6).alias("gini_parent"),
                    F.round("g_split", 6).alias("gini_split"),
                    F.round(F.col("g_parent") - F.col("g_split"), 6)
                    .alias("gain")))


def _pinball_oracle() -> str:
    taus = ", ".join(f"({t})" for t in _TAUS10)
    return f"""
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h, count(*) AS c
  FROM events GROUP BY 1, 2),
pairs AS (
  SELECT a.event_type, a.c - b.c AS d
  FROM hourly a JOIN hourly b ON b.event_type = a.event_type
                             AND b.h = a.h - {_SEASON}),
t(tau10) AS (VALUES {taus}),
loss AS (
  SELECT p.event_type, t.tau10,
         count(*) AS n,
         sum(greatest(t.tau10 * p.d, (t.tau10 - 10) * p.d)) AS l10
  FROM pairs p CROSS JOIN t
  GROUP BY 1, 2)
SELECT event_type, round(tau10 / 10.0, 1) AS tau,
       cast(n AS bigint) AS n,
       round(cast(l10 AS double) / (10.0 * n), 6) AS pinball
FROM loss ORDER BY event_type, tau"""


@register(
    "pinball_loss_eval",
    oracle=_pinball_oracle(),
    tags=("forecast", "evaluation", "scale-pattern"),
)
def pinball_loss_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, tau, n, pinball): pinball (quantile) loss of the
    24-hour seasonal-naive forecast at tau = 0.1/0.5/0.9 — integer
    residuals, tau carried x10 so each term is exact, one division
    (module docstring)."""
    hourly = hourly_counts(load_table(spark, sf_dir, "events"),
                           micros_hour(), "event_type")
    a = hourly.select("event_type", "h", F.col("c").alias("y"))
    b = hourly.select("event_type", (F.col("h") + _SEASON).alias("h"),
                      F.col("c").alias("f"))
    pairs = a.join(b, ["event_type", "h"]).select(
        "event_type", (F.col("y") - F.col("f")).alias("d"))
    t = spark.createDataFrame([(t,) for t in _TAUS10], "tau10 int")
    loss = (pairs.crossJoin(F.broadcast(t))
            .groupBy("event_type", "tau10")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.greatest(F.col("tau10") * F.col("d"),
                                  (F.col("tau10") - 10) * F.col("d")))
                 .alias("l10")))
    return (loss.select(
        "event_type", F.round(F.col("tau10") / 10.0, 1).alias("tau"),
        F.col("n").cast("long").alias("n"),
        F.round(F.col("l10").cast("double") / (10.0 * F.col("n")), 6)
        .alias("pinball"))
        .orderBy("event_type", "tau"))


@register(
    "fano_factor_burstiness",
    oracle="""
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h, count(*) AS c
  FROM events GROUP BY 1, 2),
agg AS (
  SELECT event_type, count(*) AS n,
         cast(sum(c) AS bigint) AS s,
         cast(sum(cast(c AS bigint) * c) AS bigint) AS q
  FROM hourly GROUP BY 1)
SELECT event_type, cast(n AS bigint) AS n_hours,
       round(cast(s AS double) / n, 6) AS mean_rate,
       round(cast(n * q - s * s AS double) / (cast(n AS double) * n)
             / (cast(s AS double) / n), 6) AS fano
FROM agg ORDER BY event_type""",
    tags=("drift", "statistics", "timeseries"),
)
def fano_factor_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_hours, mean_rate, fano): variance-to-mean ratio of
    the hourly count series per type — Fano = 1 for a Poisson stream,
    > 1 = bursty/overdispersed; exact integer moments, one division
    chain (module docstring)."""
    hourly = hourly_counts(load_table(spark, sf_dir, "events"),
                           micros_hour(), "event_type")
    agg = (hourly.groupBy("event_type")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("c").cast("long").alias("s"),
                F.sum(F.col("c").cast("long") * F.col("c"))
                .cast("long").alias("q")))
    n, s, q = F.col("n"), F.col("s"), F.col("q")
    return (agg.select(
        "event_type", n.cast("long").alias("n_hours"),
        F.round(s.cast("double") / n, 6).alias("mean_rate"),
        F.round((n * q - s * s).cast("double")
                / (n.cast("double") * n) / (s.cast("double") / n), 6)
        .alias("fano"))
        .orderBy("event_type"))


def _db_oracle() -> str:
    return """
WITH qd AS (
  SELECT vec_id, label,
         generate_subscripts(embedding, 1) - 1 AS k,
         cast(floor(cast(unnest(embedding) AS double) * 1e4) AS bigint)
           AS qv
  FROM embeddings),
cb AS (
  SELECT label, k, sum(qv) AS s, count(*) AS n
  FROM qd GROUP BY 1, 2),
scat AS (  -- per-cluster scatter: mean squared distance to centroid
  SELECT q.label,
         cast(sum(cast(q.qv * c.n - c.s AS hugeint)
                  * (q.qv * c.n - c.s)) AS double)
           / (cast(max(c.n) AS double) * max(c.n) * max(c.n)) AS s_i
  FROM qd q JOIN cb c ON c.label = q.label AND c.k = q.k
  GROUP BY 1),
gap AS (  -- squared centroid distance per cluster pair
  SELECT a.label AS i, b.label AS j,
         cast(sum(cast(a.s * b.n - b.s * a.n AS hugeint)
                  * (a.s * b.n - b.s * a.n)) AS double)
           / (cast(max(a.n) AS double) * max(a.n)
              * max(b.n) * max(b.n)) AS m_ij
  FROM cb a JOIN cb b ON b.k = a.k AND b.label <> a.label
  GROUP BY 1, 2),
term AS (
  SELECT g.i, g.j,
         (si.s_i + sj.s_i) / g.m_ij AS r_ij
  FROM gap g JOIN scat si ON si.label = g.i
             JOIN scat sj ON sj.label = g.j),
best AS (
  SELECT i, j, r_ij FROM (
    SELECT i, j, r_ij,
           row_number() OVER (PARTITION BY i
                              ORDER BY r_ij DESC, j) AS rn
    FROM term)
  WHERE rn = 1)
SELECT b.i AS label, round(s.s_i / 1e8, 6) AS scatter_sq,
       cast(b.j AS bigint) AS worst_neighbor,
       round(b.r_ij, 6) AS db_term
FROM best b JOIN scat s ON s.label = b.i
ORDER BY label"""


@register(
    "davies_bouldin_clusters",
    oracle=_db_oracle(),
    tags=("clustering", "evaluation", "similarity"),
)
def davies_bouldin_clusters(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """(label, scatter_sq, worst_neighbor, db_term): per-cluster
    Davies-Bouldin profile of the embedding label cells under the
    SQUARED-distance variant — scatter and centroid gaps on the exact
    floor(x*1e4) lattice, worst neighbor = argmax (S_i+S_j)/M_ij; rows
    are per-cluster so no cross-cluster float sum exists to diverge
    (module docstring)."""
    emb = load_table(spark, sf_dir, "embeddings")
    dec = "decimal(38,0)"
    qd = (emb.select("vec_id", F.col("label").alias("label"),
                     F.posexplode(F.expr(
                         "transform(embedding, x -> cast(floor("
                         "cast(x as double) * 1e4) as bigint))"))
                     .alias("k", "qv")))
    cb = (qd.groupBy("label", "k")
          .agg(F.sum("qv").alias("s"), F.count(F.lit(1)).alias("n")))
    t = F.col("qv") * F.col("n") - F.col("s")
    scat = (qd.join(F.broadcast(cb), ["label", "k"])
            .groupBy("label")
            .agg((F.sum(t.cast(dec) * t).cast("double")
                  / (F.max("n").cast("double") * F.max("n") * F.max("n")))
                 .alias("s_i")))
    a = cb.select(F.col("label").alias("i"), "k",
                  F.col("s").alias("sa"), F.col("n").alias("na"))
    b = cb.select(F.col("label").alias("j"), "k",
                  F.col("s").alias("sb"), F.col("n").alias("nb"))
    g = F.col("sa") * F.col("nb") - F.col("sb") * F.col("na")
    gap = (a.join(b, "k").filter(F.col("i") != F.col("j"))
           .groupBy("i", "j")
           .agg((F.sum(g.cast(dec) * g).cast("double")
                 / (F.max("na").cast("double") * F.max("na")
                    * F.max("nb") * F.max("nb"))).alias("m_ij")))
    si = scat.select(F.col("label").alias("i"), F.col("s_i").alias("si"))
    sj = scat.select(F.col("label").alias("j"), F.col("s_i").alias("sj"))
    term = (gap.join(F.broadcast(si), "i").join(F.broadcast(sj), "j")
            .select("i", "j",
                    ((F.col("si") + F.col("sj")) / F.col("m_ij"))
                    .alias("r_ij")))
    wb = W.partitionBy("i").orderBy(F.desc("r_ij"), "j")
    best = (term.withColumn("rn", F.row_number().over(wb))
            .filter(F.col("rn") == 1))
    return (best.join(F.broadcast(si), "i")
            .select(F.col("i").alias("label"),
                    F.round(F.col("si") / 1e8, 6).alias("scatter_sq"),
                    F.col("j").cast("long").alias("worst_neighbor"),
                    F.round("r_ij", 6).alias("db_term"))
            .orderBy("label"))
