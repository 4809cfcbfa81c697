"""Entropy rate of the user-behavior Markov chain: the plug-in estimate
H = -sum_ij (c_ij/N) ln(c_ij/c_i.) over first-order event-type
transitions — how PREDICTABLE is the next action given the current one,
in nats. The per-state rows localize it (which states are deterministic
funnels, which are coin flips); the __ALL__ row is the chain's entropy
rate under the empirical state distribution — the information-theoretic
summary sitting beside the transition matrix (event_type_transitions)
and its stationary distribution (markov_stationary_events).

Micro-nat discipline: each ln(c_ij / c_i.) is snapped ONCE to micro-nats
(identical expression both engines); entropy numerators are then exact
integer sums of c_ij * lp_ij and every output is one final division.

Scale: one lead-window over per-user sequences (partitioned by user —
parallel), one |types|^2 count aggregate; everything after runs on the
transition matrix (k^2 rows)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..registry import register
from ..tables import load_table
from .timeseries.hourly import (grid_sql, hourly_counts, micros_hour,
                               zero_filled)

_ENT_ORACLE = """
WITH p AS (
  SELECT event_type AS src, lead(event_type) OVER w AS dst
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
c AS (SELECT src, dst, cast(count(*) AS bigint) AS n FROM p
      WHERE dst IS NOT NULL GROUP BY src, dst),
r AS (SELECT src, sum(n) AS nr FROM c GROUP BY src),
lp AS (SELECT c.src, c.n,
              cast(round(ln(cast(c.n AS double) / r.nr) * 1e6) AS bigint)
                AS lpm
       FROM c JOIN r ON r.src = c.src),
per AS (SELECT src, cast(sum(n) AS bigint) AS n_out,
               cast(-sum(n * lpm) AS bigint) AS h_num
        FROM lp GROUP BY src)
SELECT src, n_out,
       round(cast(h_num AS double) / n_out / 1e6, 6) AS entropy_nats
FROM per
UNION ALL
SELECT '__ALL__' AS src,
       cast(sum(n_out) AS bigint) AS n_out,
       round(cast(sum(h_num) AS double) / sum(n_out) / 1e6, 6)
         AS entropy_nats
FROM per
ORDER BY src"""


@register(
    "markov_entropy_rate",
    oracle=_ENT_ORACLE,
    tags=("statistics", "information", "markov", "sequence"),
)
def markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-state conditional entropy of the next event type and the
    chain's plug-in entropy rate (__ALL__ row), exact on the micro-nat
    lattice (module docstring)."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    p = e.select(F.col("event_type").alias("src"),
                 F.lead("event_type").over(w).alias("dst"))
    c = (p.filter(F.col("dst").isNotNull())
         .groupBy("src", "dst")
         .agg(F.count(F.lit(1)).cast("long").alias("n")))
    r = c.groupBy("src").agg(F.sum("n").alias("nr"))
    lp = (c.join(r, "src")
          .select("src", "n",
                  F.round(F.log(F.col("n").cast("double") / F.col("nr"))
                          * 1e6).cast("long").alias("lpm")))
    # rollup gives the per-state rows AND the grand total (null src) in ONE
    # aggregate — no persist, no double read of the lead-window pass (the
    # round-12 advice flagged the never-unpersisted cache this replaces).
    per = (lp.rollup("src")
           .agg(F.sum("n").cast("long").alias("n_out"),
                (-F.sum(F.col("n") * F.col("lpm"))).cast("long")
                .alias("h_num")))
    return (per.select(
        F.coalesce("src", F.lit("__ALL__")).alias("src"), "n_out",
        F.round(F.col("h_num").cast("double") / F.col("n_out") / 1e6, 6)
         .alias("entropy_nats"))
        .orderBy("src"))


_PERM_ORACLE = f"""{grid_sql()},
tri AS (SELECT c AS c1, lead(c, 1) OVER (ORDER BY h) AS c2,
               lead(c, 2) OVER (ORDER BY h) AS c3
        FROM grid),
codes AS (SELECT 4 * (CASE WHEN c1 <= c2 THEN 1 ELSE 0 END)
               + 2 * (CASE WHEN c1 <= c3 THEN 1 ELSE 0 END)
               + (CASE WHEN c2 <= c3 THEN 1 ELSE 0 END) AS code
          FROM tri WHERE c3 IS NOT NULL),
hist AS (SELECT code, cast(count(*) AS bigint) AS n FROM codes GROUP BY code),
tot AS (SELECT sum(n) AS nt FROM hist),
lp AS (SELECT n, cast(round(ln(cast(n AS double)
                             / (SELECT nt FROM tot)) * 1e6) AS bigint) AS lpm
       FROM hist)
SELECT (SELECT cast(nt AS bigint) FROM tot) AS n_windows,
       (SELECT cast(count(*) AS bigint) FROM hist) AS n_codes,
       round(cast(-sum(n * lpm) AS double)
             / (SELECT nt FROM tot) / 1e6, 6) AS perm_entropy_nats,
       round(cast(-sum(n * lpm) AS double)
             / (SELECT nt FROM tot) / 1e6 / ln(8), 6)
         AS perm_entropy_norm
FROM lp"""


@register(
    "permutation_entropy_hourly",
    oracle=_PERM_ORACLE,
    tags=("timeseries", "information", "complexity"),
)
def permutation_entropy_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation (ordinal-pattern) entropy of the zero-filled hourly
    series (Bandt & Pompe 2002): each 3-hour window maps to a 3-bit
    comparison code (<=-ties resolved toward the earlier index, stated so
    both engines agree), the code histogram's entropy — snapped to
    micro-nats — measures series complexity: low = trending/periodic,
    ln(6)-ish = white noise. Normalization uses ln(8), the code-space
    size under this tie rule. One hour-bucket aggregate; everything else
    runs on the time-range-bounded grid."""
    grid = zero_filled(hourly_counts(load_table(spark, sf_dir, "events"),
                                     micros_hour()))
    wl = W.orderBy("h")
    tri = grid.select(F.col("c").alias("c1"),
                      F.lead("c", 1).over(wl).alias("c2"),
                      F.lead("c", 2).over(wl).alias("c3"))
    codes = (tri.filter(F.col("c3").isNotNull())
             .select((4 * (F.col("c1") <= F.col("c2")).cast("int")
                      + 2 * (F.col("c1") <= F.col("c3")).cast("int")
                      + (F.col("c2") <= F.col("c3")).cast("int"))
                     .alias("code")))
    hist = codes.groupBy("code").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = hist.agg(F.sum("n").alias("nt"),
                   F.count(F.lit(1)).cast("long").alias("k"))
    lp = (hist.crossJoin(F.broadcast(tot))
          .select("n", "nt", "k",
                  F.round(F.log(F.col("n").cast("double") / F.col("nt"))
                          * 1e6).cast("long").alias("lpm")))
    return lp.agg(
        F.first("nt").cast("long").alias("n_windows"),
        F.first("k").alias("n_codes"),
        F.round((-F.sum(F.col("n") * F.col("lpm"))).cast("double")
                / F.first("nt") / 1e6, 6).alias("perm_entropy_nats"),
        F.round((-F.sum(F.col("n") * F.col("lpm"))).cast("double")
                / F.first("nt") / 1e6 / F.log(F.lit(8.0)), 6)
         .alias("perm_entropy_norm"))
