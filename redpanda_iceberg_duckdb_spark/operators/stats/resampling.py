"""Resampling tests with relabelings both engines draw identically: a
64-permutation mean-difference test and Benjamini-Hochberg FDR control
over a family of block-randomization tests.

Relabelings come from the cross-engine md5 hash: ONE digest per event
(or per block), with replicate b reassigning it by BIT b of the 128-bit
digest (functions/digestbits.md5_bit_sql, B <= 128), so both engines
materialize the same pseudo-random relabelings with no coordination and
one hash per row instead of B. A replicate is as extreme as the observed
split when |s1*n2 - s2*n1| * (N1*N2) >= |S1*N2 - S2*N1| * (n1*n2): the
mean-difference comparison cross-multiplied to avoid division, on
decimal(38,0) because the products pass int64 at sf0.1. p-values use the
add-one convention (1 + #extreme) / (B + 1) (Phipson & Smyth 2010).
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ...registry import register
from ...tables import load_table
from ...functions.digestbits import md5_bit_sql
from ...functions.hashing import md5_mod_duck, md5_mod_spark

_DEC = "decimal(38,0)"


def _replicates(df: DataFrame, digest: Column, b: int) -> DataFrame:
    """``df`` exploded to ``b`` replicates (column ``b``) with ``side`` =
    bit b of ``digest``, hashed once per input row before the explode."""
    return (df.withColumn("dg", digest)
            .withColumn("b", F.explode(F.array(*[F.lit(i)
                                                 for i in range(b)])))
            .withColumn("side", F.expr(md5_bit_sql("dg", "b"))))


def _side_sums(flag: Column, s: Column, c: Column) -> list[Column]:
    """(s1, n1, s2, n2): sums of ``s`` and ``c`` on side 0 and side 1."""
    return [F.sum(F.when(flag == 0, s)).alias("s1"),
            F.sum(F.when(flag == 0, c)).alias("n1"),
            F.sum(F.when(flag == 1, s)).alias("s2"),
            F.sum(F.when(flag == 1, c)).alias("n2")]


def _extreme() -> Column:
    """1 when the replicate (s1, n1, s2, n2) is at least as extreme as the
    observed (os1, on1, os2, on2), else 0 — exact decimal arithmetic."""
    return F.when(
        F.abs(F.col("s1").cast(_DEC) * F.col("n2")
              - F.col("s2").cast(_DEC) * F.col("n1"))
        * (F.col("on1").cast(_DEC) * F.col("on2"))
        >= F.abs(F.col("os1").cast(_DEC) * F.col("on2")
                 - F.col("os2").cast(_DEC) * F.col("on1"))
        * (F.col("n1").cast(_DEC) * F.col("n2")), 1).otherwise(0)


# ------------------------------------------------------ permutation test

_PERMS = 64
_PA, _PB = "purchase", "click"


def _perm_oracle() -> str:
    h = md5_bit_sql("v.dg", "b.b")
    return f"""
WITH v AS (
  SELECT event_id, cast(floor(value * 100) AS bigint) AS cents,
         event_type, md5('pt:' || event_id) AS dg
  FROM events WHERE event_type IN ('{_PA}', '{_PB}')),
obs AS (
  SELECT sum(CASE WHEN event_type = '{_PA}' THEN cents END) AS s1,
         count(CASE WHEN event_type = '{_PA}' THEN 1 END) AS n1,
         sum(CASE WHEN event_type = '{_PB}' THEN cents END) AS s2,
         count(CASE WHEN event_type = '{_PB}' THEN 1 END) AS n2
  FROM v),
perms AS (
  SELECT v.event_id, v.cents, b.b, {h} AS side
  FROM v, lateral (SELECT unnest(generate_series(0, {_PERMS - 1})) AS b) b),
pstat AS (
  SELECT b,
         sum(CASE WHEN side = 0 THEN cents END) AS s1,
         count(CASE WHEN side = 0 THEN 1 END) AS n1,
         sum(CASE WHEN side = 1 THEN cents END) AS s2,
         count(CASE WHEN side = 1 THEN 1 END) AS n2
  FROM perms GROUP BY b),
cmp AS (
  SELECT p.b,
         CASE WHEN abs(cast(p.s1 AS decimal(38,0)) * p.n2
                       - cast(p.s2 AS decimal(38,0)) * p.n1)
                   * (cast(o.n1 AS decimal(38,0)) * o.n2)
              >= abs(cast(o.s1 AS decimal(38,0)) * o.n2
                     - cast(o.s2 AS decimal(38,0)) * o.n1)
                   * (cast(p.n1 AS decimal(38,0)) * p.n2)
              THEN 1 ELSE 0 END AS extreme
  FROM pstat p, obs o WHERE p.n1 > 0 AND p.n2 > 0)
SELECT cast({_PERMS} AS bigint) AS n_perms,
       cast(sum(extreme) AS bigint) AS n_extreme,
       round((1.0 + sum(extreme)) / ({_PERMS} + 1.0), 6) AS p_value
FROM cmp"""


@register(
    "hash_permutation_test",
    oracle=_perm_oracle(),
    tags=("evaluation", "statistics", "resampling"),
)
def hash_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_perms, n_extreme, p_value): 64-permutation mean-difference test
    of purchase vs click values — md5('pt:' || event_id) relabels each
    event, one explode(64) plus one map-side-combinable aggregate."""
    e = load_table(spark, sf_dir, "events")
    v = (e.filter(F.col("event_type").isin(_PA, _PB))
         .select("event_id", "event_type",
                 F.floor(F.col("value") * 100).cast("bigint")
                 .alias("cents")))
    et = F.col("event_type")
    obs = v.agg(F.sum(F.when(et == _PA, F.col("cents"))).alias("os1"),
                F.count(F.when(et == _PA, 1)).alias("on1"),
                F.sum(F.when(et == _PB, F.col("cents"))).alias("os2"),
                F.count(F.when(et == _PB, 1)).alias("on2"))
    perms = _replicates(
        v, F.md5(F.concat(F.lit("pt:"), F.col("event_id"))), _PERMS)
    pstat = perms.groupBy("b").agg(
        *_side_sums(F.col("side"), F.col("cents"), F.lit(1)))
    j = (pstat.filter((F.col("n1") > 0) & (F.col("n2") > 0))
         .crossJoin(F.broadcast(obs)))
    return (j.select(_extreme().alias("extreme"))
            .agg(F.lit(_PERMS).cast("long").alias("n_perms"),
                 F.sum("extreme").cast("long").alias("n_extreme"),
                 F.round((1.0 + F.sum("extreme")) / (_PERMS + 1.0), 6)
                 .alias("p_value")))


# ------------------------------------------------ Benjamini-Hochberg FDR

_TYPES = ["click", "error", "purchase", "signup", "view"]
_PAIRS = [(f"{a}_vs_{b}", a, b) for a, b in combinations(_TYPES, 2)]
_M = len(_PAIRS)          # 10 hypotheses
_B = 99                   # block-randomization replicates -> denominator 100
_CELLS = 1024             # md5 blocks per event type
_ALPHA_INV = 5            # alpha = 1/5


def _fdr_oracle() -> str:
    cell = md5_mod_duck("'fc:' || event_id", _CELLS)
    side = md5_bit_sql("jc.dg", "r.b")
    values = ", ".join(f"('{p}', '{a}', '{b}')" for p, a, b in _PAIRS)
    return f"""
WITH v AS (
  SELECT event_type AS t, cast(floor(value * 100) AS bigint) AS cents,
         {cell} AS cell
  FROM events),
cells AS (
  SELECT t, cell, sum(cents) AS s, count(*) AS c FROM v GROUP BY 1, 2),
pairs AS (SELECT * FROM (VALUES {values}) AS x(pid, ta, tb)),
obs AS (
  SELECT p.pid,
         sum(CASE WHEN cl.t = p.ta THEN cl.s END) AS s1,
         sum(CASE WHEN cl.t = p.ta THEN cl.c END) AS n1,
         sum(CASE WHEN cl.t = p.tb THEN cl.s END) AS s2,
         sum(CASE WHEN cl.t = p.tb THEN cl.c END) AS n2
  FROM pairs p JOIN cells cl ON cl.t IN (p.ta, p.tb) GROUP BY 1),
reps AS (SELECT unnest(generate_series(0, {_B - 1})) AS b),
jc AS (
  SELECT p.pid, cl.t, cl.cell, cl.s, cl.c,
         md5('fdr' || p.pid || ':' || cl.t || ':' || cl.cell) AS dg
  FROM pairs p JOIN cells cl ON cl.t IN (p.ta, p.tb)),
perm AS (
  SELECT jc.pid, r.b,
         sum(CASE WHEN {side} = 0 THEN jc.s END) AS s1,
         sum(CASE WHEN {side} = 0 THEN jc.c END) AS n1,
         sum(CASE WHEN {side} = 1 THEN jc.s END) AS s2,
         sum(CASE WHEN {side} = 1 THEN jc.c END) AS n2
  FROM jc CROSS JOIN reps r
  GROUP BY 1, 2),
cmp AS (
  SELECT pm.pid,
         CASE WHEN abs(cast(pm.s1 AS decimal(38,0)) * pm.n2
                       - cast(pm.s2 AS decimal(38,0)) * pm.n1)
                   * (cast(o.n1 AS decimal(38,0)) * o.n2)
              >= abs(cast(o.s1 AS decimal(38,0)) * o.n2
                     - cast(o.s2 AS decimal(38,0)) * o.n1)
                   * (cast(pm.n1 AS decimal(38,0)) * pm.n2)
              THEN 1 ELSE 0 END AS extreme
  FROM perm pm JOIN obs o ON o.pid = pm.pid
  WHERE pm.n1 > 0 AND pm.n2 > 0),
pv AS (SELECT pid, 1 + sum(extreme) AS p_num FROM cmp GROUP BY 1),
rk AS (
  SELECT pid, p_num,
         row_number() OVER (ORDER BY p_num, pid) AS rnk
  FROM pv),
kstar AS (
  SELECT coalesce(max(CASE WHEN p_num * {_M} * {_ALPHA_INV}
                                <= rnk * {_B + 1} THEN rnk END), 0) AS k
  FROM rk)
SELECT r.pid AS pair, cast(r.p_num AS bigint) AS p_num,
       cast(r.rnk AS int) AS bh_rank,
       CASE WHEN r.rnk <= k.k THEN 1 ELSE 0 END AS rejected
FROM rk r, kstar k ORDER BY r.rnk"""


@register(
    "bh_fdr_discoveries",
    oracle=_fdr_oracle(),
    tags=("evaluation", "statistics", "resampling", "scale-pattern"),
)
def bh_fdr_discoveries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(pair, p_num, bh_rank, rejected): Benjamini-Hochberg step-up at
    alpha = 0.2 over the 10 pairwise event-type mean-difference tests;
    p_num is the add-one p-value numerator over denominator B+1 = 100.

    Each test randomizes at the BLOCK level: events pre-aggregate into
    (type, md5-cell) blocks of sufficient statistics (one distributed
    scan, ~5x1024 cells), and each of the B = 99 replicates flips whole
    blocks between the two sides, seeded by one md5 per (pair, type,
    cell). Blocks are exchangeable under H0 (Monte-Carlo block
    randomization, Good, "Permutation Tests", ch. 11), so the replicate
    ensemble costs O(cells x B), independent of the event count. BH
    (Benjamini & Hochberg 1995): the largest rank i with
    p_(i) <= i*alpha/m and every rank up to it is rejected; with
    alpha = 1/5 the step-up condition cross-multiplies to the integer
    test p_num * m * 5 <= rank * (B+1)."""
    e = load_table(spark, sf_dir, "events")
    v = e.select(
        F.col("event_type").alias("t"),
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        F.expr(md5_mod_spark("concat('fc:', event_id)", _CELLS))
        .alias("cell"))
    cells = (v.groupBy("t", "cell")
             .agg(F.sum("cents").alias("s"), F.count(F.lit(1)).alias("c")))
    pairs = spark.createDataFrame(_PAIRS, "pid string, ta string, tb string")
    # j feeds both the observed-statistic aggregate and the replicate
    # expansion: an eager checkpoint of the (pair, type, cell) block table
    # (types x cells rows) runs the corpus pass once, and keeps the two
    # branches of one action from both computing a lazy checkpoint.
    j = (cells.join(F.broadcast(pairs),
                    (F.col("t") == F.col("ta")) | (F.col("t") == F.col("tb")))
         .localCheckpoint(eager=True))
    obs = (j.groupBy("pid")
           .agg(*_side_sums(F.when(F.col("t") == F.col("ta"), 0)
                            .when(F.col("t") == F.col("tb"), 1),
                            F.col("s"), F.col("c")))
           .select(F.col("pid").alias("opid"),
                   *[F.col(c).alias("o" + c)
                     for c in ("s1", "n1", "s2", "n2")]))
    digest = F.md5(F.concat(F.lit("fdr"), F.col("pid"), F.lit(":"),
                            F.col("t"), F.lit(":"), F.col("cell")))
    perm = (_replicates(j, digest, _B)
            .groupBy("pid", "b")
            .agg(*_side_sums(F.col("side"), F.col("s"), F.col("c"))))
    cmp = (perm.join(F.broadcast(obs), perm["pid"] == obs["opid"])
           .filter((F.col("n1") > 0) & (F.col("n2") > 0))
           .select("pid", _extreme().alias("extreme")))
    pv = cmp.groupBy("pid").agg((1 + F.sum("extreme")).alias("p_num"))
    rk = pv.withColumn(
        "rnk", F.row_number().over(W.orderBy("p_num", "pid")))  # m=10 rows
    kstar = rk.agg(F.coalesce(F.max(F.when(
        F.col("p_num") * _M * _ALPHA_INV <= F.col("rnk") * (_B + 1),
        F.col("rnk"))), F.lit(0)).alias("k"))
    return (rk.crossJoin(F.broadcast(kstar))
            .select(F.col("pid").alias("pair"),
                    F.col("p_num").cast("long").alias("p_num"),
                    F.col("rnk").cast("int").alias("bh_rank"),
                    F.when(F.col("rnk") <= F.col("k"), 1).otherwise(0)
                    .alias("rejected"))
            .orderBy("bh_rank"))
