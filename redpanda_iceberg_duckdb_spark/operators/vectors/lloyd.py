"""One Lloyd trainer for k-means and product quantization, the
nearest-sub-centroid encoder, and the recursive oracle CTEs that rerun
the same training in DuckDB.

Training treats the embedding as ``m`` subspaces of ``64 / m`` dims:
k-means is 1 x 64, PQ is 8 x 8. Each (vector, subspace) point starts in
its shipped ``label`` cell; a round reassigns every point to the nearest
cell of its subspace on the 1e4 lattice (ties to the smallest code) and
recomputes the cells' sufficient stats (size ``n``, per-dim sums ``s``).
All subspaces step in lockstep until no point moves, so the round count
is one checkable fact: the oracle's self-terminating recursive CTE runs
the same recurrence and reports the same count (k-means 13 rounds, PQ
32-33, at sf0.001-sf0.01).

Paths, chosen from the input:

- a training set of at most ``DRIVER_TRAIN_BOUND`` vectors is collected
  once (<= 32 MB of int64) and trained in numpy on the driver: same
  init, tie-break and mover count, so the same stats and round count;
- a larger one runs one Arrow-batched mapInPandas job per round over a
  checkpointed scan, each partition emitting its cells' partial sums,
  which the driver adds up (only KB-scale stats cross rounds: MLlib's
  broadcast-centers Lloyd);
- a round whose stats fail the int64 bound (package docstring) runs the
  exact ``decimal(38,0)`` encoder join instead; on the driver path that
  failure hands the whole training to the distributed path.

Rounds cannot be chained into fewer jobs: each assignment needs the
previous round's global sums. Industry trainers (FAISS) train PQ on a
bounded sample for the same reason; the driver bound is that sample.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ...cache import cached, data_fingerprint
from ...session import pinned_shuffle_partitions
from ...tables import load_table
from .kernels import Q4

DIMS = 64
PQ_M = 8                    # PQ subspaces
PQ_DSUB = DIMS // PQ_M      # dims per PQ subspace
DIST_SCALE = 10 ** 6        # distortion fixed-point lattice
DEC = "decimal(38,0)"
MAX_ROUNDS = 100
# A cell's squared-distance sum is int64-exact while
# sum_k (q_max * n + |s_k|)^2 stays below this bound.
INT64_BOUND = 1 << 63
# Training sets at or below this vector count train on the driver.
DRIVER_TRAIN_BOUND = 1 << 16

# k-means as a self-terminating recursive assignment: rows (vec_id, lbl,
# old_lbl, t, moved) where moved = total movers in round t (window-summed,
# identical on every row). The recursive term reads only rows with
# moved > 0, so the round after zero movers produces nothing and recursion
# halts; `fin` is the converged assignment, max(t) the round count.
ASSIGN_CTE = """
qd AS (SELECT vec_id, k, cast(floor(cast(x AS double) * 1e4) AS bigint) qv
       FROM (SELECT vec_id, unnest(embedding) x,
                    generate_subscripts(embedding, 1) k FROM embeddings)),
it AS (
  SELECT vec_id, label AS lbl, cast(NULL AS integer) AS old_lbl,
         0 AS t, 1 AS moved
  FROM embeddings
  UNION ALL
  SELECT a.vec_id, a.lbl, a.old_lbl, a.t,
         sum(CASE WHEN a.lbl <> a.old_lbl THEN 1 ELSE 0 END) OVER () AS moved
  FROM (
    SELECT r.vec_id, r.lbl, w2.lbl AS old_lbl, w2.t + 1 AS t
    FROM (SELECT d.vec_id, d.lbl,
                 row_number() OVER (PARTITION BY d.vec_id
                                    ORDER BY d.d, d.lbl) rn
          FROM (SELECT qd.vec_id, cs.lbl,
                       cast(sum(cast(qd.qv * cs.n - cs.s AS hugeint)
                                * (qd.qv * cs.n - cs.s)) AS double)
                         / (cast(cs.n AS double) * cs.n) AS d
                FROM qd
                JOIN (SELECT w.lbl, qd2.k, sum(qd2.qv) s, count(*) n
                      FROM (SELECT vec_id, lbl FROM it WHERE moved > 0) w
                      JOIN qd qd2 ON qd2.vec_id = w.vec_id
                      GROUP BY w.lbl, qd2.k) cs
                  ON cs.k = qd.k
                GROUP BY qd.vec_id, cs.lbl, cs.n) d) r
    JOIN (SELECT vec_id, lbl, t FROM it WHERE moved > 0) w2
      ON w2.vec_id = r.vec_id
    WHERE r.rn = 1) a),
fin AS (SELECT vec_id, lbl FROM it WHERE t = (SELECT max(t) FROM it))"""

# The same recurrence per PQ subspace, with (vec_id, sub) point keys. kk
# is the WITHIN-subspace dim index; fin2 is the converged assignment,
# max(t) the joint round count.
SUB_ASSIGN_CTE = f"""
qd2 AS (SELECT vec_id, (k-1) // {PQ_DSUB} AS sub, (k-1) % {PQ_DSUB} AS kk,
               cast(floor(cast(x AS double) * 1e4) AS bigint) qv
        FROM (SELECT vec_id, unnest(embedding) x,
                     generate_subscripts(embedding, 1) k FROM embeddings)),
it2 AS (
  SELECT vec_id, sub, label AS code, cast(NULL AS integer) AS old_code,
         0 AS t, 1 AS moved
  FROM embeddings, unnest(range({PQ_M})) r(sub)
  UNION ALL
  SELECT a.vec_id, a.sub, a.code, a.old_code, a.t,
         sum(CASE WHEN a.code <> a.old_code THEN 1 ELSE 0 END) OVER ()
           AS moved
  FROM (
    SELECT r.vec_id, r.sub, r.code, w2.code AS old_code, w2.t + 1 AS t
    FROM (SELECT d.vec_id, d.sub, d.code,
                 row_number() OVER (PARTITION BY d.vec_id, d.sub
                                    ORDER BY d.d, d.code) rn
          FROM (SELECT qd2.vec_id, qd2.sub, cs.code,
                       cast(sum(cast(qd2.qv * cs.n - cs.s AS hugeint)
                                * (qd2.qv * cs.n - cs.s)) AS double)
                         / (cast(cs.n AS double) * cs.n) AS d
                FROM qd2
                JOIN (SELECT w.sub, w.code, q3.kk, sum(q3.qv) s, count(*) n
                      FROM (SELECT vec_id, sub, code FROM it2
                            WHERE moved > 0) w
                      JOIN qd2 q3 ON q3.vec_id = w.vec_id
                                 AND q3.sub = w.sub
                      GROUP BY w.sub, w.code, q3.kk) cs
                  ON cs.kk = qd2.kk AND cs.sub = qd2.sub
                GROUP BY qd2.vec_id, qd2.sub, cs.code, cs.n) d) r
    JOIN (SELECT vec_id, sub, code, t FROM it2 WHERE moved > 0) w2
      ON w2.vec_id = r.vec_id AND w2.sub = r.sub
    WHERE r.rn = 1) a),
fin2 AS (SELECT vec_id, sub, code FROM it2
         WHERE t = (SELECT max(t) FROM it2)),
cb2 AS (SELECT f.code, f.sub, f.sub * {PQ_DSUB} + q.kk AS k,
               sum(q.qv) AS s, count(*) AS n
        FROM fin2 f JOIN qd2 q ON q.vec_id = f.vec_id AND q.sub = f.sub
        GROUP BY 1, 2, 3)"""


# --------------------------------------------------------------- encoder

def lattice_dims(frame: DataFrame, dsub: int, *keys, q: str | None = None
                 ) -> DataFrame:
    """(keys..., k, qv, sub): one row per dim k of each vector on the 1e4
    lattice, with its subspace; ``q`` names an already quantized array
    column (default: quantize ``embedding``)."""
    arr = F.col(q) if q else F.expr(Q4)
    return (frame.select(*keys, F.posexplode(arr).alias("k", "qv"))
            .withColumn("sub", F.expr(f"k div {dsub}")))


def label_codebook(qd: DataFrame) -> DataFrame:
    """(code, sub, k, s, n): the label cells' sufficient stats per
    subspace dim, from ``lattice_dims`` rows that carry ``label``."""
    return (qd.groupBy(F.col("label").alias("code"), "sub", "k")
            .agg(F.sum("qv").alias("s"), F.count(F.lit(1)).alias("n")))


def codebook(spark: SparkSession, stats: list, dsub: int) -> DataFrame:
    """Trained cell stats as a literal (code, sub, k, s, n) table, k the
    global dim index: codes x dims rows."""
    rows = [(int(code), int(sub), int(sub * dsub + kk), int(s_arr[kk]),
             int(n))
            for sub, code, n, s_arr in stats
            for kk in range(dsub)]
    return spark.createDataFrame(rows,
                                 "code int, sub int, k int, s long, n long")


def code_dists(qd: DataFrame, cb: DataFrame, key: str = "vec_id"
               ) -> DataFrame:
    """(key, sub, code, d_int, n): the exact integer squared distance
    sum_k (qv_k * n - s_k)^2 of each ``lattice_dims`` point to every code
    of its subspace, with the code's cell size. The codebook broadcasts."""
    t = F.col("qv") * F.col("n") - F.col("s")
    return (qd.join(F.broadcast(cb), ["sub", "k"])
            .groupBy(key, "sub", "code")
            .agg(F.sum(t.cast(DEC) * t).alias("d_int"),
                 F.max("n").alias("n")))


def encode(qd: DataFrame, cb: DataFrame) -> DataFrame:
    """(vec_id, sub, code, d_int, n): each point's nearest code, compared
    as d_int / n^2 doubles with ties to the smallest code."""
    return (code_dists(qd, cb)
            .withColumn("d", F.col("d_int").cast("double")
                        / (F.col("n").cast("double") * F.col("n")))
            .groupBy("vec_id", "sub")
            .agg(F.min(F.struct("d", "code", "d_int", "n")).alias("b"))
            .select("vec_id", "sub", F.col("b.code").alias("code"),
                    F.col("b.d_int").alias("d_int"),
                    F.col("b.n").alias("n")))


def fixed_point() -> Column:
    """``ds``: floor(d_int * 1e6 / n^2) as an exact decimal."""
    prod = F.col("d_int") * F.lit(DIST_SCALE)
    nsq = F.col("n").cast(DEC) * F.col("n")
    return ((prod - prod % nsq) / nsq).cast(DEC).alias("ds")


# --------------------------------------------------------------- trainer

def int64_safe(stats: list, q_max: int) -> bool:
    """Whether every cell's squared-distance sum fits int64."""
    return all(sum((q_max * n + abs(s)) ** 2 for s in s_arr) < INT64_BOUND
               for _, _, n, s_arr in stats)


def _assign_fn(stats: list, m: int):
    """(B, m, dsub) int64 points -> (B, m) nearest codes under ``stats``.
    np.argmin's first minimum is the smallest code: stats are sorted."""
    by_sub = []
    for sub in range(m):
        rows = [(c, n, s) for s_, c, n, s in stats if s_ == sub]
        by_sub.append((np.array([c for c, _, _ in rows], dtype=np.int64),
                       [n for _, n, _ in rows],
                       np.array([s for _, _, s in rows], dtype=np.int64)))

    def assign(qs):
        out = np.empty((qs.shape[0], m), dtype=np.int64)
        for sub, (codes, ns, sf) in enumerate(by_sub):
            d = np.empty((qs.shape[0], len(codes)), dtype=np.float64)
            for i, n in enumerate(ns):
                t = qs[:, sub, :] * n - sf[i]
                d[:, i] = (t * t).sum(axis=1).astype(np.float64) \
                    / (float(n) * float(n))
            out[:, sub] = codes[np.argmin(d, axis=1)]
        return out
    return assign


def _cell_sums(qs, codes, moved) -> list:
    """[(sub, code, n, movers, s_arr)] of every occupied cell, sorted."""
    out = []
    for sub in range(qs.shape[1]):
        for c in np.unique(codes[:, sub]):
            mask = codes[:, sub] == c
            out.append((sub, int(c), int(mask.sum()),
                        int(moved[mask, sub].sum()),
                        [int(v) for v in qs[mask, sub, :].sum(axis=0)]))
    return out


def _label_codes(lbl, m: int):
    return np.repeat(lbl.reshape(-1, 1), m, axis=1)


def _lloyd(cells: list, step) -> tuple[list, int] | None:
    """Lloyd rounds from the round-0 ``cells`` until no point moves.
    ``step(cur, old)`` returns the next round's cells from the current
    stats and the previous round's (``old is cur`` in round 1, whose
    movers count against the shipped labels), or None to give up."""
    prev = None
    for i in range(MAX_ROUNDS):
        cur = [(sub, code, n, s) for sub, code, n, _, s in cells]
        cells = step(cur, prev or cur)
        if cells is None:
            return None
        prev = cur
        if sum(c[3] for c in cells) == 0:
            return [(sub, code, n, s) for sub, code, n, _, s in cells], i + 1
    raise RuntimeError(
        f"Lloyd training: no convergence in {MAX_ROUNDS} rounds — a "
        "tie-cycle; production would stop on a mover-count plateau")


def train_lloyd(spark: SparkSession, sf_dir: str, m: int
                ) -> tuple[list, int]:
    """Lloyd over ``m`` subspaces from the shipped labels until no point
    moves (module docstring). Returns the sorted (sub, code, n, s_arr)
    cell stats and the round count."""
    dsub = DIMS // m
    raw = load_table(spark, sf_dir, "embeddings")
    base = raw.select("vec_id", F.col("label").cast("int").alias("lbl0"),
                      F.expr(Q4).alias("q"))
    # Size gate on the RAW table count (parquet metadata, no transform).
    if raw.count() <= DRIVER_TRAIN_BOUND:
        pdf = base.select("lbl0", "q").toPandas()
        qs = (np.stack(pdf["q"].to_numpy()).astype(np.int64)
              .reshape(-1, m, dsub))
        codes = _label_codes(pdf["lbl0"].to_numpy().astype(np.int64), m)
        q_max = int(np.abs(qs).max())

        def on_driver(cur, _old):
            nonlocal codes
            if not int64_safe(cur, q_max):
                return None
            new = _assign_fn(cur, m)(qs)
            moved, codes = new != codes, new
            return _cell_sums(qs, new, moved)

        res = _lloyd(_cell_sums(qs, codes, np.zeros_like(codes)), on_driver)
        if res is not None:
            return res
    return _train_distributed(spark, base, m, dsub)


def _train_distributed(spark: SparkSession, base: DataFrame, m: int,
                       dsub: int) -> tuple[list, int]:
    n_parts = max(2, int(spark.conf.get("spark.sql.shuffle.partitions",
                                        "32")) // 4)
    emb = (base
           # few fat partitions: each round is one tiny job, so task
           # scheduling, not compute, is the per-round cost.
           .repartition(n_parts)
           .localCheckpoint(eager=False))   # scanned every round
    q_max = int(emb.select(F.expr(
        "max(array_max(transform(q, x -> abs(x))))")).head()[0])
    qd = (lattice_dims(emb, dsub, "vec_id", "lbl0", q="q")
          .withColumn("kk", F.expr(f"k % {dsub}")))

    def sums(rows: DataFrame) -> DataFrame:
        """(sub, code, kk, s, n, mv) from (sub, code, kk, qv, mv) rows;
        n and mv ride each cell's kk = 0 row."""
        return (rows.groupBy("sub", "code", "kk")
                .agg(F.sum("qv").alias("s"), F.count(F.lit(1)).alias("n"),
                     F.sum(F.when(F.col("kk") == 0, F.col("mv"))
                           .otherwise(F.lit(0))).alias("mv")))

    def on_numpy(new: list, old: list) -> DataFrame:
        new_fn = _assign_fn(new, m)
        old_fn = None if old is new else _assign_fn(old, m)

        def gen(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                qs = (np.stack(pdf["q"].to_numpy()).astype(np.int64)
                      .reshape(-1, m, dsub))
                code = new_fn(qs)
                prev = (_label_codes(pdf["lbl0"].to_numpy().astype(np.int64),
                                     m) if old_fn is None else old_fn(qs))
                yield pd.DataFrame(
                    [(sub, c, kk, int(s[kk]), n, mv if kk == 0 else 0)
                     for sub, c, n, mv, s in _cell_sums(qs, code, code != prev)
                     for kk in range(dsub)],
                    columns=["sub", "code", "kk", "s", "n", "mv"])
        # No groupBy: each partition emits its partial sums and the driver
        # adds them up, in place of a shuffle stage per round.
        return emb.select("q", "lbl0").mapInPandas(
            gen, "sub int, code int, kk int, s long, n long, mv long")

    def on_decimal(new: list, old: list) -> DataFrame:
        def codes(stats):
            return (encode(qd, codebook(spark, stats, dsub))
                    .select("vec_id", "sub", "code"))
        if old is new:      # round 1: movers against the shipped labels
            asg = codes(new).join(
                emb.select("vec_id", F.col("lbl0").alias("old")), "vec_id")
        else:
            asg = codes(new).join(codes(old).withColumnRenamed("code", "old"),
                                  ["vec_id", "sub"])
        asg = asg.select(
            "vec_id", "sub", "code",
            (F.col("code") != F.col("old")).cast("long").alias("mv"))
        return sums(asg.join(qd.select("vec_id", "sub", "kk", "qv"),
                             ["vec_id", "sub"]))

    def collect(parts: DataFrame) -> list:
        cells: dict[tuple[int, int], dict] = {}
        for r in parts.collect():
            c = cells.setdefault((int(r["sub"]), int(r["code"])),
                                 {"n": 0, "mv": 0, "s": [0] * dsub})
            c["s"][int(r["kk"])] += int(r["s"])
            if int(r["kk"]) == 0:
                c["n"] += int(r["n"])
            c["mv"] += int(r["mv"])
        return sorted((sub, code, c["n"], c["mv"], c["s"])
                      for (sub, code), c in cells.items())

    def on_spark(new: list, old: list) -> list:
        exact = int64_safe(new, q_max) and int64_safe(old, q_max)
        return collect((on_numpy if exact else on_decimal)(new, old))

    with pinned_shuffle_partitions(spark, n_parts):
        init = sums(qd.select("sub", F.col("lbl0").alias("code"), "kk", "qv",
                              F.lit(0).alias("mv")))
        return _lloyd(collect(init), on_spark)


def train_codebook(spark: SparkSession, sf_dir: str) -> tuple[list, int]:
    """The trained PQ cell stats and joint round count, memoized per
    dataset (cache.py)."""
    return cached(spark, ("pq_train", data_fingerprint(sf_dir, "embeddings")),
                  lambda: train_lloyd(spark, sf_dir, PQ_M))


def train_assignments(spark: SparkSession, sf_dir: str
                      ) -> tuple[DataFrame, int]:
    """The converged k-means assignment (vec_id, lbl), checkpointed, and
    the round count; memoized per dataset (cache.py), since
    kmeans_train_converged, ann_recall_retrained and mutual_nn_retrained
    all run the same training."""
    def build():
        stats, n_rounds = train_lloyd(spark, sf_dir, 1)
        qd = lattice_dims(load_table(spark, sf_dir, "embeddings"), DIMS,
                          "vec_id")
        fin = (encode(qd, codebook(spark, stats, DIMS))
               .select("vec_id", F.col("code").alias("lbl"))
               .localCheckpoint(eager=True))
        return fin, n_rounds
    return cached(spark, ("kmeans_train",
                          data_fingerprint(sf_dir, "embeddings")), build)
