"""Pair mining over the embedding corpus: near-duplicate pairs by sign
LSH and by banded random-hyperplane LSH, mutual nearest neighbours in
IVF cells (shipped or retrained), hard negatives for contrastive
training, and SemDeDup.

Each miner bounds the quadratic before scoring: LSH buckets, label
cells or the gate-bounded probe set. Candidates then score on the exact
dot lattice, so both engines keep and drop the same pairs.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ...registry import register
from ...tables import load_table
from .kernels import (DOT_DUCK, DOT_SCALE, NORMS_DUCK, PROBES_DUCK,
                      SIMS_DUCK, bcast_query_dots, candidates, dot_int64,
                      lattice_products, norms, probes, sims_from_dots)
from .lloyd import ASSIGN_CTE, train_assignments


@register(
    "embedding_near_dup_pairs",
    oracle=f"""
WITH sig AS (SELECT vec_id, embedding,
                    cast(list_sum([CASE WHEN embedding[i+1] >= 0
                                        THEN cast(1 AS bigint) << i
                                        ELSE 0 END
                                   FOR i IN range(16)]) AS bigint) AS bucket
             FROM embeddings),
cand AS (SELECT x.vec_id v1, y.vec_id v2, x.embedding e1, y.embedding e2
         FROM sig x JOIN sig y
           ON x.bucket = y.bucket AND x.vec_id < y.vec_id),
dots AS (SELECT v1, v2,
                cast(sum(cast(floor(cast(x AS double) * cast(y AS double)
                                    * {DOT_SCALE}) AS bigint)) AS double) AS dot
         FROM (SELECT v1, v2, unnest(e1) x, unnest(e2) y FROM cand)
         GROUP BY v1, v2),
{NORMS_DUCK}
SELECT v1, v2, round(dot / (n1.nrm * n2.nrm), 6) AS sim
FROM dots JOIN norms n1 ON n1.vec_id = v1
          JOIN norms n2 ON n2.vec_id = v2
WHERE dot / (n1.nrm * n2.nrm) >= 0.90
ORDER BY v1, v2""",
    tags=("similarity", "dedup", "lsh"),
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via sign LSH: bucket on the sign bits
    of the first 16 dims (deterministic coordinate hyperplanes), compare only
    within buckets, keep cosine >= 0.90. Candidate count collapses from
    O(N^2) to near-dups + rare collisions, so the fold-based dot is cheap."""
    emb = load_table(spark, sf_dir, "embeddings")
    nrm = norms(emb)
    sig = emb.select(
        "vec_id", "embedding",
        F.expr(
            "aggregate(transform(sequence(0, 15), i -> "
            "CASE WHEN element_at(embedding, i + 1) >= 0 "
            "THEN shiftleft(cast(1 AS bigint), i) ELSE cast(0 AS bigint) END), "
            "cast(0 AS bigint), (acc, v) -> acc + v)"
        ).alias("bucket"),
    )
    x = sig.select(F.col("vec_id").alias("v1"), F.col("embedding").alias("e1"),
                   "bucket")
    y = sig.select(F.col("vec_id").alias("v2"), F.col("embedding").alias("e2"),
                   "bucket")
    cand = x.join(y, "bucket").filter(F.col("v1") < F.col("v2"))
    dots = cand.select("v1", "v2",
                       dot_int64("e1", "e2").cast("double").alias("dot"))
    return (
        dots.join(nrm.select(F.col("vec_id").alias("v1"),
                             F.col("nrm").alias("n1")), "v1")
        .join(nrm.select(F.col("vec_id").alias("v2"),
                         F.col("nrm").alias("n2")), "v2")
        .filter(F.col("dot") / (F.col("n1") * F.col("n2")) >= 0.90)
        .select("v1", "v2",
                F.round(F.col("dot") / (F.col("n1") * F.col("n2")), 6)
                .alias("sim"))
        .orderBy("v1", "v2")
    )


_H = 16            # hyperplanes = signature bits
_BANDS = 4         # bands x 4 bits, any-band-match candidates
_ROWS_PER_BAND = _H // _BANDS
_TOPK = 20         # report the top-k banded candidates by exact cosine
# (a fixed absolute threshold returns an empty frame on this corpus —
# measured max pairwise cosine 0.51 at sf0.01 — so the checkable output
# is the ranked head of the candidate set instead)

# 16 '+'/'-' sign strings of length 64, md5-derived in Python once and
# embedded as literals in both engines' plans.
_SIGMA = ["".join("+" if hashlib.md5(f"hp:{h}:{d}".encode()).digest()[0] & 1
                  else "-" for d in range(64)) for h in range(_H)]


def _hyperplane_oracle() -> str:
    sig_rows = ",\n         ".join(
        f"({h}, '{s}')" for h, s in enumerate(_SIGMA))
    return f"""
WITH sig(h, s) AS (VALUES {sig_rows}),
sigma AS (
  SELECT h, d,
         CASE WHEN substr(s, cast(d + 1 AS int), 1) = '+'
              THEN 1 ELSE -1 END AS sgn
  FROM sig, range(64) t(d)),
qd AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
         cast(floor(cast(unnest(embedding) AS double) * 1e4) AS bigint)
           AS qv
  FROM embeddings),
proj AS (
  SELECT qd.vec_id, s.h, sum(qd.qv * s.sgn) AS p
  FROM qd JOIN sigma s ON s.d = qd.d
  GROUP BY 1, 2),
buckets AS (
  SELECT vec_id,
         sum(CASE WHEN p >= 0
                  THEN cast(1 AS bigint) << (h % {_ROWS_PER_BAND})
                  ELSE 0 END) AS val,
         h // {_ROWS_PER_BAND} AS band
  FROM proj GROUP BY vec_id, band),
cand AS (
  SELECT DISTINCT x.vec_id AS v1, y.vec_id AS v2
  FROM buckets x JOIN buckets y
    ON x.band = y.band AND x.val = y.val AND x.vec_id < y.vec_id),
pairs AS (
  SELECT c.v1, c.v2, e1.embedding AS q1, e2.embedding AS q2
  FROM cand c JOIN embeddings e1 ON e1.vec_id = c.v1
              JOIN embeddings e2 ON e2.vec_id = c.v2),
dots AS (
  SELECT v1, v2,
         cast(sum(cast(floor(cast(x AS double) * cast(y AS double)
                             * {DOT_SCALE}) AS bigint)) AS double) AS dot
  FROM (SELECT v1, v2, unnest(q1) x, unnest(q2) y FROM pairs)
  GROUP BY 1, 2),
{NORMS_DUCK}
SELECT rank, v1, v2, sim FROM (
  SELECT v1, v2, round(dot / (n1.nrm * n2.nrm), 6) AS sim,
         row_number() OVER (
           ORDER BY round(dot / (n1.nrm * n2.nrm), 6) DESC, v1, v2)
           AS rank
  FROM dots JOIN norms n1 ON n1.vec_id = v1
            JOIN norms n2 ON n2.vec_id = v2)
WHERE rank <= {_TOPK}
ORDER BY rank"""


@register(
    "hyperplane_lsh_near_dups",
    oracle=_hyperplane_oracle(),
    tags=("similarity", "dedup", "lsh", "scale-pattern"),
)
def hyperplane_lsh_near_dups(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """(rank, v1, v2, sim): the top-20 most similar pairs surfaced by
    banded random-hyperplane LSH (Charikar, STOC 2002): 16 md5-seeded
    +-1 hyperplanes split into 4 bands of 4 bits, a pair a candidate if
    ANY band matches (next to the all-16-bits coordinate buckets of
    embedding_near_dup_pairs), verified at the exact lattice cosine.

    One mapInPandas pass computes all 16 projections per vector as an
    exact int64 matmul (floor(x * 1e4) against the +-1 matrix) and emits
    the 4 (vec_id, band, val) bucket rows; candidates form by equi-joins
    on (band, val), and their dots run through numpy as well."""
    emb = load_table(spark, sf_dir, "embeddings")
    nrm = norms(emb)
    sgn_rows = [[1 if _SIGMA[h][d] == "+" else -1 for h in range(_H)]
                for d in range(64)]

    def project(batches):
        sgn = np.array(sgn_rows, dtype=np.int64)          # 64 x H
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qv = np.floor(np.array(list(pdf["embedding"]),
                                   dtype=np.float64) * 1e4).astype(np.int64)
            bits = (qv @ sgn >= 0).astype(np.int64)        # N x H, exact
            vids = pdf["vec_id"].to_numpy()
            yield pd.concat(pd.DataFrame({
                "vec_id": vids,
                "band": np.full(len(vids), band, dtype=np.int64),
                "val": sum(bits[:, band * _ROWS_PER_BAND + j] << j
                           for j in range(_ROWS_PER_BAND))})
                for band in range(_BANDS))

    buckets = emb.select("vec_id", "embedding").mapInPandas(
        project, schema="vec_id long, band long, val long")
    x = buckets.select(F.col("vec_id").alias("v1"), "band", "val")
    y = buckets.select(F.col("vec_id").alias("v2"), "band", "val")
    cand = (x.join(y, ["band", "val"])
            .filter(F.col("v1") < F.col("v2"))
            .select("v1", "v2").distinct())
    e1 = emb.select(F.col("vec_id").alias("v1"),
                    F.col("embedding").alias("q1"))
    e2 = emb.select(F.col("vec_id").alias("v2"),
                    F.col("embedding").alias("q2"))
    pairs = cand.join(e1, "v1").join(e2, "v2")

    def pair_dots(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            d = lattice_products(np.array(list(pdf["q1"]), dtype=np.float64),
                                 np.array(list(pdf["q2"]), dtype=np.float64))
            yield pd.DataFrame({"v1": pdf["v1"].to_numpy(),
                                "v2": pdf["v2"].to_numpy(),
                                "dot": d.sum(axis=1).astype(np.float64)})

    dots = pairs.select("v1", "v2", "q1", "q2").mapInPandas(
        pair_dots, schema="v1 long, v2 long, dot double")
    n1 = nrm.select(F.col("vec_id").alias("v1"), F.col("nrm").alias("nrm1"))
    n2 = nrm.select(F.col("vec_id").alias("v2"), F.col("nrm").alias("nrm2"))
    sims = (dots.join(n1, "v1").join(n2, "v2")
            .select("v1", "v2",
                    F.round(F.col("dot")
                            / (F.col("nrm1") * F.col("nrm2")), 6)
                    .alias("sim")))
    w = W.orderBy(F.desc("sim"), "v1", "v2")
    return (sims.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= _TOPK)
            .select("rank", "v1", "v2", "sim")
            .orderBy("rank"))


# Rows of the q-side block materialized per numpy step inside a cell —
# bounds the in-flight (block x |cell|) dot matrix regardless of cell
# size; a no-op at fixture cells (~200 vectors).
_QBLOCK = 4096


def _cell_pair_dots(emb: DataFrame, cell_col: str) -> DataFrame:
    """All in-cell (qid, cid, dot) rows on the dot lattice via ONE
    applyInPandas pass per cell: each embedding crosses Arrow once per
    cell, not once per pair. The accumulator adds one dim's lattice
    terms at a time, and the q side is blocked, so the in-flight matrix
    never exceeds _QBLOCK x |cell|."""

    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m < 2:
            return pd.DataFrame({"qid": pd.Series([], dtype="int64"),
                                 "cid": pd.Series([], dtype="int64"),
                                 "dot": pd.Series([], dtype="float64")})
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        mat = np.array(list(pdf["embedding"]), dtype=np.float64)
        out = []
        for lo in range(0, m, _QBLOCK):
            qb = mat[lo:lo + _QBLOCK]
            acc = np.zeros((len(qb), m), dtype=np.int64)
            for d in range(mat.shape[1]):
                acc += lattice_products(qb[:, d, None], mat[None, :, d])
            qid = np.repeat(ids[lo:lo + _QBLOCK], m)
            cid = np.tile(ids, len(qb))
            keep = qid != cid
            out.append(pd.DataFrame({
                "qid": qid[keep], "cid": cid[keep],
                "dot": acc.reshape(-1)[keep].astype(np.float64)}))
        return pd.concat(out, ignore_index=True)

    return (emb.select("vec_id", cell_col, "embedding")
            .groupBy(cell_col)
            .applyInPandas(per_cell, schema="qid long, cid long, dot double"))


def _mutual_pairs(sims: DataFrame) -> DataFrame:
    """(vec_a, vec_b, cosine): pairs that are each other's top-1."""
    t1 = (sims.withColumn(
        "rn", F.row_number().over(
            W.partitionBy("qid").orderBy(F.col("sim").desc(), "cid")))
        .filter(F.col("rn") == 1).select("qid", "cid", "sim"))
    a = t1.select(F.col("qid").alias("vec_a"), F.col("cid").alias("vec_b"),
                  F.col("sim").alias("cosine"))
    b = t1.select(F.col("cid").alias("vec_a"), F.col("qid").alias("vec_b"))
    return (a.join(b, ["vec_a", "vec_b"])
            .filter(F.col("vec_a") < F.col("vec_b"))
            .orderBy("vec_a"))


_MNN_TAIL = f"""
{DOT_DUCK},
{NORMS_DUCK},
{SIMS_DUCK},
t1 AS (SELECT qid, cid, sim FROM
         (SELECT qid, cid, sim,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY sim DESC, cid) rn
          FROM sims)
       WHERE rn = 1)
SELECT a.qid AS vec_a, a.cid AS vec_b, a.sim AS cosine
FROM t1 a JOIN t1 b ON a.cid = b.qid AND b.cid = a.qid
WHERE a.qid < a.cid
ORDER BY vec_a"""


@register(
    "mutual_nn_pairs",
    oracle="""
WITH pairs AS (SELECT a.vec_id qid, b.vec_id cid, a.embedding qe, b.embedding ce
               FROM embeddings a JOIN embeddings b
                 ON a.label = b.label AND a.vec_id <> b.vec_id),""" + _MNN_TAIL,
    tags=("similarity", "ann", "mining", "pandas_udf"),
)
def mutual_nn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal top-1 cosine neighbour pairs, the bitext-mining
    primitive (one-directional top-1 lists are full of hubs; mutuality
    filters them, cf. CCMatrix/LASER). Candidates share the query's IVF
    label cell, so the pair work is the sum over cells of |cell|^2, not
    corpus^2; the in-cell dots run in one per-cell Arrow pass."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _mutual_pairs(sims_from_dots(_cell_pair_dots(emb, "label"),
                                        norms(emb)))


@register(
    "mutual_nn_retrained",
    oracle=f"""
WITH RECURSIVE {ASSIGN_CTE},
pairs AS (SELECT a.vec_id qid, b.vec_id cid, a.embedding qe, b.embedding ce
          FROM embeddings a JOIN fin fa ON fa.vec_id = a.vec_id
               JOIN fin fb ON fb.lbl = fa.lbl
               JOIN embeddings b ON b.vec_id = fb.vec_id
          WHERE a.vec_id <> b.vec_id),""" + _MNN_TAIL,
    tags=("similarity", "ann", "mining", "iterative", "pandas_udf"),
)
def mutual_nn_retrained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual nearest neighbours in the RETRAINED k-means cells
    (``lloyd.train_assignments``) instead of the shipped class labels,
    which are not proximity cells (corpus-wide mutual-NN recall ~5% at
    sf0.001); the oracle reruns the same training as a recursive CTE."""
    fin, _ = train_assignments(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").join(
        fin.select("vec_id", F.col("lbl").alias("cell")), "vec_id")
    # Norms from the base table: a vector's norm is independent of its
    # cell, and this branch skips a second evaluation of the assignment
    # join.
    nrm = norms(load_table(spark, sf_dir, "embeddings"))
    return _mutual_pairs(sims_from_dots(_cell_pair_dots(emb, "cell"), nrm))


@register(
    "hard_negative_mining",
    oracle=f"""
WITH {PROBES_DUCK},
{NORMS_DUCK},
pairs AS (SELECT qid, qlabel, vec_id cid, e.label clabel, qe, embedding ce
          FROM q, embeddings e WHERE e.vec_id <> qid),
{DOT_DUCK.strip()},
sims AS (SELECT p.qid, p.qlabel, p.cid, p.clabel,
                round(d.dot / (nq.nrm * nc.nrm), 6) AS sim
         FROM (SELECT DISTINCT qid, qlabel, cid, clabel FROM pairs) p
         JOIN dots d ON d.qid = p.qid AND d.cid = p.cid
         JOIN norms nq ON nq.vec_id = p.qid
         JOIN norms nc ON nc.vec_id = p.cid),
neg AS (SELECT qid, cid AS hn_cid, sim AS hn_sim FROM
          (SELECT qid, cid, sim,
                  row_number() OVER (PARTITION BY qid
                                     ORDER BY sim DESC, cid) rn
           FROM sims WHERE clabel <> qlabel)
        WHERE rn = 1),
pos AS (SELECT qid, cid AS np_cid, sim AS np_sim FROM
          (SELECT qid, cid, sim,
                  row_number() OVER (PARTITION BY qid
                                     ORDER BY sim DESC, cid) rn
           FROM sims WHERE clabel = qlabel)
        WHERE rn = 1)
SELECT n.qid, n.hn_cid, n.hn_sim, p.np_cid, p.np_sim,
       round(p.np_sim - n.hn_sim, 6) AS margin
FROM neg n JOIN pos p ON p.qid = n.qid
ORDER BY n.qid""",
    tags=("similarity", "contrastive", "mining"),
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per probe: the most similar vector with a DIFFERENT label (the
    hard negative a contrastive loss learns most from), the nearest
    same-label positive, and their margin; near-zero or negative margins
    flag probes whose cell is unreliable. Margins subtract already
    rounded sims, so the engines agree exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = probes(emb, 100, 6400, cell="label")
    cand = candidates(emb, F.col("label").alias("clabel"))
    sims = (sims_from_dots(bcast_query_dots(q, cand), norms(emb))
            .join(F.broadcast(q.select("qid", "qlabel")), "qid")
            .join(cand.select("cid", "clabel"), "cid"))
    # One window over (qid, is_pos) picks the hardest negative AND the
    # nearest positive in one corpus pass; the <= 2|Q| survivors are
    # checkpointed before the self-join.
    w = W.partitionBy("qid", "is_pos").orderBy(F.desc("sim"), "cid")
    top = (sims.withColumn(
               "is_pos", F.col("clabel") == F.col("qlabel"))
           .withColumn("rn", F.row_number().over(w)).filter("rn = 1")
           .select("qid", "is_pos", "cid", "sim")
           .localCheckpoint(eager=True))
    neg = (top.filter(~F.col("is_pos"))
           .select("qid", F.col("cid").alias("hn_cid"),
                   F.col("sim").alias("hn_sim")))
    pos = (top.filter(F.col("is_pos"))
           .select("qid", F.col("cid").alias("np_cid"),
                   F.col("sim").alias("np_sim")))
    return (neg.join(pos, "qid")
            .select("qid", "hn_cid", "hn_sim", "np_cid", "np_sim",
                    F.round(F.col("np_sim") - F.col("hn_sim"), 6)
                    .alias("margin"))
            .orderBy("qid"))


_THRESHOLD = 0.30  # driver testdata embeddings are near-orthogonal; 0.30
                   # sits at ~p99 of within-cell cosine, so drops are real
                   # but survivors dominate (the regime SemDeDup targets).


def _dedup_cell(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("vec_id").reset_index(drop=True)
    X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    n = len(pdf)
    nrm = np.sqrt(lattice_products(X, X).sum(axis=1).astype(np.float64))
    dropped = np.zeros(n, dtype=bool)
    for i in range(1, n):
        # greedy against all earlier ids (the oracle's EXISTS-earlier rule)
        dots = lattice_products(X[:i], X[i]).sum(axis=1).astype(np.float64)
        if (dots / (nrm[:i] * nrm[i]) >= _THRESHOLD).any():
            dropped[i] = True
    first_dropped = (int(pdf.loc[dropped, "vec_id"].min())
                     if dropped.any() else None)
    return pd.DataFrame({
        "label": [int(pdf["label"].iloc[0])],
        "n_vecs": [n],
        "n_survivors": [int(n - dropped.sum())],
        "n_dropped": [int(dropped.sum())],
        "first_dropped_vec_id": [first_dropped],
    })


@register(
    "semdedup_survivors",
    oracle=f"""
WITH norms AS (
  SELECT vec_id,
         sqrt(cast(sum(cast(floor(cast(x AS double) * cast(x AS double)
                                  * {10 ** 12}) AS bigint)) AS double)) AS nrm
  FROM (SELECT vec_id, unnest(embedding) x FROM embeddings)
  GROUP BY vec_id),
pairs AS (
  SELECT a.label, a.vec_id qid, b.vec_id cid, a.embedding qe, b.embedding ce
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id),
dots AS (
  SELECT label, qid, cid,
         cast(sum(cast(floor(cast(x AS double) * cast(y AS double)
                             * {10 ** 12}) AS bigint)) AS double) AS dot
  FROM (SELECT label, qid, cid, unnest(qe) x, unnest(ce) y FROM pairs)
  GROUP BY label, qid, cid),
dropped AS (
  SELECT DISTINCT d.label, d.cid
  FROM dots d
  JOIN norms n1 ON n1.vec_id = d.qid
  JOIN norms n2 ON n2.vec_id = d.cid
  WHERE d.dot / (n1.nrm * n2.nrm) >= {_THRESHOLD}),
base AS (
  SELECT e.label, e.vec_id, dr.cid AS dropped_id
  FROM embeddings e
  LEFT JOIN dropped dr ON dr.label = e.label AND dr.cid = e.vec_id)
SELECT label,
       count(*) AS n_vecs,
       cast(count(*) - count(dropped_id) AS bigint) AS n_survivors,
       cast(count(dropped_id) AS bigint) AS n_dropped,
       min(dropped_id) AS first_dropped_vec_id
FROM base GROUP BY label ORDER BY label""",
    tags=("dedup", "embeddings", "semdedup"),
)
def semdedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster SemDeDup summary (Abbas et al. 2023, arXiv:2303.09540):
    vectors in the cell, survivors after greedy earlier-id cosine dedup
    at 0.30, and the first dropped id (which vectors dropped, not just
    how many). Dedup runs only within a label cell, O(N^2 / k) over k
    cells: one applyInPandas task per cell, nothing global."""
    e = load_table(spark, sf_dir, "embeddings")
    return (e.select("label", "vec_id", "embedding")
            .groupBy("label")
            .applyInPandas(_dedup_cell,
                           "label int, n_vecs bigint, n_survivors bigint, "
                           "n_dropped bigint, first_dropped_vec_id bigint")
            .orderBy("label"))
