"""Quantizers and what they cost: the k-means Lloyd step and training to
convergence (the IVF coarse cells), product quantization against the
label cells and against trained codebooks (the memory side of
billion-scale ANN, Jegou, Douze & Schmid, TPAMI 2011), ADC recall, and
the JL random-sign projection.

PQ splits the 64-dim embedding into 8 subspaces of 8 dims and encodes
each sub-vector to its nearest sub-centroid (``lloyd.encode``); an
8-byte code then stands for the vector. The distortion audits report the
mean squared reconstruction error per subspace on the 1e6 fixed point;
ADC (asymmetric distance computation) scores every database vector as 8
lookups in one per-query table of distances to every code, and is graded
against the exact top-5 of the same probe set. Codebooks are KB-sized
and broadcast; the scan side touches the N x 8 code table.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ...registry import register
from ...tables import load_table
from .kernels import (CENTROIDS_DUCK, DOT_SCALE, EXACT_DOTS_DUCK,
                      NORMS_DUCK, RECALL_DUCK, candidates, cell_dists,
                      cell_topk, dot_int64, dots_duck, exact_topk,
                      nearest_cells, norms, probes, recall_at_k, topk_duck)
from .lloyd import (ASSIGN_CTE, DIST_SCALE, PQ_DSUB, SUB_ASSIGN_CTE,
                    codebook, code_dists, encode, fixed_point, label_codebook,
                    lattice_dims, train_assignments, train_codebook)

_LLOYD_ORACLE = f"""
WITH {CENTROIDS_DUCK}
qd AS (SELECT vec_id AS qid, label AS old_label, k,
              cast(floor(cast(x as double) * 1e4) as bigint) AS qv
       FROM (SELECT vec_id, label, unnest(embedding) x,
                    generate_subscripts(embedding, 1) k FROM embeddings)),
dist AS (SELECT qid, old_label, cs.label,
                cast(sum(cast(qv * n - s as hugeint) * (qv * n - s))
                     as double) / (cast(n as double) * n) AS dist
         FROM qd JOIN cs USING (k) GROUP BY qid, old_label, cs.label, n),
assign AS (SELECT qid, old_label, label AS new_label FROM
             (SELECT qid, old_label, label,
                     row_number() OVER (PARTITION BY qid
                                        ORDER BY dist, label) rn
              FROM dist) WHERE rn = 1)
SELECT new_label,
       cast(count(*) AS bigint) AS n_next,
       cast(sum(CASE WHEN new_label = old_label THEN 1 ELSE 0 END)
            AS bigint) AS n_stay,
       cast(sum(CASE WHEN new_label <> old_label THEN 1 ELSE 0 END)
            AS bigint) AS n_moved_in
FROM assign GROUP BY new_label ORDER BY new_label"""


@register(
    "kmeans_lloyd_step",
    oracle=_LLOYD_ORACLE,
    tags=("similarity", "clustering", "iterative"),
)
def kmeans_lloyd_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact Lloyd iteration over the embeddings' current cells (the
    ``label`` column): recompute every cell centroid, reassign every
    vector to its nearest centroid, and report the per-cell transition
    summary (size after, stayers, movers-in). The centroid table is
    cells x dims sums and broadcasts, as MLlib's k-means iterates."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(F.col("vec_id").alias("qid"),
                   F.col("label").alias("old_label"),
                   F.col("embedding").alias("qe"))
    assign = (nearest_cells(cell_dists(q, emb, "qid", "old_label"), 1)
              .select("qid", "old_label", F.col("label").alias("new_label")))
    return (assign.groupBy("new_label")
            .agg(F.count(F.lit(1)).alias("n_next"),
                 F.sum(F.when(F.col("new_label") == F.col("old_label"), 1)
                       .otherwise(0)).cast("bigint").alias("n_stay"),
                 F.sum(F.when(F.col("new_label") != F.col("old_label"), 1)
                       .otherwise(0)).cast("bigint").alias("n_moved_in"))
            .orderBy("new_label"))


@register(
    "kmeans_train_converged",
    oracle=f"""
WITH RECURSIVE {ASSIGN_CTE}
SELECT f.lbl AS label,
       cast(count(DISTINCT f.vec_id) AS bigint) AS n_vecs,
       cast(sum(q.qv) AS bigint) AS coord_sum_scaled,
       cast((SELECT max(t) FROM it) AS bigint) AS n_rounds
FROM fin f JOIN qd q ON q.vec_id = f.vec_id
GROUP BY f.lbl ORDER BY f.lbl""",
    tags=("similarity", "clustering", "iterative", "convergence"),
)
def kmeans_train_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full k-means training: Lloyd from the shipped cells until zero
    vectors move, reported as the final per-cell summary (size, scaled
    coordinate checksum) plus the CONVERGENCE ROUND COUNT, which the
    recursive oracle discovers independently: a green row proves the
    training stopped at exactly the right round."""
    fin, n_rounds = train_assignments(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    qv = (emb.select("vec_id", F.explode("embedding").alias("x"))
          .select("vec_id", F.floor(F.col("x").cast("double") * 1e4)
                  .cast("long").alias("qv")))
    return (fin.join(qv, "vec_id")
            .groupBy("lbl")
            .agg(F.countDistinct("vec_id").alias("n_vecs"),
                 F.sum("qv").alias("coord_sum_scaled"))
            .select(F.col("lbl").alias("label"), "n_vecs",
                    "coord_sum_scaled",
                    F.lit(n_rounds).cast("bigint").alias("n_rounds"))
            .orderBy("label"))


@register(
    "ann_recall_retrained",
    oracle=f"""
WITH RECURSIVE {ASSIGN_CTE},
q AS (SELECT e.vec_id qid, f.lbl qlabel, e.embedding qe
      FROM embeddings e JOIN fin f ON f.vec_id = e.vec_id
      WHERE e.vec_id % 100 = 0 AND e.vec_id < 6400),
{NORMS_DUCK},
{EXACT_DOTS_DUCK},
{topk_duck("exact5", "dots_x", "rank <= 5")},
pairs_i AS (SELECT qid, e.vec_id cid, qe, e.embedding ce
            FROM q JOIN fin fc ON fc.lbl = q.qlabel
                 JOIN embeddings e ON e.vec_id = fc.vec_id
            WHERE e.vec_id <> q.qid),
{dots_duck("dots_i", "pairs_i")},
{topk_duck("ivf5", "dots_i", "rank <= 5", indent=11)},
{RECALL_DUCK}""",
    tags=("similarity", "ann", "evaluation", "iterative"),
)
def ann_recall_retrained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of IVF nprobe=1 probing the RETRAINED cells (converged
    k-means above) against the exact top-5: whether retraining improved
    the index before swapping it in. Same contract as
    ann_ivf_recall_at_k, cells swapped."""
    fin, _ = train_assignments(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    nrm = norms(emb)
    q = probes(emb.join(fin, "vec_id"), 100, 6400, cell="lbl")
    exact5 = exact_topk(q, candidates(emb), nrm, 5).select("qid", "cid")
    ivf5 = (cell_topk(q, candidates(emb.join(fin, "vec_id"), "lbl"), nrm, 5,
                      cell="lbl")
            .select("qid", "cid"))
    return recall_at_k(q.select("qid"), ivf5, exact5, 5)


# ------------------------------------------------- product quantization

_NQ_MOD, _NQ_MAX = 100, 6400    # the probe set of the recall queries
_K = 5

_PQ_HEAD = f"""
WITH qd AS (
  SELECT vec_id, label,
         (generate_subscripts(embedding, 1) - 1) // {PQ_DSUB} AS sub,
         generate_subscripts(embedding, 1) - 1 AS k,
         cast(floor(cast(unnest(embedding) AS double) * 1e4) AS bigint)
           AS qv
  FROM embeddings),
cb AS (
  SELECT label AS code, sub, k, sum(qv) AS s, count(*) AS n
  FROM qd GROUP BY 1, 2, 3),"""

_TRAINED_HEAD = f"""
WITH RECURSIVE {SUB_ASSIGN_CTE},"""


def _dist_duck(src: str) -> str:
    return f"""
dist AS (
  SELECT q.vec_id, q.sub, c.code,
         sum(cast(q.qv * c.n - c.s AS hugeint) * (q.qv * c.n - c.s))
           AS d_int,
         max(c.n) AS n
  FROM {src}
  GROUP BY 1, 2, 3),"""


_LABEL_DIST = _dist_duck("qd q JOIN cb c ON c.sub = q.sub AND c.k = q.k")
_TRAINED_DIST = _dist_duck(f"""qd2 q JOIN cb2 c ON c.sub = q.sub
                       AND c.k = q.sub * {PQ_DSUB} + q.kk""")


def _best_duck(cols: str, name: str = "best") -> str:
    return f"""
{name} AS (
  SELECT {cols} FROM (
    SELECT {cols},
           row_number() OVER (
             PARTITION BY vec_id, sub
             ORDER BY cast(d_int AS double) / (cast(n AS double) * n),
                      code) AS rn
    FROM dist)
  WHERE rn = 1),"""


_DISTORTION = _best_duck("vec_id, sub, code, d_int, n") + f"""
scaled AS (
  SELECT vec_id, sub, code,
         (d_int * {DIST_SCALE}) // (cast(n AS hugeint) * n) AS ds
  FROM best)
SELECT sub AS subspace,
       cast(count(*) AS bigint) AS n_vecs,
       cast(count(DISTINCT code) AS bigint) AS n_codes_used,
       round(cast(sum(ds) AS double) / count(*) / {DIST_SCALE} / 1e8, 6)
         AS avg_sq_err"""

_IVF_ADC = """
  SELECT dq.qid, c.vec_id AS cid, sum(dq.ds) AS adc
  FROM codes c
  JOIN embeddings el ON el.vec_id = c.vec_id
  JOIN qset qs ON qs.qlabel = el.label
  JOIN dq ON dq.qid = qs.qid AND dq.sub = c.sub AND dq.code = c.code
  WHERE c.vec_id <> qs.qid
  GROUP BY 1, 2),"""


_ADC_TAIL = f"""
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
                                    * {DOT_SCALE}) AS bigint)) AS double)
                  AS dot
         FROM (SELECT qid, cid, unnest(qe) x, unnest(ce) y FROM pairs)
         GROUP BY 1, 2),
{NORMS_DUCK},
{topk_duck("exact5", "dots", f"rank <= {_K}", rank="AS rank")},
hits AS (SELECT a.qid, count(*) AS n_hits
         FROM adc5 a JOIN exact5 x ON x.qid = a.qid AND x.cid = a.cid
         GROUP BY 1)
SELECT q.qid, cast(coalesce(h.n_hits, 0) AS bigint) AS n_hits,
       round(coalesce(h.n_hits, 0) / {_K}.0, 6) AS recall_at_{_K}
FROM qset q LEFT JOIN hits h ON h.qid = q.qid
ORDER BY q.qid"""


def _adc_oracle(head: str, qlabel: str, dq_note: str, adc: str) -> str:
    """ADC recall@5: the codes of CTE dist (``head``), the per-probe
    lookup table, ADC top-5 by the ``adc`` CTE body, exact top-5."""
    return head + _best_duck("vec_id, sub, code", name="codes") + f"""
qset AS (SELECT vec_id AS qid{qlabel} FROM embeddings
         WHERE vec_id % {_NQ_MOD} = 0 AND vec_id < {_NQ_MAX}),
dq AS ({dq_note}
  SELECT d.vec_id AS qid, d.sub, d.code,
         (d.d_int * {DIST_SCALE}) // (cast(d.n AS hugeint) * d.n) AS ds
  FROM dist d JOIN qset ON qset.qid = d.vec_id),
adc AS ({adc}""" + _ADC_TAIL


def _distortion(best: DataFrame) -> DataFrame:
    return (best.select("vec_id", "sub", "code", fixed_point())
            .groupBy(F.col("sub").alias("subspace"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_vecs"),
                 F.countDistinct("code").cast("long")
                 .alias("n_codes_used"),
                 F.round(F.sum("ds").cast("double") / F.count(F.lit(1))
                         / DIST_SCALE / 1e8, 6).alias("avg_sq_err")))


def _label_pq(emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(codes, codebook) of PQ against the label cells: each vector's
    per-subspace nearest label-cell sub-centroid."""
    qd = lattice_dims(emb, PQ_DSUB, "vec_id",
                      F.col("label").cast("int").alias("label"))
    cb = label_codebook(qd)
    return encode(qd, cb), cb


def _trained_pq(spark: SparkSession, emb: DataFrame, stats: list
                ) -> tuple[DataFrame, DataFrame]:
    cb = codebook(spark, stats, PQ_DSUB)
    return encode(lattice_dims(emb, PQ_DSUB, "vec_id"), cb), cb


def _adc_recall(emb: DataFrame, codes: DataFrame, cb: DataFrame,
                ivf: bool) -> DataFrame:
    """(qid, n_hits, recall_at_5): the ADC top-5 of each probe (within
    its label cell when ``ivf``) graded against its exact top-5."""
    qset = (emb.filter((F.col("vec_id") % _NQ_MOD == 0)
                       & (F.col("vec_id") < _NQ_MAX))
            .select(F.col("vec_id").alias("qid"),
                    *([F.col("label").alias("qlabel")] if ivf else [])))
    probe_rows = emb.join(F.broadcast(qset), emb.vec_id == qset.qid)
    # ADC needs each probe's distance to EVERY code, not just its argmin.
    dq = (code_dists(lattice_dims(probe_rows, PQ_DSUB, "qid"), cb, key="qid")
          .select("qid", "sub", "code", fixed_point()))
    if ivf:
        adc = (codes.join(emb.select(F.col("vec_id"), "label"), "vec_id")
               .join(F.broadcast(qset),
                     (F.col("label") == F.col("qlabel"))
                     & (F.col("vec_id") != F.col("qid")))
               .select(F.col("vec_id").alias("cid"), "qid", "sub", "code")
               .join(F.broadcast(dq), ["qid", "sub", "code"]))
    else:
        adc = (codes.select(F.col("vec_id").alias("cid"), "sub", "code")
               .join(F.broadcast(dq), ["sub", "code"])
               .filter(F.col("cid") != F.col("qid")))
    adc5 = (adc.groupBy("qid", "cid").agg(F.sum("ds").alias("adc"))
            .withColumn("rn", F.row_number().over(
                W.partitionBy("qid").orderBy("adc", "cid")))
            .filter(F.col("rn") <= _K).select("qid", "cid"))
    q = probe_rows.select("qid", F.col("embedding").alias("qe"))
    exact5 = (exact_topk(q, candidates(emb), norms(emb), _K)
              .select("qid", "cid"))
    return recall_at_k(qset.select("qid"), adc5, exact5, _K)


@register(
    "pq_code_distortion",
    oracle=_PQ_HEAD + _LABEL_DIST + _DISTORTION + """
FROM scaled GROUP BY 1 ORDER BY 1""",
    tags=("similarity", "ann", "quantization", "scale-pattern"),
)
def pq_code_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(subspace, n_vecs, n_codes_used, avg_sq_err): each sub-vector
    encoded to the nearest label-cell sub-centroid (the codebook the IVF
    cells give for free, no training loop) and the mean squared
    reconstruction error per subspace (module docstring)."""
    codes, _ = _label_pq(load_table(spark, sf_dir, "embeddings"))
    return _distortion(codes).orderBy("subspace")


@register(
    "pq_adc_recall_at_5",
    oracle=_adc_oracle(_PQ_HEAD + _LABEL_DIST, "",
                       "  -- per-query ADC lookup table: fixed-point "
                       "exact integers", """
  SELECT dq.qid, c.vec_id AS cid, sum(dq.ds) AS adc
  FROM codes c JOIN dq ON dq.sub = c.sub AND dq.code = c.code
  WHERE c.vec_id <> dq.qid
  GROUP BY 1, 2),"""),
    tags=("similarity", "ann", "quantization", "evaluation",
          "scale-pattern"),
)
def pq_adc_recall_at_5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(qid, n_hits, recall_at_5): recall of PQ asymmetric distance
    computation against the exact cosine top-5: the quality dial of the
    8-byte-code memory trade, next to pq_code_distortion's geometric
    error and the IVF dial of the ann_recall_* family."""
    emb = load_table(spark, sf_dir, "embeddings")
    codes, cb = _label_pq(emb)
    return _adc_recall(emb, codes, cb, ivf=False)


@register(
    "ivf_pq_recall_at_5",
    oracle=_adc_oracle(_PQ_HEAD + _LABEL_DIST, ", label AS qlabel", "",
                       "  -- IVF prune first: only candidates in the "
                       "query's cell" + _IVF_ADC),
    tags=("similarity", "ann", "quantization", "evaluation",
          "scale-pattern"),
)
def ivf_pq_recall_at_5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(qid, n_hits, recall_at_5): the FULL production ANN path, IVF
    cell pruning followed by PQ ADC ranking of the surviving codes,
    graded against the exact top-5: the end-to-end loss (cell miss and
    quantization together) next to the isolated dials."""
    emb = load_table(spark, sf_dir, "embeddings")
    codes, cb = _label_pq(emb)
    return _adc_recall(emb, codes, cb, ivf=True)


@register(
    "pq_trained_distortion",
    oracle=_TRAINED_HEAD + _TRAINED_DIST + _DISTORTION + """,
       cast((SELECT max(t) FROM it2) AS bigint) AS n_rounds
FROM scaled GROUP BY 1 ORDER BY 1""",
    tags=("similarity", "ann", "quantization", "iterative", "convergence"),
)
def pq_trained_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pq_code_distortion against TRAINED sub-codebooks (per-subspace
    Lloyd from the label cells, ``lloyd``), plus the joint round count:
    the recursive oracle rediscovers both the codebooks and the count,
    so a green row proves the whole training trajectory."""
    stats, n_rounds = train_codebook(spark, sf_dir)
    codes, _ = _trained_pq(spark, load_table(spark, sf_dir, "embeddings"),
                           stats)
    return (_distortion(codes)
            .withColumn("n_rounds", F.lit(n_rounds).cast("long"))
            .orderBy("subspace"))


@register(
    "ivf_pq_trained_recall",
    oracle=_adc_oracle(_TRAINED_HEAD + _TRAINED_DIST, ", label AS qlabel",
                       "", _IVF_ADC),
    tags=("similarity", "ann", "quantization", "evaluation", "iterative"),
)
def ivf_pq_trained_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ivf_pq_recall_at_5 with the PQ stage on TRAINED sub-codebooks:
    the recall side of what training bought, whose geometric side is
    pq_trained_distortion."""
    stats, _ = train_codebook(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    codes, cb = _trained_pq(spark, emb, stats)
    return _adc_recall(emb, codes, cb, ivf=True)


# ------------------------------------------------------ JL projection

_DIMS = 64
_JL_DIMS = 16


def _md5_u64(s: str) -> int:
    """Python replica of DuckDB md5_number_lower / functions.hashing
    md5_u64_spark: little-endian uint64 of the LAST 8 md5 digest bytes."""
    return int.from_bytes(hashlib.md5(s.encode()).digest()[8:16], "little")


# sign(k, j) for source dim k (0-based) and target dim j — fixed constants
# shared verbatim by the Spark expression and the DuckDB oracle.
_SIGNS = [[1 if _md5_u64(f"{k}:{j}") % 2 == 0 else -1
           for k in range(_DIMS)] for j in range(_JL_DIMS)]


def _proj_expr_spark(col: str, j: int) -> str:
    arr = "array(" + ", ".join(str(s) for s in _SIGNS[j]) + ")"
    return (f"aggregate(zip_with({col}, {arr}, (x, s) -> "
            "cast(floor(cast(x as double) * 1e4) as bigint) * s), "
            "cast(0 as bigint), (acc, v) -> acc + v)")


def _proj_expr_duck(col: str, j: int) -> str:
    arr = "[" + ", ".join(str(s) for s in _SIGNS[j]) + "]"
    return (f"list_sum(list_transform(range(1, {_DIMS + 1}), i -> "
            f"cast(floor(cast({col}[i] as double) * 1e4) as bigint) "
            f"* ({arr})[i]))")


def _jl_oracle() -> str:
    proj = ", ".join(
        f"{_proj_expr_duck('embedding', j)} AS p{j}"
        for j in range(_JL_DIMS))
    pdot = " + ".join(f"cast(a.p{j} AS double) * b.p{j}"
                      for j in range(_JL_DIMS))
    return f"""
WITH pr AS (SELECT vec_id, embedding, {proj} FROM embeddings),
n64 AS (SELECT vec_id,
               sqrt(cast(sum(cast(floor(cast(x AS double) * cast(x AS double)
                                        * 1e12) AS bigint)) AS double)) AS nrm
        FROM (SELECT vec_id, unnest(embedding) x FROM embeddings)
        GROUP BY vec_id),
pairs AS (SELECT a.vec_id AS qid, b.vec_id AS cid,
                 a.embedding AS qe, b.embedding AS ce,
                 ({pdot}) / (sqrt({
                     ' + '.join(f'cast(a.p{j} AS double) * a.p{j}'
                                for j in range(_JL_DIMS))})
                   * sqrt({
                     ' + '.join(f'cast(b.p{j} AS double) * b.p{j}'
                                for j in range(_JL_DIMS))})) AS cos16
          FROM pr a JOIN pr b ON b.vec_id = a.vec_id + 1
          WHERE a.vec_id % 20 = 0),
d64 AS (SELECT qid, cid, cos16,
               cast(sum(cast(floor(cast(x AS double) * cast(y AS double)
                                   * 1e12) AS bigint)) AS double) AS dot
        FROM (SELECT qid, cid, cos16, unnest(qe) x, unnest(ce) y FROM pairs)
        GROUP BY qid, cid, cos16)
SELECT qid, cid,
       round(dot / (na.nrm * nb.nrm), 6) AS cos64,
       round(cos16, 6) AS cos16,
       round(abs(dot / (na.nrm * nb.nrm) - cos16), 6) AS abs_err
FROM d64 JOIN n64 na ON na.vec_id = qid JOIN n64 nb ON nb.vec_id = cid
ORDER BY qid"""


@register(
    "jl_projection_distortion",
    oracle=_jl_oracle(),
    tags=("similarity", "dimensionality-reduction"),
)
def jl_projection_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss audit: project 64-dim embeddings to 16 dims
    with a fixed +-1 sign matrix (sign(k, j) = +1 iff md5_u64("k:j") is
    even, baked in as literal arrays at plan time), then MEASURE the
    per-pair cosine distortion |cos64 - cos16| on adjacent-id pairs:
    the evidence that gates running dedup/ANN on the 4x-cheaper sketch.
    The projection is a map-side zip_with fold; only the pair join
    exchanges."""
    emb = load_table(spark, sf_dir, "embeddings")
    pr = emb.select(
        "vec_id", "embedding",
        *[F.expr(_proj_expr_spark("embedding", j)).alias(f"p{j}")
          for j in range(_JL_DIMS)])
    pnorm = lambda pfx: F.sqrt(sum(  # noqa: E731
        F.col(f"{pfx}p{j}").cast("double") * F.col(f"{pfx}p{j}")
        for j in range(_JL_DIMS)))
    a = pr.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"),
        *[F.col(f"p{j}").alias(f"ap{j}") for j in range(_JL_DIMS)])
    b = pr.select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce"),
        *[F.col(f"p{j}").alias(f"bp{j}") for j in range(_JL_DIMS)])
    pdot = sum(F.col(f"ap{j}").cast("double") * F.col(f"bp{j}")
               for j in range(_JL_DIMS))
    pairs = (a.join(b, F.col("cid") == F.col("qid") + 1)
             .withColumn("cos16", pdot / (pnorm("a") * pnorm("b"))))
    n64 = norms(emb)
    d64 = pairs.select(
        "qid", "cid", "cos16",
        dot_int64("qe", "ce").cast("double").alias("dot"))
    return (d64
            .join(F.broadcast(n64.select(F.col("vec_id").alias("qid"),
                                         F.col("nrm").alias("na"))), "qid")
            .join(F.broadcast(n64.select(F.col("vec_id").alias("cid"),
                                         F.col("nrm").alias("nb"))), "cid")
            .select("qid", "cid",
                    F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6)
                     .alias("cos64"),
                    F.round("cos16", 6).alias("cos16"),
                    F.round(F.abs(F.col("dot") / (F.col("na") * F.col("nb"))
                                  - F.col("cos16")), 6).alias("abs_err"))
            .orderBy("qid"))
