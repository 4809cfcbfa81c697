"""Product quantization (PQ) encode + distortion audit — the memory side
of billion-scale ANN (Jégou, Douze & Schmid, TPAMI 2011): split the
64-dim embedding into m = 8 subspaces of 8 dims, quantize each
sub-vector to its nearest sub-codebook centroid, and measure what the
8-byte code costs in squared error. The IVF family in similarity.py /
quantizer_train.py answers "which cells to probe"; PQ answers "how do a
billion vectors fit in RAM" — together they are the IVF-PQ layout every
production vector store runs at 100 TB.

Codebooks: the 10 label-cell centroids restricted to each subspace (the
same shipped-label cells the IVF queries use — no training loop here;
quantizer_train.py owns that story). All distance arithmetic rides the
exact floor(x*1e4) lattice of quantizer.py: per (vector, subspace, code)
the squared distance is sum_k (qv_k*n - s_k)^2 — an exact integer —
compared as (int/n^2) doubles with ties to the smallest code, so both
engines pick identical codes. Per-vector distortion is then carried as
floor(d_int * 1e6 / n^2) — an exact 128-bit integer (the stats.moments
fixed-point discipline), so the subspace SUM is order-insensitive
integer addition and the reported average is one final division.

Scale stance (100 TB): the codebook is 10 codes x 8 subspaces x 8 dims
— KBs, broadcast; encoding is a map-side expansion (x codes) + one
combinable min-struct aggregate per (vector, subspace); the audit output
is subspace-cardinality. No shuffle touches anything vector-count-sized
except the one groupBy(vec, sub) whose key count is 8N with tiny rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..registry import register
from ..tables import load_table

_M = 8                  # subspaces
_DSUB = 64 // _M        # dims per subspace
_SCALE = 10 ** 6        # distortion fixed-point lattice


def _oracle() -> str:
    return f"""
WITH qd AS (
  SELECT vec_id, label,
         (generate_subscripts(embedding, 1) - 1) // {_DSUB} AS sub,
         generate_subscripts(embedding, 1) - 1 AS k,
         cast(floor(cast(unnest(embedding) AS double) * 1e4) AS bigint)
           AS qv
  FROM embeddings),
cb AS (
  SELECT label AS code, sub, k, sum(qv) AS s, count(*) AS n
  FROM qd GROUP BY 1, 2, 3),
dist AS (
  SELECT q.vec_id, q.sub, c.code,
         sum(cast(q.qv * c.n - c.s AS hugeint) * (q.qv * c.n - c.s))
           AS d_int,
         max(c.n) AS n
  FROM qd q JOIN cb c ON c.sub = q.sub AND c.k = q.k
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
         AS avg_sq_err
FROM scaled GROUP BY 1 ORDER BY 1"""


def pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, sub, code, d_int, n): every vector's per-subspace PQ code
    (nearest label-cell sub-centroid on the exact lattice) with the exact
    integer squared distance and the cell size — the encode stage shared
    by the distortion audit below and the ADC recall query."""
    emb = load_table(spark, sf_dir, "embeddings")
    dec = "decimal(38,0)"
    qd = (emb.select("vec_id", F.col("label").cast("int").alias("label"),
                     F.posexplode(F.expr(
                         "transform(embedding, x -> cast(floor("
                         "cast(x as double) * 1e4) as bigint))"))
                     .alias("k", "qv"))
          .withColumn("sub", F.expr(f"k div {_DSUB}")))
    cb = (qd.groupBy(F.col("label").alias("code"), "sub", "k")
          .agg(F.sum("qv").alias("s"), F.count(F.lit(1)).alias("n")))
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


def pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(code, sub, k, s, n): the label-cell sub-centroid sufficient
    stats (codes x subspaces x dims rows — broadcastable KBs)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qd = (emb.select("vec_id", F.col("label").cast("int").alias("label"),
                     F.posexplode(F.expr(
                         "transform(embedding, x -> cast(floor("
                         "cast(x as double) * 1e4) as bigint))"))
                     .alias("k", "qv"))
          .withColumn("sub", F.expr(f"k div {_DSUB}")))
    return (qd.groupBy(F.col("label").alias("code"), "sub", "k")
            .agg(F.sum("qv").alias("s"), F.count(F.lit(1)).alias("n")))


@register(
    "pq_code_distortion",
    oracle=_oracle(),
    tags=("similarity", "ann", "quantization", "scale-pattern"),
)
def pq_code_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(subspace, n_vecs, n_codes_used, avg_sq_err): product-quantization
    audit — each sub-vector encoded to the nearest label-cell sub-centroid
    on the exact integer lattice; average squared reconstruction error
    per subspace from order-insensitive fixed-point sums (module
    docstring)."""
    dec = "decimal(38,0)"
    best = pq_codes(spark, sf_dir)
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
            .orderBy("subspace"))


_NQ_MOD, _NQ_MAX = 100, 6400    # probe-set rule shared with ann_recall_*
_K = 5


def _adc_oracle() -> str:
    from .similarity import _NORMS_DUCK, _SCALE as _DOT_SCALE
    return f"""
WITH qd AS (
  SELECT vec_id, label,
         (generate_subscripts(embedding, 1) - 1) // {_DSUB} AS sub,
         generate_subscripts(embedding, 1) - 1 AS k,
         cast(floor(cast(unnest(embedding) AS double) * 1e4) AS bigint)
           AS qv
  FROM embeddings),
cb AS (
  SELECT label AS code, sub, k, sum(qv) AS s, count(*) AS n
  FROM qd GROUP BY 1, 2, 3),
dist AS (
  SELECT q.vec_id, q.sub, c.code,
         sum(cast(q.qv * c.n - c.s AS hugeint) * (q.qv * c.n - c.s))
           AS d_int,
         max(c.n) AS n
  FROM qd q JOIN cb c ON c.sub = q.sub AND c.k = q.k
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
qset AS (SELECT vec_id AS qid FROM embeddings
         WHERE vec_id % {_NQ_MOD} = 0 AND vec_id < {_NQ_MAX}),
dq AS (  -- per-query ADC lookup table: fixed-point exact integers
  SELECT d.vec_id AS qid, d.sub, d.code,
         (d.d_int * {_SCALE}) // (cast(d.n AS hugeint) * d.n) AS ds
  FROM dist d JOIN qset ON qset.qid = d.vec_id),
adc AS (
  SELECT dq.qid, c.vec_id AS cid, sum(dq.ds) AS adc
  FROM codes c JOIN dq ON dq.sub = c.sub AND dq.code = c.code
  WHERE c.vec_id <> dq.qid
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
    "pq_adc_recall_at_5",
    oracle=_adc_oracle(),
    tags=("similarity", "ann", "quantization", "evaluation",
          "scale-pattern"),
)
def pq_adc_recall_at_5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(qid, n_hits, recall_at_5): recall of PQ asymmetric distance
    computation (ADC — Jegou 2011's query trick: ONE exact
    query-to-centroid lookup table of codes x subspaces fixed-point
    integers per query, then every database vector scores as m table
    lookups summed) against exact brute-force cosine top-5. The quality
    dial of the 8-byte-code memory trade measured as data — the
    companion of pq_code_distortion's geometric error and the
    ann_recall_* family's IVF dial.

    Scale stance: the per-query lookup table is |Q| x m x k fixed-point
    integers (broadcast); the scan side touches only the N x m code
    table (bytes per vector, the whole point of PQ) in one equi-join +
    combinable sum — never the raw embeddings. ADC sums are exact
    integers (floor(d_int * 1e6 / n^2) per cell, the pq11 lattice), so
    rankings are deterministic cross-engine."""
    from .similarity import (_bcast_query_dots, _norms, _ranked_topk,
                             _sims_from_dots)
    dec = "decimal(38,0)"
    emb = load_table(spark, sf_dir, "embeddings")
    codes = pq_codes(spark, sf_dir)          # vec_id, sub, code, d_int, n
    qset = (emb.filter((F.col("vec_id") % _NQ_MOD == 0)
                       & (F.col("vec_id") < _NQ_MAX))
            .select(F.col("vec_id").alias("qid")))
    prod = F.col("d_int") * F.lit(_SCALE)
    nsq = F.col("n").cast(dec) * F.col("n")
    # ADC needs the query's distance to EVERY code, not just its argmin:
    # rebuild the (qid, sub, code, ds) table from the codebook.
    cb = pq_codebook(spark, sf_dir)
    qd = (emb.join(F.broadcast(qset), emb.vec_id == qset.qid)
          .select("qid", F.posexplode(F.expr(
              "transform(embedding, x -> cast(floor("
              "cast(x as double) * 1e4) as bigint))")).alias("k", "qv"))
          .withColumn("sub", F.expr(f"k div {_DSUB}")))
    t = F.col("qv") * F.col("n") - F.col("s")
    dq = (qd.join(F.broadcast(cb), ["sub", "k"])
          .groupBy("qid", "sub", "code")
          .agg(F.sum(t.cast(dec) * t).alias("d_int"),
               F.max("n").alias("n"))
          .select("qid", "sub", "code",
                  ((prod - prod % nsq) / nsq).cast(dec).alias("ds")))
    adc = (codes.select(F.col("vec_id").alias("cid"), "sub", "code")
           .join(F.broadcast(dq), ["sub", "code"])
           .filter(F.col("cid") != F.col("qid"))
           .groupBy("qid", "cid").agg(F.sum("ds").alias("adc")))
    wq = W.partitionBy("qid").orderBy("adc", "cid")
    adc5 = (adc.withColumn("rn", F.row_number().over(wq))
            .filter(F.col("rn") <= _K).select("qid", "cid"))
    norms = _norms(emb)
    q = (emb.join(F.broadcast(qset), emb.vec_id == qset.qid)
         .select("qid", F.col("embedding").alias("qe")))
    cand = emb.select(F.col("vec_id").alias("cid"),
                      F.col("embedding").alias("ce"))
    exact5 = (_ranked_topk(
        _sims_from_dots(_bcast_query_dots(q, cand), norms), _K)
        .select("qid", "cid"))
    hits = (adc5.join(exact5, ["qid", "cid"])
            .groupBy("qid").agg(F.count(F.lit(1)).alias("n_hits")))
    return (qset.join(hits, "qid", "left")
            .select("qid",
                    F.coalesce("n_hits", F.lit(0)).cast("long")
                    .alias("n_hits"),
                    F.round(F.coalesce("n_hits", F.lit(0)) / float(_K), 6)
                    .alias(f"recall_at_{_K}"))
            .orderBy("qid"))


def _ivfpq_oracle() -> str:
    from .similarity import _NORMS_DUCK, _SCALE as _DOT_SCALE
    return f"""
WITH qd AS (
  SELECT vec_id, label,
         (generate_subscripts(embedding, 1) - 1) // {_DSUB} AS sub,
         generate_subscripts(embedding, 1) - 1 AS k,
         cast(floor(cast(unnest(embedding) AS double) * 1e4) AS bigint)
           AS qv
  FROM embeddings),
cb AS (
  SELECT label AS code, sub, k, sum(qv) AS s, count(*) AS n
  FROM qd GROUP BY 1, 2, 3),
dist AS (
  SELECT q.vec_id, q.sub, c.code,
         sum(cast(q.qv * c.n - c.s AS hugeint) * (q.qv * c.n - c.s))
           AS d_int,
         max(c.n) AS n
  FROM qd q JOIN cb c ON c.sub = q.sub AND c.k = q.k
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
adc AS (  -- IVF prune first: only candidates in the query's cell
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
    "ivf_pq_recall_at_5",
    oracle=_ivfpq_oracle(),
    tags=("similarity", "ann", "quantization", "evaluation",
          "scale-pattern"),
)
def ivf_pq_recall_at_5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(qid, n_hits, recall_at_5): the FULL production ANN query path —
    IVF cell pruning (probe the query's label cell) followed by PQ
    asymmetric-distance ranking of the surviving byte codes — graded
    against exact brute-force cosine top-5. The end-to-end loss of the
    billion-scale layout (cell-miss + quantization together), next to
    the isolated dials: ann_recall_mrr_by_nprobe (cell-miss alone) and
    pq_adc_recall_at_5 (quantization alone).

    Scale stance: the scan side touches ONLY the cell-pruned code table
    (bytes per vector); the per-query lookup table is codes x subspaces
    fixed-point integers, broadcast; exact ground truth is the fixed 1%
    probe set against numpy-batched dots (the existing harness)."""
    from .similarity import (_bcast_query_dots, _norms, _ranked_topk,
                             _sims_from_dots)
    dec = "decimal(38,0)"
    emb = load_table(spark, sf_dir, "embeddings")
    codes = pq_codes(spark, sf_dir)
    qset = (emb.filter((F.col("vec_id") % _NQ_MOD == 0)
                       & (F.col("vec_id") < _NQ_MAX))
            .select(F.col("vec_id").alias("qid"),
                    F.col("label").alias("qlabel")))
    cb = pq_codebook(spark, sf_dir)
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
