"""Similarity search over the ``embeddings`` table (array<float>, 64-dim):
brute-force cosine top-k (exactness baseline), IVF-style bucketed ANN (the
scale path), and sign-LSH embedding near-dup detection.

Cross-engine determinism without giving up speed: every pairwise product of
float32 values is exact in float64; multiplying by 1e12 and flooring yields an
exact int64, and integer sums are order-independent. So Spark (numpy or JVM
fold), and the DuckDB oracle produce bit-identical scaled dots/norms, and
cosine = dot / (sqrt(n1)*sqrt(n2)) — the 1e12 scales cancel — is the same
IEEE double everywhere.

Scale design (100 TB stance):
- The brute-force path runs the candidate scan through mapInPandas + numpy
  (Arrow batches, C-speed matmul per batch) against a small broadcast query
  matrix — the vectorized-UDF case where Python beats per-element JVM lambda
  folds by ~10x. Candidates stream batch-by-batch; nothing materializes.
- The ANN variant prunes candidates to the query's coarse partition
  (label = offline k-means cell, trained by label_centroids), i.e. IVF with
  nprobe=1: candidate lists shrink by the cell count.
- Top-k per query is row_number over a window partitioned by query id — a
  partial sort, never a global one. Ranking happens on ROUNDED similarity
  (6 dp) with vec_id tiebreak, so float noise cannot reorder.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..cache import cached
from ..registry import register
from ..tables import load_table

_SCALE = "1e12"


def _query_block_broadcast(spark: SparkSession,
                           qids: list[int], qvecs: list[list[float]]):
    """SparkContext broadcast of a collected query block, cached by
    content: repeated calls on the same dataset reuse ONE broadcast, and
    the cache unpersists it on eviction."""
    digest = hashlib.md5(np.asarray(qids, dtype=np.int64).tobytes()
                         + np.asarray(qvecs, dtype=np.float64).tobytes())
    return cached(spark, ("query_block", digest.hexdigest()),
                  lambda: spark.sparkContext.broadcast((qids, qvecs)))


# int64-scaled dot: floor(x*y*1e12) summed — order-independent, exact.
_DOT_INT_SPARK = (
    "aggregate(zip_with({a}, {b}, (x, y) -> "
    "cast(floor(cast(x as double) * cast(y as double) * " + _SCALE + ") as bigint)), "
    "cast(0 as bigint), (acc, v) -> acc + v)"
)

# DuckDB: unnest of two lists in one SELECT zips them positionally.
_NORMS_DUCK = f"""
norms AS (SELECT vec_id,
                 sqrt(cast(sum(cast(floor(cast(x AS double) * cast(x AS double)
                                          * {_SCALE}) AS bigint)) AS double)) AS nrm
          FROM (SELECT vec_id, unnest(embedding) x FROM embeddings)
          GROUP BY vec_id)
"""

_DOT_DUCK = f"""
dots AS (SELECT qid, cid,
                cast(sum(cast(floor(cast(x AS double) * cast(y AS double)
                                    * {_SCALE}) AS bigint)) AS double) AS dot
         FROM (SELECT qid, cid, unnest(qe) x, unnest(ce) y FROM pairs)
         GROUP BY qid, cid)
"""


def dot_int64(a: str, b: str) -> F.Column:
    """JVM fold variant of the scaled dot — fine for small pair sets."""
    return F.expr(_DOT_INT_SPARK.format(a=a, b=b))


def _norms(emb: DataFrame) -> DataFrame:
    return emb.select(
        "vec_id",
        F.sqrt(dot_int64("embedding", "embedding").cast("double")).alias("nrm"),
    )


def _ranked_topk(sims: DataFrame, k: int) -> DataFrame:
    w = W.partitionBy("qid").orderBy(F.desc("sim"), F.asc("cid"))
    return (sims.select("qid", "cid", "sim", F.row_number().over(w).alias("rank"))
            .filter(F.col("rank") <= k))


def _bcast_query_dots(q: DataFrame, cand: DataFrame, cid: str = "cid",
                      ce: str = "ce") -> DataFrame:
    """Scaled int64 dot of EVERY candidate against EVERY query: ONE
    mapInPandas pass over the candidate scan with the query block riding
    a broadcast variable — the cosine_topk_bruteforce r15 shape, factored
    out for the nine exact-reference call sites (recall/MRR/NDCG ground
    truth, hard-negative mining).

    ``q`` is the gate-bounded probe frame (qid, qe): <=64 rows at the
    %100/<6400 sites, <=320 at the %20 site, AT ANY CORPUS SIZE, so the
    collect is a bounded-scalar read (the offsets convention). ``cand``
    carries the candidate id and embedding in columns ``cid`` and ``ce``
    (cosine_topk_bruteforce passes the raw scan's names, so no renaming
    projection sits under the Python boundary). This replaces the broadcast nested-loop pair
    expansion that shipped BOTH embeddings of every (query, candidate)
    pair through Arrow (the retired _numpy_pair_dots shape): each
    candidate embedding now crosses the Python boundary exactly once
    instead of |Q| times (~2|Q|x fewer Arrow bytes) and the pair join
    leaves the plan. Per batch and query j, floor(cmat * qm[j] * 1e12)
    int64 row-sums — the same IEEE float64 products, same floor, same
    order-independent integer sum as the pair form, so the dots are
    bit-identical. Self-pairs (cid == qid) are dropped in Python,
    matching the join condition at every converted site.

    Build-time side effect (r15 ADVICE, documented by convention): the
    ``q.collect()`` here is a Spark job that runs at DataFrame-
    CONSTRUCTION time — plan-snapshot / explain-only tooling that builds
    this frame without executing it still pays that bounded job and
    freezes the query block as of build time. Acceptable under the
    repo's bounded-scalar-read convention; callers (the nine exact-ANN
    reference sites + embed14's prefix variant) inherit it.

    Memory (r15 ADVICE): dots are yielded per QUERY (one |batch|-row
    frame per query slice, self-pairs masked before materializing) —
    Python-worker peak stays one query-slice per Arrow batch instead of
    the old concat of all |Q| slices (~|Q| x batch rows transient).
    The query-block broadcast is cached/unpersisted via
    _query_block_broadcast (one live broadcast per distinct block).
    """
    spark = cand.sparkSession
    qrows = q.select("qid", "qe").collect()  # gate-bounded by construction
    qids = [int(r["qid"]) for r in qrows]
    qvecs = [list(r["qe"]) for r in qrows]
    bc = _query_block_broadcast(spark, qids, qvecs)

    def compute(batches):
        qid_arr = np.array(bc.value[0], dtype=np.int64)
        qm = np.array(bc.value[1], dtype=np.float64)
        for pdf in batches:
            if len(pdf) == 0 or len(qid_arr) == 0:
                continue
            cmat = np.array(list(pdf[ce]), dtype=np.float64)
            cids = pdf[cid].to_numpy()
            for j in range(len(qid_arr)):
                dots = (np.floor(cmat * qm[j] * 1e12)
                        .astype(np.int64).sum(axis=1))
                mask = cids != qid_arr[j]
                yield pd.DataFrame({
                    "qid": np.full(int(mask.sum()), qid_arr[j],
                                   dtype=np.int64),
                    "cid": cids[mask],
                    "dot": dots[mask].astype(np.float64)})

    return cand.select(cid, ce).mapInPandas(
        compute, schema="qid long, cid long, dot double")


def _sims_from_dots(dots: DataFrame, norms: DataFrame) -> DataFrame:
    return (
        dots.join(F.broadcast(norms.select(F.col("vec_id").alias("qid"),
                                           F.col("nrm").alias("qn"))), "qid")
        .join(norms.select(F.col("vec_id").alias("cid"),
                           F.col("nrm").alias("cn")), "cid")
        .select("qid", "cid",
                F.round(F.col("dot") / (F.col("qn") * F.col("cn")), 6)
                .alias("sim"))
    )


@register(
    "cosine_topk_bruteforce",
    oracle=f"""
WITH q AS (SELECT vec_id qid, embedding qe FROM embeddings
           WHERE vec_id % 100 = 0 AND vec_id < 6400),
pairs AS (SELECT qid, vec_id cid, qe, embedding ce
          FROM q, embeddings WHERE vec_id <> qid),
{_DOT_DUCK},
{_NORMS_DUCK},
sims AS (SELECT qid, cid,
                round(dot / (nq.nrm * nc.nrm), 6) AS sim
         FROM dots JOIN norms nq ON nq.vec_id = qid
                   JOIN norms nc ON nc.vec_id = cid)
SELECT qid, cid, sim, rank FROM
  (SELECT qid, cid, sim,
          row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) rank
   FROM sims)
WHERE rank <= 10
ORDER BY qid, rank""",
    bench=True,
    tags=("similarity", "pandas_udf"),
)
def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 over a FIXED-SIZE query set (every 100th vector,
    capped at vec_id < 6400 — at most 64 queries no matter how large the
    corpus grows).

    r15 optimization (guide §4.1 "pass only the columns the function
    needs" + §8 "move heavy bytes once"): the old shape broadcast the
    query table onto the candidate scan (BroadcastNestedLoopJoin) and
    shipped BOTH embeddings of every (query, candidate) pair through
    Arrow — |Q| x N x 2 x 64 doubles for |Q| dots per candidate. Now the
    <=64-row query block (gate-bounded BY CONSTRUCTION: vec_id % 100 = 0
    and vec_id < 6400 admit at most 64 rows at any corpus size, so the
    collect is a bounded-scalar read, the offsets convention) is
    broadcast as a plain numpy matrix and ONE mapInPandas pass over the
    candidate scan emits all |Q| scaled dots per candidate — each
    candidate embedding crosses the Python boundary exactly once, a
    ~2|Q|x cut in Arrow bytes, and the pair join disappears from the
    plan. Same exact int64-lattice math (floor(x*y*1e12) row-sums).
    Measured: 1.08 -> 0.52 s warm at sf0.1."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = (emb.filter((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 6400))
         .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")))
    dots = _bcast_query_dots(q, emb, cid="vec_id", ce="embedding")
    return (_ranked_topk(_sims_from_dots(dots, _norms(emb)), 10)
            .orderBy("qid", "rank"))


@register(
    "ann_ivf_topk",
    oracle=f"""
WITH q AS (SELECT vec_id qid, label qlabel, embedding qe
           FROM embeddings WHERE vec_id % 100 = 0),
pairs AS (SELECT qid, e.vec_id cid, qe, e.embedding ce
          FROM q JOIN embeddings e ON e.label = q.qlabel AND e.vec_id <> q.qid),
{_DOT_DUCK},
{_NORMS_DUCK},
sims AS (SELECT qid, cid,
                round(dot / (nq.nrm * nc.nrm), 6) AS sim
         FROM dots JOIN norms nq ON nq.vec_id = qid
                   JOIN norms nc ON nc.vec_id = cid)
SELECT qid, cid, sim, rank FROM
  (SELECT qid, cid, sim,
          row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) rank
   FROM sims)
WHERE rank <= 5
ORDER BY qid, rank""",
    tags=("similarity", "ann"),
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: the ``label`` column acts as the coarse quantizer cell
    (offline k-means — see label_centroids); search touches only the query's
    own cell (nprobe=1). Equi-join on label replaces the cross join — at
    scale this is the difference between |Q| x |N| and |Q| x |N|/cells. Pair
    count is small, so the JVM int64 fold is used directly."""
    emb = load_table(spark, sf_dir, "embeddings")
    norms = _norms(emb)
    q = (emb.filter(F.col("vec_id") % 100 == 0)
         .select(F.col("vec_id").alias("qid"), F.col("label").alias("qlabel"),
                 F.col("embedding").alias("qe")))
    pairs = (emb.select(F.col("vec_id").alias("cid"), F.col("label"),
                        F.col("embedding").alias("ce"))
             .join(F.broadcast(q), (F.col("label") == F.col("qlabel"))
                   & (F.col("cid") != F.col("qid"))))
    dots = pairs.select("qid", "cid",
                        dot_int64("qe", "ce").cast("double").alias("dot"))
    return _ranked_topk(_sims_from_dots(dots, norms), 5).orderBy("qid", "rank")


@register(
    "ann_ivf_multiprobe",
    oracle=f"""
WITH cs AS (
  SELECT label, k,
         sum(cast(floor(cast(x as double) * 1e4) as bigint)) AS s,
         count(*) AS n
  FROM (SELECT label, unnest(embedding) x,
               generate_subscripts(embedding, 1) k FROM embeddings)
  GROUP BY label, k),
q AS (SELECT vec_id qid, embedding qe FROM embeddings WHERE vec_id % 100 = 0),
qd AS (SELECT qid, k, cast(floor(cast(x as double) * 1e4) as bigint) AS qv
       FROM (SELECT vec_id qid, unnest(embedding) x,
                    generate_subscripts(embedding, 1) k
             FROM embeddings WHERE vec_id % 100 = 0)),
dist AS (SELECT qid, label,
                cast(sum(cast(qv * n - s as hugeint) * (qv * n - s))
                     as double) / (cast(n as double) * n) AS dist
         FROM qd JOIN cs USING (k) GROUP BY qid, label, n),
probe AS (SELECT qid, label FROM
            (SELECT qid, label,
                    row_number() OVER (PARTITION BY qid
                                       ORDER BY dist, label) rn
             FROM dist) WHERE rn <= 2),
pairs AS (SELECT q.qid, e.vec_id cid, q.qe, e.embedding ce
          FROM q JOIN probe p ON p.qid = q.qid
               JOIN embeddings e ON e.label = p.label AND e.vec_id <> q.qid),
{_DOT_DUCK},
{_NORMS_DUCK},
sims AS (SELECT qid, cid,
                round(dot / (nq.nrm * nc.nrm), 6) AS sim
         FROM dots JOIN norms nq ON nq.vec_id = qid
                   JOIN norms nc ON nc.vec_id = cid)
SELECT qid, cid, sim, rank FROM
  (SELECT qid, cid, sim,
          row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) rank
   FROM sims)
WHERE rank <= 5
ORDER BY qid, rank""",
    tags=("similarity", "ann"),
)
def ann_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with nprobe=2: each query searches its TWO nearest coarse
    cells by true centroid distance (not just its own cell) — the standard
    recall lever when the query sits near a cell boundary. Centroid
    distances are computed in scaled-integer arithmetic
    (sum_k (floor(q_k*1e4)*n - S_k)^2 with S_k the cell's scaled coordinate
    sum, n its size), exact in both engines, so probe selection — and hence
    the candidate set — is bit-identical cross-engine. Candidates then score
    through the same exact-dot machinery as ann_ivf_topk. At scale the
    centroid table is tiny (cells x dims) and broadcasts; candidate volume
    doubles versus nprobe=1, a recall/cost dial, never a correctness one."""
    emb = load_table(spark, sf_dir, "embeddings")
    norms = _norms(emb)
    cs = (emb.select("label", F.posexplode("embedding").alias("k", "x"))
          .groupBy("label", "k")
          .agg(F.sum(F.floor(F.col("x").cast("double") * 1e4).cast("long"))
               .alias("s"),
               F.count(F.lit(1)).alias("n")))
    cent = (cs.groupBy("label")
            .agg(F.array_sort(F.collect_list(F.struct("k", "s"))).alias("ks"),
                 F.max("n").alias("n"))
            .select("label",
                    F.expr("transform(ks, t -> t.s)").alias("s_arr"), "n"))
    q = (emb.filter(F.col("vec_id") % 100 == 0)
         .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")))
    term = ("cast(cast(floor(cast(x as double) * 1e4) as bigint) * n - s "
            "as decimal(19,0))")
    dist = (q.crossJoin(F.broadcast(cent))
            .select("qid", "label", F.expr(
                f"cast(aggregate(zip_with(qe, s_arr, (x, s) -> "
                f"{term} * {term}), cast(0 as decimal(38,0)), "
                "(acc, v) -> acc + v) as double) "
                "/ (cast(n as double) * n)").alias("dist")))
    probe = (dist.withColumn("rn", F.row_number().over(
                W.partitionBy("qid").orderBy("dist", "label")))
             .filter(F.col("rn") <= 2).select("qid", "label"))
    pairs = (emb.select(F.col("vec_id").alias("cid"), "label",
                        F.col("embedding").alias("ce"))
             .join(F.broadcast(q.join(probe, "qid")), "label")
             .filter(F.col("cid") != F.col("qid")))
    dots = pairs.select("qid", "cid",
                        dot_int64("qe", "ce").cast("double").alias("dot"))
    return _ranked_topk(_sims_from_dots(dots, norms), 5).orderBy("qid", "rank")


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
                                    * {_SCALE}) AS bigint)) AS double) AS dot
         FROM (SELECT v1, v2, unnest(e1) x, unnest(e2) y FROM cand)
         GROUP BY v1, v2),
{_NORMS_DUCK}
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
    norms = _norms(emb)
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
        dots.join(norms.select(F.col("vec_id").alias("v1"),
                               F.col("nrm").alias("n1")), "v1")
        .join(norms.select(F.col("vec_id").alias("v2"),
                           F.col("nrm").alias("n2")), "v2")
        .filter(F.col("dot") / (F.col("n1") * F.col("n2")) >= 0.90)
        .select("v1", "v2",
                F.round(F.col("dot") / (F.col("n1") * F.col("n2")), 6)
                .alias("sim"))
        .orderBy("v1", "v2")
    )


@register(
    "cluster_quality_silhouette",
    oracle=f"""
WITH per AS (
  SELECT label, vec_id,
         cast(sum(cast(floor(cast(x AS double) * cast(x AS double)
                             * {_SCALE}) AS bigint)) AS bigint) AS sn
  FROM (SELECT label, vec_id, unnest(embedding) AS x FROM embeddings)
  GROUP BY label, vec_id),
stats AS (SELECT label, count(*) AS n, cast(sum(sn) AS bigint) AS sn_sum
          FROM per GROUP BY label),
cent AS (
  SELECT label, i AS dim,
         cast(floor(cast(sum(cast(cast(x AS double) AS decimal(20,12)))
                         AS double) / count(*) * 1e6) AS bigint) AS cq
  FROM (SELECT label, generate_subscripts(embedding, 1) - 1 AS i,
               unnest(embedding) AS x FROM embeddings)
  GROUP BY label, i),
gram AS (SELECT a.label AS l, b.label AS m,
                cast(sum(a.cq * b.cq) AS bigint) AS g
         FROM cent a JOIN cent b USING (dim) GROUP BY 1, 2),
d AS (
  SELECT s.label AS l, gr.m,
         cast(s.sn_sum AS double) / s.n - 2 * gr.g + o.g AS dist2
  FROM stats s
  JOIN gram gr ON gr.l = s.label
  JOIN gram o ON o.l = gr.m AND o.m = gr.m),
nearest AS (
  SELECT l, m, dist2,
         row_number() OVER (PARTITION BY l ORDER BY dist2, m) AS rn
  FROM d WHERE l <> m)
SELECT a.l AS label, s.n AS n_vectors,
       round(a.dist2 / {_SCALE}, 6) AS intra_d2,
       r.m AS nearest_label,
       round(r.dist2 / {_SCALE}, 6) AS inter_d2,
       round((r.dist2 - a.dist2) / greatest(r.dist2, a.dist2), 6)
           AS silhouette
FROM d a
JOIN nearest r ON r.l = a.l AND r.rn = 1
JOIN stats s ON s.label = a.l
WHERE a.l = a.m
ORDER BY label""",
    tags=("similarity", "clustering", "quality"),
)
def cluster_quality_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-silhouette cluster quality per label: intra = mean squared
    distance of members to their own centroid, inter = squared distance to
    the NEAREST other centroid, silhouette = (inter-intra)/max — the audit
    that tells you whether the IVF coarse quantizer's cells are tight before
    trusting nprobe=1 ANN.

    The O(N*L) member-to-centroid distance matrix is never built: with
    ||x-c||^2 = ||x||^2 - 2x.c + ||c||^2 and mean_x(x) = own centroid, the
    whole thing collapses to per-label scalars (mean squared norm) plus the
    L x L centroid gram matrix — one pass over vectors, one posexplode
    aggregate for centroids, then dimension-sized joins. Determinism:
    squared norms are floor-scaled int64 sums (order-free); centroids are
    exact-decimal means quantized to 1e-6 before the gram product, so every
    double here is the same IEEE value in both engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    per = emb.select("label",
                     dot_int64("embedding", "embedding").alias("sn"))
    stats = per.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"), F.sum("sn").alias("sn_sum"))
    ex = emb.select("label", F.posexplode("embedding").alias("dim", "x"))
    cent = (ex.groupBy("label", "dim")
            .agg(F.floor(
                    F.sum(F.col("x").cast("double").cast("decimal(20,12)"))
                     .cast("double") / F.count(F.lit(1)) * 1e6)
                 .cast("long").alias("cq")))
    a = cent.select(F.col("label").alias("l"), "dim", F.col("cq").alias("cqa"))
    b = cent.select(F.col("label").alias("m"), "dim", F.col("cq").alias("cqb"))
    gram = (a.join(b, "dim")
            .groupBy("l", "m")
            .agg(F.sum(F.col("cqa") * F.col("cqb")).alias("g")))
    own = gram.filter(F.col("l") == F.col("m")) \
              .select(F.col("l").alias("m2"), F.col("g").alias("g_own"))
    d = (stats.join(gram, stats["label"] == gram["l"])
         .join(own, gram["m"] == own["m2"])
         .select("l", "m",
                 (F.col("sn_sum").cast("double") / F.col("n")
                  - 2 * F.col("g") + F.col("g_own")).alias("dist2")))
    nearest = (d.filter(F.col("l") != F.col("m"))
               .withColumn("rn", F.row_number().over(
                   W.partitionBy("l").orderBy("dist2", "m")))
               .filter(F.col("rn") == 1)
               .select(F.col("l").alias("ln"),
                       F.col("m").alias("nearest_label"),
                       F.col("dist2").alias("inter")))
    intra = (d.filter(F.col("l") == F.col("m"))
             .select(F.col("l").alias("la"), F.col("dist2").alias("intra")))
    scale = float(1e12)
    return (intra.join(nearest, intra["la"] == nearest["ln"])
            .join(stats, intra["la"] == stats["label"])
            .select(F.col("la").alias("label"),
                    F.col("n").alias("n_vectors"),
                    F.round(F.col("intra") / scale, 6).alias("intra_d2"),
                    "nearest_label",
                    F.round(F.col("inter") / scale, 6).alias("inter_d2"),
                    F.round((F.col("inter") - F.col("intra"))
                            / F.greatest("inter", "intra"), 6)
                    .alias("silhouette"))
            .orderBy("label"))


@register(
    "ann_ivf_recall_at_k",
    oracle=f"""
WITH q AS (SELECT vec_id qid, label qlabel, embedding qe FROM embeddings
           WHERE vec_id % 100 = 0 AND vec_id < 6400),
{_NORMS_DUCK},
pairs_x AS (SELECT qid, vec_id cid, qe, embedding ce
            FROM q, embeddings WHERE vec_id <> qid),
dots_x AS (SELECT qid, cid,
                  cast(sum(cast(floor(cast(x AS double) * cast(y AS double)
                                      * {_SCALE}) AS bigint)) AS double) AS dot
           FROM (SELECT qid, cid, unnest(qe) x, unnest(ce) y FROM pairs_x)
           GROUP BY qid, cid),
exact5 AS (SELECT qid, cid FROM
             (SELECT d.qid, d.cid,
                     row_number() OVER (PARTITION BY d.qid
                       ORDER BY round(d.dot / (nq.nrm * nc.nrm), 6) DESC,
                                d.cid) rank
              FROM dots_x d JOIN norms nq ON nq.vec_id = d.qid
                            JOIN norms nc ON nc.vec_id = d.cid)
           WHERE rank <= 5),
pairs_i AS (SELECT qid, e.vec_id cid, qe, e.embedding ce
            FROM q JOIN embeddings e
              ON e.label = q.qlabel AND e.vec_id <> q.qid),
dots_i AS (SELECT qid, cid,
                  cast(sum(cast(floor(cast(x AS double) * cast(y AS double)
                                      * {_SCALE}) AS bigint)) AS double) AS dot
           FROM (SELECT qid, cid, unnest(qe) x, unnest(ce) y FROM pairs_i)
           GROUP BY qid, cid),
ivf5 AS (SELECT qid, cid FROM
           (SELECT d.qid, d.cid,
                   row_number() OVER (PARTITION BY d.qid
                     ORDER BY round(d.dot / (nq.nrm * nc.nrm), 6) DESC,
                              d.cid) rank
            FROM dots_i d JOIN norms nq ON nq.vec_id = d.qid
                          JOIN norms nc ON nc.vec_id = d.cid)
         WHERE rank <= 5),
hits AS (SELECT i.qid, count(*) AS n_hits
         FROM ivf5 i JOIN exact5 x ON x.qid = i.qid AND x.cid = i.cid
         GROUP BY i.qid)
SELECT q.qid, cast(coalesce(h.n_hits, 0) AS bigint) AS n_hits,
       round(coalesce(h.n_hits, 0) / 5.0, 6) AS recall_at_5
FROM q LEFT JOIN hits h ON h.qid = q.qid
ORDER BY q.qid""",
    tags=("similarity", "ann", "evaluation"),
)
def ann_ivf_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The evaluation harness for the ANN index AS a query: per-query
    recall@5 of IVF nprobe=1 against exact brute-force ground truth, both
    computed in one plan. This is the measurement a pipeline runs before
    trusting an approximate index at scale — and the quantity the nprobe
    dial (ann_ivf_multiprobe) trades cost against.

    Scale stance: ground truth is O(|Q| x N) with the fixed-size query set
    broadcast (numpy mapInPandas batches, same as cosine_topk_bruteforce);
    the IVF side is the pruned equi-join on the cell label. Both top-5
    ranks order by 6-dp-rounded similarity with cid tiebreak, so the
    intersection is engine-identical. In production the exact side runs on
    a SAMPLE of queries; here the query set is already the fixed 1% probe."""
    emb = load_table(spark, sf_dir, "embeddings")
    norms = _norms(emb)
    q = (emb.filter((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 6400))
         .select(F.col("vec_id").alias("qid"), F.col("label").alias("qlabel"),
                 F.col("embedding").alias("qe")))
    cand = emb.select(F.col("vec_id").alias("cid"),
                      F.col("embedding").alias("ce"))
    exact5 = (_ranked_topk(
        _sims_from_dots(_bcast_query_dots(q, cand), norms), 5)
        .select("qid", "cid"))
    pairs_i = (emb.select(F.col("vec_id").alias("cid"), F.col("label"),
                          F.col("embedding").alias("ce"))
               .join(F.broadcast(q), (F.col("label") == F.col("qlabel"))
                     & (F.col("cid") != F.col("qid"))))
    dots_i = pairs_i.select("qid", "cid",
                            dot_int64("qe", "ce").cast("double").alias("dot"))
    ivf5 = _ranked_topk(_sims_from_dots(dots_i, norms), 5).select("qid", "cid")
    hits = (ivf5.join(exact5, ["qid", "cid"])
            .groupBy("qid").agg(F.count(F.lit(1)).alias("n_hits")))
    return (q.select("qid").join(hits, "qid", "left")
            .select("qid",
                    F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
                    F.round(F.coalesce("n_hits", F.lit(0)) / 5.0, 6)
                     .alias("recall_at_5"))
            .orderBy("qid"))
