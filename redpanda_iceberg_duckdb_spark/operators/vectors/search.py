"""Nearest-neighbour search and its evaluation: exact and IVF top-k,
multiprobe, recall@5, MRR@10 (also by nprobe), NDCG@10, the Matryoshka
prefix recall curve and greedy MMR diversification.

IVF cells are the ``label`` column (an offline k-means); nprobe=1
searches the probe's own cell, so candidate lists shrink by the cell
count. Each evaluation grades the IVF ranking against the exact top-k of
the same probe set, both ranked on the 6-dp cosine with cid tiebreak, so
the intersection is engine-identical.

Integer discipline for rank metrics: reciprocal ranks 1/1..1/10 ride as
exact ``2520 div rank`` (lcm(1..10) = 2520), and NDCG's discounts
1/log2(i+1) as the fixed integers round(1e6/log2(i+1)) computed once in
Python and embedded in both plans, so every sum is an order-free bigint
with one final division.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ...registry import register
from ...tables import load_table
from .kernels import (CELL_DOTS_DUCK, CENTROIDS_DUCK, DOT_DUCK, DOT_SCALE,
                      EXACT_DOTS_DUCK, NORMS_DUCK, PROBES_DUCK, RECALL_DUCK,
                      SIMS_DUCK,
                      bcast_query_dots, candidates, cell_dists, cell_topk,
                      dot_int64, exact_topk, lattice_products, nearest_cells,
                      norms, probes, ranked_topk, recall_at_k,
                      sims_from_dots, topk_duck)

_RR_LCM = 2520          # lcm(1..10): 2520/rank is an exact integer


def _topk_oracle(head: str, k: int) -> str:
    return f"""{head}
{DOT_DUCK},
{NORMS_DUCK},
{SIMS_DUCK}
SELECT qid, cid, sim, rank FROM
  (SELECT qid, cid, sim,
          row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) rank
   FROM sims)
WHERE rank <= {k}
ORDER BY qid, rank"""


@register(
    "cosine_topk_bruteforce",
    oracle=_topk_oracle("""
WITH q AS (SELECT vec_id qid, embedding qe FROM embeddings
           WHERE vec_id % 100 = 0 AND vec_id < 6400),
pairs AS (SELECT qid, vec_id cid, qe, embedding ce
          FROM q, embeddings WHERE vec_id <> qid),""", 10),
    bench=True,
    tags=("similarity", "pandas_udf"),
)
def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 of a FIXED-SIZE query set (every 100th vector
    below 6400: at most 64 queries at any corpus size): one mapInPandas
    pass over the candidate scan scores every query (package docstring,
    the query block). Measured 1.08 -> 0.52 s warm at sf0.1 against the
    broadcast nested-loop pair join it replaced."""
    emb = load_table(spark, sf_dir, "embeddings")
    dots = bcast_query_dots(probes(emb, 100, 6400), emb, cid="vec_id",
                            ce="embedding")
    return (ranked_topk(sims_from_dots(dots, norms(emb)), 10)
            .orderBy("qid", "rank"))


@register(
    "ann_ivf_topk",
    oracle=_topk_oracle("""
WITH q AS (SELECT vec_id qid, label qlabel, embedding qe
           FROM embeddings WHERE vec_id % 100 = 0),
pairs AS (SELECT qid, e.vec_id cid, qe, e.embedding ce
          FROM q JOIN embeddings e ON e.label = q.qlabel AND e.vec_id <> q.qid),""",
                        5),
    tags=("similarity", "ann"),
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with nprobe=1: each query searches only its own label
    cell, an equi-join instead of the cross join, with the JVM dot fold
    on the small pair set."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = probes(emb, 100, cell="label")
    return (cell_topk(q, candidates(emb, "label"), norms(emb), 5)
            .orderBy("qid", "rank"))


@register(
    "ann_ivf_multiprobe",
    oracle=_topk_oracle(f"""
WITH {CENTROIDS_DUCK}
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
               JOIN embeddings e ON e.label = p.label AND e.vec_id <> q.qid),""",
                        5),
    tags=("similarity", "ann"),
)
def ann_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with nprobe=2: each query searches its TWO nearest cells
    by exact centroid distance on the 1e4 lattice, so probe selection and
    the candidate set are bit-identical cross-engine. Candidate volume
    doubles versus nprobe=1: a recall/cost dial, not a correctness one."""
    emb = load_table(spark, sf_dir, "embeddings")
    nrm = norms(emb)
    q = probes(emb, 100)
    probe = nearest_cells(cell_dists(q, emb, "qid"), 2).select("qid", "label")
    pairs = (candidates(emb, "label")
             .join(F.broadcast(q.join(probe, "qid")), "label")
             .filter(F.col("cid") != F.col("qid")))
    dots = pairs.select("qid", "cid",
                        dot_int64("qe", "ce").cast("double").alias("dot"))
    return ranked_topk(sims_from_dots(dots, nrm), 5).orderBy("qid", "rank")


@register(
    "ann_ivf_recall_at_k",
    oracle=f"""
WITH {PROBES_DUCK},
{NORMS_DUCK},
{EXACT_DOTS_DUCK},
{topk_duck("exact5", "dots_x", "rank <= 5")},
{CELL_DOTS_DUCK},
{topk_duck("ivf5", "dots_i", "rank <= 5", indent=11)},
{RECALL_DUCK}""",
    tags=("similarity", "ann", "evaluation"),
)
def ann_ivf_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-probe recall@5 of IVF nprobe=1 against the exact top-5, both
    in one plan: the measurement a pipeline runs before trusting an
    approximate index, and the quantity the nprobe dial trades cost
    against."""
    emb = load_table(spark, sf_dir, "embeddings")
    nrm = norms(emb)
    q = probes(emb, 100, 6400, cell="label")
    exact5 = exact_topk(q, candidates(emb), nrm, 5).select("qid", "cid")
    ivf5 = (cell_topk(q, candidates(emb, "label"), nrm, 5)
            .select("qid", "cid"))
    return recall_at_k(q.select("qid"), ivf5, exact5, 5)


@register(
    "ann_mrr_at_10",
    oracle=f"""
WITH {PROBES_DUCK},
{NORMS_DUCK},
{EXACT_DOTS_DUCK},
{topk_duck("exact1", "dots_x", "rank = 1", cols="qid, cid AS tcid")},
{CELL_DOTS_DUCK},
{topk_duck("ivf10", "dots_i", "rank <= 10", cols="qid, cid, rank",
           indent=12)},
rr AS (SELECT q.qid,
              coalesce({_RR_LCM} // i.rank, 0) AS rr_scaled
       FROM q JOIN exact1 x ON x.qid = q.qid
            LEFT JOIN ivf10 i ON i.qid = q.qid AND i.cid = x.tcid)
SELECT cast(count(*) AS bigint) AS n_queries,
       cast(sum(CASE WHEN rr_scaled > 0 THEN 1 ELSE 0 END) AS bigint)
         AS n_hits_top10,
       round(cast(sum(rr_scaled) AS double) / {_RR_LCM} / count(*), 6)
         AS mrr_at_10
FROM rr""",
    tags=("similarity", "ann", "evaluation"),
)
def ann_mrr_at_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR@10 of IVF nprobe=1 against the exact nearest neighbour: per
    probe, the reciprocal of the true NN's rank in the IVF top-10 (0 on a
    miss), averaged; MRR grades WHERE the truth sits, recall only whether
    it appears."""
    emb = load_table(spark, sf_dir, "embeddings")
    nrm = norms(emb)
    q = probes(emb, 100, 6400, cell="label")
    exact1 = (exact_topk(q, candidates(emb), nrm, 1)
              .select("qid", F.col("cid").alias("tcid")))
    ivf10 = (cell_topk(q, candidates(emb, "label"), nrm, 10)
             .select(F.col("qid").alias("iqid"), F.col("cid").alias("icid"),
                     "rank"))
    rr = (q.select("qid").join(exact1, "qid")
          .join(ivf10, (F.col("qid") == F.col("iqid"))
                & (F.col("tcid") == F.col("icid")), "left")
          .select("qid", F.coalesce(
              F.expr(f"cast({_RR_LCM} div rank as bigint)"), F.lit(0))
              .alias("rr_scaled")))
    return rr.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        F.sum(F.when(F.col("rr_scaled") > 0, 1).otherwise(0))
        .cast("bigint").alias("n_hits_top10"),
        F.round(F.sum("rr_scaled").cast("double") / _RR_LCM
                / F.count(F.lit(1)), 6).alias("mrr_at_10"))


_NPROBES = (1, 2, 4)


@register(
    "ann_recall_mrr_by_nprobe",
    oracle=f"""
WITH q AS (SELECT vec_id qid, embedding qe FROM embeddings
           WHERE vec_id % 20 = 0 AND vec_id < 6400),
{NORMS_DUCK},
{EXACT_DOTS_DUCK},
{topk_duck("exact1", "dots_x", "rank = 1", cols="qid, cid AS tcid")},
{CENTROIDS_DUCK}
qd AS (SELECT qid, k, cast(floor(cast(x as double) * 1e4) as bigint) AS qv
       FROM (SELECT vec_id qid, unnest(embedding) x,
                    generate_subscripts(embedding, 1) k
             FROM embeddings WHERE vec_id % 20 = 0 AND vec_id < 6400)),
dist AS (SELECT qid, label,
                cast(sum(cast(qv * n - s as hugeint) * (qv * n - s))
                     as double) / (cast(n as double) * n) AS dist
         FROM qd JOIN cs USING (k) GROUP BY qid, label, n),
probe AS (SELECT qid, label, rn AS cell_rn FROM
            (SELECT qid, label,
                    row_number() OVER (PARTITION BY qid
                                       ORDER BY dist, label) rn
             FROM dist) WHERE rn <= {max(_NPROBES)}),
pairs AS (SELECT q.qid, e.vec_id cid, p.cell_rn, q.qe, e.embedding ce
          FROM q JOIN probe p ON p.qid = q.qid
               JOIN embeddings e ON e.label = p.label AND e.vec_id <> q.qid),
dots AS (SELECT qid, cid, cell_rn,
                cast(sum(cast(floor(cast(x AS double) * cast(y AS double)
                                    * {DOT_SCALE}) AS bigint)) AS double) AS dot
         FROM (SELECT qid, cid, cell_rn, unnest(qe) x, unnest(ce) y
               FROM pairs)
         GROUP BY qid, cid, cell_rn),
sims AS (SELECT qid, cid, cell_rn,
                round(dot / (nq.nrm * nc.nrm), 6) AS sim
         FROM dots JOIN norms nq ON nq.vec_id = qid
                   JOIN norms nc ON nc.vec_id = cid),
lv(np) AS (VALUES {", ".join(f"({p})" for p in _NPROBES)}),
ranked AS (SELECT lv.np, qid, cid,
                  row_number() OVER (PARTITION BY lv.np, qid
                                     ORDER BY sim DESC, cid) rank
           FROM sims JOIN lv ON sims.cell_rn <= lv.np),
top10 AS (SELECT * FROM ranked WHERE rank <= 10),
rr AS (SELECT lv.np, q.qid, coalesce({_RR_LCM} // t.rank, 0) AS rr_scaled
       FROM q CROSS JOIN lv
            JOIN exact1 x ON x.qid = q.qid
            LEFT JOIN top10 t ON t.np = lv.np AND t.qid = q.qid
                             AND t.cid = x.tcid)
SELECT cast(np AS bigint) AS nprobe,
       cast(count(*) AS bigint) AS n_queries,
       cast(sum(CASE WHEN rr_scaled > 0 THEN 1 ELSE 0 END) AS bigint)
         AS n_hits_top10,
       round(cast(sum(CASE WHEN rr_scaled > 0 THEN 1 ELSE 0 END) AS double)
             / count(*), 6) AS recall_at_10,
       round(cast(sum(rr_scaled) AS double) / {_RR_LCM} / count(*), 6)
         AS mrr_at_10
FROM rr GROUP BY np ORDER BY nprobe""",
    tags=("similarity", "ann", "evaluation", "scale-pattern"),
)
def ann_recall_mrr_by_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(nprobe, n_queries, n_hits_top10, recall_at_10, mrr_at_10) for
    nprobe 1, 2 and 4: the IVF probe dial graded against the exact
    nearest neighbour. The three levels share ONE candidate scan: each
    candidate carries its cell's probe rank, and level np keeps
    cell_rn <= np before its per-(level, query) top-10 window."""
    emb = load_table(spark, sf_dir, "embeddings")
    nrm = norms(emb)
    q = probes(emb, 20, 6400)
    exact1 = (exact_topk(q, candidates(emb), nrm, 1)
              .select("qid", F.col("cid").alias("tcid")))
    probe = (nearest_cells(cell_dists(q, emb, "qid"), max(_NPROBES),
                           "cell_rn")
             .select("qid", "label", "cell_rn"))
    pairs = (candidates(emb, "label")
             .join(F.broadcast(q.join(probe, "qid")), "label")
             .filter(F.col("cid") != F.col("qid")))
    dots = pairs.select("qid", "cid", "cell_rn",
                        dot_int64("qe", "ce").cast("double").alias("dot"))
    sims = sims_from_dots(dots, nrm, "cell_rn")
    lv = spark.createDataFrame([(p,) for p in _NPROBES], "np int")
    ranked = (sims.join(F.broadcast(lv), F.col("cell_rn") <= F.col("np"))
              .withColumn("rank", F.row_number().over(
                  W.partitionBy("np", "qid")
                  .orderBy(F.desc("sim"), F.asc("cid")))))
    top10 = ranked.filter(F.col("rank") <= 10)
    rr = (q.select("qid").crossJoin(F.broadcast(lv))
          .join(exact1, "qid")
          .join(top10.select(F.col("np").alias("tnp"),
                             F.col("qid").alias("tqid"),
                             F.col("cid").alias("tcid2"), "rank"),
                (F.col("np") == F.col("tnp"))
                & (F.col("qid") == F.col("tqid"))
                & (F.col("tcid") == F.col("tcid2")), "left")
          .select("np", "qid", F.coalesce(
              F.expr(f"cast({_RR_LCM} div rank as bigint)"), F.lit(0))
              .alias("rr_scaled")))
    hit = F.sum(F.when(F.col("rr_scaled") > 0, 1).otherwise(0))
    return (rr.groupBy(F.col("np").cast("long").alias("nprobe"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_queries"),
                 hit.cast("bigint").alias("n_hits_top10"),
                 F.round(hit.cast("double") / F.count(F.lit(1)), 6)
                 .alias("recall_at_10"),
                 F.round(F.sum("rr_scaled").cast("double") / _RR_LCM
                         / F.count(F.lit(1)), 6).alias("mrr_at_10"))
            .orderBy("nprobe"))


# Fixed-point discount weights: w_i = round(1e6 / log2(i+1)), i = 1..10.
_W = {i: round(1e6 / math.log2(i + 1)) for i in range(1, 11)}
_W_CASE_SQL = "CASE " + " ".join(
    f"WHEN {{col}} = {i} THEN {w}" for i, w in _W.items()) + " ELSE 0 END"


def _w_case_spark(col: str) -> F.Column:
    out = None
    for i, w in _W.items():
        out = (F.when(F.col(col) == i, w) if out is None
               else out.when(F.col(col) == i, w))
    return out.otherwise(F.lit(0))


@register(
    "ndcg_at_10",
    oracle=f"""
WITH {PROBES_DUCK},
{NORMS_DUCK},
{EXACT_DOTS_DUCK},
exact_ranked AS (
  SELECT d.qid, d.cid,
         row_number() OVER (PARTITION BY d.qid
           ORDER BY round(d.dot / (nq.nrm * nc.nrm), 6) DESC, d.cid) rank
  FROM dots_x d JOIN norms nq ON nq.vec_id = d.qid
                JOIN norms nc ON nc.vec_id = d.cid),
grades AS (
  SELECT qid, cid, CASE WHEN rank = 1 THEN 3 WHEN rank <= 5 THEN 2 WHEN rank <= 10 THEN 1 END AS rel
  FROM exact_ranked WHERE rank <= 10),
ideal AS (
  SELECT qid, sum(rel * {_W_CASE_SQL.format(col="g.irank")}) AS idcg_scaled FROM (
    SELECT qid, rel,
           row_number() OVER (PARTITION BY qid
                              ORDER BY rel DESC, cid) AS irank
    FROM grades) g
  WHERE g.irank <= 10 GROUP BY qid),
{CELL_DOTS_DUCK},
{topk_duck("ivf10", "dots_i", "rank <= 10", cols="qid, cid, rank",
           indent=12)},
dcg AS (
  SELECT i.qid, sum(coalesce(g.rel, 0) * {_W_CASE_SQL.format(col="i.rank")}) AS dcg_scaled
  FROM ivf10 i LEFT JOIN grades g ON g.qid = i.qid AND g.cid = i.cid
  GROUP BY i.qid)
SELECT q.qid AS qid,
       cast(coalesce(d.dcg_scaled, 0) AS bigint) AS dcg_scaled,
       cast(x.idcg_scaled AS bigint) AS idcg_scaled,
       round(cast(coalesce(d.dcg_scaled, 0) AS double) / x.idcg_scaled, 6)
         AS ndcg_at_10
FROM q JOIN ideal x ON x.qid = q.qid LEFT JOIN dcg d ON d.qid = q.qid
ORDER BY q.qid""",
    tags=("similarity", "ann", "evaluation"),
)
def ndcg_at_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(qid, dcg_scaled, idcg_scaled, ndcg_at_10): per-probe NDCG@10 of
    the IVF nprobe=1 ranking against exact-cosine graded relevance (exact
    rank 1 -> 3, ranks 2-5 -> 2, ranks 6-10 -> 1, else 0) with integer
    fixed-point discounts (module docstring)."""
    emb = load_table(spark, sf_dir, "embeddings")
    nrm = norms(emb)
    q = probes(emb, 100, 6400, cell="label")
    exact10 = exact_topk(q, candidates(emb), nrm, 10)
    # grades feeds both the ideal (idcg) and realised (dcg) branches; it is
    # <= |Q| x 10 rows, so one eager checkpoint stops the exact-dot corpus
    # pass from re-running per branch.
    grades = exact10.select(
        "qid", "cid",
        F.when(F.col("rank") == 1, 3)
        .when(F.col("rank") <= 5, 2).otherwise(1).alias("rel")
    ).localCheckpoint(eager=True)
    wi_ideal = W.partitionBy("qid").orderBy(F.desc("rel"), F.asc("cid"))
    ideal = (grades
             .withColumn("irank", F.row_number().over(wi_ideal))
             .filter(F.col("irank") <= 10)
             .groupBy("qid")
             .agg(F.sum(F.col("rel") * _w_case_spark("irank"))
                  .alias("idcg_scaled")))
    ivf10 = cell_topk(q, candidates(emb, "label"), nrm, 10)
    dcg = (ivf10.join(grades.withColumnRenamed("rel", "grel"),
                      ["qid", "cid"], "left")
           .groupBy("qid")
           .agg(F.sum(F.coalesce(F.col("grel"), F.lit(0))
                      * _w_case_spark("rank")).alias("dcg_scaled")))
    return (q.select("qid").join(ideal, "qid").join(dcg, "qid", "left")
            .select("qid",
                    F.coalesce("dcg_scaled", F.lit(0)).cast("long")
                    .alias("dcg_scaled"),
                    F.col("idcg_scaled").cast("long").alias("idcg_scaled"),
                    F.round(F.coalesce("dcg_scaled", F.lit(0)).cast("double")
                            / F.col("idcg_scaled"), 6).alias("ndcg_at_10"))
            .orderBy("qid"))


_CUTS = (8, 16, 32, 64)
_QMOD = 50          # query subset: vec_id % _QMOD == 0


def _prefix_norms(emb: DataFrame) -> DataFrame:
    """(vec_id, d, nrm): prefix self-dot norms at every cut."""

    def compute(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.array(list(pdf["embedding"]), dtype=np.float64)
            cums = lattice_products(m, m).cumsum(axis=1)
            yield pd.concat(pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy(),
                "d": np.full(len(pdf), d, dtype=np.int32),
                "nrm": np.sqrt(cums[:, d - 1].astype(np.float64))})
                for d in _CUTS)

    return emb.select("vec_id", "embedding").mapInPandas(
        compute, schema="vec_id long, d int, nrm double")


_CUTS_SQL = ",".join(f"({d})" for d in _CUTS)


@register(
    "matryoshka_recall_curve",
    oracle=f"""
WITH q AS (SELECT vec_id qid, embedding qe FROM embeddings
           WHERE vec_id % {_QMOD} = 0),
pairs AS (SELECT qid, vec_id cid, qe, embedding ce
          FROM q, embeddings WHERE vec_id <> qid),
el AS (SELECT qid, cid, generate_subscripts(qe, 1) AS i,
              unnest(qe) AS x, unnest(ce) AS y
       FROM pairs),
dots AS (SELECT qid, cid, d.d,
                cast(sum(CASE WHEN i <= d.d THEN
                     cast(floor(cast(x AS double) * cast(y AS double) * 1e12)
                          AS bigint) ELSE 0 END) AS double) AS dot
         FROM el CROSS JOIN (VALUES {_CUTS_SQL}) d(d)
         GROUP BY qid, cid, d.d),
ne AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
              unnest(embedding) AS x
       FROM embeddings),
norms AS (SELECT vec_id, d.d,
                 sqrt(cast(sum(CASE WHEN i <= d.d THEN
                      cast(floor(cast(x AS double) * cast(x AS double) * 1e12)
                           AS bigint) ELSE 0 END) AS double)) AS nrm
          FROM ne CROSS JOIN (VALUES {_CUTS_SQL}) d(d)
          GROUP BY vec_id, d.d),
sims AS (SELECT p.qid, p.cid, p.d,
                round(p.dot / (nq.nrm * nc.nrm), 6) AS sim
         FROM dots p JOIN norms nq ON nq.vec_id = p.qid AND nq.d = p.d
                     JOIN norms nc ON nc.vec_id = p.cid AND nc.d = p.d),
t1 AS (SELECT d, qid, cid FROM
         (SELECT d, qid, cid,
                 row_number() OVER (PARTITION BY d, qid
                                    ORDER BY sim DESC, cid) rn
          FROM sims)
       WHERE rn = 1),
full1 AS (SELECT qid, cid AS fcid FROM t1 WHERE d = {max(_CUTS)})
SELECT t1.d AS dims, cast(count(*) AS bigint) AS n_queries,
       cast(sum(CASE WHEN t1.cid = f.fcid THEN 1 ELSE 0 END) AS bigint)
         AS n_top1_match,
       round(cast(sum(CASE WHEN t1.cid = f.fcid THEN 1 ELSE 0 END)
                  AS double) / count(*), 6) AS recall_at1
FROM t1 JOIN full1 f USING (qid)
GROUP BY t1.d ORDER BY dims""",
    tags=("similarity", "ann", "truncation", "evaluation", "pandas_udf"),
)
def matryoshka_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@1 of dimension-truncated cosine search vs full-dimension
    exact top-1, per prefix length d in (8, 16, 32, 64): can the 16-dim
    Matryoshka prefix be searched instead? A d-prefix dot is the prefix
    sum of the same lattice terms, so one pass over the candidate scan
    with the broadcast query block computes every cut."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = probes(emb, _QMOD)
    dots = bcast_query_dots(q, candidates(emb), cuts=_CUTS)
    nrm = _prefix_norms(emb)
    qn = F.broadcast(nrm.select(F.col("vec_id").alias("qid"),
                                F.col("d"), F.col("nrm").alias("qn"))
                     .join(F.broadcast(q.select("qid")), "qid"))
    cn = nrm.select(F.col("vec_id").alias("cid"), F.col("d"),
                    F.col("nrm").alias("cn"))
    sims = (dots.join(qn, ["qid", "d"]).join(cn, ["cid", "d"])
            .select("qid", "cid", "d",
                    F.round(F.col("dot") / (F.col("qn") * F.col("cn")), 6)
                    .alias("sim")))
    w = W.partitionBy("d", "qid").orderBy(F.desc("sim"), "cid")
    t1 = (sims.withColumn("rn", F.row_number().over(w))
          .filter(F.col("rn") == 1).select("d", "qid", "cid"))
    full1 = (t1.filter(F.col("d") == max(_CUTS))
             .select("qid", F.col("cid").alias("fcid")))
    hit = F.when(F.col("cid") == F.col("fcid"), 1).otherwise(0)
    return (t1.join(F.broadcast(full1), "qid")
            .groupBy(F.col("d").cast("int").alias("dims"))
            .agg(F.count(F.lit(1)).alias("n_queries"),
                 F.sum(hit).cast("long").alias("n_top1_match"),
                 F.round(F.sum(hit).cast("double")
                         / F.count(F.lit(1)), 6).alias("recall_at1"))
            .orderBy("dims"))


_MMR_QID = 0
_MMR_POOL = 20
_MMR_K = 5
_LAM = 0.7
_ONE_MINUS_LAM = 0.3   # exact literal on both engines: 1 - 0.7 is not 0.3


def _mmr_oracle() -> str:
    steps = ["""
s1 AS (SELECT cid, sim AS score, 1 AS pos FROM cand
       ORDER BY sim DESC, cid LIMIT 1),
sel1 AS (SELECT cid FROM s1)"""]
    for k in range(2, _MMR_K + 1):
        steps.append(f"""
r{k} AS (SELECT c.cid, c.sim,
               round({_LAM} * c.sim - {_ONE_MINUS_LAM} * max(p.sim), 6)
                 AS score
        FROM cand c JOIN pw p ON p.c1 = c.cid
             AND p.c2 IN (SELECT cid FROM sel{k-1})
        WHERE c.cid NOT IN (SELECT cid FROM sel{k-1})
        GROUP BY c.cid, c.sim),
s{k} AS (SELECT cid, score, {k} AS pos FROM r{k}
        ORDER BY score DESC, cid LIMIT 1),
sel{k} AS (SELECT cid FROM sel{k-1} UNION ALL SELECT cid FROM s{k})""")
    finals = "\nUNION ALL\n".join(
        f"SELECT pos, cid, score FROM s{k}" for k in range(1, _MMR_K + 1))
    return f"""
WITH qv AS (SELECT embedding qe FROM embeddings WHERE vec_id = {_MMR_QID}),
pairs AS (SELECT {_MMR_QID} AS qid, vec_id cid, qe, embedding ce
          FROM embeddings, qv WHERE vec_id <> {_MMR_QID}),
{DOT_DUCK},
{NORMS_DUCK},
cand AS (SELECT cid, sim FROM
           (SELECT cid, round(dot / (nq.nrm * nc.nrm), 6) AS sim,
                   row_number() OVER (
                     ORDER BY round(dot / (nq.nrm * nc.nrm), 6) DESC, cid) rk
            FROM dots JOIN norms nq ON nq.vec_id = {_MMR_QID}
                      JOIN norms nc ON nc.vec_id = cid)
         WHERE rk <= {_MMR_POOL}),
ce AS (SELECT c.cid, e.embedding FROM cand c
       JOIN embeddings e ON e.vec_id = c.cid),
pwd AS (SELECT c1, c2,
               cast(sum(cast(floor(cast(x AS double) * cast(y AS double)
                                   * {DOT_SCALE}) AS bigint)) AS double) AS dot
        FROM (SELECT a.cid c1, b.cid c2, unnest(a.embedding) x,
                     unnest(b.embedding) y
              FROM ce a, ce b WHERE a.cid <> b.cid)
        GROUP BY c1, c2),
pw AS (SELECT c1, c2, round(dot / (n1.nrm * n2.nrm), 6) AS sim
       FROM pwd JOIN norms n1 ON n1.vec_id = c1
                JOIN norms n2 ON n2.vec_id = c2),
{','.join(steps)}
SELECT cast(pos AS bigint) AS pos, cid AS vec_id, score
FROM ({finals}) ORDER BY pos"""


@register(
    "mmr_diverse_topk",
    oracle=_mmr_oracle(),
    tags=("similarity", "retrieval", "diversification", "iterative"),
)
def mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy MMR (Carbonell & Goldstein, SIGIR 1998): 5 diverse results
    for query vector 0 from its cosine top-20 pool (lambda = 0.7). Step 1
    takes the most relevant candidate; each later step takes argmax of
    lambda*sim(q,c) - (1-lambda)*max sim(c, selected). The greedy argmax
    is sequential in k, so the pool is cut first (a distributed top-20),
    its pairwise sims are one bounded join, and each of the 5 rounds is a
    TakeOrdered(1) with one scalar to the driver; the oracle unrolls the
    same recurrence."""
    emb = load_table(spark, sf_dir, "embeddings")
    nrm = norms(emb)
    q = (emb.filter(F.col("vec_id") == _MMR_QID)
         .select(F.lit(_MMR_QID).cast("long").alias("qid"),
                 F.col("embedding").alias("qe")))
    pairs = candidates(emb).join(F.broadcast(q), F.col("cid") != F.col("qid"))
    dots = pairs.select("qid", "cid",
                        dot_int64("qe", "ce").cast("double").alias("dot"))
    cand = (ranked_topk(sims_from_dots(dots, nrm), _MMR_POOL)
            .select("cid", "sim")
            .localCheckpoint(eager=False))   # reused by every greedy round
    ce = cand.join(emb.select(F.col("vec_id").alias("cid"), "embedding"),
                   "cid").select("cid", "embedding")
    a = ce.select(F.col("cid").alias("c1"), F.col("embedding").alias("e1"))
    b = ce.select(F.col("cid").alias("c2"), F.col("embedding").alias("e2"))
    pwd = (a.join(F.broadcast(b), F.col("c1") != F.col("c2"))
           .select("c1", "c2",
                   dot_int64("e1", "e2").cast("double").alias("dot")))
    pw = (pwd.join(F.broadcast(nrm.select(F.col("vec_id").alias("c1"),
                                          F.col("nrm").alias("n1"))), "c1")
          .join(F.broadcast(nrm.select(F.col("vec_id").alias("c2"),
                                       F.col("nrm").alias("n2"))), "c2")
          .select("c1", "c2",
                  F.round(F.col("dot") / (F.col("n1") * F.col("n2")), 6)
                  .alias("sim"))
          .localCheckpoint(eager=False))
    selected: list[tuple[int, int, float]] = []   # (pos, cid, score)
    for pos in range(1, _MMR_K + 1):
        chosen = [c for _, c, _ in selected]
        rem = cand.filter(~F.col("cid").isin(chosen)) if chosen else cand
        if not chosen:
            scored = rem.select("cid", F.col("sim").alias("score"))
        else:
            ms = (pw.filter(F.col("c2").isin(chosen))
                  .groupBy("c1").agg(F.max("sim").alias("ms")))
            scored = (rem.join(ms, rem.cid == ms.c1)
                      .select("cid",
                              F.round(_LAM * F.col("sim")
                                      - _ONE_MINUS_LAM * F.col("ms"), 6)
                              .alias("score")))
        row = scored.orderBy(F.desc("score"), "cid").limit(1).collect()[0]
        selected.append((pos, int(row["cid"]), float(row["score"])))
    return spark.createDataFrame(
        selected, "pos long, vec_id long, score double").orderBy("pos")
