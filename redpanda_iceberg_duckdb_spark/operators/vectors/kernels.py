"""The dot and quantization kernels every vector query shares, and the
DuckDB CTEs that compute the same values (package docstring for the
lattices and the query block).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ...cache import cached

DOT_SCALE = "1e12"

# 1e4 quantization of the embedding array, one bigint per dim.
Q4 = ("transform(embedding, x -> cast(floor("
      "cast(x as double) * 1e4) as bigint))")

# int64-scaled dot: floor(x*y*1e12) summed — order-independent, exact.
_DOT_INT_SPARK = (
    "aggregate(zip_with({a}, {b}, (x, y) -> "
    "cast(floor(cast(x as double) * cast(y as double) * " + DOT_SCALE
    + ") as bigint)), cast(0 as bigint), (acc, v) -> acc + v)"
)

# DuckDB: unnest of two lists in one SELECT zips them positionally.
NORMS_DUCK = f"""
norms AS (SELECT vec_id,
                 sqrt(cast(sum(cast(floor(cast(x AS double) * cast(x AS double)
                                          * {DOT_SCALE}) AS bigint)) AS double)) AS nrm
          FROM (SELECT vec_id, unnest(embedding) x FROM embeddings)
          GROUP BY vec_id)
"""

DOT_DUCK = f"""
dots AS (SELECT qid, cid,
                cast(sum(cast(floor(cast(x AS double) * cast(y AS double)
                                    * {DOT_SCALE}) AS bigint)) AS double) AS dot
         FROM (SELECT qid, cid, unnest(qe) x, unnest(ce) y FROM pairs)
         GROUP BY qid, cid)
"""


def dots_duck(name: str, pairs: str) -> str:
    """``name AS (...)``: the (qid, cid, dot) CTE over the (qid, cid, qe,
    ce) rows of CTE ``pairs`` (both names six characters long)."""
    return f"""{name} AS (SELECT qid, cid,
                  cast(sum(cast(floor(cast(x AS double) * cast(y AS double)
                                      * {DOT_SCALE}) AS bigint)) AS double) AS dot
           FROM (SELECT qid, cid, unnest(qe) x, unnest(ce) y FROM {pairs})
           GROUP BY qid, cid)"""


# The brute-force side of a recall oracle: every probe in CTE q against
# every other vector; and the IVF side: candidates in the probe's label.
EXACT_DOTS_DUCK = """pairs_x AS (SELECT qid, vec_id cid, qe, embedding ce
            FROM q, embeddings WHERE vec_id <> qid),
""" + dots_duck("dots_x", "pairs_x")

CELL_DOTS_DUCK = """pairs_i AS (SELECT qid, e.vec_id cid, qe, e.embedding ce
            FROM q JOIN embeddings e
              ON e.label = q.qlabel AND e.vec_id <> q.qid),
""" + dots_duck("dots_i", "pairs_i")


# Each label cell's per-dim coordinate sums on the 1e4 lattice and size.
CENTROIDS_DUCK = """cs AS (
  SELECT label, k,
         sum(cast(floor(cast(x as double) * 1e4) as bigint)) AS s,
         count(*) AS n
  FROM (SELECT label, unnest(embedding) x,
               generate_subscripts(embedding, 1) k FROM embeddings)
  GROUP BY label, k),"""

PROBES_DUCK = """q AS (SELECT vec_id qid, label qlabel, embedding qe FROM embeddings
           WHERE vec_id % 100 = 0 AND vec_id < 6400)"""

SIMS_DUCK = """sims AS (SELECT qid, cid,
                round(dot / (nq.nrm * nc.nrm), 6) AS sim
         FROM dots JOIN norms nq ON nq.vec_id = qid
                   JOIN norms nc ON nc.vec_id = cid)"""

# recall@5 of CTE ivf5 against CTE exact5, per probe of CTE q.
RECALL_DUCK = """hits AS (SELECT i.qid, count(*) AS n_hits
         FROM ivf5 i JOIN exact5 x ON x.qid = i.qid AND x.cid = i.cid
         GROUP BY i.qid)
SELECT q.qid, cast(coalesce(h.n_hits, 0) AS bigint) AS n_hits,
       round(coalesce(h.n_hits, 0) / 5.0, 6) AS recall_at_5
FROM q LEFT JOIN hits h ON h.qid = q.qid
ORDER BY q.qid"""


def topk_duck(name: str, dots: str, where: str, cols: str = "qid, cid",
              indent: int = 13, rank: str = "rank") -> str:
    """``name AS (...)``: the ``cols`` of CTE ``dots`` rows, ranked per
    qid on the 6-dp cosine (ties to the smaller cid) and filtered by
    ``where``; ``indent`` is the column of the inner SELECT."""
    p = " " * indent
    return (f"{name} AS (SELECT {cols} FROM\n"
            f"{p}(SELECT d.qid, d.cid,\n"
            f"{p}        row_number() OVER (PARTITION BY d.qid\n"
            f"{p}          ORDER BY round(d.dot / (nq.nrm * nc.nrm), 6) DESC,\n"
            f"{p}                   d.cid) {rank}\n"
            f"{p} FROM {dots} d JOIN norms nq ON nq.vec_id = d.qid\n"
            f"{p} {' ' * (len(dots) + 8)}JOIN norms nc ON nc.vec_id = d.cid)\n"
            f"{' ' * (indent - 2)}WHERE {where})")


def lattice_products(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """floor(a * b * 1e12) as int64, elementwise (numpy broadcasting):
    the dot lattice's terms; their sums are the exact dots."""
    return np.floor(a * b * 1e12).astype(np.int64)


def dot_int64(a: str, b: str) -> Column:
    """The lattice dot of two array columns as a JVM fold — fine for
    bounded pair sets."""
    return F.expr(_DOT_INT_SPARK.format(a=a, b=b))


def norms(emb: DataFrame) -> DataFrame:
    """(vec_id, nrm): each vector's norm on the dot lattice."""
    return emb.select(
        "vec_id",
        F.sqrt(dot_int64("embedding", "embedding").cast("double"))
        .alias("nrm"))


def ranked_topk(sims: DataFrame, k: int) -> DataFrame:
    """(qid, cid, sim, rank) of each query's k most similar candidates,
    ties to the smaller cid."""
    w = W.partitionBy("qid").orderBy(F.desc("sim"), F.asc("cid"))
    return (sims.select("qid", "cid", "sim",
                        F.row_number().over(w).alias("rank"))
            .filter(F.col("rank") <= k))


def sims_from_dots(dots: DataFrame, nrm: DataFrame, *keep: str
                   ) -> DataFrame:
    """(qid, cid, keep..., sim): the 6-dp cosine of (qid, cid, dot) rows;
    the query-side norms broadcast."""
    return (
        dots.join(F.broadcast(nrm.select(F.col("vec_id").alias("qid"),
                                         F.col("nrm").alias("qn"))), "qid")
        .join(nrm.select(F.col("vec_id").alias("cid"),
                         F.col("nrm").alias("cn")), "cid")
        .select("qid", "cid", *keep,
                F.round(F.col("dot") / (F.col("qn") * F.col("cn")), 6)
                .alias("sim"))
    )


def probes(emb: DataFrame, mod: int, cap: int | None = None,
           cell: str | None = None) -> DataFrame:
    """(qid, [qlabel], qe): the probe set ``vec_id % mod = 0 [AND vec_id <
    cap]``, with the probe's cell column as ``qlabel`` when named."""
    keep = F.col("vec_id") % mod == 0
    if cap is not None:
        keep = keep & (F.col("vec_id") < cap)
    label = [F.col(cell).alias("qlabel")] if cell else []
    return emb.filter(keep).select(F.col("vec_id").alias("qid"), *label,
                                   F.col("embedding").alias("qe"))


def candidates(emb: DataFrame, *extra: str | Column) -> DataFrame:
    """(cid, extra..., ce): every vector as a candidate."""
    return emb.select(F.col("vec_id").alias("cid"), *extra,
                      F.col("embedding").alias("ce"))


def query_block_broadcast(spark: SparkSession,
                          qids: list[int], qvecs: list[list[float]]):
    """SparkContext broadcast of a collected query block, cached by
    content: repeated calls on the same dataset reuse ONE broadcast, and
    the cache unpersists it on eviction."""
    digest = hashlib.md5(np.asarray(qids, dtype=np.int64).tobytes()
                         + np.asarray(qvecs, dtype=np.float64).tobytes())
    return cached(spark, ("query_block", digest.hexdigest()),
                  lambda: spark.sparkContext.broadcast((qids, qvecs)))


def bcast_query_dots(q: DataFrame, cand: DataFrame, cid: str = "cid",
                     ce: str = "ce",
                     cuts: tuple[int, ...] | None = None) -> DataFrame:
    """(qid, cid, [d], dot): the lattice dot of EVERY candidate against
    EVERY query in the gate-bounded block ``q`` (qid, qe), self-pairs
    dropped. With ``cuts``, one row per prefix length d holding the dot
    of the first d dims (a prefix sum of the same terms).

    ``q.collect()`` runs when the frame is built (package docstring); the
    block rides a cached broadcast into ONE mapInPandas over ``cand``'s
    ``cid`` and ``ce`` columns, so each candidate crosses Arrow once and
    no pair join enters the plan. Dots are yielded per query (and cut),
    so a Python worker holds one query slice of a batch at a time."""
    qrows = q.select("qid", "qe").collect()  # gate-bounded by construction
    bc = query_block_broadcast(cand.sparkSession,
                               [int(r["qid"]) for r in qrows],
                               [list(r["qe"]) for r in qrows])
    levels = cuts or (None,)

    def compute(batches):
        qid_arr = np.array(bc.value[0], dtype=np.int64)
        qm = np.array(bc.value[1], dtype=np.float64)
        for pdf in batches:
            if len(pdf) == 0 or len(qid_arr) == 0:
                continue
            cmat = np.array(list(pdf[ce]), dtype=np.float64)
            cids = pdf[cid].to_numpy()
            for j in range(len(qid_arr)):
                mask = cids != qid_arr[j]
                n = int(mask.sum())
                cums = lattice_products(cmat[mask], qm[j]).cumsum(axis=1)
                for d in levels:
                    out = {"qid": np.full(n, qid_arr[j], dtype=np.int64),
                           "cid": cids[mask]}
                    if d is not None:
                        out["d"] = np.full(n, d, dtype=np.int32)
                    out["dot"] = cums[:, (d or cums.shape[1]) - 1].astype(
                        np.float64)
                    yield pd.DataFrame(out)

    schema = ("qid long, cid long, " + ("d int, " if cuts else "")
              + "dot double")
    return cand.select(cid, ce).mapInPandas(compute, schema=schema)


def exact_topk(q: DataFrame, cand: DataFrame, nrm: DataFrame,
               k: int) -> DataFrame:
    """(qid, cid, sim, rank): each probe's exact top-k over every
    candidate (cid, ce), through the broadcast query block."""
    return ranked_topk(sims_from_dots(bcast_query_dots(q, cand), nrm), k)


def cell_topk(q: DataFrame, cells: DataFrame, nrm: DataFrame, k: int,
              cell: str = "label") -> DataFrame:
    """(qid, cid, sim, rank): each probe's top-k among the candidates
    (cid, cell, ce) that share its ``qlabel`` cell (IVF, nprobe=1)."""
    pairs = cells.join(F.broadcast(q), (F.col(cell) == F.col("qlabel"))
                       & (F.col("cid") != F.col("qid")))
    dots = pairs.select("qid", "cid",
                        dot_int64("qe", "ce").cast("double").alias("dot"))
    return ranked_topk(sims_from_dots(dots, nrm), k)


def recall_at_k(qids: DataFrame, approx: DataFrame, exact: DataFrame,
                k: int) -> DataFrame:
    """(qid, n_hits, recall_at_k) per probe: how many of its approximate
    top-k (qid, cid) are in its exact top-k; 0 for a probe with none."""
    hits = (approx.join(exact, ["qid", "cid"])
            .groupBy("qid").agg(F.count(F.lit(1)).alias("n_hits")))
    return (qids.join(hits, "qid", "left")
            .select("qid",
                    F.coalesce("n_hits", F.lit(0)).cast("long")
                    .alias("n_hits"),
                    F.round(F.coalesce("n_hits", F.lit(0)) / float(k), 6)
                    .alias(f"recall_at_{k}"))
            .orderBy("qid"))


def cell_dists(q: DataFrame, emb: DataFrame, *keys: str) -> DataFrame:
    """(keys..., label, dist): the distance of each query (qe) to every
    label cell's centroid on the 1e4 lattice, as an exact decimal sum
    over one double division. The centroid table (cells x dims sums and
    sizes) broadcasts."""
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
    term = ("cast(cast(floor(cast(x as double) * 1e4) as bigint) * n - s "
            "as decimal(19,0))")
    return (q.crossJoin(F.broadcast(cent))
            .select(*keys, "label", F.expr(
                f"cast(aggregate(zip_with(qe, s_arr, (x, s) -> "
                f"{term} * {term}), cast(0 as decimal(38,0)), "
                "(acc, v) -> acc + v) as double) "
                "/ (cast(n as double) * n)").alias("dist")))


def nearest_cells(dist: DataFrame, n: int, rank: str = "rn") -> DataFrame:
    """The ``n`` nearest cells of each qid in ``dist``, ranked 1.. in
    column ``rank`` (ties to the smaller label)."""
    return (dist.withColumn(rank, F.row_number().over(
                W.partitionBy("qid").orderBy("dist", "label")))
            .filter(F.col(rank) <= n))
