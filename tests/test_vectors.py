"""Vector family tests (operators/vectors/): per-query job and scan
ceilings, the exact-decimal Lloyd path, and oracle parity on a planted
embeddings table with the edge cases the fixtures lack."""

from __future__ import annotations

import re

import numpy as np
import pytest

from redpanda_iceberg_duckdb_spark import cache
from redpanda_iceberg_duckdb_spark.operators.vectors import lloyd
from redpanda_iceberg_duckdb_spark.registry import all_queries

from .oracle_harness import run_compare
from .table_fixtures import write_single
from .test_graph import _jobs

# (build jobs, action jobs, "Scan parquet" nodes in the formatted plan)
# of each query registered from operators/vectors/, at sf0.001 with
# cache.clear() before each: the maximum over 3 runs on the commit before
# the 16 vector modules were merged (every count was identical in all 3
# runs). The k-means trainer now runs on the driver for sets under
# lloyd.DRIVER_TRAIN_BOUND, so its three callers carry the maximum over 3
# runs after the merge. Only ever lower a ceiling.
_CEILINGS = {
    "ann_ivf_multiprobe": (0, 12, 6),
    "ann_ivf_recall_at_k": (1, 10, 8),
    "ann_ivf_topk": (0, 7, 4),
    "ann_mrr_at_10": (1, 9, 8),
    "ann_recall_mrr_by_nprobe": (1, 19, 10),
    "ann_recall_retrained": (9, 13, 8),
    "cluster_medoids": (0, 12, 4),
    "cluster_quality_silhouette": (0, 16, 11),
    "cosine_topk_bruteforce": (1, 5, 3),
    "dbscan_grid_labels": (0, 14, 11),
    "embedding_near_dup_pairs": (0, 4, 4),
    "hard_negative_mining": (6, 6, 0),
    "hyperplane_lsh_near_dups": (0, 5, 6),
    "ivf_pq_recall_at_5": (2, 20, 11),
    "ivf_pq_trained_recall": (5, 18, 9),
    "jl_projection_distortion": (0, 6, 4),
    "kcenter_farthest_points": (14, 3, 0),
    "kmeans_lloyd_step": (0, 8, 2),
    "kmeans_train_converged": (7, 6, 1),
    "linear_cka_dim_halves": (0, 11, 5),
    "matryoshka_recall_curve": (1, 12, 8),
    "mmd_linear_label_pairs": (0, 8, 4),
    "mmr_diverse_topk": (27, 3, 0),
    "mutual_nn_pairs": (0, 7, 6),
    "mutual_nn_retrained": (7, 8, 6),
    "ndcg_at_10": (4, 13, 7),
    "pq_adc_recall_at_5": (2, 18, 9),
    "pq_code_distortion": (0, 9, 2),
    "pq_trained_distortion": (3, 8, 1),
    "semdedup_survivors": (0, 4, 1),
}

_FAMILY = sorted(n for n, q in all_queries().items()
                 if q.fn.__module__.startswith(
                     "redpanda_iceberg_duckdb_spark.operators.vectors."))


def test_ceilings_cover_the_vectors_package():
    """Every query registered from operators/vectors/ has a ceiling."""
    assert len(_FAMILY) == 30
    assert set(_FAMILY) <= set(_CEILINGS)


@pytest.mark.parametrize("name", sorted(_CEILINGS))
def test_job_and_scan_ceiling(spark, sf_smoke, name):
    """Plan build and action run no more Spark jobs, and the formatted
    physical plan holds no more parquet scans, than the committed
    ceiling (scans counted as in test_stats.test_scan_ceiling)."""
    qs = all_queries()
    qs["q1_trade_analytics"].fn(spark, sf_smoke).collect()   # warm session
    cache.clear()
    df, build = _jobs(spark, f"vec-{name}-build",
                      lambda: qs[name].fn(spark, sf_smoke))
    mode = (spark._jvm.org.apache.spark.sql.execution
            .ExplainMode.fromString("formatted"))
    plan = df._jdf.queryExecution().explainString(mode)
    scans = len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M))
    _, action = _jobs(spark, f"vec-{name}-action", df.collect)
    got = (len(build), len(action), scans)
    assert all(g <= c for g, c in zip(got, _CEILINGS[name])), (
        name, got, _CEILINGS[name])


@pytest.mark.parametrize("m", [1, lloyd.PQ_M])
def test_decimal_lloyd_path_matches_int64(spark, sf_smoke, monkeypatch, m):
    """With the int64 bound forced down, every round of k-means (1
    subspace) and PQ (8) takes the exact decimal(38,0) encoder path, and
    training ends with the same cell stats after the same round count."""
    fast = lloyd.train_lloyd(spark, sf_smoke, m)
    encoded = []
    encode = lloyd.encode
    monkeypatch.setattr(lloyd, "INT64_BOUND", 1)
    monkeypatch.setattr(lloyd, "encode",
                        lambda *a: encoded.append(1) or encode(*a))
    assert lloyd.train_lloyd(spark, sf_smoke, m) == fast
    assert len(encoded) >= 2 * fast[1] - 1


# ------------------------------------------------ the planted embeddings

_SINGLE = 200      # a probe (vec_id % 100 == 0) alone in label cell 9
_TWINS = (7, 11)   # identical vectors in label cell 3


def _planted_rows():
    """240 seeded 64-dim vectors in label cells vec_id % 4, with a probe
    alone in its own cell and two identical vectors in one cell."""
    rng = np.random.default_rng(11)
    rows = [[v, [float(x) for x in rng.uniform(-1, 1, 64).astype(np.float32)],
             v % 4] for v in range(240)]
    rows[_TWINS[1]][1] = list(rows[_TWINS[0]][1])
    rows[_SINGLE][2] = 9
    return [tuple(r) for r in rows]


@pytest.fixture(scope="module")
def planted_dir(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("planted_embeddings")
    df = spark.createDataFrame(
        _planted_rows(), "vec_id long, embedding array<float>, label int")
    write_single(df, out, "embeddings")
    return str(out)


def test_planted_edges_reach_the_queries(spark, planted_dir):
    """The planted cases take the branches they are there for: the lone
    probe's IVF recall is a left-join 0, its one-vector cell keeps its
    vector in SemDeDup, and the twins are a dropped duplicate and a
    mutual-NN pair at cosine 1."""
    qs = all_queries()
    recall = {r.qid: r.n_hits for r in
              qs["ann_ivf_recall_at_k"].fn(spark, planted_dir).collect()}
    assert recall[_SINGLE] == 0
    sem = {r.label: r for r in
           qs["semdedup_survivors"].fn(spark, planted_dir).collect()}
    assert (sem[9].n_vecs, sem[9].n_dropped) == (1, 0)
    assert sem[3].n_dropped >= 1
    pairs = {(r.vec_a, r.vec_b): r.cosine for r in
             qs["mutual_nn_pairs"].fn(spark, planted_dir).collect()}
    assert pairs[_TWINS] == 1.0


@pytest.mark.parametrize("name", sorted(_CEILINGS))
def test_oracle_parity_on_planted_edges(spark, planted_dir, name):
    """Each vector query matches its oracle on the planted table."""
    cache.clear()
    run_compare(spark, all_queries()[name], planted_dir)
