"""The package's one memo cache (redpanda_iceberg_duckdb_spark/cache.py):
LRU order, release of evicted values, and reuse across the queries that
share a cached value. Behaviour is observed through ``stats()`` deltas and
object identity, never through the cache's private dict."""

from __future__ import annotations

import os
import shutil

from redpanda_iceberg_duckdb_spark import cache
from redpanda_iceberg_duckdb_spark.registry import all_queries

_SF = "/root/testdata/sf0.001"


def _copy_tables(d: str, *names: str) -> str:
    """Copy tables from sf0.001 into ``d``: a dataset no earlier test has
    cached, so every cache lookup on it starts cold."""
    os.makedirs(d)
    for t in names:
        shutil.copy(f"{_SF}/{t}.parquet", f"{d}/{t}.parquet")
    return d


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _persistent(spark, rdd_id: int) -> bool:
    return spark.sparkContext._jsc.getPersistentRDDs().containsKey(rdd_id)


def test_lru_evicts_least_recent_and_releases_it(spark):
    """Insert capacity + 1 entries after a (checkpoint, broadcast) value:
    that value, the least recently used, is evicted and released — its
    checkpoint RDD leaves the persistent set and its broadcast is
    unpersisted — while an entry looked up just before survives."""
    ck = spark.range(10).localCheckpoint(eager=True)
    rdd_id = ck._jdf.queryExecution().logical().rdd().id()
    bc = spark.sparkContext.broadcast([1, 2, 3])
    unpersist_calls = []
    real_unpersist = bc.unpersist

    def spy(*args, **kwargs):
        unpersist_calls.append(args)
        return real_unpersist(*args, **kwargs)

    bc.unpersist = spy
    cache.cached(spark, ("lru", "oldest"), lambda: (ck, bc))
    cache.cached(spark, ("lru", "live"), lambda: 7)
    for i in range(cache.CAPACITY - 2):
        cache.cached(spark, ("lru", i), lambda: i)
    # the cache now holds exactly these CAPACITY entries; refresh "live"
    assert cache.cached(spark, ("lru", "live"), lambda: -1) == 7
    assert _persistent(spark, rdd_id) and not unpersist_calls

    before = cache.stats()
    cache.cached(spark, ("lru", "newest"), lambda: 0)
    after = cache.stats()
    assert after["evictions"] - before["evictions"] == 1
    assert after["size"] == cache.CAPACITY
    assert not _persistent(spark, rdd_id)
    assert len(unpersist_calls) == 1
    # the refreshed entry is still live: a hit, its build never runs
    assert cache.cached(spark, ("lru", "live"), lambda: -1) == 7
    assert cache.stats()["hits"] == after["hits"] + 1
    # the evicted one is a miss again
    assert cache.cached(spark, ("lru", "oldest"), lambda: "rebuilt") \
        == "rebuilt"


def test_clear_releases_lazy_checkpoints(spark):
    """clear() releases every entry; a lazy localCheckpoint that was
    materialized by an action is released like an eager one."""
    lazy = spark.range(5).localCheckpoint(eager=False)
    assert lazy.count() == 5
    rdd_id = lazy._jdf.queryExecution().logical().rdd().id()
    cache.cached(spark, ("clear", "lazy"), lambda: lazy)
    assert _persistent(spark, rdd_id)
    cache.clear()
    assert cache.stats()["size"] == 0
    assert not _persistent(spark, rdd_id)


def test_bpe_sweep_trains_each_granularity_once(spark, tmp_path,
                                                monkeypatch):
    """bpe_train_merges, bpe_train_merges_wordcount, bpe_encode_stats in
    registry order: two merge tables (plain and word-count weighted), so
    exactly two trainings and two cache misses. The single-slot cache
    this replaced trained three times: the weighted table evicted the
    plain one that bpe_encode_stats needs."""
    from redpanda_iceberg_duckdb_spark.operators import bpe_train

    d = _copy_tables(str(tmp_path / "ds"), "documents")
    trainings = []
    real = bpe_train._train_encoded

    def counting(enc):
        trainings.append(1)
        return real(enc)

    monkeypatch.setattr(bpe_train, "_train_encoded", counting)
    misses = cache.stats()["misses"]
    qs = all_queries()
    for name in ("bpe_train_merges", "bpe_train_merges_wordcount",
                 "bpe_encode_stats"):
        qs[name].fn(spark, d).collect()
    assert len(trainings) == 2
    assert cache.stats()["misses"] - misses == 2


def test_alternating_above_gate_graphs_build_each_layout_once(
        spark, tmp_path, monkeypatch):
    """With the broadcast gate forced off (bound=0) the co-purchase loops
    and the trade-graph SSSP each need their own partitioned edge layout.
    Alternating them must build each layout once: the second round adds
    no cache miss and reuses the same co-purchase layout object, and the
    answers do not change."""
    from redpanda_iceberg_duckdb_spark.operators.graph import edges
    from redpanda_iceberg_duckdb_spark.operators.graph.edges import (
        copurchase_join_strategy)

    monkeypatch.setattr(edges, "ITERATE_BROADCAST_BOUND", 0)
    d = _copy_tables(str(tmp_path / "ds"), "orders", "lineitem")
    qs = all_queries()
    first = [_rows(qs[n].fn(spark, d))
             for n in ("kcore_degree_histogram", "sssp_cheapest_paths")]
    layout, _ = copurchase_join_strategy(spark, d)
    misses = cache.stats()["misses"]
    second = [_rows(qs[n].fn(spark, d))
              for n in ("kcore_degree_histogram", "sssp_cheapest_paths")]
    assert cache.stats()["misses"] == misses
    assert copurchase_join_strategy(spark, d)[0] is layout
    assert second == first


def test_held_result_survives_another_cache_using_query(spark, tmp_path):
    """A lazy query result built on a cached checkpoint stays runnable
    while other cache-using queries insert their own entries (eviction is
    insertion-driven, LRU-only, and the capacity covers a sweep)."""
    d = _copy_tables(str(tmp_path / "ds"), "orders", "lineitem")
    qs = all_queries()
    held = qs["pagerank_trade_graph"].fn(spark, d)
    qs["kcore_degree_histogram"].fn(spark, _SF).collect()
    qs["pagerank_trade_graph"].fn(spark, _SF).collect()
    assert _rows(held) == _rows(qs["pagerank_trade_graph"].fn(spark, _SF))
