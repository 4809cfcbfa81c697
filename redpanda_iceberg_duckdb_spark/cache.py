"""The package's one memo cache for dataset-derived values.

Some queries share work that depends only on the data: the trade and
co-purchase edge tables, trained k-means assignments, PQ codebooks and BPE
merge tables, graph vertex counts and partitioned edge layouts, and the
broadcast query blocks of the exact-similarity references. They memoize
it here, with ``cached(spark, key, build)``. The caller's key names the
value and the data it came from (``data_fingerprint`` of the backing
parquet), so a rewrite of the files is a miss, not a stale read; a new
snapshot means new data, as with a table version in a catalog.

This module alone decides three things:

- **Key prefix.** Every key is prefixed with the Spark ``applicationId``,
  so nothing outlives its application.
- **Eviction order.** One LRU of ``CAPACITY`` entries. A lookup refreshes
  its entry; only an insertion evicts, and only the least recently used
  entry.
- **Release.** An evicted value is released: a tuple element by element,
  a ``Broadcast`` by ``unpersist()``, a localCheckpointed ``DataFrame`` by
  unpersisting the RDD under its ``LogicalRDD``. Other values (ints,
  lists) hold no Spark blocks and are simply dropped. Entries of an
  application that is no longer live are dropped unreleased: their blocks
  went with their context.

Limit: releasing a checkpoint is destructive. A frame still held after
its checkpoint was released fails with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND
when it runs. So a caller must not hold a cached frame (or a frame built
on one) across more than ``CAPACITY`` insertions, and ``clear()``
invalidates every frame drawn from the cache. ``CAPACITY`` is sized so
that one registry-order sweep of every cache-using query at one scale
factor evicts nothing (``stats()["evictions"]`` stays 0).
"""

from __future__ import annotations

import os
from collections import OrderedDict
from typing import Callable, Hashable, TypeVar

from pyspark import Broadcast, SparkContext
from pyspark.sql import DataFrame, SparkSession

# A sweep of every cache-using query at one scale factor inserts 12
# distinct keys (14 above the broadcast gate, which adds two partitioned
# edge layouts); `tools/oracle_sim.py --changed` prints the counts. The
# headroom stops short of holding a second dataset's edge tables.
CAPACITY = 16

_T = TypeVar("_T")
_ENTRIES: OrderedDict[tuple, object] = OrderedDict()
_STATS = {"hits": 0, "misses": 0, "evictions": 0}


def cached(spark: SparkSession, key: Hashable, build: Callable[[], _T]) -> _T:
    """Return the value cached under (applicationId, ``key``), calling
    ``build()`` once on a miss. Insertion past ``CAPACITY`` evicts and
    releases the least recently used entry (module docstring)."""
    k = (spark.sparkContext.applicationId, key)
    if k in _ENTRIES:
        _STATS["hits"] += 1
        _ENTRIES.move_to_end(k)
        return _ENTRIES[k]
    _STATS["misses"] += 1
    value = build()
    _ENTRIES[k] = value
    while len(_ENTRIES) > CAPACITY:
        _STATS["evictions"] += 1
        _drop(*_ENTRIES.popitem(last=False))
    return value


def clear() -> None:
    """Release and drop every entry. Counters keep counting."""
    while _ENTRIES:
        _drop(*_ENTRIES.popitem(last=False))


def stats() -> dict[str, int]:
    """Cumulative hits, misses and evictions, plus the live entry count."""
    return {**_STATS, "size": len(_ENTRIES)}


def _drop(key: tuple, value: object) -> None:
    sc = SparkContext._active_spark_context
    if sc is not None and key[0] == sc.applicationId:
        _release(value)


def _release(value: object) -> None:
    if isinstance(value, tuple):
        for v in value:
            _release(v)
    elif isinstance(value, Broadcast):
        value.unpersist()
    elif isinstance(value, DataFrame):
        plan = value._jdf.queryExecution().logical()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)


def data_fingerprint(sf_dir: str, *names: str) -> str:
    """Cheap driver-side fingerprint of the named parquet tables under
    ``sf_dir``, for the caller's part of a cache key: per file (path,
    inode, mtime_ns, size) plus the parquet footer length+magic tail bytes.

    Why: a key of (applicationId, sf_dir) alone silently serves stale
    checkpointed blocks if the parquet under an sf_dir is REWRITTEN within
    one Spark application — exactly what bench demos do with tmp dirs
    (round-9 advice). Folding the files' stat signature into the key makes
    a rewrite a cache miss instead of a correctness hazard. st_ino + the
    8-byte parquet tail (footer length || 'PAR1') close the round-10
    ADVICE #2 residual: a same-size rewrite landing within a coarse
    filesystem's mtime granularity still changes the inode on any
    atomic-rename writer, and a true in-place rewrite still moves the
    footer offset. O(#files) stat calls + one 8-byte read per file, no
    data scan. Never empty for one or more names: a missing file yields
    ``<path>:absent``."""
    parts = []
    for name in sorted(names):
        root = os.path.join(sf_dir, f"{name}.parquet")
        paths = [root]
        if os.path.isdir(root):
            paths = [os.path.join(root, f) for f in sorted(os.listdir(root))]
        for p in paths:
            try:
                st = os.stat(p)
                tail = b""
                if st.st_size >= 8:
                    with open(p, "rb") as fh:
                        fh.seek(-8, os.SEEK_END)
                        tail = fh.read(8)
                parts.append(f"{p}:{st.st_ino}:{st.st_mtime_ns}"
                             f":{st.st_size}:{tail.hex()}")
            except OSError:
                parts.append(f"{p}:absent")
    return "|".join(parts)
