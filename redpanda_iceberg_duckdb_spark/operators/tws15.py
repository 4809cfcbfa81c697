"""transformWithState dedup replay, DuckDB-oracled (round-14 verdict
item 4): the engine's stateful-streaming surface ported onto Spark 4's
arbitrary-state API, verified the same way as the St-series contract.

Protocol (the state_metrics.py chunked-replay protocol, keyed by
user_id so duplicates actually occur): events split into 4 event-TIME
quartile files, replayed availableNow with maxFilesPerTrigger=1 through
streaming.dedup_tws.DedupNarratingProcessor (ValueState per user,
eviction timer at first-event + 1 hour). The processor narrates every
transition — emit / dup / evict rows — and the registered query returns
their per-(chunk, kind) counts.

The DuckDB oracle replays the SAME state machine in closed form under
the probed engine semantics (dedup_tws module docstring: input rows
before timers within a batch, non-strict timer firing on the lag-one
floor-to-ms watermark, final flush batch):

- per user, the anchor candidate in chunk c is the user's earliest
  event there;
- a candidate at chunk c finds live state iff the current anchor t
  (ms) survived every prior batch's eviction: t + 2D > M(c-2) where
  M(j) = floor-to-ms cumulative max event time through chunk j and
  D = the 1-hour delay (chunks are time ranges, so state created in
  chunk c-1 or c can never have been evicted before batch c — the
  check against M(c-2) is exact, and chunk-0/1 candidates never find
  an evictable anchor);
- every emission anchored at t is eventually evicted iff
  t + 2D <= M(3) (the final flush watermark).

With 4 batches the per-user recursion unrolls to closed-form CASE
columns — no loops, no simulation code in the oracle.

Reference parity: the reference's streaming surface is an at-least-once
Kafka consumer loop (/root/reference/redpanda/consumer.py); this keeps
its dedup contract while exercising the v2 state API.

Scale stance (100 TB): replay output is one row per (user, batch) plus
one per eviction — O(keys x 4), collected once, bounded; the event
payload never leaves the executors. State is one (expiry, chunk) tuple
per key in RocksDB, freed by the same watermark horizon as the built-in
operator.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import register
from ..streaming.dedup_tws import run_chunked_tws_replay, tws_available
from ..tables import load_table

_N_CHUNKS = 4
_D_MS = 3_600_000             # 1-hour watermark delay, in ms


def _write_chunked_events(spark: SparkSession, sf_dir: str, tmp: str) -> None:
    """Write the 4 event-time-quartile files (integer-div bucketing —
    two scalar aggregates plus a map-side expression, no global sort).

    r16 (guide §1.2): ONE partitioned write job instead of 4 filtered
    re-scans of events (one write job each) — at 100 TB that is 4 corpus
    scans -> 1. repartition("chunk") gives each chunk exactly one owning
    task, so each pchunk dir holds one file; the chunk value is
    duplicated into the data column because the streaming reader lists
    files recursively with an explicit schema (no partition inference).
    Replay order must be chunk 0..3: the file-stream source takes files
    oldest-first (modification time, path as tiebreak); a single
    parallel write leaves near-tied mtimes, so pin strictly increasing
    ones explicitly — the paths (pchunk=0 < pchunk=1 < ...) agree under
    either ordering. That pinning needs exactly one file per chunk
    directory; an empty chunk (no directory) or a split one raises
    instead of silently replaying out of order."""
    import glob
    import time as _t

    e = load_table(spark, sf_dir, "events").select("event_id", "user_id",
                                                   "ts")
    lo, hi = e.agg(F.min(F.unix_micros("ts")),
                   F.max(F.unix_micros("ts"))).head()
    chunked = (e.crossJoin(F.broadcast(
        spark.range(1).select(F.lit(int(lo)).alias("lo"),
                              F.lit(int(hi)).alias("hi"))))
        .select("event_id", "user_id", "ts",
                F.least(F.expr(f"((unix_micros(ts) - lo) * {_N_CHUNKS}) "
                               "div (hi - lo + 1)"),
                        F.lit(_N_CHUNKS - 1)).cast("int").alias("chunk")))
    (chunked.withColumn("pchunk", F.col("chunk"))
     .repartition(_N_CHUNKS, "chunk")
     .write.mode("overwrite").partitionBy("pchunk").parquet(tmp))
    now = _t.time()
    for i in range(_N_CHUNKS):
        files = glob.glob(os.path.join(tmp, f"pchunk={i}", "*.parquet"))
        if len(files) != 1:
            raise RuntimeError(
                f"tws replay chunk {i} holds {len(files)} parquet files, "
                "expected exactly 1 — replay order would be lost")
        os.utime(files[0], (now + i, now + i))


def chunked_tws_replay(spark: SparkSession, sf_dir: str, *,
                       collect_progress: bool = False):
    """Build the chunk files, run the transformWithState replay, return
    (narrated rows, query progress). tmp dir removed before returning."""
    import shutil
    import tempfile

    if not tws_available():
        raise NotImplementedError(
            "transformWithState needs protobuf in the Python workers; "
            "neither a protobuf install nor the SDK runtime for the "
            "pbshim is present in this environment")
    tmp = tempfile.mkdtemp(prefix="tws15_")
    try:
        _write_chunked_events(spark, sf_dir, tmp)
        return run_chunked_tws_replay(
            spark, tmp, key="user_id",
            schema=("event_id long, user_id long, ts timestamp, "
                    "chunk int"),
            watermark="1 hour", delay_ms=_D_MS,
            collect_progress=collect_progress)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_ORACLE = f"""
WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
b AS (SELECT min(us) AS lo, max(us) AS hi FROM e),
ev AS (SELECT user_id, us,
              least(((us - (SELECT lo FROM b)) * {_N_CHUNKS})
                    // ((SELECT hi FROM b) - (SELECT lo FROM b) + 1),
                    {_N_CHUNKS - 1}) AS chunk
       FROM e),
cmx AS (SELECT chunk, max(us) // 1000 AS mx_ms FROM ev GROUP BY chunk),
cum AS (SELECT a.chunk, max(c.mx_ms) AS m_ms
        FROM cmx a JOIN cmx c ON c.chunk <= a.chunk GROUP BY a.chunk),
uc AS (SELECT user_id, chunk, min(us) // 1000 AS t_ms
       FROM ev GROUP BY user_id, chunk),
p AS (SELECT user_id,
             max(CASE WHEN chunk = 0 THEN t_ms END) AS t0,
             max(CASE WHEN chunk = 1 THEN t_ms END) AS t1,
             max(CASE WHEN chunk = 2 THEN t_ms END) AS t2,
             max(CASE WHEN chunk = 3 THEN t_ms END) AS t3
      FROM uc GROUP BY user_id),
k AS (SELECT (SELECT m_ms FROM cum WHERE chunk = 0) AS m0,
             (SELECT m_ms FROM cum WHERE chunk = 1) AS m1,
             (SELECT m_ms FROM cum WHERE chunk = 3) AS m3),
sim AS MATERIALIZED (
  SELECT user_id, t0, t1, t2, t3, m0, m1, m3,
         coalesce(t0, t1) AS a1,
         (t2 IS NOT NULL AND coalesce(t0, t1) IS NOT NULL
          AND coalesce(t0, t1) + {2 * _D_MS} > m0) AS dup2,
         (t2 IS NOT NULL AND (coalesce(t0, t1) IS NULL
          OR coalesce(t0, t1) + {2 * _D_MS} <= m0)) AS emit2
  FROM p CROSS JOIN k),
sim2 AS MATERIALIZED (
  SELECT *, CASE WHEN emit2 THEN t2 ELSE a1 END AS a2 FROM sim),
sim3 AS MATERIALIZED (
  SELECT *,
         (t3 IS NOT NULL AND a2 IS NOT NULL
          AND a2 + {2 * _D_MS} > m1) AS dup3,
         (t3 IS NOT NULL AND (a2 IS NULL
          OR a2 + {2 * _D_MS} <= m1)) AS emit3
  FROM sim2),
emits AS MATERIALIZED (
  SELECT user_id, 0 AS chunk, t0 AS t, m3 FROM sim3 WHERE t0 IS NOT NULL
  UNION ALL
  SELECT user_id, 1, t1, m3 FROM sim3
  WHERE t1 IS NOT NULL AND t0 IS NULL
  UNION ALL
  SELECT user_id, 2, t2, m3 FROM sim3 WHERE emit2
  UNION ALL
  SELECT user_id, 3, t3, m3 FROM sim3 WHERE emit3),
out AS (
  SELECT 'emit' AS kind, chunk FROM emits
  UNION ALL
  SELECT 'dup', 1 FROM sim3 WHERE t1 IS NOT NULL AND t0 IS NOT NULL
  UNION ALL
  SELECT 'dup', 2 FROM sim3 WHERE dup2
  UNION ALL
  SELECT 'dup', 3 FROM sim3 WHERE dup3
  UNION ALL
  SELECT 'evict', chunk FROM emits WHERE t + {2 * _D_MS} <= m3)
SELECT cast(chunk AS int) AS chunk, kind, cast(count(*) AS bigint) AS n
FROM out GROUP BY chunk, kind ORDER BY kind, chunk"""


@register(
    "dedup_stream_tws_replay",
    oracle=_ORACLE,
    tags=("streaming", "state", "transformWithState", "dedup"),
)
def dedup_stream_tws_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(chunk, kind) counts of the narrated transformWithState dedup
    replay — every emit / dup / evict the real RocksDB-backed state
    machine performed, matched exactly by the closed-form DuckDB replay
    of the probed engine semantics (module docstring)."""
    rows, _ = chunked_tws_replay(spark, sf_dir)
    counts: dict[tuple[int, str], int] = {}
    for r in rows:
        counts[(r.chunk, r.kind)] = counts.get((r.chunk, r.kind), 0) + 1
    data = [(c, k, n) for (c, k), n in sorted(counts.items(),
                                              key=lambda x: (x[0][1], x[0][0]))]
    return spark.createDataFrame(data, "chunk int, kind string, n long")
