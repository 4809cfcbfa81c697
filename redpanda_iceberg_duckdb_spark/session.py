"""SparkSession factory.

Scale stance: these configs are what we'd ship to a 1000-executor cluster,
modulo the master URL. AQE handles runtime coalescing/skew; shuffle
partitions default to cores locally but should be ~2-3x total cores on a
real cluster (or left to AQE's coalescing from a high initial value).

Reference parity notes (SURVEY.md section 1): session timezone pinned to UTC so
timestamp semantics match the reference's timestamptz handling
(/root/reference/redpanda/producer.py:34-35) and the DuckDB oracle.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

# The driver-generated events.parquet stores TIMESTAMP(NANOS) which Spark
# cannot read natively; read as long and convert in tables.py (DuckDB
# truncates ns -> us, so we integer-divide to match).
_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

# Driver testdata stores timestamps as parquet timestamp[us] WITHOUT a
# timezone; Spark 4 infers those as TIMESTAMP_NTZ by default, which breaks
# unix_micros()/LTZ-only expressions and diverges from the DuckDB oracle's
# naive-timestamp-as-UTC semantics. Reading them as TIMESTAMP (session tz is
# pinned UTC) restores identical instants with zero casts, keeping predicate
# pushdown on ts columns intact.
_INFER_NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"

# PySpark 4 turns this on by default: every pyspark.sql.functions / Column
# call then walks the Python stack and makes extra py4j round trips
# (getActiveSession, a conf read, PySparkCurrentOrigin set/clear) so that an
# error message can name the user's file:line. Off, Q1's aggregate columns
# build in 21 ms instead of 50 ms; errors still raise with their error class
# and JVM context, minus that Python call-site note. It is a static conf, so
# it is set only here and never in configure_session.
_DATAFRAME_DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"

# Streaming metadata logs (source log, offsets, the file sink's
# _spark_metadata, commits: four small files per micro-batch) go through
# Spark's checkpoint file manager. The default one uses Hadoop FileContext,
# which on a local filesystem without libhadoop (NativeIO unavailable)
# resolves paths by forking a `readlink` process: 32 forks per
# trade_pipeline cycle, and a 5-byte atomic write costs about 27 ms. The
# FileSystem-based manager writes a temp file and renames it, 7.5 ms per
# write and no `readlink`. FileSystemBasedCheckpointFileManager.renameTempFile
# checks that the target is absent, then renames; what that rename gives:
# - local filesystem: POSIX rename, atomic (one writer per checkpoint);
# - HDFS: `rename` itself refuses an existing target, so a second writer of
#   the same batch fails there even if it passed the check;
# - object stores such as MinIO/S3: neither manager renames atomically; a
#   rename is a copy + delete either way.
_CHECKPOINT_FILE_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"

# Runtime SQL confs every session needs, whether get_spark builds it or a
# driver supplies it (configure_session). Shuffle width is not here: each
# entry point sizes it on its own.
_RUNTIME_CONF = {
    # Oracle parity: timestamps mean the same instant as in DuckDB.
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    _NANOS_AS_LONG: "true",
    _INFER_NTZ: "false",
    _CHECKPOINT_FILE_MANAGER: "org.apache.spark.sql.execution.streaming."
                              "checkpointing.FileSystemBasedCheckpointFileManager",
}


def get_spark(app_name: str = "redpanda_iceberg_duckdb_spark", *, cpus: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) the session.

    cpus defaults to $SPARK_GRAFT_CPUS or all local cores.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        .config(map=_RUNTIME_CONF)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(_DATAFRAME_DEBUGGING, "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def iterate_partitions(spark: SparkSession) -> int:
    """Shuffle-partition count for driver-stepped iterative loops (BFS
    frontiers, label/rank tables, DP levels): the per-round frames are
    O(V) iterates, orders of magnitude smaller than the corpus scans the
    session-level shuffle width is sized for, so running every rung at
    the full width just multiplies task-launch and stage overhead by the
    round count (guide §2.2 "fewer, larger partitions" + the
    pagerank_converged precedent, which measured 36 rounds at 9 s
    pinned vs 28 s at session width). Scale-adaptive, not a constant:
    derived from the session's own parallelism (defaultParallelism/4,
    floor 4), so the driver's lower-core bench runs and a real cluster
    both get a width proportional to their compute rather than a value
    tuned to local[32]."""
    return max(4, spark.sparkContext.defaultParallelism // 4)


@contextmanager
def pinned_shuffle_partitions(spark: SparkSession, n: int):
    """Scoped spark.sql.shuffle.partitions override for an iterative
    loop's plan/execute window; restores the prior value on exit. Skips
    the set entirely when the value already matches (every conf.set —
    even a no-op write — drops the session's plan/codegen caches; the
    r06 bench drift lesson, see configure_session)."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    if prev == str(n):
        yield
        return
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable parity configs to an externally provided session
    (the driver passes its own SparkSession to ``entry``/``queries`` callables).

    Static configs (driver memory, master) can't change here; the ones that
    matter for oracle parity (timezone), plan quality (AQE) and streaming
    checkpoint writes (the checkpoint file manager) can: ``_RUNTIME_CONF``.

    Every ``spark.conf.set`` — even to the current value — bumps the session
    state and drops Spark's parsed/analyzed-plan and codegen caches, which
    measurably slowed repeated loads (r06 bench drift: events_hourly +43%).
    So set only confs whose current value actually differs; repeat calls on a
    configured session are then pure reads and plan caches survive.
    """
    try:
        wanted = {
            **_RUNTIME_CONF,
            # Size the shuffle to the session's actual parallelism instead of
            # the 200-partition default — on the driver's small local session
            # that default means ~25 near-empty tasks per core per exchange.
            # AQE coalesces most of it, but the scheduler overhead is real; on
            # a cluster defaultParallelism ~= 2-3x cores, the right start.
            "spark.sql.shuffle.partitions":
                str(max(spark.sparkContext.defaultParallelism, 8)),
        }
        for key, value in wanted.items():
            if spark.conf.get(key, None) != value:
                spark.conf.set(key, value)
    except Exception:  # pragma: no cover - config may be locked down
        pass
    return spark
