"""Streaming MERGE sink: apply a change stream to a keyed snapshot with
foreachBatch + the batch upsert operator — the pattern behind streaming
MERGE INTO (Iceberg/Delta) expressed on plain parquet.

Exactly-once story: foreachBatch can re-run a batch after failure, so the
sink must be idempotent. Upsert by key IS idempotent (re-applying the same
changes yields the same snapshot), which is why this pattern is safe where
blind appends are not. Each batch commits a new snapshot version through
``snapshots`` (data + recorded schema, pointer flipped last — Iceberg's
metadata swap, one level down), so reading the snapshot back runs no
schema-inference job.

When the planner knows the batch's size (a file-backed micro-batch, for
instance), one batch is two Spark jobs: the broadcast of the change keys
for the anti-join and the write. The write is coalesced to the optimizer's
size estimate over ``maintenance.TARGET_FILE_BYTES`` (the compaction
target), so a small keyed snapshot is one file per version, not one per
input partition; a batch of unknown size estimates as unbounded and keeps
its partitioning.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from . import snapshots
from ..maintenance import TARGET_FILE_BYTES
from ..operators.cdc import upsert

# coalesce() takes a JVM int; a plan over an RDD or with a Window estimates
# its size far above that range.
_MAX_FILES = 2**31 - 1


def current_snapshot_path(base: str) -> str | None:
    v = snapshots.current_version(base)
    return None if v is None else snapshots.table_path(base, v)


def read_snapshot(spark: SparkSession, base: str) -> DataFrame | None:
    return snapshots.read(spark, base)


def _file_count(df: DataFrame) -> int:
    """ceil(optimizer size estimate / TARGET_FILE_BYTES), at least 1."""
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return min(max(1, -(-size // TARGET_FILE_BYTES)), _MAX_FILES)


def merge_batch(batch: DataFrame, epoch_id: int, *, base: str,
                key_cols: list[str], seq_col: str | None = None) -> bool:
    """Apply one micro-batch to the snapshot at ``base``. Returns False when
    the batch was skipped because it already committed (replay)."""
    from pyspark.sql import Window as W, functions as F

    spark = batch.sparkSession
    version = epoch_id + 1
    # Replay guard: foreachBatch re-runs a batch after failure. If the
    # pointer already names v{version}, this batch committed before the
    # crash — writing again would overwrite the directory the pointer (and
    # any concurrent reader) points at. Skip: upsert is idempotent, and the
    # committed snapshot already contains this batch.
    if snapshots.is_committed(base, version):
        return False
    if seq_col is not None:
        # Last change per key wins WITHIN the batch — without this, a batch
        # carrying two changes for one key leaves duplicate key rows.
        w = W.partitionBy(*key_cols).orderBy(F.desc(seq_col))
        batch = (batch.withColumn("_rn", F.row_number().over(w))
                 .filter(F.col("_rn") == 1).drop("_rn"))
    # committed < version here, so the snapshot we read is never the
    # directory we are about to overwrite.
    snap = read_snapshot(spark, base)
    merged = upsert(snap, batch, key_cols) if snap is not None else batch
    snapshots.commit(base, version, {"": merged.coalesce(_file_count(merged))})
    return True


def start_merge_sink(changes: DataFrame, *, base: str, key_cols: list[str],
                     checkpoint: str, available_now: bool = True,
                     seq_col: str | None = None) -> StreamingQuery:
    """Start a streaming query that MERGEs each micro-batch of ``changes``
    into the keyed snapshot at ``base``.

    ``seq_col``: monotonically increasing change-sequence column used to
    dedup WITHIN a micro-batch (last change per key wins). Without it a
    batch carrying two changes for one key would leave duplicate key rows in
    the snapshot permanently — pass it whenever the source can emit more
    than one change per key per batch.
    """
    os.makedirs(base, exist_ok=True)

    def apply_batch(batch: DataFrame, epoch_id: int) -> None:
        merge_batch(batch, epoch_id, base=base, key_cols=key_cols,
                    seq_col=seq_col)

    writer = (changes.writeStream.foreachBatch(apply_batch)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
