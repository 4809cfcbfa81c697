"""Table maintenance: the operational jobs a 100 TB lake needs that the
reference delegates to Redpanda's translator (1 MiB flush -> many small
files) and never cleans up.

- compact_small_files: rewrite a parquet dataset into ~target-sized files.
  The small-file problem is the top operational failure mode of streaming
  ingest (every micro-batch emits files); compaction restores scan
  efficiency (fewer tasks, bigger sequential reads, better row-group
  statistics).
- partitioned_rewrite: re-layout a dataset under a partition column (e.g.
  days(ts)) so future scans partition-prune (tests/test_plans.py proves the
  pruning).

On Iceberg these are `rewrite_data_files` / partition-spec evolution; these
utilities are the plain-parquet equivalents with the same knobs.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

TARGET_FILE_BYTES = 128 * 1024 * 1024


def dataset_file_stats(path: str) -> tuple[int, int]:
    """(n_files, total_bytes) of a parquet dataset directory (recursive)."""
    files = [f for f in glob.glob(f"{path}/**/*.parquet", recursive=True)]
    return len(files), sum(os.path.getsize(f) for f in files)


def compact_small_files(spark: SparkSession, path: str, out_path: str, *,
                        target_file_bytes: int = TARGET_FILE_BYTES) -> int:
    """Rewrite ``path`` into ``out_path`` with ~target-sized files.
    Returns the output file count. Uses the measured input size, not row
    counts — file sizing is a byte problem."""
    _, total = dataset_file_stats(path)
    n_out = max(1, (total + target_file_bytes - 1) // target_file_bytes)
    df = spark.read.parquet(path)
    # coalesce avoids a shuffle when reducing; repartition only if growing
    n_in = df.rdd.getNumPartitions()
    out = df.coalesce(n_out) if n_out <= n_in else df.repartition(n_out)
    out.write.mode("overwrite").parquet(out_path)
    return dataset_file_stats(out_path)[0]


def partitioned_rewrite(df: DataFrame, out_path: str, *,
                        day_col: str = "ts") -> None:
    """Re-layout under day= partitions for partition-pruned scans."""
    (df.withColumn("day", F.to_date(F.col(day_col)))
     .write.mode("overwrite").partitionBy("day").parquet(out_path))


def expire_snapshots(base: str, *, keep: int = 2) -> list[str]:
    """Retention for merge_sink snapshot versions: drop all but the newest
    ``keep`` version directories (never the one the pointer names). The
    plain-parquet analogue of Iceberg's expire_snapshots."""
    import shutil

    from .streaming import snapshots

    if keep < 0:
        raise ValueError(f"keep must be >= 0, got {keep}")
    current = snapshots.current_version(base)
    found = snapshots.versions(base)
    # found[:-keep] with keep=0 is the EMPTY slice — the opposite of
    # "keep none but current" — so compute the cut explicitly.
    victims = [snapshots.table_path(base, v)
               for v in found[:len(found) - keep] if v != current]
    for d in victims:
        shutil.rmtree(d)
    return victims


def apply_deletions(spark: SparkSession, data_path: str, out_path: str, *,
                    tombstones: DataFrame, key_col: str) -> tuple[int, int]:
    """Right-to-be-forgotten pass: rewrite ``data_path`` without any row
    whose ``key_col`` appears in ``tombstones`` (a small keyed DataFrame —
    broadcast onto the scan, so the pass is one read + one write, no
    shuffle). Returns (rows_before, rows_after). The Iceberg/Delta
    equivalent is DELETE WHERE + rewrite_data_files; on plain parquet the
    rewrite IS the delete.

    Write lands in ``out_path`` (never in place): the caller swaps paths or
    pointers after validating counts, the same crash-safe two-step as
    streaming/merge_sink's pointer flip."""
    df = spark.read.parquet(data_path)
    before = df.count()
    # No distinct(): a duplicated key cannot change a left-anti result.
    keys = tombstones.select(F.col(key_col))
    kept = df.join(F.broadcast(keys), key_col, "left_anti")
    kept.write.mode("overwrite").parquet(out_path)
    after = spark.read.schema(kept.schema).parquet(out_path).count()
    return before, after


def read_evolving(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution-tolerant read: files written before a column was
    added coexist with files written after; mergeSchema unions the schemas
    and back-fills nulls for missing columns — the plain-parquet analogue of
    Iceberg's add-column evolution (old data files simply lack the field)."""
    return spark.read.option("mergeSchema", "true").parquet(path)
