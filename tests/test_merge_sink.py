"""Streaming MERGE sink: change batches fold into a keyed snapshot; the
final snapshot equals the batch ground truth (last change per key wins
across batches)."""

from __future__ import annotations

from pyspark.sql import functions as F, types as T

from redpanda_iceberg_duckdb_spark.streaming.merge_sink import (
    read_snapshot, start_merge_sink,
)


def test_streaming_merge_folds_changes(spark, tmp_path):
    src = tmp_path / "changes"
    src.mkdir()
    # three files -> three micro-batches (maxFilesPerTrigger=1), ordered
    # lexicographically so batch order is deterministic
    batches = [
        [(1, "a", 1), (2, "b", 1)],
        [(2, "b2", 2), (3, "c", 2)],
        [(1, "a3", 3), (4, "d", 3)],
    ]
    schema = "id long, payload string, change_seq long"
    for i, rows in enumerate(batches):
        (spark.createDataFrame(rows, schema)
         .coalesce(1).write.parquet(str(src / f"batch_{i}")))

    stream = (spark.readStream
              .schema(T.StructType([
                  T.StructField("id", T.LongType()),
                  T.StructField("payload", T.StringType()),
                  T.StructField("change_seq", T.LongType())]))
              .option("maxFilesPerTrigger", "1")
              .option("recursiveFileLookup", "true")
              .parquet(str(src)))
    base = str(tmp_path / "snap")
    q = start_merge_sink(stream, base=base, key_cols=["id"],
                         checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    snap = read_snapshot(spark, base)
    got = {r.id: (r.payload, r.change_seq) for r in snap.collect()}
    # last write per key wins; file order may batch arbitrarily, so assert
    # against max change_seq per key
    import itertools
    truth = {}
    for rid, payload, seq in itertools.chain(*batches):
        if rid not in truth or seq > truth[rid][1]:
            truth[rid] = (payload, seq)
    assert got == truth


def test_intra_batch_dedup_last_change_per_key_wins(spark, tmp_path):
    """A single micro-batch carrying two changes for one key must leave ONE
    row for that key (highest change_seq), not duplicates."""
    from redpanda_iceberg_duckdb_spark.streaming.merge_sink import merge_batch

    base = str(tmp_path / "snap")
    import os
    os.makedirs(base)
    schema = "id long, payload string, change_seq long"
    b0 = spark.createDataFrame(
        [(1, "first", 1), (1, "second", 2), (2, "x", 1)], schema)
    assert merge_batch(b0, 0, base=base, key_cols=["id"], seq_col="change_seq")
    snap = read_snapshot(spark, base)
    got = {r.id: r.payload for r in snap.collect()}
    assert got == {1: "second", 2: "x"}
    assert snap.count() == 2  # no duplicate key rows


def test_replayed_batch_is_skipped_not_overwritten(spark, tmp_path):
    """foreachBatch replay after the pointer flip must skip, not re-read and
    overwrite the directory the pointer names."""
    from redpanda_iceberg_duckdb_spark.streaming.merge_sink import merge_batch

    base = str(tmp_path / "snap")
    import os
    os.makedirs(base)
    schema = "id long, payload string, change_seq long"
    b0 = spark.createDataFrame([(1, "a", 1)], schema)
    b1 = spark.createDataFrame([(2, "b", 2)], schema)
    assert merge_batch(b0, 0, base=base, key_cols=["id"], seq_col="change_seq")
    assert merge_batch(b1, 1, base=base, key_cols=["id"], seq_col="change_seq")
    # replay of batch 1 (crash after commit, before checkpoint ack)
    assert not merge_batch(b1, 1, base=base, key_cols=["id"],
                           seq_col="change_seq")
    got = {r.id: r.payload for r in read_snapshot(spark, base).collect()}
    assert got == {1: "a", 2: "b"}


def _jobs(spark, group, fn):
    """(fn(), ids of the Spark jobs it ran) inside job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def test_merge_batch_two_jobs_one_file_and_read_runs_no_job(spark, tmp_path):
    """A keyed batch spread over several partitions merges into a snapshot
    of ONE file per version; the second batch costs at most two jobs (the
    change-key broadcast and the write); reading the snapshot back takes
    the recorded schema, runs no job, and equals what inference gives."""
    import glob
    import os

    from redpanda_iceberg_duckdb_spark.streaming.merge_sink import (
        current_snapshot_path, merge_batch)

    base = str(tmp_path / "snap")
    os.makedirs(base)

    # 8 keyed rows in five partitions, with a size the optimizer knows (as
    # for a file-backed micro-batch) and no shuffle of their own.
    def batch(bump):
        return spark.range(0, 8, 1, 5).selectExpr(
            "concat('S', id) AS symbol", f"id + {bump} AS trade_count",
            "10 * id AS total_volume")

    assert merge_batch(batch(0), 0, base=base, key_cols=["symbol"])
    ok, jobs = _jobs(spark, "merge_second_batch",
                     lambda: merge_batch(batch(1), 1, base=base,
                                         key_cols=["symbol"]))
    assert ok and len(jobs) <= 2, jobs
    for v in ("v1", "v2"):
        assert len(glob.glob(os.path.join(base, v, "*.parquet"))) == 1, v

    snap, jobs = _jobs(spark, "read_snapshot_no_job",
                       lambda: read_snapshot(spark, base))
    assert jobs == []
    assert snap.schema == spark.read.parquet(
        current_snapshot_path(base)).schema
    assert sorted(map(tuple, snap.collect())) == sorted(
        (f"S{i}", i + 1, 10 * i) for i in range(8))
