from __future__ import annotations

from redpanda_iceberg_duckdb_spark.maintenance import (
    compact_small_files, dataset_file_stats,
)
from redpanda_iceberg_duckdb_spark.tables import load_table


def test_compaction_reduces_files(spark, sf_smoke, tmp_path):
    e = load_table(spark, sf_smoke, "events")
    frag = str(tmp_path / "fragmented")
    e.repartition(40).write.parquet(frag)   # simulate micro-batch small files
    n_in, _ = dataset_file_stats(frag)
    assert n_in >= 40
    out = str(tmp_path / "compacted")
    n_out = compact_small_files(spark, frag, out)
    assert n_out < n_in
    assert spark.read.parquet(out).count() == e.count()


def test_expire_snapshots(spark, tmp_path):
    from redpanda_iceberg_duckdb_spark.maintenance import expire_snapshots
    from redpanda_iceberg_duckdb_spark.streaming.merge_sink import (
        read_snapshot, start_merge_sink,
    )
    from pyspark.sql import types as T

    src = tmp_path / "chg"
    src.mkdir()
    for i in range(4):
        (spark.createDataFrame([(i, f"p{i}")], "id long, payload string")
         .coalesce(1).write.parquet(str(src / f"b{i}")))
    stream = (spark.readStream
              .schema(T.StructType([T.StructField("id", T.LongType()),
                                    T.StructField("payload", T.StringType())]))
              .option("maxFilesPerTrigger", "1")
              .option("recursiveFileLookup", "true").parquet(str(src)))
    base = str(tmp_path / "snap")
    q = start_merge_sink(stream, base=base, key_cols=["id"],
                         checkpoint=str(tmp_path / "ck"))
    q.awaitTermination(180)

    victims = expire_snapshots(base, keep=2)
    assert len(victims) >= 1
    snap = read_snapshot(spark, base)
    assert snap.count() == 4  # current snapshot untouched


def test_expire_snapshots_keep_zero_drops_all_but_current(tmp_path):
    """keep=0 must mean 'keep nothing except the pointer target' — the old
    versions[:-0] slice silently deleted nothing."""
    import os
    from redpanda_iceberg_duckdb_spark.maintenance import expire_snapshots

    base = str(tmp_path / "snaps")
    os.makedirs(base)
    for v in (1, 2, 3):
        os.makedirs(os.path.join(base, f"v{v}"))
        with open(os.path.join(base, f"v{v}", "data.parquet"), "w") as f:
            f.write("x")
    with open(os.path.join(base, "_CURRENT"), "w") as f:
        f.write("v3")
    victims = expire_snapshots(base, keep=0)
    assert sorted(os.path.basename(v) for v in victims) == ["v1", "v2"]
    assert os.path.exists(os.path.join(base, "v3"))
    import pytest
    with pytest.raises(ValueError):
        expire_snapshots(base, keep=-1)


def test_apply_deletions_removes_only_tombstoned_keys(spark, sf_smoke, tmp_path):
    from redpanda_iceberg_duckdb_spark.maintenance import apply_deletions
    from redpanda_iceberg_duckdb_spark.tables import load_table

    src = str(tmp_path / "users_data")
    load_table(spark, sf_smoke, "events").write.parquet(src)
    # 7 twice: a repeated tombstone key must not change the result
    doomed = spark.createDataFrame([(3,), (7,), (7,), (11,)], "user_id long")
    out = str(tmp_path / "after_delete")
    before, after = apply_deletions(spark, src, out,
                                    tombstones=doomed, key_col="user_id")
    kept = spark.read.parquet(out)
    assert kept.filter("user_id in (3, 7, 11)").count() == 0
    removed = spark.read.parquet(src).filter("user_id in (3, 7, 11)").count()
    assert removed > 0 and after == before - removed


def test_read_evolving_merges_added_column(spark, tmp_path):
    from redpanda_iceberg_duckdb_spark.maintenance import read_evolving

    base = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, name string") \
        .write.parquet(base + "/f1")
    spark.createDataFrame([(2, "b", 9.5)],
                          "id long, name string, score double") \
        .write.parquet(base + "/f2")
    # move part files into one directory (simulating appended batches)
    import glob as g
    import shutil
    os_dir = base + "/all"
    import os as _os
    _os.makedirs(os_dir)
    for i, f in enumerate(g.glob(base + "/f*/part-*.parquet")):
        shutil.copy(f, f"{os_dir}/part-{i}.parquet")
    df = read_evolving(spark, os_dir)
    rows = {r.id: (r.name, r.score) for r in df.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}

def test_retention_audit_matches_expire_snapshots(spark, sf_smoke, tmp_path):
    """snapshot_retention_audit's keep/expire classification and the real
    filesystem job must agree: build an on-disk v{version} fixture from the
    SAME manifest the query derives (one version per order month), run
    expire_snapshots at keep=2 and keep=0, and assert the deleted set equals
    the query's 'expire' set for each policy."""
    import os
    import shutil

    from redpanda_iceberg_duckdb_spark.maintenance import expire_snapshots
    from redpanda_iceberg_duckdb_spark.operators.maintenance_audit import (
        snapshot_retention_audit,
    )

    audit = {r["version"]: (r["status"], r["status_keep0"])
             for r in snapshot_retention_audit(spark, sf_smoke).collect()}
    assert len(audit) > 3  # enough versions for both policies to differ

    def build_fixture(base: str) -> None:
        os.makedirs(base)
        for v in audit:
            os.makedirs(os.path.join(base, f"v{v}"))
        with open(os.path.join(base, "_CURRENT"), "w") as f:
            f.write(f"v{max(audit)}")

    for keep, col in ((2, 0), (0, 1)):
        base = str(tmp_path / f"snaps_keep{keep}")
        build_fixture(base)
        victims = expire_snapshots(base, keep=keep)
        deleted = {int(os.path.basename(d)[1:]) for d in victims}
        expected = {v for v, st in audit.items() if st[col] == "expire"}
        assert deleted == expected, (keep, deleted ^ expected)
        shutil.rmtree(base)
