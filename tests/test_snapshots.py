"""Versioned snapshots (streaming/snapshots.py): every read takes the
schema recorded at commit time — no schema-inference job — and a version
whose files or schema record do not match raises instead of reading nulls."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from redpanda_iceberg_duckdb_spark.streaming import snapshots
from redpanda_iceberg_duckdb_spark.tables import SchemaMismatchError


def _no_jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    return out


def _commit_one(spark, base):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, payload string")
    snapshots.commit(base, 1, {"": df})
    return snapshots.table_path(base, 1)


def test_version_file_missing_recorded_column_raises(spark, tmp_path):
    base = str(tmp_path / "snap")
    path = _commit_one(spark, base)
    pq.write_table(pa.table({"id": pa.array([3], pa.int64())}),
                   os.path.join(path, "part-extra.parquet"))
    with pytest.raises(SchemaMismatchError,
                       match="'payload'.*part-extra.parquet"):
        snapshots.read(spark, base)


def test_version_without_schema_record_raises(spark, tmp_path):
    base = str(tmp_path / "snap")
    path = _commit_one(spark, base)
    os.remove(os.path.join(path, snapshots.SCHEMA_FILE))
    with pytest.raises(FileNotFoundError, match=f"{path} has no"):
        snapshots.read(spark, base)


def test_ivm_read_state_runs_no_spark_job(spark, tmp_path):
    from decimal import Decimal

    from redpanda_iceberg_duckdb_spark.streaming.ivm_sink import (
        CHANGELOG_SCHEMA, ivm_batch, read_state)

    base = str(tmp_path / "state")
    os.makedirs(base)
    b0 = spark.createDataFrame(
        [("order", 1, 10, None), ("line", 1, None, Decimal("5.0"))],
        CHANGELOG_SCHEMA)
    assert ivm_batch(b0, 0, base=base)
    state = _no_jobs(spark, "ivm_read_state_no_job",
                     lambda: read_state(spark, base))
    assert [r.asDict() for r in state.view.collect()] == [
        {"c_custkey": 10, "revenue": Decimal("5.0000")}]


def test_sprt_read_daily_runs_no_spark_job(spark, tmp_path):
    import datetime as dt

    from redpanda_iceberg_duckdb_spark.streaming.sprt_sink import (
        read_daily, sprt_batch)

    base = str(tmp_path / "state")
    os.makedirs(base)
    b0 = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 5), "purchase")],
        "ts timestamp, event_type string")
    assert sprt_batch(b0, 0, base=base)
    daily = _no_jobs(spark, "sprt_read_daily_no_job",
                     lambda: read_daily(spark, base))
    assert daily.schema == spark.read.parquet(
        snapshots.table_path(base, 1, "daily")).schema
    assert [tuple(r) for r in daily.collect()] == [
        (dt.datetime(2024, 1, 1), 1, 1)]
