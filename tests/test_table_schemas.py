"""Declared table schemas (tables.SCHEMAS) and the parquet-footer guard.

load_table reads with the declared schema, so the declaration must equal
what Spark would infer from the real files, and a file that drifts from
it must fail loudly by table and column instead of reading nulls."""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from redpanda_iceberg_duckdb_spark.tables import (
    SCHEMAS, TABLE_NAMES, SchemaMismatchError, load_table)

_T0 = dt.datetime(2024, 1, 1, 0, 0, 0, 123456)


def _events(**override):
    """Two events rows as pyarrow columns in the declared layout; a column
    set to None is dropped."""
    cols = {
        "event_id": pa.array([1, 2], pa.int64()),
        "ts": pa.array([_T0, _T0 + dt.timedelta(hours=1)], pa.timestamp("us")),
        "user_id": pa.array([7, 8], pa.int64()),
        "event_type": ["view", "click"],
        "value": [1.5, 2.5],
        "props": ["{}", "{}"],
    }
    cols.update(override)
    return pa.table({k: v for k, v in cols.items() if v is not None})


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_declared_schemas_equal_inferred(spark, sf_smoke, sf):
    sf_dir = os.path.join(os.path.dirname(sf_smoke), sf)
    for name in TABLE_NAMES:
        inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        assert SCHEMAS[name] == inferred, (sf, name, inferred.simpleString())
        assert load_table(spark, sf_dir, name).schema == inferred, (sf, name)


def test_load_table_runs_no_spark_job(spark, sf_smoke):
    sc = spark.sparkContext
    sc.setJobGroup("test_load_table_no_job", "load_table plan build")
    try:
        for name in TABLE_NAMES:
            load_table(spark, sf_smoke, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("test_load_table_no_job") == []


@pytest.mark.parametrize("override, column", [
    ({"props": None}, "props"),
    ({"user_id": pa.array([7, 8], pa.int32())}, "user_id"),
    ({"ts": pa.array(["a", "b"])}, "ts"),
])
def test_footer_mismatch_names_table_and_column(spark, tmp_path, override,
                                                column):
    pq.write_table(_events(**override), tmp_path / "events.parquet")
    with pytest.raises(SchemaMismatchError, match=f"'events'.*'{column}'"):
        load_table(spark, str(tmp_path), "events")


def test_every_file_of_a_directory_table_is_checked(spark, tmp_path):
    d = tmp_path / "events.parquet"
    d.mkdir()
    pq.write_table(_events(), d / "part-0.parquet")
    pq.write_table(_events(value=None), d / "part-1.parquet")
    with pytest.raises(SchemaMismatchError, match="'value'.*part-1"):
        load_table(spark, str(tmp_path), "events")


def test_spark_written_int96_timestamps_load(spark, tmp_path):
    """Spark's own writer stores timestamps as INT96, which pyarrow reports
    as timestamp[ns]; they read as timestamp, not as nanos longs."""
    src = spark.createDataFrame(_events().to_pandas())
    src.coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    got = load_table(spark, str(tmp_path), "events")
    assert got.schema == SCHEMAS["events"]
    assert _micros(got) == [1_704_067_200_123_456, 1_704_070_800_123_456]


def _micros(df):
    return [r.us for r in df.orderBy("event_id")
            .select(F.unix_micros("ts").alias("us")).collect()]


def test_nanos_timestamps_truncate_to_micros(spark, tmp_path):
    """INT64 TIMESTAMP(NANOS) reads through nanosAsLong and truncates to
    microseconds, as DuckDB does on the same file."""
    ns = pa.array([1_704_067_200_123_456_789, 1_704_070_800_000_000_999],
                  pa.timestamp("ns"))
    pq.write_table(_events(ts=ns), tmp_path / "events.parquet")
    got = load_table(spark, str(tmp_path), "events")
    assert got.schema == SCHEMAS["events"]
    assert _micros(got) == [1_704_067_200_123_456, 1_704_070_800_000_000]
