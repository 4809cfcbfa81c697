from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from redpanda_iceberg_duckdb_spark.operators.cdc import scd2_apply, upsert


def test_upsert_semantics(spark):
    snap = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id long, name string, v double")
    changes = spark.createDataFrame(
        [(2, "B", 99.0), (4, "d", 40.0)], "id long, name string, v double")
    out = {r.id: (r.name, r.v) for r in upsert(snap, changes, ["id"]).collect()}
    assert out == {1: ("a", 10.0), 2: ("B", 99.0),
                   3: ("c", 30.0), 4: ("d", 40.0)}


def test_upsert_keeps_duplicate_change_keys_and_skips_distinct(spark):
    """A key repeated in ``changes`` removes its snapshot row once and keeps
    every change row, as with a deduplicated key side — and the anti-join's
    build side carries no aggregate or shuffle."""
    from redpanda_iceberg_duckdb_spark.plans import (
        exchange_count, physical_plan)

    # VALUES relations: sizes known to the planner, as for a file-backed
    # micro-batch, so the key side is broadcast.
    snap = spark.sql("SELECT * FROM VALUES (1L, 'a'), (2L, 'b'), (3L, 'c')"
                     " AS t(id, name)")
    changes = spark.sql("SELECT * FROM VALUES (2L, 'B'), (2L, 'B2'),"
                        " (4L, 'd') AS t(id, name)")
    out = upsert(snap, changes, ["id"])
    assert sorted(map(tuple, out.collect())) == [
        (1, "a"), (2, "B"), (2, "B2"), (3, "c"), (4, "d")]
    plan = physical_plan(out)
    assert "LeftAnti" in plan
    assert "HashAggregate" not in plan
    assert exchange_count(out) == 0


def test_scd2_apply(spark):
    t0, t1 = datetime(2024, 1, 1), datetime(2024, 6, 1)
    hist = spark.createDataFrame(
        [(1, "gold", t0, None), (2, "silver", t0, None),
         (3, "bronze", datetime(2023, 1, 1), t0)],
        "id long, tier string, valid_from timestamp, valid_to timestamp")
    ch = spark.createDataFrame(
        [(1, "platinum", t1),   # changed -> close + open
         (2, "silver", t1),     # unchanged -> untouched
         (9, "new", t1)],       # brand new -> open
        "id long, tier string, ts timestamp")
    out = scd2_apply(hist, ch, key="id", ts="ts", attrs=["tier"])
    rows = {(r.id, r.tier, r.valid_from, r.valid_to) for r in out.collect()}
    assert (1, "gold", t0, t1) in rows            # closed out
    assert (1, "platinum", t1, None) in rows      # new current
    assert (2, "silver", t0, None) in rows        # untouched current
    assert (3, "bronze", datetime(2023, 1, 1), t0) in rows  # old history kept
    assert (9, "new", t1, None) in rows           # inserted
    assert len(rows) == 5
