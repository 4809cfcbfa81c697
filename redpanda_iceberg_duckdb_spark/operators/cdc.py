"""CDC / mutable-state operators on an append-only lake: log compaction
(latest row per key), MERGE-style upsert, and SCD2 history building — the
patterns that replace row-level UPDATE on immutable columnar storage.

Scale notes: all three are one shuffle on the business key. Upsert rewrites
only via union+anti-join (no read-modify-write of individual rows); with an
Iceberg sink this is exactly what MERGE INTO compiles to (copy-on-write) —
these operators are the engine-level form, usable on plain parquet too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..registry import register
from ..tables import load_table


@register(
    "cdc_latest_state",
    oracle="""
SELECT user_id, event_type, event_id AS last_event_id, ts AS last_ts,
       value AS last_value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts DESC, event_id DESC) rn
      FROM events)
WHERE rn = 1
ORDER BY user_id, event_type""",
    tags=("cdc", "window"),
)
def cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log compaction: the current state per (user, event_type) from the
    append-only event log — row_number over a key-partitioned window, i.e.
    the batch form of streaming state."""
    e = load_table(spark, sf_dir, "events")
    w = (W.partitionBy("user_id", "event_type")
         .orderBy(F.desc("ts"), F.desc("event_id")))
    return (e.select("user_id", "event_type",
                     F.col("event_id").alias("last_event_id"),
                     F.col("ts").alias("last_ts"),
                     F.col("value").alias("last_value"),
                     F.row_number().over(w).alias("rn"))
            .filter(F.col("rn") == 1).drop("rn")
            .orderBy("user_id", "event_type"))


def upsert(snapshot: DataFrame, changes: DataFrame, key_cols: list[str]
           ) -> DataFrame:
    """MERGE INTO emulation: rows in ``changes`` replace same-key rows in
    ``snapshot``; unmatched snapshot rows pass through (changes ∪
    snapshot⟕anti changes). Columns must align. The key side is not
    deduplicated: a repeated key cannot change a left-anti result, and a
    distinct() would cost an aggregate and a shuffle."""
    keep = snapshot.join(changes.select(*key_cols), key_cols, "left_anti")
    return keep.unionByName(changes)


def scd2_apply(history: DataFrame, changes: DataFrame, *, key: str,
               ts: str, attrs: list[str]) -> DataFrame:
    """Slowly-changing-dimension type 2: close out current rows whose
    attributes changed and append the new versions.

    history: (key, attrs..., valid_from, valid_to[null=current])
    changes: (key, attrs..., ts) — the new observations.
    """
    cur = history.filter(F.col("valid_to").isNull())
    closed = history.filter(F.col("valid_to").isNotNull())
    ch = changes.select(
        F.col(key), *[F.col(a) for a in attrs], F.col(ts).alias("valid_from"))

    joined = cur.alias("c").join(ch.alias("n"), key, "full_outer")
    diff = None
    for a in attrs:
        d = ~F.col(f"c.{a}").eqNullSafe(F.col(f"n.{a}"))
        diff = d if diff is None else (diff | d)

    untouched = (joined.filter(F.col("n.valid_from").isNull())
                 .select("c.*"))
    unchanged = (joined.filter(F.col("n.valid_from").isNotNull()
                               & F.col("c.valid_from").isNotNull() & ~diff)
                 .select("c.*"))
    closed_now = (joined.filter(F.col("n.valid_from").isNotNull()
                                & F.col("c.valid_from").isNotNull() & diff)
                  .select(F.col(key), *[F.col(f"c.{a}") for a in attrs],
                          F.col("c.valid_from"),
                          F.col("n.valid_from").alias("valid_to")))
    opened = (joined.filter(F.col("n.valid_from").isNotNull()
                            & (F.col("c.valid_from").isNull() | diff))
              .select(F.col(key), *[F.col(f"n.{a}") for a in attrs],
                      F.col("n.valid_from"),
                      F.lit(None).cast("timestamp").alias("valid_to")))
    return closed.unionByName(untouched).unionByName(unchanged) \
                 .unionByName(closed_now).unionByName(opened)
