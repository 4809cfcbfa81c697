"""Streaming sequential-decision monitor: Wald's SPRT (operators/sprt10.py)
maintained incrementally under foreachBatch — the launch-gate loop a
production experiment platform runs ("ship / kill / keep collecting",
re-evaluated as each micro-batch of events lands), the sequential sibling
of the ivm_sink revenue refresh and the streaming answer to the
reference's re-run-everything cycle
(/root/reference/duckdb/query_and_publish.py:88-122).

State is the per-day sufficient-statistic table (day, n, c) — DAYS-sized
at any corpus scale, because the SPRT likelihood ratio is linear in the
per-day counts: a micro-batch folds in with one combinable rollup + a
day-keyed merge, never a rescan of history. The decision itself
(first day the cumulative micro-nat LLR leaves the Wald band) is
recomputed from the maintained day table after each commit — a days-sized
window, free — via the SAME decision_from_daily plan the fixed-corpus
query uses, so the gate logic cannot fork between batch and streaming.

Snapshot I/O is streaming/snapshots.py, as in ivm_sink.py: versioned
parquet per epoch with a recorded schema + an atomic pointer flip, with
the committed-version guard making foreachBatch failure replays no-ops
(count deltas are NOT idempotent — re-applying would double-count the
batch).

Scale stance (100 TB): the only corpus-sized work per batch is the rollup
of THAT batch's rows (map-side combinable, delta-sized); state reads,
merges, snapshots and the decision are all days-cardinality. Late events
for an already-seen day fold in exactly (integer adds commute), shifting
the historical LLR path the way a Wald monitor over a corrected ledger
should.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from . import snapshots

DAILY_SCHEMA = "day timestamp, n bigint, c bigint"


def empty_daily(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], DAILY_SCHEMA)


def apply_events_delta(state: DataFrame, d_events: DataFrame) -> DataFrame:
    """One maintenance step: fold a batch of raw events (ts, event_type)
    into the per-day stats table. Pure plan construction — the caller
    materializes (snapshot write in the sink, localCheckpoint in the
    replay). Delta rows roll up map-side BEFORE touching state; the merge
    is a days-cardinality groupBy."""
    # Imported here: the operators package imports sprt_stream, which
    # imports this module, so a module-level import fails whenever this
    # module is imported before the operators package.
    from ..operators.sprt10 import daily_stats

    return (state.unionByName(daily_stats(d_events))
            .groupBy("day")
            .agg(F.sum("n").alias("n"), F.sum("c").alias("c")))


def read_daily(spark: SparkSession, base: str,
               version: int | None = None) -> DataFrame:
    daily = snapshots.read(spark, base, "daily", version)
    return empty_daily(spark) if daily is None else daily


def sprt_batch(batch: DataFrame, epoch_id: int, *, base: str) -> bool:
    """foreachBatch hook: fold the event batch into the day table and
    commit a new snapshot. Returns False when the epoch already committed
    (failure replay) — the count merge is not idempotent, so the guard is
    load-bearing for correctness, exactly as in ivm_sink.ivm_batch."""
    version = epoch_id + 1
    if snapshots.is_committed(base, version):
        return False
    spark = batch.sparkSession
    nxt = apply_events_delta(read_daily(spark, base), batch)
    snapshots.commit(base, version, {"daily": nxt})
    return True


def start_sprt_monitor(events: DataFrame, *, base: str, checkpoint: str,
                       available_now: bool = True,
                       hook: Callable | None = None) -> StreamingQuery:
    """Start the recurring gate: every micro-batch of raw events folds
    into the versioned day-stats state; readers evaluate the Wald
    decision from any committed snapshot (sprt10.decision_from_daily)."""
    os.makedirs(base, exist_ok=True)

    def apply_batch(batch: DataFrame, epoch_id: int) -> None:
        (hook or sprt_batch)(batch, epoch_id, base=base)

    writer = (events.writeStream.foreachBatch(apply_batch)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
