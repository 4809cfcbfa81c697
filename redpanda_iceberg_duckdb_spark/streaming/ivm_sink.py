"""Streaming incremental view maintenance: the join-delta algebra
(Blakeley et al., SIGMOD 1986 — operators/ivm.py proves ONE application)
run as a RECURRING refresh cycle under foreachBatch, the engine-side
answer to the reference's re-run-the-aggregate-every-cycle loop
(/root/reference/duckdb/query_and_publish.py:88-122, README.md's
bidirectional refresh).

View: revenue per customer over orders ⋈ lineitem. The maintained state is
three keyed tables, ALL order/customer-cardinality (never line-cardinality):

    view   (c_custkey, revenue)      — the materialized answer
    orders (o_orderkey, o_custkey)   — order→customer mapping seen so far
    lines  (l_orderkey, part_rev)    — per-order partial revenue seen so far

Each micro-batch carries ΔO (new orders) and ΔL (new lines, possibly for
orders from any earlier batch — late data). The delta update:

    t1 = ΔO ⋈ (lines ∪ ΔL_agg)   — a new order picks up ALL its lines,
                                    earlier-arrived and same-batch
    t2 = orders_old ⋈ ΔL_agg     — late lines attach to already-seen orders
    view += t1 + t2  (sum per customer)

Every (order, line) pair contributes exactly once — when the LATER of the
two arrives: pairs where the order is new land in t1 (including both-new),
pairs where only the line is new land in t2, both-old pairs are already in
the view. The decomposition partitions the join with no double counting,
and because every sum is DECIMAL (associative, order-independent), the
maintained view is BIT-EQUAL to a from-scratch recompute after every batch.

Scale stance (100 TB): the two delta joins broadcast the delta side (a
day's orders/lines vs years of state) — the big state tables are scanned
map-side, never shuffled, and ΔL is pre-aggregated to order granularity
BEFORE touching any state. The per-batch state rewrite here (a versioned
snapshot with recorded schemas and a pointer flip, streaming/snapshots.py) is
where a lakehouse would run MERGE INTO on a bucketed state table, touching
only the buckets the delta keys hash to; the view compaction shuffles only
customer-cardinality rows. Nothing in the cycle rescans the fact corpus.
"""

from __future__ import annotations

import os
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from . import snapshots

# One decimal type for every money column in the state: unions stay
# type-stable across batches and sums stay exact (line revenue carries 4
# fractional digits; magnitudes are nowhere near 26 integer digits).
_DEC = "decimal(30,4)"

# Unified changelog schema for the single-stream sink: per-table change
# streams multiplexed with a kind tag (order rows carry custkey, line rows
# carry per-line revenue).
CHANGELOG_SCHEMA = ("kind string, orderkey bigint, custkey bigint, "
                    f"rev {_DEC}")


class IvmState(NamedTuple):
    view: DataFrame     # c_custkey, revenue (_DEC)
    orders: DataFrame   # o_orderkey, o_custkey
    lines: DataFrame    # l_orderkey, part_rev (_DEC)


def empty_state(spark: SparkSession) -> IvmState:
    return IvmState(
        spark.createDataFrame([], f"c_custkey bigint, revenue {_DEC}"),
        spark.createDataFrame([], "o_orderkey bigint, o_custkey bigint"),
        spark.createDataFrame([], f"l_orderkey bigint, part_rev {_DEC}"),
    )


def apply_delta(state: IvmState, d_orders: DataFrame,
                d_lines: DataFrame) -> IvmState:
    """One maintenance step. ``d_orders``: (o_orderkey, o_custkey) new
    orders; ``d_lines``: (l_orderkey, rev) new PER-LINE revenue rows.
    Plan construction — the caller decides where to materialize the three
    STATE tables (snapshot write in the sink, localCheckpoint in the
    batch replay) — except for ONE deliberate internal materialization:
    ``d_pl`` (the delta pre-aggregated to order granularity, bounded by
    the delta size) is eagerly localCheckpoint'ed because three branches
    reference it (t1 via lines_all, t2's broadcast, and the lines
    compaction) and the caller's three separate state materializations
    would otherwise each re-run its scan + shuffle (the r10 multi-branch
    lesson; measured on the 4-batch replay at sf0.1, interleaved 3-round
    A/B: warm 6.7-7.0 -> 5.2-5.3 s, cold 12.3 -> 6.5 s)."""
    d_pl = (d_lines.groupBy("l_orderkey")
            .agg(F.sum("rev").cast(_DEC).alias("part_rev"))
            .localCheckpoint(eager=True))
    lines_all = state.lines.unionByName(d_pl)
    # ΔO ⋈ (lines ∪ ΔL): delta side broadcast, state scanned map-side.
    t1 = (lines_all
          .join(F.broadcast(d_orders),
                lines_all.l_orderkey == d_orders.o_orderkey)
          .select(F.col("o_custkey").alias("c_custkey"),
                  F.col("part_rev").alias("revenue")))
    # O_old ⋈ ΔL: late lines attach to orders seen in earlier batches.
    t2 = (state.orders
          .join(F.broadcast(d_pl),
                state.orders.o_orderkey == d_pl.l_orderkey)
          .select(F.col("o_custkey").alias("c_custkey"),
                  F.col("part_rev").alias("revenue")))
    view = (state.view.unionByName(t1).unionByName(t2)
            .groupBy("c_custkey")
            .agg(F.sum("revenue").cast(_DEC).alias("revenue")))
    orders = state.orders.unionByName(
        d_orders.select("o_orderkey", "o_custkey"))
    # Compact line partials per order so state stays order-cardinality.
    lines = (lines_all.groupBy("l_orderkey")
             .agg(F.sum("part_rev").cast(_DEC).alias("part_rev")))
    return IvmState(view, orders, lines)


# ---------------------------------------------------------------- sink I/O

def read_state(spark: SparkSession, base: str) -> IvmState:
    # One pointer read: the three tables must come from the same version.
    v = snapshots.current_version(base)
    if v is None:
        return empty_state(spark)
    return IvmState(*(snapshots.read(spark, base, t, v)
                      for t in IvmState._fields))


def ivm_batch(batch: DataFrame, epoch_id: int, *, base: str) -> bool:
    """foreachBatch hook: split the changelog batch by kind, read the
    current state snapshot, apply the delta algebra, commit a new snapshot.
    Returns False when the batch already committed (failure replay) —
    re-applying a delta would DOUBLE-COUNT it, so unlike the idempotent
    merge sink this guard is load-bearing for correctness, not just I/O."""
    version = epoch_id + 1
    if snapshots.is_committed(base, version):
        return False
    spark = batch.sparkSession
    state = read_state(spark, base)
    d_orders = (batch.filter(F.col("kind") == "order")
                .select(F.col("orderkey").alias("o_orderkey"),
                        F.col("custkey").alias("o_custkey")))
    d_lines = (batch.filter(F.col("kind") == "line")
               .select(F.col("orderkey").alias("l_orderkey"), "rev"))
    snapshots.commit(base, version,
                     apply_delta(state, d_orders, d_lines)._asdict())
    return True


def start_ivm_refresh(changelog: DataFrame, *, base: str,
                      checkpoint: str,
                      available_now: bool = True) -> StreamingQuery:
    """Start the recurring refresh: every micro-batch of the unified
    changelog stream (CHANGELOG_SCHEMA) maintains the revenue view
    incrementally. State snapshots are versioned per epoch with an atomic
    pointer flip, so readers always see a complete post-batch view."""
    os.makedirs(base, exist_ok=True)

    def apply_batch(batch: DataFrame, epoch_id: int) -> None:
        ivm_batch(batch, epoch_id, base=base)

    writer = (changelog.writeStream.foreachBatch(apply_batch)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
