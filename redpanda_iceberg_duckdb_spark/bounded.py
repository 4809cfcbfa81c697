"""Finish a key-bounded result in one partition.

A query whose output rows are bounded by a key domain (the event types,
TPC-H's return-flag x line-status pairs) sits at Spark's per-job floor at
any scale: its cost is the number of jobs, not the rows. Two plan shapes
spend jobs on such a result for nothing:

- ``orderBy`` plans a range exchange, which runs a sampling job and a
  map-stage job before the final stage, to sort a handful of rows;
- a global aggregate over a grouped result adds an ``Exchange
  SinglePartition`` and its own map-stage job.

``small_result`` gathers the rows with ``coalesce(1)`` (a narrow
dependency, no shuffle) and, when an order is given, sorts that one
partition with ``sortWithinPartitions``, which is then a total order.
A global aggregate over its output needs no exchange either, because the
child already has a single partition.

Contract: call it only on a frame whose row count is bounded by a key
domain, never by data size. The partial aggregates below it still run on
every input partition, so the one final task reads at most (map
partitions x groups) partial-aggregate rows, whatever the input size. A
result bounded by data size (hourly series, sessions) must keep the range
sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame


def small_result(df: DataFrame, *order: str | Column) -> DataFrame:
    """``df`` in one partition, sorted by ``order`` when one is given."""
    out = df.coalesce(1)
    return out.sortWithinPartitions(*order) if order else out
