"""The benchmark's three workloads.

Each workload is closed-loop with one client: the next operation starts only
after the previous one has returned. A workload prepares its inputs and
expected answers once, then the runner calls, for every operation,
``stage`` (untimed), ``execute`` (timed) and ``check`` (untimed).

- ``reference_queries``: the six reference queries over ``events``.
- ``tpch_queries``: the 22 registered ``tpch_q*`` queries.
- ``trade_pipeline``: one operation is one cycle of the reference loop --
  land a trade batch, stream-ingest it, run the Q1 analytics, publish them
  as keyed JSON and ingest them again, merge them into the keyed snapshot,
  expire old snapshots and run the Q5 top-k over the snapshot.
"""

from __future__ import annotations

import glob
import json
import os
import random

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import datagen
from redpanda_iceberg_duckdb_spark import generator, maintenance
from redpanda_iceberg_duckdb_spark.functions import davg, iso_ts
from redpanda_iceberg_duckdb_spark.registry import all_queries
from redpanda_iceberg_duckdb_spark.sources.kafka import encode_keyed_json
from redpanda_iceberg_duckdb_spark.streaming import ingest, merge_sink
from tests.oracle_harness import _rows_sorted, duckdb_conn

REFERENCE_QUERIES = ["q1_trade_analytics", "q2_cardinality", "q3_verification_agg",
                     "q4_reaggregation", "q5_topk", "q6_summary_union"]


class QueryWorkload:
    """A fixed set of registered queries over seeded tables. One operation
    runs one query from ``Query.fn`` through ``collect()``."""

    def __init__(self, spark, work_dir: str, seed: int, sf: float, names: list[str],
                 write_tables):
        self.spark = spark
        self.sf_dir = os.path.join(work_dir, "tables")
        self.seed, self.sf = seed, sf
        registry = all_queries()
        self.queries = {n: registry[n] for n in names}
        self._write_tables = write_tables
        self.expected: dict[str, tuple[list[str], list[tuple]]] = {}

    def ops(self) -> list[str]:
        return list(self.queries)

    def prepare_inputs(self) -> None:
        os.makedirs(self.sf_dir)
        self._write_tables(self.sf_dir, self.sf, self.seed)

    def prepare_expected(self) -> None:
        """Each query's answer from DuckDB, running the registry's oracle SQL
        over the same parquet, normalised as the oracle harness does."""
        con = duckdb_conn(self.sf_dir)
        try:
            for name, q in self.queries.items():
                cur = con.execute(q.oracle)
                cols = [d[0] for d in cur.description]
                self.expected[name] = (sorted(cols), _rows_sorted(cols, cur.fetchall()))
        finally:
            con.close()

    def stage(self, op: str) -> None:
        pass

    def execute(self, op: str, tracer):
        with tracer.span("plan", spark_jobs=True):
            df = self.queries[op].fn(self.spark, self.sf_dir)
        with tracer.span("exec", spark_jobs=True):
            rows = df.collect()
        return df.columns, rows

    def check(self, op: str, result) -> tuple[bool, dict]:
        cols, rows = result
        want_cols, want_rows = self.expected[op]
        ok = sorted(cols) == want_cols and _rows_sorted(cols, [tuple(r) for r in rows]) == want_rows
        return ok, {}

    def storage(self) -> dict[str, float]:
        return {"storage.files": 0, "storage.bytes_per_row": 0.0}  # writes nothing

    def close(self) -> None:
        pass


def reference_queries(spark, work_dir: str, seed: int, sf: float) -> QueryWorkload:
    return QueryWorkload(spark, work_dir, seed, sf, REFERENCE_QUERIES, datagen.write_events)


def tpch_queries(spark, work_dir: str, seed: int, sf: float) -> QueryWorkload:
    names = sorted((n for n in all_queries() if n.startswith("tpch_q")),
                   key=lambda n: int(n.split("_")[1][1:]))
    return QueryWorkload(spark, work_dir, seed, sf, names, datagen.write_tpch)


def trade_analytics(batch):
    """The reference's Q1 over one trade batch (query_and_publish.py).

    A copy on the benchmark side: the package's Q1 loads its own table and
    takes no DataFrame, so a change to it does not show on this workload."""
    buy = F.col("side") == "BUY"
    return batch.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("trade_count"),
        davg("price", "avg_price"),
        F.round(F.min("price"), 2).alias("min_price"),
        F.round(F.max("price"), 2).alias("max_price"),
        F.sum("qty").alias("total_volume"),
        F.count(F.when(buy, 1)).alias("buy_count"),
        F.count(F.when(~buy, 1)).alias("sell_count"),
        iso_ts(F.min("ts_event"), "first_trade_time"),
        iso_ts(F.max("ts_event"), "last_trade_time"),
    )


class TradePipeline:
    """One operation is one cycle of the reference loop over a fresh batch.

    The ingest stream runs for the whole run and each cycle is driven by
    ``processAllAvailable()``. The analytics read only the current batch's
    output files and snapshots are expired every cycle, so a cycle costs
    the same at the end of a run as at the start.
    """

    MALFORMED = '{"trade_id": "malformed", "symbol": '  # planted: one per batch
    BATCH_SIZE = 2_000

    def __init__(self, spark, work_dir: str, seed: int):
        self.spark = spark
        self.seed = seed
        self.dirs = {k: os.path.join(work_dir, k) for k in
                     ("staging", "landing", "trades", "checkpoint", "snapshot")}
        self.cycle = 0
        self.query = None
        self.seen_files: set[str] = set()
        self.last_batch_id = -1
        self._staged: tuple[str, dict] | None = None

    def ops(self) -> list[str]:
        return ["cycle"]

    def prepare_inputs(self) -> None:
        for d in self.dirs.values():
            os.makedirs(d)
        raw = ingest.read_json_stream(self.spark, self.dirs["landing"], generator.TRADE_SCHEMA)
        good, _ = ingest.validate_stream(raw, [f.name for f in generator.TRADE_SCHEMA.fields
                                               if not f.nullable])
        self.query = ingest.start_ingest(good, out_path=self.dirs["trades"],
                                         checkpoint=self.dirs["checkpoint"],
                                         trigger_seconds=None)

    def prepare_expected(self) -> None:
        pass  # each batch's expected answer is derived when it is staged

    def stage(self, op: str) -> None:
        """Generate the next batch and write it as JSON lines outside the
        watched directory; ``execute`` renames it in. Also derives the
        batch's expected per-symbol counts and volumes."""
        rng = random.Random(self.seed * 1_000_003 + self.cycle)
        first = self.cycle * self.BATCH_SIZE
        trades = [generator.generate_trade(first + i, generator.BASE_TIME, rng)
                  for i in range(self.BATCH_SIZE)]
        lines = [json.dumps({**t, "ts_event": t["ts_event"].isoformat()}) for t in trades]
        lines.insert(rng.randrange(len(lines) + 1), self.MALFORMED)
        name = f"batch-{self.cycle:06d}.json"
        with open(os.path.join(self.dirs["staging"], name), "w") as f:
            f.write("\n".join(lines) + "\n")
        expected: dict[str, list[int]] = {}
        for t in trades:
            e = expected.setdefault(t["symbol"], [0, 0, 0])
            e[0] += 1
            e[1] += t["qty"]
            e[2] += t["side"] == "BUY"
        self._staged = (name, expected)

    def execute(self, op: str, tracer):
        spark, name = self.spark, self._staged[0]
        with tracer.span("ingest"):
            os.rename(os.path.join(self.dirs["staging"], name),
                      os.path.join(self.dirs["landing"], name))
            self.query.processAllAvailable()
        files = sorted(set(glob.glob(os.path.join(self.dirs["trades"], "*.parquet")))
                       - self.seen_files)
        self.seen_files.update(files)

        with tracer.span("plan", spark_jobs=True):
            q1 = trade_analytics(spark.read.schema(generator.TRADE_SCHEMA).parquet(*files))
        with tracer.span("exec", spark_jobs=True):
            analytics = q1.toPandas()
        with tracer.span("publish", spark_jobs=True):
            frame = encode_keyed_json(spark.createDataFrame(analytics, q1.schema), "symbol")
            published, dead = ingest.ingest_kafka_shaped(frame, q1.schema)
            dead_letters = dead.count()
        with tracer.span("merge", spark_jobs=True):
            merge_sink.merge_batch(published, self.cycle, base=self.dirs["snapshot"],
                                   key_cols=["symbol"])
        with tracer.span("maintenance"):
            removed = maintenance.expire_snapshots(self.dirs["snapshot"], keep=2)
        with tracer.span("plan", spark_jobs=True):
            top = (merge_sink.read_snapshot(spark, self.dirs["snapshot"])
                   .select("symbol", "trade_count", "total_volume")
                   .orderBy(F.desc("total_volume"), F.asc("symbol")).limit(5))
        with tracer.span("exec", spark_jobs=True):
            top_rows = top.collect()
        self.cycle += 1
        return {"files": files, "dead_letters": dead_letters, "dirs_removed": len(removed),
                "top": [tuple(r) for r in top_rows]}

    def _batch_progress(self):
        """The progress report of the micro-batch that read this cycle's file."""
        progress = next((p for p in reversed(self.query.recentProgress)
                         if p.numInputRows > 0 and p.batchId > self.last_batch_id), None)
        if progress is not None:
            self.last_batch_id = progress.batchId
        return progress

    def check(self, op: str, result) -> tuple[bool, dict]:
        """Committed rows are the batch minus the planted line; the snapshot
        holds the 8 symbols with the batch's counts and volumes; the top-k
        matches them; the publish leg lost nothing. Also returns the cycle's
        layer counts."""
        expected = self._staged[1]
        committed = sum(pq.ParquetFile(f).metadata.num_rows for f in result["files"])
        progress = self._batch_progress()
        read = progress.numInputRows if progress else 0
        ms = progress.durationMs if progress else {}
        counts = {
            "ingest.add_batch_ms": ms.get("addBatch", 0),
            "ingest.query_planning_ms": ms.get("queryPlanning", 0),
            "ingest.wal_commit_ms": ms.get("walCommit", 0),
            "ingest.latest_offset_ms": ms.get("latestOffset", 0),
            "ingest.rows_committed": committed,
            "ingest.rows_rejected": read - committed,
            "publish.dead_letters": result["dead_letters"],
            "maintenance.dirs_removed": result["dirs_removed"],
        }
        snap = pq.read_table(merge_sink.current_snapshot_path(self.dirs["snapshot"])).to_pylist()
        got = {r["symbol"]: [r["trade_count"], r["total_volume"], r["buy_count"]] for r in snap}
        want_top = sorted(((s, c, v) for s, (c, v, _) in expected.items()),
                          key=lambda t: (-t[2], t[0]))[:5]
        ok = (committed == self.BATCH_SIZE
              and read == self.BATCH_SIZE + 1
              and result["dead_letters"] == 0
              and len(snap) == len(generator.SYMBOLS)
              and got == expected
              and result["top"] == want_top)
        return ok, counts

    def storage(self) -> dict[str, float]:
        """File count and bytes per committed row of the trades table."""
        n_files, n_bytes = maintenance.dataset_file_stats(self.dirs["trades"])
        rows = sum(pq.ParquetFile(f).metadata.num_rows for f in self.seen_files)
        return {"storage.files": n_files, "storage.bytes_per_row": n_bytes / max(rows, 1)}

    def close(self) -> None:
        if self.query is not None:
            self.query.stop()


WORKLOADS = {
    "reference_queries": reference_queries,
    "tpch_queries": tpch_queries,
    "trade_pipeline": TradePipeline,
}
