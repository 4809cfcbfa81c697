"""Connector + streaming tests: Kafka wire-shape round trip, dead-letter
split, streaming ingest end-to-end (file JSON -> validated parquet), and the
windowed/session streaming aggregations cross-checked against their batch
twin operators."""

from __future__ import annotations

import json

from pyspark.sql import functions as F, types as T

from redpanda_iceberg_duckdb_spark.generator import TRADE_SCHEMA, trades_df
from redpanda_iceberg_duckdb_spark.sources import kafka as ksrc
from redpanda_iceberg_duckdb_spark.sources.iceberg import (
    hadoop_catalog_conf, rest_catalog_conf, s3_conf,
)
from redpanda_iceberg_duckdb_spark.streaming import ingest, windowed
from redpanda_iceberg_duckdb_spark.tables import load_table


def test_kafka_wire_roundtrip(spark):
    """encode_keyed_json -> decode_json_values reproduces the rows
    (producer.py:98-100 wire shape)."""
    df = trades_df(spark, count=50, seed=42)
    wire = ksrc.encode_keyed_json(df, "trade_id")
    assert wire.columns == ["key", "value"]
    assert dict(wire.dtypes) == {"key": "binary", "value": "binary"}

    schema_no_ts = T.StructType(
        [f for f in TRADE_SCHEMA.fields if f.name != "ts_event"]
        + [T.StructField("ts_event", T.StringType(), False)])
    good, bad = ingest.ingest_kafka_shaped(wire, schema_no_ts)
    assert bad.count() == 0
    back = {r.trade_id: r for r in good.collect()}
    orig = {r.trade_id: r for r in df.collect()}
    assert set(back) == set(orig)
    k = next(iter(back))
    assert back[k].price == orig[k].price and back[k].side == orig[k].side


def test_dead_letter_split(spark):
    rows = [("k1", json.dumps({"symbol": "AAPL", "qty": 5}).encode()),
            ("k2", b"not json at all")]
    df = spark.createDataFrame(rows, "key string, value binary") \
        .select(F.col("key").cast("binary"), "value")
    schema = T.StructType([
        T.StructField("symbol", T.StringType()),
        T.StructField("qty", T.IntegerType()),
    ])
    good, bad = ingest.ingest_kafka_shaped(df, schema)
    assert good.count() == 1 and bad.count() == 1
    assert bad.collect()[0]._raw == "not json at all"


def test_catalog_conf_builders():
    rc = rest_catalog_conf("lake", uri="http://polaris:8181/api/catalog/",
                           warehouse="redpanda_catalog", credential="root:pass",
                           oauth2_server_uri="http://polaris:8181/api/catalog/v1/oauth/tokens")
    assert rc["spark.sql.catalog.lake.type"] == "rest"
    assert "oauth2-server-uri" in " ".join(rc)
    hc = hadoop_catalog_conf("lake", "/tmp/wh")
    assert hc["spark.sql.catalog.lake.type"] == "hadoop"
    s3 = s3_conf(endpoint="http://minio:9000", access_key="a", secret_key="b")
    assert s3["spark.hadoop.fs.s3a.path.style.access"] == "true"


def test_streaming_ingest_end_to_end(spark, tmp_path):
    """JSON lines (with one malformed row) -> streaming ingest -> parquet;
    validates the St5 dead-letter discipline and exactly-once append."""
    src = tmp_path / "in"
    src.mkdir()
    df = trades_df(spark, count=100, seed=42)
    recs = [json.dumps({**r.asDict(), "ts_event": r.ts_event.isoformat()})
            for r in df.collect()]
    recs.insert(50, json.dumps({"symbol": "MSFT"}))  # missing required fields
    (src / "part-0.json").write_text("\n".join(recs))

    schema = T.StructType(
        [f for f in TRADE_SCHEMA.fields if f.name != "ts_event"]
        + [T.StructField("ts_event", T.StringType(), True)])
    raw = ingest.read_json_stream(spark, str(src), schema)
    assert raw.isStreaming
    good, _bad = ingest.validate_stream(raw, ["trade_id", "symbol", "price"])
    out = str(tmp_path / "out")
    q = ingest.start_ingest(good, out_path=out,
                            checkpoint=str(tmp_path / "ckpt"),
                            available_now=True)
    q.awaitTermination(120)
    written = spark.read.parquet(out)
    assert written.count() == 100  # malformed row excluded
    # restart with no new data: checkpoint makes it a no-op (exactly-once)
    q2 = ingest.start_ingest(good, out_path=out,
                             checkpoint=str(tmp_path / "ckpt"),
                             available_now=True)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == 100


def _trade_json_stream(spark, src):
    schema = T.StructType([T.StructField("trade_id", T.LongType()),
                           T.StructField("symbol", T.StringType())])
    raw = ingest.read_json_stream(spark, str(src), schema,
                                  max_files_per_trigger=1)
    good, _bad = ingest.validate_stream(raw, ["trade_id", "symbol"])
    return good


def _write_trades(src, name, ids):
    (src / name).write_text("\n".join(
        json.dumps({"trade_id": i, "symbol": "AAPL"}) for i in ids))


def test_streaming_checkpoint_uses_filesystem_manager(spark, tmp_path):
    """Every session writes its streaming metadata logs through the
    FileSystem-based checkpoint manager (session.py): the FileContext
    default forks `readlink` per path on a filesystem without libhadoop."""
    src = tmp_path / "in"
    src.mkdir()
    _write_trades(src, "part-0.json", range(3))
    q = ingest.start_ingest(_trade_json_stream(spark, src),
                            out_path=str(tmp_path / "out"),
                            checkpoint=str(tmp_path / "ckpt"),
                            available_now=True)
    q.awaitTermination(120)
    manager = q._jsq.streamingQuery().offsetLog().fileManager()
    assert manager.getClass().getName().endswith(
        "FileSystemBasedCheckpointFileManager")


def test_ingest_exactly_once_after_crash_before_commit(spark, tmp_path):
    """A crash after the offset log and the sink write but before the
    commit log: the restart replays the last batch, and the file sink's
    _spark_metadata log skips it, so no row lands twice. New input after
    that is appended exactly once."""
    src, out, ckpt = tmp_path / "in", str(tmp_path / "out"), tmp_path / "ckpt"
    src.mkdir()
    _write_trades(src, "part-0.json", range(0, 10))
    _write_trades(src, "part-1.json", range(10, 25))

    def run():
        q = ingest.start_ingest(_trade_json_stream(spark, src), out_path=out,
                                checkpoint=str(ckpt), available_now=True)
        q.awaitTermination(120)
        assert q.exception() is None
        return sorted(r.trade_id for r in spark.read.parquet(out).collect())

    assert run() == list(range(25))
    commits = ckpt / "commits"
    assert sorted(f.name for f in commits.iterdir() if f.name.isdigit()) \
        == ["0", "1"]
    # A crash before the commit leaves neither the file nor its checksum.
    (commits / "1").unlink()
    (commits / ".1.crc").unlink(missing_ok=True)
    assert run() == list(range(25))  # replayed batch 1 wrote nothing
    assert (commits / "1").exists()  # the restart did replay it
    _write_trades(src, "part-2.json", range(25, 32))
    assert run() == list(range(32))


def _drain_to_memory(spark, sdf, name):
    q = (sdf.writeStream.format("memory").queryName(name)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(180)
    return spark.table(name)


def _events_stream(spark, sf_dir):
    """Streaming read of events.parquet. The file stores timestamp[us]
    (no tz); with inferTimestampNTZ=false (session.py) a declared
    TimestampType schema reads it directly — same instants as tables.py."""
    raw_schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ])
    return (spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir))


def test_streaming_hourly_matches_batch(spark, sf_smoke):
    """Streaming tumbling-window agg == batch events_hourly on the same data
    (count + exact-decimal sum; distinct users is approx in streaming)."""
    from redpanda_iceberg_duckdb_spark.registry import all_queries

    stream = _events_stream(spark, sf_smoke)
    res = _drain_to_memory(spark, windowed.hourly_agg(stream), "hourly_out")
    got = {(r.hour, r.event_type): (r.n, r.total_value) for r in res.collect()}
    batch = all_queries()["events_hourly"].fn(spark, sf_smoke)
    want = {(r.hour, r.event_type): (r.n, r.total_value) for r in batch.collect()}
    assert got == want


def test_streaming_sessions_match_batch(spark, sf_smoke):
    """Streaming session_window == batch lag/cumsum sessionization:
    same session count and per-user event totals."""
    from redpanda_iceberg_duckdb_spark.registry import all_queries

    stream = _events_stream(spark, sf_smoke)
    res = _drain_to_memory(spark, windowed.session_agg(stream), "session_out")
    got = {}
    for r in res.collect():
        k = r.user_id
        got[k] = (got.get(k, (0, 0))[0] + 1, got.get(k, (0, 0))[1] + r.n_events)
    batch = all_queries()["sessionization"].fn(spark, sf_smoke)
    want = {}
    for r in batch.collect():
        k = r.user_id
        want[k] = (want.get(k, (0, 0))[0] + 1, want.get(k, (0, 0))[1] + r.n_events)
    assert got == want


def test_sql_cli_entry(spark, sf_smoke):
    from redpanda_iceberg_duckdb_spark.cli import run_sql

    df = run_sql(spark, sf_smoke,
                 "SELECT l_returnflag, count(*) n FROM lineitem GROUP BY 1")
    assert {r.l_returnflag for r in df.collect()} == {"A", "N", "R"}


def test_stream_stream_interval_join_matches_batch(spark, sf_smoke):
    """Watermarked stream-stream interval join == the batch interval join
    on the same data."""
    from redpanda_iceberg_duckdb_spark.registry import all_queries
    from redpanda_iceberg_duckdb_spark.streaming.joins import (
        purchases_with_recent_signup,
    )

    stream = _events_stream(spark, sf_smoke)
    sdf = purchases_with_recent_signup(stream)
    q = (sdf.writeStream.format("memory").queryName("ssj_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {(r.purchase_id, r.signup_id)
           for r in spark.table("ssj_out").collect()}
    batch = all_queries()["interval_join_purchase_signup"].fn(spark, sf_smoke)
    want = {(r.purchase_id, r.signup_id) for r in batch.collect()}
    # availableNow + watermark can withhold pairs near the final watermark
    # only if data arrived out of order; file source replays in order, so
    # the sets must match exactly here.
    assert got == want


def test_validate_stream_empty_required_passes_all(spark, sf_smoke):
    """An empty required-column list means every row is valid (previously a
    TypeError from filter(None))."""
    from redpanda_iceberg_duckdb_spark.streaming.ingest import validate_stream
    from redpanda_iceberg_duckdb_spark.tables import load_table

    d = load_table(spark, sf_smoke, "documents")
    good, bad = validate_stream(d, [])
    assert good.count() == d.count()
    assert bad.count() == 0


def test_oauth2_token_fetch_client_credentials():
    """fetch_oauth2_token mirrors the reference's get_token.sh flow: POST
    client credentials, parse access_token. Exercised against a local HTTP
    server so it runs without network egress."""
    import http.server
    import json
    import threading
    import urllib.parse

    from redpanda_iceberg_duckdb_spark.sources.iceberg import (
        fetch_oauth2_token, rest_catalog_token_conf)

    seen = {}

    class TokenHandler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            body = self.rfile.read(int(self.headers["Content-Length"]))
            seen.update(dict(urllib.parse.parse_qsl(body.decode())))
            out = json.dumps({"access_token": "tok-123",
                              "token_type": "bearer"}).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.end_headers()
            self.wfile.write(out)

        def log_message(self, *a):  # quiet
            pass

    srv = http.server.HTTPServer(("127.0.0.1", 0), TokenHandler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        uri = f"http://127.0.0.1:{srv.server_port}/catalog/v1/oauth/tokens"
        tok = fetch_oauth2_token(uri, client_id="root", client_secret="s3cr3t")
    finally:
        srv.shutdown()
    assert tok == "tok-123"
    assert seen == {"grant_type": "client_credentials", "client_id": "root",
                    "client_secret": "s3cr3t", "scope": "PRINCIPAL_ROLE:ALL"}
    conf = rest_catalog_token_conf(
        "polaris", uri="http://x/catalog", warehouse="wh", token=tok)
    assert conf["spark.sql.catalog.polaris.token"] == "tok-123"


def test_iceberg_round_trip_when_jar_present(spark, tmp_path):
    """Executes a REAL Iceberg write/read/snapshot cycle when the
    iceberg-spark runtime jar is on the classpath; skipped (with the
    documented no-egress reason) otherwise."""
    import pytest

    from redpanda_iceberg_duckdb_spark.sources.iceberg import (
        is_available, iceberg_round_trip)

    if not is_available(spark):
        pytest.skip("iceberg-spark runtime jar absent (no Maven egress; "
                    "local resolution also exhausted 2026-08-14: no jar on "
                    "disk, no m2/ivy cache, no pyiceberg — see "
                    "sources/iceberg.py:is_available)")
    out = iceberg_round_trip(spark, warehouse=str(tmp_path / "wh"))
    assert out["rows"] == 200 and out["snapshots"] >= 2


def test_streaming_dedup_drops_cross_batch_duplicates(spark, tmp_path):
    """dropDuplicatesWithinWatermark must collapse redelivered events (same
    event_id) and content-retries (same payload, new event_id) across
    micro-batches, matching the batch ground truth."""
    from pyspark.sql import types as T

    from redpanda_iceberg_duckdb_spark.streaming.dedup_stream import (
        dedup_content_stream, dedup_exact_stream)

    src = tmp_path / "dup_src"
    base = "2024-01-01 00:{m:02d}:00"
    rows_batches = [
        [(1, base.format(m=1), 10.0), (2, base.format(m=2), 20.0)],
        [(1, base.format(m=1), 10.0),   # redelivery: same id
         (3, base.format(m=3), 30.0)],
        [(4, base.format(m=4), 20.0)],  # content retry of id=2's payload? no:
    ]
    schema = "event_id long, ts_s string, value double"
    for i, rows in enumerate(rows_batches):
        (spark.createDataFrame(rows, schema)
         .coalesce(1).write.parquet(str(src / f"b{i}")))

    stream_schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts_s", T.StringType()),
        T.StructField("value", T.DoubleType())])

    def read_stream():
        return (spark.readStream.schema(stream_schema)
                .option("maxFilesPerTrigger", "1")
                .option("recursiveFileLookup", "true")
                .parquet(str(src))
                .withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s"))

    # exact dedup by event_id: 1,2,1(dup),3,4 -> {1,2,3,4}
    q = (dedup_exact_stream(read_stream(), watermark="10 minutes")
         .writeStream.format("memory").queryName("dedup_ids")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    ids = {r.event_id for r in spark.sql("select * from dedup_ids").collect()}
    assert ids == {1, 2, 3, 4}

    # content dedup by value payload: values 10,20,10(dup),30,20(dup id=4)
    q2 = (dedup_content_stream(read_stream(), payload_cols=["value"],
                               watermark="10 minutes")
          .writeStream.format("memory").queryName("dedup_content")
          .outputMode("append").trigger(availableNow=True).start())
    q2.awaitTermination(120)
    vals = sorted(r.value for r in
                  spark.sql("select * from dedup_content").collect())
    assert vals == [10.0, 20.0, 30.0]
