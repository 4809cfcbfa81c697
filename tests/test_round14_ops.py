"""Round-14 targeted tests: the shared co-purchase edge cache
(graph.edges.copurchase_oriented_edges — the round-13 verdict's triangle-family
fix), the WAV ingest dead-letter micro-batch path, plus gates for
operators added this round."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import types as T

from redpanda_iceberg_duckdb_spark.registry import all_queries


def test_copurchase_edge_cache_misses_on_data_rewrite(spark, tmp_path):
    """Rewriting lineitem.parquet under an sf_dir within one application
    (the bench triangle-scaling tmp-dir pattern) must invalidate the
    keyed-singleton oriented-edge cache — the second run must enumerate
    the NEW graph, not stale checkpoint blocks."""
    d = str(tmp_path / "ds")
    os.makedirs(d)
    shutil.copy("/root/testdata/sf0.001/lineitem.parquet",
                f"{d}/lineitem.parquet")
    q = all_queries()["clustering_coefficient_parts"]
    rows_small = [tuple(r) for r in q.fn(spark, d).collect()]

    shutil.copy("/root/testdata/sf0.01/lineitem.parquet",
                f"{d}/lineitem.parquet")
    rows_big = [tuple(r) for r in q.fn(spark, d).collect()]
    assert rows_big != rows_small, \
        "co-purchase edge cache served stale data after an in-place rewrite"
    rows_ref = [tuple(r) for r in
                q.fn(spark, "/root/testdata/sf0.01").collect()]
    assert rows_big == rows_ref


def test_copurchase_cache_shared_across_triangle_family(spark):
    """clustering_coefficient_parts and edge_triangle_support must draw
    from the SAME cache entry: after either runs, the other query reuses
    it (identity of the checkpointed frame, no new cache miss), so the
    edge build is paid once per dataset."""
    from redpanda_iceberg_duckdb_spark import cache
    from redpanda_iceberg_duckdb_spark.operators.graph.edges import (
        copurchase_oriented_edges)

    sf = "/root/testdata/sf0.001"
    all_queries()["clustering_coefficient_parts"].fn(spark, sf).collect()
    misses = cache.stats()["misses"]
    eo1, _, n1 = copurchase_oriented_edges(spark, sf)
    all_queries()["edge_triangle_support"].fn(spark, sf).collect()
    eo2, _, n2 = copurchase_oriented_edges(spark, sf)
    assert eo1 is eo2 and n1 == n2
    assert cache.stats()["misses"] == misses


def test_wav_stream_dead_letters_malformed_payloads(spark, tmp_path):
    """Malformed WAV containers routed through the STREAMING micro-batch
    path must land in the dead-letter sink with the right reason codes
    while intact payloads decode — the audio St5 contract end to end
    (round-13 verdict item 6)."""
    import struct

    from redpanda_iceberg_duckdb_spark.operators.multimodal13 import (
        wav_fixture)
    from redpanda_iceberg_duckdb_spark.streaming.wav_ingest import (
        validate_wav_stream)

    ok = wav_fixture(b"hello world, a perfectly fine payload")
    rows = [
        (1, ok),
        (2, b"JUNK" + ok[4:]),                           # not_riff
        (3, ok[:16]),                                    # missing_chunk
        (4, ok[:34] + struct.pack("<H", 2) + ok[36:]),   # stereo -> unsupported
        (5, wav_fixture(b"another good one")),
    ]
    src = str(tmp_path / "in")
    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("payload", T.BinaryType())])
    spark.createDataFrame(rows, schema).write.parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    good, dead = validate_wav_stream(stream)
    assert good.isStreaming and dead.isStreaming
    for sdf, name in ((good, "wav_good"), (dead, "wav_dead")):
        q = (sdf.writeStream.format("memory").queryName(name)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
    good_rows = {r.doc_id: r for r in spark.table("wav_good").collect()}
    dead_rows = {r.doc_id: r.reason for r in spark.table("wav_dead").collect()}
    assert set(good_rows) == {1, 5}
    assert all(r.n_samples == 64 and r.peak_abs > 0
               for r in good_rows.values())
    assert dead_rows == {2: "not_riff", 3: "missing_chunk",
                         4: "unsupported_format"}


def test_python_datasource_trades_matches_sharded_generator(spark):
    """The registered `format("trades")` Python DataSource must reproduce
    sharded_trades() exactly (same per-shard seeding contract) and expose
    its shards as real input partitions."""
    from redpanda_iceberg_duckdb_spark.generator import sharded_trades
    from redpanda_iceberg_duckdb_spark.sources.pydatasource import (
        register_python_sources)

    register_python_sources(spark)
    got = (spark.read.format("trades")
           .option("count", 12_000).option("seed", 42)
           .option("rowsPerShard", 5_000).load())
    assert got.rdd.getNumPartitions() == 3
    want = sharded_trades(spark, 12_000, seed=42, rows_per_shard=5_000)
    g = {r.trade_id: r for r in got.collect()}
    w = {r.trade_id: r for r in want.collect()}
    assert len(g) == 12_000 and set(g) == set(w)
    k = min(g)
    assert g[k] == w[k]
    assert all(g[t].price == w[t].price and g[t].notes == w[t].notes
               for t in list(g)[::500])


def test_python_datasource_trades_streaming(spark, tmp_path):
    """readStream.format('trades') drains a bounded deterministic trade
    stream through the St5 validator in micro-batches: all rows arrive
    exactly once, across more than one batch, and the dead-letter side
    stays empty (every generated row is schema-complete)."""
    from redpanda_iceberg_duckdb_spark.sources.pydatasource import (
        register_python_sources)
    from redpanda_iceberg_duckdb_spark.streaming.ingest import (
        validate_stream)

    register_python_sources(spark)
    stream = (spark.readStream.format("trades")
              .option("count", 3_500).option("seed", 7)
              .option("rowsPerBatch", 1_000).load())
    assert stream.isStreaming
    good, bad = validate_stream(stream, ["trade_id", "symbol", "price"])
    q = (good.writeStream.format("memory").queryName("trades_stream")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(processingTime="1 seconds").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.table("trades_stream").collect()
    assert len(rows) == 3_500
    assert len({r.trade_id for r in rows}) == 3_500
    prog = q.recentProgress
    assert sum(p["numInputRows"] for p in prog) == 3_500
    assert sum(1 for p in prog if p["numInputRows"] > 0) >= 4  # micro-batched


def test_python_datasource_fidx_reads_containers(spark, tmp_path):
    """format('fidx') walks real container files (one partition per file)
    through the validating decoder; frames reassemble the original bytes."""
    from redpanda_iceberg_duckdb_spark.operators.multimodal14 import (
        frame_container)
    from redpanda_iceberg_duckdb_spark.sources.pydatasource import (
        register_python_sources)

    register_python_sources(spark)
    payloads = {7: b"alpha " * 10, 8: b"beta", 9: b"g" * 300}
    for doc_id, data in payloads.items():
        (tmp_path / f"{doc_id}.fidx").write_bytes(frame_container(data))
    df = (spark.read.format("fidx")
          .option("path", str(tmp_path)).load())
    rows = df.collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.frame_idx, bytes(r.frame)))
    assert set(by_doc) == set(payloads)
    for doc_id, frames in by_doc.items():
        joined = b"".join(f for _, f in sorted(frames))
        assert joined == payloads[doc_id]
    assert max(i for i, _ in by_doc[9]) == 7     # remainder-capped 8 frames


def test_frame_container_decoder_rejects_malformed():
    """The FIDX walk must validate magic, table length, and frame bounds
    — a decoder that trusts offsets is not a real container parser."""
    import struct

    import pytest

    from redpanda_iceberg_duckdb_spark.operators.multimodal14 import (
        decode_frames, frame_container)

    ok = frame_container(b"x" * 60)
    frames = decode_frames(ok)
    assert [len(f) for f in frames] == [24, 24, 12]
    assert b"".join(frames) == b"x" * 60

    with pytest.raises(ValueError, match="not a FIDX"):
        decode_frames(b"JUNK" + ok[4:])
    with pytest.raises(ValueError, match="truncated frame table"):
        decode_frames(ok[:10])
    # Frame 0's size patched past the payload end -> bounds error.
    bad = ok[:10] + struct.pack("<I", 10_000) + ok[14:]
    with pytest.raises(ValueError, match="out of bounds"):
        decode_frames(bad)
    # Remainder-capped case: 8 frames, last takes the rest.
    big = frame_container(b"y" * 300)
    fr = decode_frames(big)
    assert len(fr) == 8 and len(fr[-1]) == 300 - 7 * 24
