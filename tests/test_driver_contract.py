"""Contract tests for the driver-facing surfaces: __spark_entry__ invariants
and the bench.py JSON line shape. These are the interfaces the round harness
consumes — breaking them silently would void the whole round."""

from __future__ import annotations

import json
import subprocess
import sys

import pytest

import __spark_entry__ as entry_mod


def test_entry_contract(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0 and df.columns[0] == "symbol"


def test_queries_oracle_alignment():
    qs = entry_mod.queries()
    osql = entry_mod.oracle_sql()
    assert len(qs) >= 60
    # every oracle key is a query; every oracle is non-empty SQL text
    assert set(osql) <= set(qs)
    assert all(isinstance(s, str) and "SELECT" in s.upper()
               for s in osql.values())
    # every registered query carries a DuckDB oracle (round 2 gave
    # approx_aggregates a tolerance-flag oracle and multimodal_byte_features
    # a hex-expansion oracle) — EXCEPT the explicit rows-only allowlist:
    # queries whose output is engine telemetry with nothing for SQL to
    # recompute. Each entry must name the pytest that carries its
    # correctness weight instead.
    # Empty since round 13: the one telemetry query was split into the
    # oracled stream_state_expected (registered) + the engine-metric
    # equality in test_stateful_streaming.py.
    rows_only_allowed: set[str] = set()
    rows_only = set(qs) - set(osql)
    assert rows_only == rows_only_allowed


def test_readme_query_count_matches_registry():
    """README's advertised '<N> registered queries' must equal the live
    registry count — round-13 verdict found three documents carrying three
    different stale values (372/375/376). The manifest must agree too."""
    import json
    import re

    from redpanda_iceberg_duckdb_spark.registry import all_queries

    n = len(all_queries())
    with open("/root/repo/README.md") as f:
        m = re.search(r"(\d+) registered", f.read())
    assert m, "README.md no longer states the registered-query count"
    assert int(m.group(1)) == n, (
        f"README says {m.group(1)} registered queries; registry has {n}")
    with open("/root/repo/verification_manifest.json") as f:
        assert len(json.load(f)) == n


def test_bench_emits_single_json_line(tmp_path):
    """bench.py at sf0.001 (fast) prints exactly one JSON object on stdout
    with the driver-required keys."""
    import os

    extras_out = str(tmp_path / "extras.json")
    env = dict(os.environ)
    env.update({"SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001",
                "SPARK_GRAFT_CPUS": "8",
                # never clobber the committed sf0.1 BENCH_EXTRAS.json
                "SPARK_GRAFT_EXTRAS_OUT": extras_out,
                # r16: stdout-contract check only — skip the ~300-query
                # extras sweep that made this one test ~10 min of the
                # default suite (the driver never sets this; its bench
                # run is the unchanged full path)
                "SPARK_GRAFT_BENCH_HEADLINE_ONLY": "1"})
    res = subprocess.run(
        [sys.executable, "bench.py"],
        env=env, capture_output=True, text=True, cwd="/root/repo", timeout=1800)
    assert res.returncode == 0, res.stderr[-2000:]
    lines = [ln for ln in res.stdout.strip().splitlines() if ln.strip()]
    assert len(lines) == 1, res.stdout
    # r08's line outgrew the driver's capture buffer and recorded
    # "parsed": null — extras now live in BENCH_EXTRAS.json and the
    # stdout line must stay small.
    assert len(lines[0]) < 2000, f"bench stdout line too long: {len(lines[0])}"
    payload = json.loads(lines[0])
    for key in ["metric", "value", "unit", "queries", "sf", "canary"]:
        assert key in payload
    assert "extras" not in payload
    # Box-speed canary (r14 verdict item 2): the driver-parsed line must
    # carry the warm-min ppjoin timing so cross-round comparisons are
    # ratio-correct without re-running on the judge's box.
    assert isinstance(payload["canary"]["ppjoin_exact_pairs"], (int, float))
    assert payload["unit"] == "sec" and payload["sf"] == 0.001
    assert all(isinstance(v, (int, float)) for v in payload["queries"].values())
    with open(extras_out) as f:
        side = json.load(f)
    assert isinstance(side["extras"], dict) and side["extras"]


def test_bench_cache_demos_smoke(spark, sf_smoke):
    """The bench extras path runs only in the driver's full bench (the
    stdout-contract test above skips it). Smoke the two demos that go
    through the dataset cache at sf0.001 and check their keys."""
    import bench

    tri = bench.triangle_scaling_demo(spark, sf_smoke)
    assert set(tri) == {"triangles_x1_cold", "triangles_x1",
                        "triangles_x2_cold", "triangles_x2"}
    bpe = bench.bpe_wordcount_demo(spark, sf_smoke)
    assert set(bpe) == {"bpe_x3dup_bpe_train_merges",
                        "bpe_x3dup_bpe_train_merges_wordcount",
                        "bpe_encode_stats_x1", "bpe_encode_stats_x3"}
    assert all(isinstance(v, float) and v >= 0
               for v in {**tri, **bpe}.values())


def test_bench_graph_demos_smoke(spark, sf_smoke):
    """Smoke the two graph demos of the bench extras path at sf0.001 and
    check their exact key sets."""
    import bench

    trio = bench.graph_trio_scaling_demo(spark, sf_smoke)
    assert set(trio) == {
        f"{q}_x{m}" for m in (1, 2, 4)
        for q in ("kcore_degree_histogram", "label_propagation_sizes",
                  "sssp_cheapest_paths")}
    hot = bench.pagerank_hot_vertex_demo(spark, sf_smoke)
    assert set(hot) == {"pagerank_hotvertex_spread",
                        "pagerank_hotvertex_hot"}
    assert all(isinstance(v, float) and v >= 0
               for v in {**trio, **hot}.values())


def _load_greens() -> dict[str, set[str]]:
    """round tag -> set of query names with a green CORRECTNESS row."""
    import json
    import os

    out: dict[str, set[str]] = {}
    for i in range(1, 30):
        p = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                         f"CORRECTNESS_r{i:02d}.json")
        if os.path.exists(p):
            with open(p) as f:
                rows = json.load(f)
            out[f"r{i:02d}"] = {n for n, v in rows.items()
                                if not v.get("err") and v.get("rows_match")
                                and v.get("schema_match")
                                and v.get("hash_match")}
    return out


def test_verify_first_window_contract():
    """The must-verify set is DERIVED, not trusted (round-8 verdict item 2):
    every query whose current source fingerprint mismatches the committed
    manifest (verification.must_verify) must sit inside the driver's
    50-query window or the pending queue — a silent edit to a query or one
    of its helper modules now fails here instead of voiding an old green
    row unnoticed. Tail queries must hold manifest evidence pointing at a
    REAL green row whose fingerprint still matches their current source."""
    from redpanda_iceberg_duckdb_spark.verification import (
        current_shas, load_manifest, must_verify)

    names = list(entry_mod.queries())
    vf = entry_mod._VERIFY_FIRST
    assert len(vf) <= 50
    assert set(vf) <= set(names[:50]), set(vf) - set(names[:50])
    pending = set(entry_mod._PENDING_NEXT_WINDOW)
    assert pending <= set(names[50:]), pending - set(names[50:])

    shas = current_shas()
    manifest = load_manifest()
    greens = _load_greens()

    # 1. mechanically derived must-verify set is fully windowed/queued
    mv = must_verify(shas)
    unwindowed = sorted(mv - set(names[:50]) - pending)
    assert unwindowed == [], (
        f"fingerprint changed since last green but outside the verify "
        f"window — run tools/regen_manifest.py after adding them to "
        f"_VERIFY_FIRST or _PENDING_NEXT_WINDOW: {unwindowed}")

    # 2. every tail query's manifest evidence is a real green row
    for n in names[50:]:
        if n in pending:
            continue
        ev = manifest[n]["evidence"]
        assert manifest[n]["sha"] == shas[n], n  # redundant with (1)
        assert ev in greens and n in greens[ev], (
            f"{n}: manifest evidence {ev!r} has no green CORRECTNESS row")


def test_ntz_fallback_path_matches_default(spark, sf_smoke, monkeypatch):
    """The r04 testdata regen silently switched parquet timestamps to
    no-timezone (Spark: TIMESTAMP_NTZ), crashing every unix_micros() query
    for two rounds. Guard both defenses: with inferTimestampNTZ re-enabled
    (simulating a session whose reader config we could not set), the
    _post_load NTZ->TIMESTAMP cast in tables.py must still produce identical
    results for the previously-broken queries.

    configure_session (called by load_table inside every query) would flip
    the reader conf back to false, so without intervention the re-run would
    exercise the reader fix, not the cast fallback. Monkeypatching it to a
    no-op pins NTZ inference ON for the whole query execution. An inferred
    read (the precondition below) genuinely produces timestamp_ntz and the
    _post_load cast restores it; load_table itself reads with the declared
    TIMESTAMP schema, so the queries must not notice the reader conf."""
    from redpanda_iceberg_duckdb_spark import tables
    from redpanda_iceberg_duckdb_spark.registry import all_queries

    qs = all_queries()
    names = ("window_event_gaps", "sessionization", "events_hourly")
    want = {n: sorted(map(tuple, qs[n].fn(spark, sf_smoke).collect()))
            for n in names}
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    monkeypatch.setattr(tables, "configure_session", lambda s: s)
    try:
        df = spark.read.parquet(f"{sf_smoke}/events.parquet")
        assert dict(df.dtypes)["ts"] == "timestamp_ntz"  # precondition real
        norm = tables._post_load("events", df)
        assert dict(norm.dtypes)["ts"] == "timestamp"
        for n, rows in want.items():
            # conf is still NTZ=true here (no-op configure_session) — the
            # queries below run on the cast-fallback path end to end.
            assert spark.conf.get(
                "spark.sql.parquet.inferTimestampNTZ.enabled") == "true"
            got = sorted(map(tuple, qs[n].fn(spark, sf_smoke).collect()))
            assert got == rows, n
    finally:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")


def test_configure_session_is_set_free_when_configured(spark):
    """Every spark.conf.set — even writing the current value back — bumps the
    session state and drops Spark's plan/codegen caches. That churn (one
    configure_session per load_table per query) was the r06 bench drift:
    events_hourly ran 1.4 s instead of 0.3 s at sf0.1. Pin the fix: on an
    already-configured session, configure_session must perform ZERO set
    calls, so repeated loads leave plan caches intact."""
    from redpanda_iceberg_duckdb_spark.session import configure_session

    configure_session(spark)  # ensure configured
    calls = []
    orig_set = spark.conf.set

    class CountingConf:
        def __getattr__(self, item):
            return getattr(spark.conf, item)

        def set(self, k, v):
            calls.append(k)
            return orig_set(k, v)

    class Wrapper:
        def __getattr__(self, item):
            return getattr(spark, item)

        @property
        def conf(self):
            return CountingConf()

    configure_session(Wrapper())
    assert calls == [], calls


def test_get_spark_disables_call_site_capture(spark):
    from pyspark.errors.utils import is_debugging_enabled

    from redpanda_iceberg_duckdb_spark.session import _DATAFRAME_DEBUGGING

    assert spark.conf.get(_DATAFRAME_DEBUGGING).lower() == "false"
    assert not is_debugging_enabled()


@pytest.mark.parametrize("expr, condition", [
    ("assert_true", "USER_RAISED_EXCEPTION"),
    ("divide", "DIVIDE_BY_ZERO"),
])
def test_failing_expression_keeps_error_class(spark, expr, condition):
    """With call-site capture off, a runtime failure still raises a
    PySparkException carrying its error class; only the Python file:line
    note is gone from the message."""
    from pyspark.errors import PySparkException
    from pyspark.sql import functions as F

    df = spark.range(1)
    col = (F.assert_true(F.col("id") > 0) if expr == "assert_true"
           else F.lit(1) / F.col("id"))
    with pytest.raises(PySparkException) as info:
        df.select(col).collect()
    assert info.value.getCondition() == condition


def test_configure_session_never_sets_static_debugging_conf(spark):
    """spark.python.sql.dataFrameDebugging.enabled is static: setting it on
    a live session raises CANNOT_MODIFY_STATIC_CONFIG. configure_session
    wraps all its sets in one try, so the conf inside it would swallow that
    error and skip every setting after it — it belongs in get_spark only."""
    from pyspark.errors import PySparkException

    from redpanda_iceberg_duckdb_spark.session import (
        _DATAFRAME_DEBUGGING, configure_session)

    with pytest.raises(PySparkException) as info:
        spark.conf.set(_DATAFRAME_DEBUGGING, "true")
    assert info.value.getCondition() == "CANNOT_MODIFY_STATIC_CONFIG"

    calls = []

    class UnconfiguredConf:
        def get(self, key, default=None):
            return default

        def set(self, key, value):
            calls.append(key)

    class Wrapper:
        conf = UnconfiguredConf()
        sparkContext = spark.sparkContext

    configure_session(Wrapper())
    assert calls and _DATAFRAME_DEBUGGING not in calls, calls


def test_configure_session_sets_checkpoint_file_manager(spark):
    """A driver-supplied session gets the FileSystem-based streaming
    checkpoint manager too: it is a runtime conf in the shared table."""
    from redpanda_iceberg_duckdb_spark.session import configure_session

    key = "spark.sql.streaming.checkpointFileManagerClass"
    assert spark.conf.get(key).endswith("FileSystemBasedCheckpointFileManager")
    sets = {}

    class UnconfiguredConf:
        def get(self, key, default=None):
            return default

        def set(self, key, value):
            sets[key] = value

    class Wrapper:
        conf = UnconfiguredConf()
        sparkContext = spark.sparkContext

    configure_session(Wrapper())
    assert sets[key] == spark.conf.get(key)


def test_no_hugeint_oracle_outputs(spark, sf_smoke):
    """The driver's value hash is TYPE-sensitive: DuckDB widens sum(BIGINT)
    to HUGEINT, which hash-mismatches Spark's bigint even when every value
    is identical (the round-2 sequence_packing_bins red row). Enforce the
    cast discipline registry-wide at the schema level — no oracle may emit
    HUGEINT/INT128, and integer/double/string class mismatches vs the Spark
    schema are errors too.

    Default suite: it needs no second SF, and with declared table schemas
    building every query's plan launches no schema-inference job."""
    import duckdb

    from tests.oracle_harness import duckdb_conn

    qs = entry_mod.queries()
    osql = entry_mod.oracle_sql()
    con = duckdb_conn(sf_smoke)
    classes = {
        "BIGINT": "i", "INTEGER": "i", "SMALLINT": "i", "TINYINT": "i",
        "DOUBLE": "f", "FLOAT": "f", "VARCHAR": "s", "BOOLEAN": "b",
        "TIMESTAMP": "t", "DATE": "d",
    }
    spark_classes = {
        "bigint": "i", "int": "i", "smallint": "i", "tinyint": "i",
        "double": "f", "float": "f", "string": "s", "boolean": "b",
        "timestamp": "t", "timestamp_ntz": "t", "date": "d",
    }
    bad = []
    for name, sql in osql.items():
        rel = con.sql(sql)
        dtypes = dict(qs[name](spark, sf_smoke).dtypes)
        for col, dt in zip(rel.columns, [str(t) for t in rel.types]):
            if dt in ("HUGEINT", "UHUGEINT", "INT128"):
                bad.append(f"{name}.{col}: {dt}")
                continue
            dc, sc = classes.get(dt), spark_classes.get(dtypes.get(col, ""))
            if dc and sc and dc != sc:
                bad.append(f"{name}.{col}: duck {dt} vs spark {dtypes.get(col)}")
    con.close()
    assert bad == [], bad
