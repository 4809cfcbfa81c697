"""Planted-fixture semantics tests for the round-7 operators: each test
constructs a corpus where the correct answer is known by construction, runs
the registered query on it, and (where the fixture matches the oracle's
table contract) re-proves Spark-vs-DuckDB parity on the same file."""

from __future__ import annotations

import numpy as np

from redpanda_iceberg_duckdb_spark.registry import all_queries

from .oracle_harness import run_compare
from .table_fixtures import write_single


# ---------------------------------------------------------------- semdedup

def test_semdedup_drops_planted_clones_keeps_orthogonal(spark, tmp_path):
    """Exact clones of earlier-id vectors must be dropped; an orthogonal
    basis within one cell must fully survive."""
    rows = []
    # cell 0: 8 orthogonal basis vectors (cosine 0 pairwise) -> all survive
    for i in range(8):
        v = [0.0] * 64
        v[i] = 1.0
        rows.append((i, v, 0))
    # cell 1: one base vector + 3 exact clones -> clones dropped
    rng = np.random.RandomState(3)
    base = rng.normal(size=64).astype(np.float32)
    for j in range(4):
        rows.append((100 + j, [float(x) for x in base], 1))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    out = tmp_path / "sem"
    out.mkdir()
    write_single(df, out, "embeddings")

    q = all_queries()["semdedup_survivors"]
    got = {r.label: r for r in q.fn(spark, str(out)).collect()}
    assert got[0].n_survivors == 8 and got[0].n_dropped == 0
    assert got[0].first_dropped_vec_id is None
    assert got[1].n_survivors == 1 and got[1].n_dropped == 3
    assert got[1].first_dropped_vec_id == 101
    run_compare(spark, q, str(out))


# ------------------------------------------------------------------- spans

def _docs_dir(spark, tmp_path, docs):
    rows = [(i, text, "en", "t", len(text)) for i, text in enumerate(docs)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    out = tmp_path / "spans"
    out.mkdir()
    write_single(df, out, "documents")
    return str(out)


def test_shared_span_detected_with_exact_length(spark, tmp_path):
    """A planted 12-word verbatim span is reported with span_words == 12;
    a 5-word overlap (below the >=10-word bar) is not reported."""
    span12 = " ".join(f"s{i}" for i in range(12))
    short5 = " ".join(f"u{i}" for i in range(5))
    docs = [
        f"alpha beta {span12} gamma delta",
        f"one two three {span12} four five",
        f"{short5} filler0 filler1 filler2 filler3 filler4",
        f"pre0 pre1 pre2 {short5} post0 post1 post2",
        "unrelated words only here nothing shared at all today",
    ]
    d = _docs_dir(spark, tmp_path, docs)
    q = all_queries()["shared_ngram_span_pairs"]
    rows = q.fn(spark, d).collect()
    assert {(r.d1, r.d2) for r in rows} == {(0, 1)}
    assert rows[0].span_words == 12 and rows[0].max_run_tg == 10
    run_compare(spark, q, d)


def test_span_df_cap_suppresses_boilerplate(spark, tmp_path):
    """A 12-word span stamped into 20 documents exceeds the df-cap (16), so
    its trigrams are dropped and NO pair is reported — boilerplate is not
    duplication. The same span in only 2 docs is reported."""
    boiler = " ".join(f"b{i}" for i in range(12))
    rare = " ".join(f"r{i}" for i in range(12))
    docs = [f"head{i} {boiler} tail{i}" for i in range(20)]
    docs += [f"x {rare} y", f"z {rare} w"]
    d = _docs_dir(spark, tmp_path, docs)
    q = all_queries()["shared_ngram_span_pairs"]
    rows = q.fn(spark, d).collect()
    assert {(r.d1, r.d2) for r in rows} == {(20, 21)}
    run_compare(spark, q, d)


# ---------------------------------------------------- streaming replays

def _events_dir(spark, tmp_path, rows, name="ev"):
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    out = tmp_path / name
    out.mkdir()
    write_single(df, out, "events")
    return str(out)


def test_late_data_drop_rule(spark, tmp_path):
    """Hand-built arrival sequence on one synthetic Kafka partition
    (user_id=8 -> kpart 0): an event 11 minutes behind the high-water mark
    is dropped; 9 minutes behind is kept; the first event and forward
    progress are always kept."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(eid, minutes):
        return (eid, t0 + dt.timedelta(minutes=minutes), 8, "click", 1.0, "{}")

    rows = [
        ev(1, 0),     # first: kept (no high-water yet)
        ev(2, 30),    # forward: kept, high-water now 30
        ev(3, 19),    # 11 min late vs 30: DROPPED
        ev(4, 21),    # 9 min late vs 30: kept
        ev(5, 40),    # forward: kept
    ]
    d = _events_dir(spark, tmp_path, rows, "late")
    q = all_queries()["late_data_drop_replay"]
    got = q.fn(spark, d).collect()
    assert len(got) == 1
    r = got[0]
    assert r.n_accepted == 4 and r.n_dropped_late == 1
    assert r.max_lateness_us == 11 * 60 * 1_000_000
    run_compare(spark, q, d)


def test_stream_dedup_ttl_expiry_readmits(spark, tmp_path):
    """Same key re-seen within 30 min is suppressed; after a >30-min quiet
    gap the key's state has expired and the event is kept again."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ev(eid, minutes):
        return (eid, t0 + dt.timedelta(minutes=minutes), 1, "view", 1.0, "{}")

    rows = [
        ev(1, 0),    # kept (first)
        ev(2, 10),   # within 30 min of last-seen: suppressed
        ev(3, 25),   # 15 min after event 2 (TTL refreshed): suppressed
        ev(4, 60),   # 35 min after event 3: state expired -> kept
    ]
    d = _events_dir(spark, tmp_path, rows, "ttl")
    q = all_queries()["stream_dedup_replay"]
    r = q.fn(spark, d).collect()[0]
    assert (r.n_events, r.n_kept, r.n_suppressed) == (4, 2, 2)
    run_compare(spark, q, d)


# ------------------------------------------------------------ merge / scd2

def test_merge_upsert_replay_change_wins_and_unmatched_pass(spark, tmp_path):
    """One key in both parity classes (change row wins), one key only-even
    (snapshot passes through), one key only-odd (inserted)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ev(eid, user, minutes, value):
        return (eid, t0 + dt.timedelta(minutes=minutes), user, "click",
                value, "{}")

    rows = [
        ev(2, 1, 0, 10.0),   # key (1,click) snapshot...
        ev(3, 1, 5, 20.0),   # ...replaced by this change row
        ev(4, 2, 0, 30.0),   # key (2,click): snapshot only -> passes
        ev(5, 3, 0, 40.0),   # key (3,click): change only -> inserted
    ]
    d = _events_dir(spark, tmp_path, rows, "merge")
    q = all_queries()["merge_upsert_replay"]
    r = q.fn(spark, d).collect()[0]
    assert r.n_rows == 3
    assert r.id_checksum == 3 + 4 + 5
    assert r.value_checksum == 20.0 + 30.0 + 40.0
    run_compare(spark, q, d)


def test_scd2_band_drift_closes_and_reopens(spark, tmp_path):
    """User whose value band drifts gets a closed row + a current row in
    the new band; stable user stays a single current row."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ev(eid, user, minutes, value):
        return (eid, t0 + dt.timedelta(minutes=minutes), user, "click",
                value, "{}")

    rows = [
        ev(1, 1, 0, 50.0),    # user 1: band 0 ...
        ev(2, 1, 10, 250.0),  # ... drifts to band 2
        ev(3, 2, 0, 120.0),   # user 2: band 1, single event -> stable
    ]
    d = _events_dir(spark, tmp_path, rows, "scd2")
    q = all_queries()["scd2_history_replay"]
    got = {(r.band, r.status): r for r in q.fn(spark, d).collect()}
    assert got[(0, "closed")].n_rows == 1
    assert got[(2, "current")].n_rows == 1
    assert got[(1, "current")].n_rows == 1
    assert (0, "current") not in got
    run_compare(spark, q, d)


# --------------------------------------------------------------------- bpe

def test_bpe_pair_counts_exact(spark, tmp_path):
    """Known corpus: 'abab abc' -> pairs ab,ba,ab | ab,bc; count(ab)=3."""
    rows = [(0, "abab abc", "en", "t", 8)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    out = tmp_path / "bpe"
    out.mkdir()
    write_single(df, out, "documents")
    q = all_queries()["bpe_pair_frequencies"]
    got = {r.pair: r.n for r in q.fn(spark, str(out)).collect()}
    assert got == {"ab": 3, "ba": 1, "bc": 1}
    run_compare(spark, q, str(out))


def test_uuid_sql_layout_matches_python_uuid(spark):
    """The SQL construction in uuid_from_int_audit must equal Python's
    uuid.UUID(int=i, version=4) byte-for-byte — the reference producer's
    trade_id contract — across nibble edge cases (variant nibble 0..f,
    multi-word ints)."""
    import uuid as _uuid

    from pyspark.sql import functions as F

    from redpanda_iceberg_duckdb_spark.operators.scalar import (
        _uuid_from_int_spark)

    ints = [0, 1, 15, 42, 65535, 2**31, 2**52 + 12345, 98765432109876,
            *range(4090, 4112)]
    df = spark.createDataFrame([(i,) for i in ints], "event_id long")
    got = {r.event_id: r.uid for r in df.select(
        "event_id",
        F.expr(_uuid_from_int_spark("event_id")).alias("uid")).collect()}
    for i in ints:
        assert got[i] == str(_uuid.UUID(int=i, version=4)), i
