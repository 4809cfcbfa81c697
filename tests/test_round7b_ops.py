"""Planted-fixture semantics tests for the second round-7 operator batch
(ranking, graph analytics, Bloom decontamination, unigram-LM quality,
content-defined chunking): each test constructs a corpus where the correct
answer is known by construction or by an independent pure-Python replica,
runs the registered query on it, and re-proves Spark-vs-DuckDB parity on
the same file via run_compare."""

from __future__ import annotations

import hashlib
import math
import random

from redpanda_iceberg_duckdb_spark.registry import all_queries

from .oracle_harness import run_compare
from .table_fixtures import write_single


def _docs_dir(spark, tmp_path, docs, name="docs"):
    rows = [(i, text, "en", "t", len(text)) for i, text in enumerate(docs)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    out = tmp_path / name
    out.mkdir()
    write_single(df, out, "documents")
    return str(out)


# ----------------------------------------------------------------- ranking

def test_bm25_rare_term_doc_ranks_first(spark, tmp_path):
    """The doc stuffed with the corpus's rarest token must take rank 1:
    its term has the highest idf and the doc's tf dominates."""
    common = " ".join(f"c{i}" for i in range(10))
    docs = [common for _ in range(10)]
    docs.append("needle needle needle c0")
    d = _docs_dir(spark, tmp_path, docs)
    q = all_queries()["bm25_topk_docs"]
    rows = q.fn(spark, d).collect()
    by_id = {r.doc_id: r.bm25 for r in rows}
    assert 10 in by_id
    assert by_id[10] == max(by_id.values())
    run_compare(spark, q, d)


def test_inverted_index_postings_exact(spark, tmp_path):
    docs = ["a b", "a", "b b"]
    d = _docs_dir(spark, tmp_path, docs)
    q = all_queries()["inverted_index_postings"]
    rows = {r.tok: r for r in q.fn(spark, d).collect()}
    assert rows["a"].df == 2 and rows["a"].total_tf == 2
    assert rows["a"].first_postings == "0|1"
    assert rows["b"].df == 2 and rows["b"].total_tf == 3
    assert rows["b"].first_postings == "0|2"
    run_compare(spark, q, d)


# ------------------------------------------------------------------- graph

def test_pagerank_hub_supplier_outranks_leaf(spark, tmp_path):
    """Supplier 7 trades with 4 customers, supplier 8 with one; after any
    number of iterations the hub's rank strictly exceeds the leaf's."""
    orders = [(k, c) for k, c in enumerate([1, 2, 3, 4, 1])]
    # orders 0-3 -> supplier 7 (custkeys 1..4), order 4 -> supplier 8 (cust 1)
    lineitem = [(0, 7), (1, 7), (2, 7), (3, 7), (4, 8)]
    odf = spark.createDataFrame(orders, "o_orderkey long, o_custkey long")
    ldf = spark.createDataFrame(lineitem, "l_orderkey long, l_suppkey long")
    out = tmp_path / "pr"
    out.mkdir()
    write_single(odf, out, "orders")
    write_single(ldf, out, "lineitem")
    q = all_queries()["pagerank_trade_graph"]
    rows = q.fn(spark, str(out)).collect()
    ranks = {(r.kind, r.key): r.rank_scaled for r in rows}
    assert ranks[("supplier", 7)] > ranks[("supplier", 8)]
    # hub supplier is the single best-connected node -> global rank 1
    assert rows[0].kind == "supplier" and rows[0].key == 7
    run_compare(spark, q, str(out))


def test_triangle_count_clique_vs_pair(spark, tmp_path):
    """Three identical docs form an LSH clique -> one triangle touching
    each member once; a separate identical PAIR contributes no triangle."""
    clique = " ".join(f"q{i}" for i in range(12))
    pair = " ".join(f"p{i}" for i in range(12))
    lone = " ".join(f"x{i}" for i in range(12))
    docs = [clique, clique, clique, pair, pair, lone]
    d = _docs_dir(spark, tmp_path, docs)
    q = all_queries()["triangle_count_neardup"]
    rows = q.fn(spark, d).collect()
    assert {(r.doc_id, r.n_triangles) for r in rows} == {(0, 1), (1, 1), (2, 1)}
    run_compare(spark, q, d)


# ---------------------------------------------------- Bloom decontamination

def test_bloom_flags_copied_benchmark_span_only(spark, tmp_path):
    """doc 0 (doc_id % 25 == 0) is the benchmark; doc 1 copies its text and
    must be flagged with overlap ~1.0; doc 2 shares no trigram and must be
    absent (Bloom FPs at 65536 bits / a handful of set trigrams cannot
    reach the 5% doc threshold here)."""
    bench = " ".join(f"m{i}" for i in range(20))
    clean = " ".join(f"z{i}" for i in range(20))
    docs = [bench, bench, clean]
    d = _docs_dir(spark, tmp_path, docs)
    q = all_queries()["bloom_ngram_decontamination"]
    rows = {r.doc_id: r for r in q.fn(spark, d).collect()}
    assert set(rows) == {1}
    assert rows[1].bloom_overlap == 1.0
    run_compare(spark, q, d)


# ------------------------------------------------------- unigram LM quality

def test_unigram_logprob_matches_hand_computation(spark, tmp_path):
    docs = ["a a a a", "a b"]
    d = _docs_dir(spark, tmp_path, docs)
    q = all_queries()["unigram_logprob_quality"]
    rows = {r.doc_id: r for r in q.fn(spark, d).collect()}
    # counts: a=5, b=1, total=6
    assert rows[0].n_tokens == 4
    assert rows[0].avg_logprob == round(math.log(5) - math.log(6), 6)
    exp1 = round((math.log(5) + math.log(1)) / 2 - math.log(6), 6)
    assert abs(rows[1].avg_logprob - exp1) < 1e-9
    run_compare(spark, q, d)


# ------------------------------------------------- content-defined chunking

def _py_cdc_chunks(text: str) -> list[str]:
    """Independent pure-Python replica of the windowed-polynomial chunker
    (content_chunking.py constants)."""
    p = [pow(257, j, 1_000_003) for j in range(8)]
    b = [i for i in range(8, len(text) + 1)
         if sum(ord(text[i - 1 - j]) * p[j] for j in range(8))
         % 1_000_003 % 64 == 0]
    ends = b if (b and b[-1] == len(text)) else b + [len(text)]
    out, s = [], 1
    for e in ends:
        out.append(text[s - 1:e])
        s = e + 1
    return out


def test_cdc_chunk_stats_match_python_replica(spark, tmp_path):
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    docs = [" ".join(rng.choice(vocab) for _ in range(60)) for _ in range(12)]
    d = _docs_dir(spark, tmp_path, docs)
    q = all_queries()["cdc_chunk_stats"]
    rows = {r.doc_id: r for r in q.fn(spark, d).collect()}
    assert set(rows) == set(range(12))
    for i, text in enumerate(docs):
        chunks = _py_cdc_chunks(text)
        r = rows[i]
        assert r.n_chunks == len(chunks)
        assert r.min_chunk_len == min(len(c) for c in chunks)
        assert r.max_chunk_len == max(len(c) for c in chunks)
        hashes = {hashlib.md5(c.encode()).hexdigest() for c in chunks}
        assert r.n_distinct_chunks == len(hashes)
        # chunks reassemble the document exactly
        assert "".join(chunks) == text
    run_compare(spark, q, d)


def test_cdc_boundaries_are_edit_local(spark, tmp_path):
    """The CDC property fixed-size chunking lacks: prepending one character
    shifts every chunk of a fixed-stride chunker, but content-defined
    boundaries re-synchronize — the chunk multiset difference between the
    original and the edited doc is bounded to the neighborhood of the
    edit, not the whole document."""
    rng = random.Random(11)
    text = " ".join(rng.choice("abcdefgh") for _ in range(400))
    edited = "Q" + text
    a = _py_cdc_chunks(text)
    b = _py_cdc_chunks(edited)
    shared = set(a) & set(b)
    # all but the first few chunks must survive the edit verbatim
    assert len(shared) >= len(a) - 3


# ------------------------------------------------- prefix-filter similarity

def test_ppjoin_threshold_boundary_and_exactness(spark, tmp_path):
    """Pairs straddling the 0.7 Jaccard threshold: 12 shared trigrams of 14
    (J = 12/16 = 0.75) is reported; 8 of 14 (J = 8/20 = 0.4) is not. The
    run_compare leg re-proves the prefix filter against brute force."""
    base = [f"t{i}" for i in range(16)]          # 14 trigrams
    near = base[:14] + ["X", "Y"]                # shares 12 trigrams
    far = base[:10] + ["A", "B", "C", "D", "E", "F"]  # shares 8
    docs = [" ".join(base), " ".join(near), " ".join(far)]
    d = _docs_dir(spark, tmp_path, docs)
    q = all_queries()["ppjoin_exact_pairs"]
    rows = q.fn(spark, d).collect()
    assert {(r.d1, r.d2) for r in rows} == {(0, 1)}
    assert rows[0].jaccard == 0.75
    run_compare(spark, q, d)


# --------------------------------------------------- quantizer / projection

def _emb_dir(spark, tmp_path, rows, name="emb"):
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    out = tmp_path / name
    out.mkdir()
    write_single(df, out, "embeddings")
    return str(out)


def test_lloyd_step_moves_mislabeled_vector(spark, tmp_path):
    """Two tight clusters around orthogonal axes; one vector sits in
    cluster 1's location but carries label 0 — the Lloyd step must move
    exactly that vector (cluster pull from the 3-vs-1 majority)."""
    rows = []
    for i in range(3):
        v = [0.0] * 64
        v[0] = 1.0
        v[1] = 0.01 * i
        rows.append((i, v, 0))
    for i in range(3):
        v = [0.0] * 64
        v[7] = 1.0
        v[8] = 0.01 * i
        rows.append((10 + i, v, 1))
    stray = [0.0] * 64
    stray[7] = 0.9
    rows.append((20, stray, 0))
    d = _emb_dir(spark, tmp_path, rows)
    q = all_queries()["kmeans_lloyd_step"]
    got = {r.new_label: r for r in q.fn(spark, d).collect()}
    assert got[1].n_moved_in == 1
    assert got[0].n_next == 3 and got[0].n_stay == 3
    assert got[1].n_next == 4
    run_compare(spark, q, d)


def test_jl_identical_vectors_have_zero_distortion(spark, tmp_path):
    """An identical adjacent pair has cosine 1.0 in BOTH spaces (the sign
    projection maps equal inputs to equal outputs), so abs_err == 0; a
    near-orthogonal pair's 64-dim cosine is ~0 and its reported error
    equals |cos16| up to rounding."""
    import numpy as np
    rng = np.random.RandomState(5)
    v = [float(x) for x in rng.uniform(-1, 1, 64).astype(np.float32)]
    w = [0.0] * 64
    w[3] = 1.0
    x = [0.0] * 64
    x[11] = 1.0
    rows = [(0, v, 0), (1, v, 0), (20, w, 0), (21, x, 0)]
    d = _emb_dir(spark, tmp_path, rows, name="jl")
    q = all_queries()["jl_projection_distortion"]
    got = {r.qid: r for r in q.fn(spark, d).collect()}
    assert got[0].cos64 == 1.0 and got[0].cos16 == 1.0
    assert got[0].abs_err == 0.0
    assert got[20].cos64 == 0.0
    assert got[20].abs_err == abs(got[20].cos16)
    run_compare(spark, q, d)


# ------------------------------------------------------- Kafka wire replay

def test_kafka_wire_bytes_are_exact(spark, tmp_path):
    """Producer-parity byte check: the wire value for one known row must be
    the exact compact JSON the reference's keyed producer emits — no
    spaces, declared field order, UTF-8 key."""
    from redpanda_iceberg_duckdb_spark.sources.kafka import encode_keyed_json

    df = spark.createDataFrame(
        [(42, 7, "O", "1-URGENT")],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_orderpriority string")
    row = encode_keyed_json(df, "o_orderkey").collect()[0]
    assert bytes(row.key) == b"42"
    assert bytes(row.value) == (
        b'{"o_orderkey":42,"o_custkey":7,"o_orderstatus":"O",'
        b'"o_orderpriority":"1-URGENT"}')


def test_kafka_wire_replay_roundtrip_counts(spark, tmp_path):
    """Decoded sums equal the source values (decode returns the originals)
    and the checksum leg re-proves the serialized bytes cross-engine."""
    rows = [(i, 100 + i, "OF"[i % 2], "p") for i in range(10)]
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderstatus string, "
              "o_orderpriority string")
    out = tmp_path / "wire"
    out.mkdir()
    write_single(df, out, "orders")
    q = all_queries()["kafka_wire_replay"]
    got = {r.status: r for r in q.fn(spark, str(out)).collect()}
    assert got["O"].n_msgs == 5 and got["F"].n_msgs == 5
    assert got["O"].sum_custkey == sum(100 + i for i in range(0, 10, 2))
    run_compare(spark, q, str(out))


# ------------------------------------------------------- zipf / degree

def test_zipf_slope_perfect_law_is_minus_one(spark, tmp_path):
    """A corpus whose token frequencies are exactly c_r = round(K / r)
    (harmonic) fits slope ~ -1; a uniform-frequency corpus fits slope 0."""
    toks = []
    for r in range(1, 9):
        toks += [f"z{r}"] * round(240 / r)
    docs = [" ".join(toks)]
    uni = [" ".join(f"u{i}" for i in range(8)) * 1]
    rows = [(0, docs[0], "en", "zipfish", len(docs[0])),
            (1, " ".join(["u0 u1 u2 u3 u4 u5 u6 u7"] * 30), "en", "uniform",
             301)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    out = tmp_path / "zipf"
    out.mkdir()
    write_single(df, out, "documents")
    q = all_queries()["zipf_fit_by_source"]
    got = {r.source: r for r in q.fn(spark, str(out)).collect()}
    assert abs(got["zipfish"].zipf_slope + 1.0) < 0.05
    assert got["zipfish"].r2 > 0.99
    assert got["uniform"].zipf_slope == 0.0
    # constant-frequency source: zero y-variance -> r2 defined as NULL
    assert got["uniform"].r2 is None
    run_compare(spark, q, str(out))


def test_degree_stats_star_graph(spark, tmp_path):
    """Supplier 7 serves customers 1..4 (degree 4), supplier 8 serves only
    customer 1; customer degrees are 2,1,1,1 -> medians/min/max exact."""
    orders = [(k, c) for k, c in enumerate([1, 2, 3, 4, 1])]
    lineitem = [(0, 7), (1, 7), (2, 7), (3, 7), (4, 8)]
    odf = spark.createDataFrame(orders, "o_orderkey long, o_custkey long")
    ldf = spark.createDataFrame(lineitem, "l_orderkey long, l_suppkey long")
    out = tmp_path / "deg"
    out.mkdir()
    write_single(odf, out, "orders")
    write_single(ldf, out, "lineitem")
    q = all_queries()["graph_degree_stats"]
    got = {r.kind: r for r in q.fn(spark, str(out)).collect()}
    assert got["supplier"].n_nodes == 2
    assert got["supplier"].max_deg == 4 and got["supplier"].min_deg == 1
    assert got["customer"].n_nodes == 4
    assert got["customer"].max_deg == 2 and got["customer"].median_deg == 1
    run_compare(spark, q, str(out))


# --------------------------------------------- round-8 queued: RRF / frames

def test_rrf_prefers_doc_ranked_well_by_both_systems(spark, tmp_path):
    """A doc that is #1 in both rankings must take the top fused score;
    docs ranked by only one system score strictly lower."""
    # Query terms are the 5 alphabetically-first singletons (r1..r5, all
    # df=1 — 'r' sorts before 'u'), all in doc 0, which also carries many
    # common tokens (good unigram quality). doc 1 holds only the u-
    # singletons (no query terms, poor quality); doc 2 is all common
    # (top quality, no query terms). Only doc 0 scores in both systems.
    docs = ["r1 r2 r3 r4 r5 c c c c c c c c c c",
            "u1 u2 u3 u4 u5 u6",
            "c c c c c c"]
    d = _docs_dir(spark, tmp_path, docs)
    q = all_queries()["rrf_fusion_topk"]
    rows = q.fn(spark, d).collect()
    by_id = {r.doc_id: r for r in rows}
    top = max(rows, key=lambda r: (r.rrf, -r.doc_id))
    assert top.doc_id == 0
    assert by_id[0].rrf > by_id[1].rrf and by_id[0].rrf > by_id[2].rrf
    run_compare(spark, q, d)


def test_frame_dedup_flags_shared_frames_only(spark, tmp_path):
    """Two byte-identical payloads share all four frames; a disjoint
    payload shares none."""
    a = "A" * 40 + "B" * 40
    c = "Z" * 80
    docs = [a, a, c]
    d = _docs_dir(spark, tmp_path, docs)
    q = all_queries()["multimodal_frame_dedup"]
    rows = q.fn(spark, d).collect()
    assert len(rows) > 0
    assert all(r.n_docs == 2 and r.first_doc == 0 for r in rows)
    run_compare(spark, q, d)


def test_join_cardinality_audit_exact_on_known_fixture(spark, tmp_path):
    """3 orders x multiplicity-2 lineitems: est_uniform == actual == 6 (no
    skew -> ratio exactly 1)."""
    orders = [(k, 1) for k in range(3)]
    lineitem = [(k, 7) for k in range(3) for _ in range(2)]
    odf = spark.createDataFrame(orders, "o_orderkey long, o_custkey long")
    ldf = spark.createDataFrame(lineitem, "l_orderkey long, l_suppkey long")
    out = tmp_path / "card"
    out.mkdir()
    write_single(odf, out, "orders")
    write_single(ldf, out, "lineitem")
    q = all_queries()["join_cardinality_audit"]
    r = q.fn(spark, str(out)).collect()[0]
    assert r.n_orders == 3 and r.n_lineitem == 6
    assert r.actual_rows == 6 and r.est_uniform == 6.0
    assert r.est_over_actual == 1.0
    run_compare(spark, q, str(out))
