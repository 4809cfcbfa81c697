"""Property tests for the second round-7 operator batch, each against an
independent pure-Python reference on hypothesis-generated inputs:

- content-defined chunking vs a character-level Python replica (random
  unicode-free strings, including edge lengths around the window size);
- PPJoin prefix-filtered pairs vs brute-force Jaccard over random small
  corpora (the zero-false-negative claim exercised beyond the fixtures);
- integer PageRank vs a Python implementation of the exact same
  integer recurrence on random bipartite graphs.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from redpanda_iceberg_duckdb_spark.registry import all_queries

from .table_fixtures import write_single


# ------------------------------------------------- content-defined chunking

def _py_cdc_chunks(text):
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


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.text(alphabet=st.characters(min_codepoint=32,
                                               max_codepoint=126),
                        min_size=0, max_size=200),
                min_size=1, max_size=8))
def test_cdc_chunker_matches_python_replica(spark, tmp_path_factory, texts):
    rows = [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    out = tmp_path_factory.mktemp("cdcprop")
    write_single(df, out, "documents")
    q = all_queries()["cdc_chunk_stats"]
    got = {r.doc_id: r for r in q.fn(spark, str(out)).collect()}
    assert set(got) == set(range(len(texts)))
    for i, t in enumerate(texts):
        chunks = _py_cdc_chunks(t)
        assert got[i].n_chunks == len(chunks), (i, t)
        assert got[i].min_chunk_len == min(len(c) for c in chunks)
        assert got[i].max_chunk_len == max(len(c) for c in chunks)
        assert "".join(chunks) == t


# --------------------------------------------------------- PPJoin exactness

def _trigrams(text):
    ws = text.split(" ")
    return {" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)}


def _brute_pairs(texts, t=0.7):
    tgs = {i: _trigrams(x) for i, x in enumerate(texts)}
    out = set()
    for a in tgs:
        for b in tgs:
            if a < b and tgs[a] and tgs[b]:
                i = len(tgs[a] & tgs[b])
                u = len(tgs[a] | tgs[b])
                if 10 * i >= 7 * u:
                    out.add((a, b))
    return out


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.data())
def test_ppjoin_zero_false_negatives_on_random_corpora(
        spark, tmp_path_factory, data):
    # small vocab forces overlaps; doc lengths straddle the trigram minimum
    vocab = [f"w{i}" for i in range(6)]
    n_docs = data.draw(st.integers(3, 8))
    texts = [" ".join(data.draw(st.lists(st.sampled_from(vocab),
                                         min_size=0, max_size=12)))
             for _ in range(n_docs)]
    rows = [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    out = tmp_path_factory.mktemp("ppprop")
    write_single(df, out, "documents")
    q = all_queries()["ppjoin_exact_pairs"]
    got = {(r.d1, r.d2) for r in q.fn(spark, str(out)).collect()}
    assert got == _brute_pairs(texts)


# ------------------------------------------------------- integer PageRank

def _py_pagerank(edges, iters=5, scale=1_000_000, teleport=150_000):
    """Pure-Python replica of the exact integer recurrence
    (graph/centrality.py module docstring)."""
    sym = [(2 * c, 2 * s + 1) for c, s in edges]
    sym += [(2 * s + 1, 2 * c) for c, s in edges]
    sym = list(set(sym))
    outdeg = {}
    for u, v in sym:
        outdeg[u] = outdeg.get(u, 0) + 1
    r = {u: scale for u in outdeg}
    for _ in range(iters):
        nxt = {}
        for u, v in sym:
            contrib = (85 * (r[u] // outdeg[u])) // 100
            nxt[v] = nxt.get(v, 0) + contrib
        r = {v: teleport + c for v, c in nxt.items()}
    return r


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.tuples(st.integers(1, 6), st.integers(1, 4)),
                min_size=1, max_size=12))
def test_pagerank_matches_python_integer_recurrence(
        spark, tmp_path_factory, cs_edges):
    orders = [(k, c) for k, (c, _) in enumerate(cs_edges)]
    lineitem = [(k, s) for k, (_, s) in enumerate(cs_edges)]
    odf = spark.createDataFrame(orders, "o_orderkey long, o_custkey long")
    ldf = spark.createDataFrame(lineitem, "l_orderkey long, l_suppkey long")
    out = tmp_path_factory.mktemp("prprop")
    write_single(odf, out, "orders")
    write_single(ldf, out, "lineitem")
    q = all_queries()["pagerank_trade_graph"]
    rows = q.fn(spark, str(out)).collect()
    want = _py_pagerank(set(cs_edges))
    exp = sorted(((r, n) for n, r in want.items()),
                 key=lambda t: (-t[0], t[1]))[:20]
    got = [(r.rank_scaled,
            r.key * 2 + (0 if r.kind == "customer" else 1), r.rn)
           for r in rows]
    assert [(r, n) for r, n, _ in got] == exp
    assert [rn for _, _, rn in got] == list(range(1, len(got) + 1))


# ----------------------------------------------- Kafka wire JSON escaping

@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(
    st.text(alphabet=st.characters(min_codepoint=1, max_codepoint=0x2FF),
            min_size=0, max_size=30),
    min_size=1, max_size=5))
def test_kafka_wire_json_matches_duckdb_on_nasty_strings(spark, strings):
    """The wire value's JSON escaping (quotes, backslashes, control chars,
    non-ASCII) must agree byte-for-byte with DuckDB's to_json — the
    property that makes kafka_wire_replay's raw-bytes checksum leg valid
    for ANY string payload, not just the plain testdata corpus."""
    import duckdb
    from pyspark.sql import functions as F

    from redpanda_iceberg_duckdb_spark.sources.kafka import encode_keyed_json

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(strings)], "k long, v string")
    wire = {r.k: bytes(r.value).decode("utf-8")
            for r in encode_keyed_json(df, "k").withColumn(
                "k", F.col("key").cast("string").cast("long")).collect()}
    con = duckdb.connect()
    for i, s in enumerate(strings):
        dj = con.execute(
            "select to_json(struct_pack(k := cast(? as bigint), v := ?))",
            [i, s]).fetchone()[0]
        assert wire[i] == dj, (s, wire[i], dj)
