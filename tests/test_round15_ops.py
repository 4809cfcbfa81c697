"""Round-15 operator and fix tests.

Covers the round-14 advice fixes (plan-doctor direct-chain limit rule,
fidx empty-directory read) and the operators added this round.
"""

from __future__ import annotations

from redpanda_iceberg_duckdb_spark.plans.doctor import _subtree_has_limit

_CHAIN_PLAN = """\
Window (5)
+- * Sort (4)
   +- Exchange (3)
      +- * Project (2)
         +- GlobalLimit (1)
"""

_BRANCH_PLAN = """\
Window (9)
+- * Project (8)
   +- SortMergeJoin (7)
      :- GlobalLimit (3)
      :  +- Scan parquet (2)
      +- Scan parquet (6)
"""

_SECOND_BRANCH_PLAN = """\
Window (9)
+- SortMergeJoin (7)
   :- Scan parquet (2)
   +- TakeOrderedAndProject (6)
"""


def test_doctor_limit_on_direct_chain_exempts():
    assert _subtree_has_limit(_CHAIN_PLAN, "Window", "5")


def test_doctor_limit_in_join_branch_does_not_exempt():
    """A GlobalLimit bounding only ONE branch of a join must not exempt a
    global window over the joined (unbounded) result — the scan stops at
    the first multi-child node (round-14 advice, doctor.py)."""
    assert not _subtree_has_limit(_BRANCH_PLAN, "Window", "9")
    assert not _subtree_has_limit(_SECOND_BRANCH_PLAN, "Window", "9")


def test_fidx_empty_directory_reads_empty(spark, tmp_path):
    """format('fidx') over a directory with no containers must return an
    empty frame, not crash on Spark's read(None) placeholder partition
    (round-14 advice, pydatasource.py)."""
    from redpanda_iceberg_duckdb_spark.sources.pydatasource import (
        register_python_sources)

    register_python_sources(spark)
    df = (spark.read.format("fidx")
          .option("path", str(tmp_path)).load())
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == [
        "doc_id", "frame_idx", "frame"]


# ---------------------------------------------------------------------------
# Independent re-implementations of the round-15 operators. Several of
# the new queries share machine-generated SQL between the Spark side and
# the DuckDB oracle (sinkhorn, PACF, periodogram, krippendorff), so the
# oracle gate alone partially checks "same SQL, two engines". These
# tests pin the SEMANTICS against from-scratch numpy/pure-python
# implementations instead.

def _q(name):
    from redpanda_iceberg_duckdb_spark.registry import all_queries
    return all_queries()[name]


def test_krippendorff_alpha_matches_independent(spark, sf_smoke):
    import collections
    import hashlib
    import math

    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_smoke}/documents.parquet").to_pandas()

    def la(n):
        return 0 if n < 200 else (1 if n < 320 else 2)

    o = collections.Counter()
    n_units = 0
    for r in t.itertuples():
        cats = [la(r.n_chars)]
        h = int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:8], 16)
        cats.append((la(r.n_chars) + 1) % 3 if h % 5 == 0
                    else la(r.n_chars))
        if r.doc_id % 7 != 0:
            c40 = len(r.text[:int(math.floor(r.n_chars * 2.0 / 5))])
            cats.append(0 if c40 < 80 else (1 if c40 < 128 else 2))
        m = len(cats)
        if m < 2:
            continue
        n_units += 1
        for i, c in enumerate(cats):
            for j, k in enumerate(cats):
                if i != j:
                    o[(c, k)] += 1.0 / (m - 1)
    nt = sum(o.values())
    do = sum(v for (c, k), v in o.items() if c != k)
    nc = collections.Counter()
    for (c, k), v in o.items():
        nc[c] += v
    de = sum(nc[c] * nc[k] for c in nc for k in nc if c != k) / (nt - 1)
    alpha = 1 - do / de
    row = _q("krippendorff_alpha_labels").fn(spark, sf_smoke).head()
    assert row.n_units == n_units
    assert row.n_pairable_x2 == round(2 * nt)
    assert abs(row.alpha - alpha) < 2e-6


def test_sinkhorn_matches_independent_numpy(spark, sf_smoke):
    import math

    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_smoke}/embeddings.parquet",
                      columns=["vec_id", "label"]).to_pandas()
    even, odd = t[t.vec_id % 2 == 0], t[t.vec_id % 2 == 1]
    a = np.array([(even.label == i).sum() for i in range(10)],
                 float) / len(even)
    b = np.array([(odd.label == i).sum() for i in range(10)],
                 float) / len(odd)
    K = np.array([[round(1e6 * math.exp(-((i - j) ** 2) / 10.0))
                   for j in range(10)] for i in range(10)], float)
    v = np.ones(10)
    for _ in range(10):
        u = a / (K @ v)
        v = b / (K.T @ u)
    P = u[:, None] * K * v[None, :]
    rows = _q("sinkhorn_plan_labels").fn(spark, sf_smoke).collect()
    assert len(rows) == 100
    for r in rows:
        assert abs(r.p - P[r.i][r.j]) < 1e-7, (r.i, r.j)
    # the plan's column marginals must reproduce b (last update was v)
    assert np.allclose(P.sum(axis=0), b, atol=1e-9)


def _hourly_series(sf_dir, event_types=None):
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/events.parquet",
                      columns=["ts", "event_type"])
    if event_types:
        import pyarrow.compute as pc
        t = t.filter(pc.is_in(t.column("event_type"),
                              value_set=__import__("pyarrow")
                              .array(event_types)))
    # parquet stores timestamp[us]: cast to int64 microseconds
    hrs = [us // 3_600_000_000
           for us in t.column("ts").cast("int64").to_pylist()]
    lo, hi = min(hrs), max(hrs)
    counts = {}
    for h in hrs:
        counts[h] = counts.get(h, 0) + 1
    return [counts.get(h, 0) for h in range(lo, hi + 1)]


def test_pacf_matches_independent_durbin_levinson(spark, sf_smoke):
    c = _hourly_series(sf_smoke)
    n, s = len(c), sum(c)
    z = [n * x - s for x in c]
    dvar = sum(v * v for v in z)
    r = [sum(z[t] * z[t + k] for t in range(n - k)) / dvar
         for k in range(1, 6)]
    phi = {(1, 1): r[0]}
    for k in range(2, 6):
        num = r[k - 1] - sum(phi[(k - 1, j)] * r[k - 1 - j]
                             for j in range(1, k))
        den = 1 - sum(phi[(k - 1, j)] * r[j - 1] for j in range(1, k))
        phi[(k, k)] = num / den
        for j in range(1, k):
            phi[(k, j)] = phi[(k - 1, j)] - phi[(k, k)] * phi[(k - 1,
                                                               k - j)]
    rows = _q("pacf_durbin_levinson").fn(spark, sf_smoke).collect()
    got = {r_.lag: r_.pacf for r_ in rows}
    for k in range(1, 6):
        assert abs(got[k] - phi[(k, k)]) < 2e-6, k


def test_periodogram_matches_independent(spark, sf_smoke):
    import math

    c = _hourly_series(sf_smoke)
    n = len(c)
    rows = _q("periodogram_hourly_power").fn(spark, sf_smoke).collect()
    assert [r.k for r in rows] == list(range(1, 13))
    for r in rows:
        sc = sum(c[t] * round(1e6 * math.cos(2 * math.pi * r.k * t / n))
                 for t in range(n))
        ss = sum(c[t] * round(1e6 * math.sin(2 * math.pi * r.k * t / n))
                 for t in range(n))
        # python round() is half-even vs SQL half-away: tolerate a few
        # lattice-boundary flips (each shifts the sum by <= max count)
        assert abs(r.sc - sc) <= 200 and abs(r.ss - ss) <= 200, r.k
        assert abs(r.power - (sc * sc + ss * ss) / 1e12) < 1e-3, r.k


def test_katz_matches_independent_matrix_power(spark, sf_smoke):
    import numpy as np

    from redpanda_iceberg_duckdb_spark.operators.graph.edges import (
        copurchase_edges)

    e = [(r.src, r.dst)
         for r in copurchase_edges(spark, sf_smoke).collect()]
    nodes = sorted({s for s, _ in e} | {d for _, d in e})
    idx = {v: i for i, v in enumerate(nodes)}
    A = np.zeros((len(nodes), len(nodes)), dtype=np.int64)
    for s, d in e:
        A[idx[s], idx[d]] = 1
    w = np.ones(len(nodes), dtype=np.int64)
    katz = np.zeros(len(nodes), dtype=np.int64)
    scale = [1000, 100, 10, 1]
    for k in range(4):
        w = A.T @ w                      # walks of length k+1 ending at v
        katz += scale[k] * w
    expect = sorted(zip(-katz, nodes))[:20]
    rows = _q("katz_centrality_4hop").fn(spark, sf_smoke).collect()
    assert [(r.node, r.katz_e4) for r in rows] == [
        (v, int(-neg)) for neg, v in expect]


def test_welch_matches_independent(spark, sf_smoke):
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_smoke}/orders.parquet",
                      columns=["o_totalprice", "o_orderdate"]).to_pandas()
    wk = t.o_orderdate.dt.weekday >= 5
    g1 = [round(v * 100) for v in t.o_totalprice[wk]]
    g2 = [round(v * 100) for v in t.o_totalprice[~wk]]

    def stats(g):
        n = len(g)
        m = sum(g) / n / 100.0
        v = (sum(x * x for x in g) - sum(g) ** 2 / n) / (n - 1) / 1e4
        return n, m, v

    n1, m1, v1 = stats(g1)
    n2, m2, v2 = stats(g2)
    se = v1 / n1 + v2 / n2
    t_stat = (m1 - m2) / se ** 0.5
    df = se * se / ((v1 / n1) ** 2 / (n1 - 1) + (v2 / n2) ** 2 / (n2 - 1))
    row = _q("welch_ttest_value").fn(spark, sf_smoke).head()
    assert (row.n_weekend, row.n_weekday) == (n1, n2)
    assert abs(row.t_stat - t_stat) < 2e-6
    assert abs(row.df - df) < 1e-3


def test_hodges_lehmann_matches_independent(spark, sf_smoke):
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_smoke}/lineitem.parquet",
                      columns=["l_quantity", "l_returnflag"]).to_pandas()
    qa = [int(q) for q, f in zip(t.l_quantity, t.l_returnflag)
          if f == "R"]
    qb = [int(q) for q, f in zip(t.l_quantity, t.l_returnflag)
          if f == "N"]
    diffs = sorted(a - b for a in qa for b in qb)
    tot = len(diffs)
    d_lo = diffs[(tot + 1) // 2 - 1]
    d_hi = diffs[tot // 2]
    row = _q("hodges_lehmann_quantity_shift").fn(spark, sf_smoke).head()
    assert (row.n_r, row.n_n) == (len(qa), len(qb))
    assert (row.d_lo, row.d_hi) == (d_lo, d_hi)
    assert row.hl_shift == round((d_lo + d_hi) / 2.0, 1)


def test_linear_cka_matches_independent_numpy(spark, sf_smoke):
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_smoke}/embeddings.parquet",
                      columns=["embedding"]).to_pandas()
    q = np.floor(np.array(list(t.embedding), dtype=np.float64)
                 * 10_000).astype(np.int64)
    n = len(q)
    qc = q - q.mean(axis=0)                       # float centering is fine
    C = np.zeros((64, 64))
    S = (q.T @ q).astype(np.float64)
    m = q.sum(axis=0).astype(np.float64)
    C = n * S - np.outer(m, m)                    # matches the query's C
    hxy = (C[:32, 32:] ** 2).sum()
    hxx = (C[:32, :32] ** 2).sum()
    hyy = (C[32:, 32:] ** 2).sum()
    cka = hxy / (hxx * hyy) ** 0.5
    row = _q("linear_cka_dim_halves").fn(spark, sf_smoke).head()
    assert row.n_rows == n
    assert abs(row.cka - cka) < 2e-6


def test_speculative_acceptance_matches_independent(spark, sf_smoke):
    import collections

    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_smoke}/documents.parquet",
                      columns=["source", "text"]).to_pandas()
    tgt = collections.Counter()
    per = collections.defaultdict(collections.Counter)
    for r in t.itertuples():
        for tok in r.text.split(" "):
            tgt[tok] += 1
            per[r.source][tok] += 1
    n = sum(tgt.values())
    rows = _q("speculative_acceptance_rate").fn(spark, sf_smoke).collect()
    assert len(rows) == len(per)
    for r in rows:
        q = per[r.source]
        m = sum(q.values())
        acc = sum(min(tgt[tok] * m, c * n) for tok, c in q.items()) \
            / (n * m)
        assert r.n_shared_vocab == len(q)
        assert abs(r.acceptance - acc) < 2e-6, r.source


def test_beam_search_matches_independent(spark, sf_smoke):
    import collections
    import math

    import pyarrow.parquet as pq

    t = (pq.read_table(f"{sf_smoke}/events.parquet",
                       columns=["user_id", "ts", "event_type", "event_id"])
         .to_pandas().sort_values(["user_id", "ts", "event_id"]))
    trans = collections.Counter()
    for _, grp in t.groupby("user_id"):
        seq = list(grp.event_type)
        for a, b in zip(seq, seq[1:]):
            trans[(a, b)] += 1
    tot = collections.Counter()
    for (a, _), c in trans.items():
        tot[a] += c
    lp = {(a, b): round(1e6 * math.log(c / tot[a]))
          for (a, b), c in trans.items()}
    beam = [("view", "view", 0)]
    for _ in range(4):
        ext = [(p + ">" + b, b, sc + w)
               for p, last, sc in beam
               for (a, b), w in lp.items() if a == last]
        ext.sort(key=lambda x: (-x[2], x[0]))
        beam = ext[:3]
    expect = sorted(((p, sc) for p, _, sc in beam),
                    key=lambda x: (-x[1], x[0]))
    rows = _q("beam_search_paths").fn(spark, sf_smoke).collect()
    assert [(r.path, r.score_e6) for r in rows] == expect


def test_sigma_matches_independent_bfs(spark, sf_smoke):
    import collections

    from redpanda_iceberg_duckdb_spark.operators.graph.edges import (
        copurchase_edges)

    adj = collections.defaultdict(list)
    for r in copurchase_edges(spark, sf_smoke).collect():
        adj[r.src].append(r.dst)
    s = min(adj)
    sig = {s: 1}
    level = {s: 0}
    frontier = [s]
    levels = {0: {s: 1}}
    for k in range(1, 7):
        nxt = collections.Counter()
        for u in frontier:
            for v in adj[u]:
                if v not in level:
                    nxt[v] += sig[u]
        if not nxt:
            break
        for v, c in nxt.items():
            level[v] = k
            sig[v] = c
        levels[k] = dict(nxt)
        frontier = list(nxt)
    rows = _q("shortest_path_dag_sigma").fn(spark, sf_smoke).collect()
    got = {r.level: (r.n_nodes, r.sigma_total, r.sigma_max,
                     r.argmax_node) for r in rows}
    assert set(got) == set(levels)
    for k, nodes in levels.items():
        mx = max(nodes.values())
        arg = min(v for v, c in nodes.items() if c == mx)
        assert got[k] == (len(nodes), sum(nodes.values()), mx, arg), k


def test_stratified_att_matches_independent(spark, sf_smoke):
    import collections

    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_smoke}/events.parquet",
                      columns=["user_id", "ts", "event_type"]).to_pandas()
    us = t.ts.astype("int64")          # microseconds (timestamp[us])
    lo = us.min()
    day1 = us < lo + 86_400_000_000
    users = collections.defaultdict(lambda: [0, 0, 0])  # d1, t, y
    for uid, d1, etype in zip(t.user_id, day1, t.event_type):
        rec = users[uid]
        if d1:
            rec[0] += 1
            if etype == "error":
                rec[1] = 1
        elif etype == "purchase":
            rec[2] += 1
    strata = collections.defaultdict(lambda: [0, 0, 0, 0])
    for d1, tr, y in users.values():
        st = min(3, d1)
        rec = strata[st]
        if tr:
            rec[0] += 1
            rec[2] += y
        else:
            rec[1] += 1
            rec[3] += y
    total_t = sum(v[0] for v in strata.values() if v[0] and v[1])
    rows = _q("stratified_att_purchase").fn(spark, sf_smoke).collect()
    assert {r.stratum for r in rows} == set(strata)
    for r in rows:
        n_t, n_c, sy_t, sy_c = strata[r.stratum]
        assert (r.n_t, r.n_c) == (n_t, n_c)
        if n_t and n_c:
            contrib = (n_t / total_t) * (sy_t / n_t - sy_c / n_c)
            assert abs(r.att_contrib - contrib) < 2e-6


def test_viterbi_segmentation_matches_independent(spark, sf_smoke):
    import collections
    import math

    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_smoke}/documents.parquet",
                      columns=["source", "text"]).to_pandas()
    tokens = []
    for r in t.itertuples():
        tokens.extend((r.source, w) for w in r.text.split(" "))
    wc = collections.Counter(w for _, w in tokens if 1 <= len(w) <= 18)
    sub = collections.Counter()
    for w, c in wc.items():
        for length in (1, 2, 3):
            for p in range(len(w) - length + 1):
                sub[(length, w[p:p + length])] += c
    vocab = {pc: c for (ln, pc), c in sub.items() if ln == 1}
    for ln, top in ((2, 50), (3, 30)):
        cand = sorted(((c, pc) for (l2, pc), c in sub.items()
                       if l2 == ln), key=lambda x: (-x[0], x[1]))[:top]
        vocab.update({pc: c for c, pc in cand})
    tot = sum(vocab.values())
    enc = {pc: round(1e6 * math.log(tot / c)) * 64 + 1
           for pc, c in vocab.items()}

    def seg(w):
        best = [None] * (len(w) + 1)
        best[0] = 0
        for p in range(1, len(w) + 1):
            opts = [best[p - ln] + enc[w[p - ln:p]]
                    for ln in (1, 2, 3)
                    if p - ln >= 0 and best[p - ln] is not None
                    and w[p - ln:p] in enc]
            best[p] = min(opts) if opts else None
        return best[len(w)]

    agg = collections.defaultdict(lambda: [0, 0, 0])
    cache = {w: seg(w) for w in wc}
    for source, w in tokens:
        e = cache.get(w)
        if e is None:
            continue
        rec = agg[source]
        rec[0] += 1
        rec[1] += e % 64
        rec[2] += e // 64
    rows = _q("unigram_viterbi_segmentation").fn(spark,
                                                 sf_smoke).collect()
    assert {r.source for r in rows} == set(agg)
    for r in rows:
        n_tok, n_pieces, cost = agg[r.source]
        assert (r.n_tokens, r.n_pieces) == (n_tok, n_pieces), r.source
        assert abs(r.fertility - n_pieces / n_tok) < 2e-6
        assert abs(r.mean_piece_cost_nats
                   - cost / n_pieces / 1e6) < 2e-6


def test_wilson_ci_matches_independent(spark, sf_smoke):
    import collections

    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_smoke}/events.parquet",
                      columns=["ts", "event_type"]).to_pandas()
    wk = t.ts.dt.weekday >= 5
    agg = collections.Counter()
    for et, w in zip(t.event_type, wk):
        agg[(et, "n")] += 1
        if w:
            agg[(et, "k")] += 1
    z = 1.959964
    rows = _q("wilson_ci_weekend_share").fn(spark, sf_smoke).collect()
    for r in rows:
        n, k = agg[(r.event_type, "n")], agg[(r.event_type, "k")]
        p = k / n
        center = p + z * z / (2 * n)
        half = z * ((p * (1 - p) + z * z / (4 * n)) / n) ** 0.5
        denom = 1 + z * z / n
        assert (r.n, r.k) == (n, k)
        assert abs(r.ci_lo - (center - half) / denom) < 2e-6
        assert abs(r.ci_hi - (center + half) / denom) < 2e-6


def test_eb_shrinkage_matches_independent(spark, sf_smoke):
    import collections

    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_smoke}/events.parquet",
                      columns=["user_id", "event_type"]).to_pandas()
    users = collections.defaultdict(lambda: [0, 0])
    for uid, et in zip(t.user_id, t.event_type):
        users[uid][0] += 1
        if et == "purchase":
            users[uid][1] += 1
    rs = [round(1e9 * (k / n)) for n, k in users.values()]
    nu = len(rs)
    mu = sum(rs) / nu / 1e9
    vr = (sum(r * r for r in rs) - sum(rs) ** 2 / nu) / (nu - 1) / 1e18
    if vr > 0 and mu * (1 - mu) > vr:
        scale = mu * (1 - mu) / vr - 1
        a, b = mu * scale, (1 - mu) * scale
    else:
        a = b = 1.0
    ranked = sorted(
        ((round((k + a) / (n + a + b), 6), uid, n, k)
         for uid, (n, k) in users.items()),
        key=lambda x: (-x[0], x[1]))[:10]
    rows = _q("eb_shrunken_user_rates").fn(spark, sf_smoke).collect()
    assert [(r.user_id, r.n, r.k, r.eb_rate) for r in rows] == [
        (uid, n, k, er) for er, uid, n, k in ranked]


def test_edge_triangle_histogram_matches_leftjoin_shape(spark, sf_smoke):
    """r15 optimization pin: the support histogram is now reconstructed
    from the triangle-edge aggregate plus n_edges - |nonzero| (the old
    eo LEFT JOIN ts shape removed). Recompute the histogram through the
    original left-join algebra on the same shared edge cache and assert
    row-for-row equality — guards the support-0 arithmetic."""
    from pyspark.sql import functions as F

    from redpanda_iceberg_duckdb_spark.operators.graph.edges import (
        copurchase_oriented_edges)

    new = [(r.support, r.n_edges)
           for r in _q("edge_triangle_support").fn(spark, sf_smoke)
           .collect()]
    eo, _deg, n_edges = copurchase_oriented_edges(spark, sf_smoke)
    e1 = eo.select("src", F.col("dst").alias("u"), F.col("dd").alias("ud"))
    e2 = eo.select("src", F.col("dst").alias("v"), F.col("dd").alias("vd"))
    u_first = (F.col("ud") < F.col("vd")) | (
        (F.col("ud") == F.col("vd")) & (F.col("u") < F.col("v")))
    w = (e1.join(e2, "src").filter(u_first)
         .select(F.col("src").alias("c"), "u", "v"))
    tri = w.join(eo.select(F.col("src").alias("u"),
                           F.col("dst").alias("v")), ["u", "v"])
    te = tri.select(F.explode(F.array(
        F.struct(F.col("c").alias("src"), F.col("u").alias("dst")),
        F.struct(F.col("c").alias("src"), F.col("v").alias("dst")),
        F.struct(F.col("u").alias("src"), F.col("v").alias("dst"))))
        .alias("e")).select("e.src", "e.dst")
    ts = te.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("nt"))
    old = [(r.support, r.n_edges) for r in
           (eo.select("src", "dst").join(ts, ["src", "dst"], "left_outer")
            .select(F.coalesce("nt", F.lit(0)).cast("long")
                    .alias("support"))
            .groupBy("support")
            .agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
            .orderBy("support")).collect()]
    assert new == old and sum(ne for _s, ne in new) == n_edges
