"""Round-11 operator tests.

Covers the round-10 ADVICE closures (Theil-Sen thinning-parity, ANOVA
exact lattice, cache.py data fingerprints) and the round-11 additions.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from redpanda_iceberg_duckdb_spark.registry import all_queries

from .oracle_harness import run_compare


def _write(spark, path, rows, schema):
    """Write a SINGLE parquet file at ``path`` (run_compare's DuckDB side
    reads the path as one file, not a Spark part-directory)."""
    import glob
    import shutil

    tmp = path + "._tmp"
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite").parquet(tmp)
    part = glob.glob(f"{tmp}/part-*.parquet")[0]
    shutil.copy(part, path)
    shutil.rmtree(tmp)


def test_theilsen_thinning_active_still_matches_oracle(spark, tmp_path):
    """Round-10 ADVICE #1: with a series LONGER than the 2048-point cap,
    the rank-equi-spaced thinning activates — and the oracle now mirrors
    it, so the query must still match exactly (previously it would have
    silently diverged). 3000 hourly points -> stride 2 -> 1500 kept."""
    d = str(tmp_path / "ds")
    os.makedirs(d, exist_ok=True)
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for h in range(3000):
        # varying per-hour multiplicity so slopes are non-trivial
        for _ in range(1 + (h * h) % 3):
            rows.append((eid, t0 + dt.timedelta(hours=h), eid % 31,
                         "click", 1.0, ""))
            eid += 1
    _write(spark, f"{d}/events.parquet", rows,
           "event_id long, ts timestamp, user_id long, event_type string, "
           "value double, props string")
    q = all_queries()["theilsen_hourly_trend"]
    run_compare(spark, q, d)
    out = q.fn(spark, d).collect()
    # thinning really activated: 1500 kept points -> C(1500,2) pairs
    assert out[0]["n_pairs"] == 1500 * 1499 // 2


def test_anova_lattice_exact_on_divisible_groups(spark, tmp_path):
    """ANOVA's fixed-point lattice: when every group mean is an exact
    integer the floor() terms are exact and SSB comes out on the nose;
    identical groups must give ssb == 0.0 exactly (no -0.0, no residue)."""
    t0 = dt.datetime(2024, 1, 1)
    types = ["click", "error", "purchase", "signup", "view"]
    # 450 = lcm(5,3)*30: every type sees the identical jitter multiset,
    # so group means are exactly equal (SSB = 0) while SSW > 0.
    rows = [(i, t0, 1, types[i % 5], 25.0 + 0.01 * (i % 3), "")
            for i in range(450)]
    d = str(tmp_path / "flat")
    os.makedirs(d, exist_ok=True)
    _write(spark, f"{d}/events.parquet", rows,
           "event_id long, ts timestamp, user_id long, event_type string, "
           "value double, props string")
    q = all_queries()["anova_f_oneway"]
    run_compare(spark, q, d)
    out = q.fn(spark, d).collect()[0]
    assert out["ssb"] == 0.0 and str(out["ssb"]) == "0.0"
    assert out["eta_sq"] == 0.0 and out["f_stat"] == 0.0
    assert out["ssw"] > 0


def test_sprt_foreachbatch_monitor_matches_prefix_recompute(spark, tmp_path):
    """Run the REAL streaming gate: an event file stream, one file per
    micro-batch, folded into the versioned day-stats state by foreachBatch
    (streaming/sprt_sink.start_sprt_monitor). After termination, EVERY
    committed snapshot's decision must equal a from-scratch SPRT over that
    batch prefix — same stopping day, same exact micro-nat LLR."""
    from pyspark.sql import types as T

    from redpanda_iceberg_duckdb_spark.operators.sprt10 import (
        daily_stats, decision_from_daily)
    from redpanda_iceberg_duckdb_spark.operators.sprt_stream import (
        _batch_bounds)
    from redpanda_iceberg_duckdb_spark.streaming.sprt_sink import (
        _current_version, read_daily, start_sprt_monitor)
    from redpanda_iceberg_duckdb_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    e = load_table(spark, sf, "events").select("ts", "event_type")

    src = tmp_path / "events"
    src.mkdir()
    prefixes = []
    for i, (lo, hi) in enumerate(_batch_bounds()):
        cond = F.lit(True)
        if lo:
            cond = cond & (F.col("ts") >= F.lit(lo).cast("timestamp"))
        if hi:
            cond = cond & (F.col("ts") < F.lit(hi).cast("timestamp"))
        e.filter(cond).coalesce(1).write.parquet(str(src / f"batch_{i}"))
        pref = F.lit(True)
        if hi:
            pref = F.col("ts") < F.lit(hi).cast("timestamp")
        prefixes.append(pref)

    stream = (spark.readStream
              .schema(T.StructType([
                  T.StructField("ts", T.TimestampType()),
                  T.StructField("event_type", T.StringType())]))
              .option("maxFilesPerTrigger", "1")
              .option("recursiveFileLookup", "true")
              .parquet(str(src)))
    base = str(tmp_path / "state")
    q = start_sprt_monitor(stream, base=base,
                           checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(300)

    assert _current_version(base) == 4  # one committed version per batch
    for v, pref in enumerate(prefixes, 1):
        got = decision_from_daily(read_daily(spark, base, v)).collect()[0]
        want = decision_from_daily(daily_stats(e.filter(pref))).collect()[0]
        assert tuple(got) == tuple(want), f"snapshot v{v} drifted"


def test_sprt_batch_replay_guard_prevents_double_count(spark, tmp_path):
    """Re-delivering an epoch (foreachBatch failure replay) must be a
    no-op: the day-count merge is NOT idempotent, so without the pointer
    guard a replay would double-count the batch."""
    import datetime as dt

    from redpanda_iceberg_duckdb_spark.streaming.sprt_sink import (
        read_daily, sprt_batch)

    base = str(tmp_path / "state")
    os.makedirs(base)
    b0 = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 5), "purchase"),
         (dt.datetime(2024, 1, 1, 9), "view")],
        "ts timestamp, event_type string")
    assert sprt_batch(b0, 0, base=base)
    v1 = sorted(map(tuple, read_daily(spark, base).collect()))
    assert v1 == [(dt.datetime(2024, 1, 1), 2, 1)]
    assert not sprt_batch(b0, 0, base=base)   # replayed epoch -> skipped
    assert sorted(map(tuple, read_daily(spark, base).collect())) == v1


def test_mann_kendall_monotone_series(spark, tmp_path):
    """A strictly rising hourly count series must give the maximal
    S = n(n-1)/2 with zero tie correction and z > 0; a flat series must
    give S = 0 with var18 = 0 handled (z = 0, no NaN)."""
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for h in range(12):
        for _ in range(h + 1):            # 'click' counts 1,2,...,12 rising
            rows.append((eid, t0 + dt.timedelta(hours=h), 1, "click",
                         1.0, ""))
            eid += 1
        for _ in range(3):                # 'view' flat at 3 per hour
            rows.append((eid, t0 + dt.timedelta(hours=h), 1, "view",
                         1.0, ""))
            eid += 1
    d = str(tmp_path / "mk")
    os.makedirs(d, exist_ok=True)
    _write(spark, f"{d}/events.parquet", rows,
           "event_id long, ts timestamp, user_id long, event_type string, "
           "value double, props string")
    q = all_queries()["mann_kendall_trend"]
    run_compare(spark, q, d)
    out = {r["event_type"]: r for r in q.fn(spark, d).collect()}
    n = 12
    assert out["click"]["s_stat"] == n * (n - 1) // 2
    assert out["click"]["var_s18"] == n * (n - 1) * (2 * n + 5)
    assert out["click"]["z_mk"] > 0
    assert out["view"]["s_stat"] == 0
    assert out["view"]["var_s18"] == 0 and out["view"]["z_mk"] == 0.0


def test_spearman_perfect_monotone(spark, tmp_path):
    """value strictly increasing with hour-of-day -> rho = 1.0 exactly
    (doubled midranks of both sides are identical permutations)."""
    t0 = dt.datetime(2024, 1, 1)
    rows = [(h, t0 + dt.timedelta(hours=h), 1, "click",
             10.0 + h, "") for h in range(24)]
    d = str(tmp_path / "sp")
    os.makedirs(d, exist_ok=True)
    _write(spark, f"{d}/events.parquet", rows,
           "event_id long, ts timestamp, user_id long, event_type string, "
           "value double, props string")
    q = all_queries()["spearman_value_hour"]
    run_compare(spark, q, d)
    out = q.fn(spark, d).collect()[0]
    assert out["rho"] == 1.0


def test_brown_forsythe_identical_groups_zero_f(spark, tmp_path):
    """Identical value multisets across groups -> every group's median
    deviations match -> f_bf == 0.0 exactly on the lattice."""
    t0 = dt.datetime(2024, 1, 1)
    types = ["click", "error", "purchase", "signup", "view"]
    rows = [(i, t0, 1, types[i % 5], 20.0 + (i // 5) % 7, "")
            for i in range(350)]
    d = str(tmp_path / "bf")
    os.makedirs(d, exist_ok=True)
    _write(spark, f"{d}/events.parquet", rows,
           "event_id long, ts timestamp, user_id long, event_type string, "
           "value double, props string")
    q = all_queries()["brown_forsythe_variance"]
    run_compare(spark, q, d)
    out = q.fn(spark, d).collect()[0]
    assert out["f_bf"] == 0.0 and out["k"] == 5


def test_mcnemar_planted_flips(spark, tmp_path):
    """Planted engagement flips: 3 users drop below the threshold in the
    second half, 1 rises above it -> b=3, c=1,
    chi2_cc = (|3-1|-1)^2/4 = 0.25."""
    from redpanda_iceberg_duckdb_spark.operators.stats11 import _THR

    t0 = dt.datetime(2024, 1, 2)
    t1 = dt.datetime(2024, 1, 20)
    rows = []
    eid = 0

    def purchases(uid, when, k):
        nonlocal eid
        for _ in range(k):
            rows.append((eid, when, uid, "purchase", 1.0, ""))
            eid += 1

    for uid in (1, 2, 3):                  # engaged early only -> b
        purchases(uid, t0, _THR)
        purchases(uid, t1, _THR - 1)
    purchases(4, t0, _THR - 1)             # engaged late only -> c
    purchases(4, t1, _THR)
    purchases(5, t0, _THR)                 # engaged both halves
    purchases(5, t1, _THR)
    purchases(6, t0, 1)                    # engaged neither
    d = str(tmp_path / "mc")
    os.makedirs(d, exist_ok=True)
    _write(spark, f"{d}/events.parquet", rows,
           "event_id long, ts timestamp, user_id long, event_type string, "
           "value double, props string")
    q = all_queries()["mcnemar_purchase_halves"]
    run_compare(spark, q, d)
    out = q.fn(spark, d).collect()[0]
    assert (out["n_users"], out["b"], out["c"]) == (6, 3, 1)
    assert out["chi2_cc"] == 0.25


def test_hyperplane_lsh_finds_planted_neardups(spark, tmp_path):
    """Plant 3 near-identical vector pairs (one coordinate nudged) in a
    spread-out background: the banded hyperplane LSH must surface all 3
    at the head of the ranking even though a nudge can flip signature
    bits — the or-amplification the all-16-bit coordinate bucketing
    lacks."""
    import random

    rng = random.Random(11)
    rows = []
    for vid in range(40):
        rows.append((vid, [rng.uniform(-0.5, 0.5) for _ in range(64)], 0))
    for j in range(3):                       # planted pairs: 100+2j twins
        base = [rng.uniform(-0.5, 0.5) for _ in range(64)]
        nudged = list(base)
        nudged[7] += 0.02
        rows.append((100 + 2 * j, base, 1))
        rows.append((101 + 2 * j, nudged, 1))
    d = str(tmp_path / "lsh")
    os.makedirs(d, exist_ok=True)
    _write(spark, f"{d}/embeddings.parquet",
           [(v, [float(x) for x in e], lbl) for v, e, lbl in rows],
           "vec_id long, embedding array<float>, label int")
    q = all_queries()["hyperplane_lsh_near_dups"]
    run_compare(spark, q, d)
    out = q.fn(spark, d).collect()
    top = {(r["v1"], r["v2"]): r["rank"] for r in out}
    for j in range(3):
        pair = (100 + 2 * j, 101 + 2 * j)
        assert pair in top and top[pair] <= 3, (pair, top)


def test_pq_distortion_zero_when_vector_is_centroid(spark, tmp_path):
    """One vector per label -> every sub-codebook centroid IS the
    vector -> avg_sq_err must be exactly 0.0 in all 8 subspaces."""
    import random

    rng = random.Random(7)
    rows = [(v, [float(rng.uniform(-0.5, 0.5)) for _ in range(64)], v)
            for v in range(10)]
    d = str(tmp_path / "pq")
    os.makedirs(d, exist_ok=True)
    _write(spark, f"{d}/embeddings.parquet", rows,
           "vec_id long, embedding array<float>, label int")
    q = all_queries()["pq_code_distortion"]
    run_compare(spark, q, d)
    out = q.fn(spark, d).collect()
    assert len(out) == 8
    for r in out:
        assert r["avg_sq_err"] == 0.0 and r["n_codes_used"] == 10


def _trade_fixture(spark, tmp_path, od, li, name="g11"):
    d = str(tmp_path / name)
    os.makedirs(d, exist_ok=True)
    _write(spark, f"{d}/orders.parquet", od,
           "o_orderkey long, o_custkey long, o_orderstatus string, "
           "o_totalprice double, o_orderdate timestamp, "
           "o_orderpriority string")
    _write(spark, f"{d}/lineitem.parquet", li,
           "l_orderkey long, l_partkey long, l_suppkey long, "
           "l_linenumber int, l_quantity double, l_extendedprice double, "
           "l_discount double, l_tax double, l_returnflag string, "
           "l_linestatus string, l_shipdate timestamp")
    return d


def test_personalized_pagerank_stays_in_seed_component(spark, tmp_path):
    """Two disconnected trade components; the seeds (top order counts)
    all live in component A -> every node with positive personalized rank
    is in A, and component B never enters the top-20."""
    t0 = dt.datetime(2024, 1, 1)
    od, li = [], []
    ok = 0
    # component A: customers 1..5 (5 orders each -> the seeds), supplier 100
    for c in range(1, 6):
        for _ in range(5):
            od.append((ok, c, "O", 1.0, t0, "1-URGENT"))
            li.append((ok, 1, 100, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", t0))
            ok += 1
    # component B: customers 11..16 (1 order each), supplier 200
    for c in range(11, 17):
        od.append((ok, c, "O", 1.0, t0, "1-URGENT"))
        li.append((ok, 2, 200, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", t0))
        ok += 1
    d = _trade_fixture(spark, tmp_path, od, li)
    q = all_queries()["personalized_pagerank_seeds"]
    run_compare(spark, q, d)
    out = q.fn(spark, d).collect()
    comp_a = {("customer", c) for c in range(1, 6)} | {("supplier", 100)}
    positive = [(r["kind"], r["key"]) for r in out if r["rank_scaled"] > 0]
    assert positive and set(positive) <= comp_a
    assert all((r["kind"], r["key"]) not in
               {("supplier", 200)} | {("customer", c)
                                      for c in range(11, 17)}
               or r["rank_scaled"] == 0 for r in out)


def test_link_prediction_planted_wedge(spark, tmp_path):
    """u and w share no part (non-adjacent) but both co-purchase with m:
    Jaccard(u, w) = 1/(1+1-1) = 1.0 and the pair must rank first."""
    t0 = dt.datetime(2024, 1, 1)
    od, li = [], []
    ok = 0

    def order(cust, parts):
        nonlocal ok
        od.append((ok, cust, "O", 1.0, t0, "1-URGENT"))
        for p in parts:
            li.append((ok, p, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", t0))
        ok += 1

    order(1, [10])          # u buys p10
    order(2, [10, 20])      # m buys p10 and p20 -> adj to both u and w
    order(3, [20])          # w buys p20
    # background: a clique of 4 customers on part 30 (pairwise adjacent,
    # so they generate wedges but all closed -> excluded by the anti-join)
    for c in (4, 5, 6, 7):
        order(c, [30])
    d = _trade_fixture(spark, tmp_path, od, li, "lp")
    q = all_queries()["link_prediction_jaccard"]
    run_compare(spark, q, d)
    out = q.fn(spark, d).collect()
    top = out[0]
    assert (top["cust_a"], top["cust_b"]) == (1, 3)
    assert top["jacc"] == 1.0 and top["common_n"] == 1


def test_rocchio_expansion_pulls_in_unqueried_doc(spark, tmp_path):
    """A document with NONE of the original query terms but saturated in
    the pseudo-relevant set's strongest term must enter the feedback
    top-10 (initial BM25 gives it no score at all)."""
    rows = []
    # 'zq' is the rare query term (df=3); its docs are drenched in 'xx'.
    for i in range(3):
        rows.append((i, "zq xx xx xx xx filler" + str(i), "en", "s", 10))
    rows.append((50, "xx xx xx xx xx xx", "en", "s", 10))   # feedback-only
    # background vocabulary so the rarest-5 rule picks zq + fillers
    for i in range(20):
        rows.append((100 + i, "common words here every time", "en", "s", 10))
    d = str(tmp_path / "roc")
    os.makedirs(d, exist_ok=True)
    _write(spark, f"{d}/documents.parquet", rows,
           "doc_id long, text string, lang string, source string, "
           "n_chars long")
    q = all_queries()["rocchio_feedback_topk"]
    run_compare(spark, q, d)
    out = {r["doc_id"]: r["bm25_fb"] for r in q.fn(spark, d).collect()}
    assert 50 in out and out[50] > 0


def test_tokenizer_fertility_counts_punct_and_digits(spark, tmp_path):
    """'ab 12 cd!' is 3 whitespace words but 4 BPE-ish tokens (word,
    digits, word, punct) -> fertility 4/3; chars_per_token = 7/4."""
    rows = [(1, "ab 12 cd!", "xx", "s", 9)]
    d = str(tmp_path / "fert")
    os.makedirs(d, exist_ok=True)
    _write(spark, f"{d}/documents.parquet", rows,
           "doc_id long, text string, lang string, source string, "
           "n_chars long")
    q = all_queries()["tokenizer_fertility_by_lang"]
    run_compare(spark, q, d)
    out = q.fn(spark, d).collect()[0]
    assert (out["n_words"], out["n_tokens"]) == (3, 4)
    assert out["fertility"] == round(4 / 3, 6)
    assert out["chars_per_token"] == round(7 / 4, 6)


def test_decision_stump_perfect_split(spark, tmp_path):
    """Purchases fill hours 0-11 exactly and never appear after ->
    the stump must split at hour 11 with gini_split = 0 and
    gain = gini_parent (= 0.5 on a balanced corpus)."""
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for h in range(24):
        for _ in range(5):
            et = "purchase" if h <= 11 else "view"
            rows.append((eid, t0 + dt.timedelta(hours=h), 1, et, 1.0, ""))
            eid += 1
    d = str(tmp_path / "stump")
    os.makedirs(d, exist_ok=True)
    _write(spark, f"{d}/events.parquet", rows,
           "event_id long, ts timestamp, user_id long, event_type string, "
           "value double, props string")
    q = all_queries()["decision_stump_hour_split"]
    run_compare(spark, q, d)
    out = q.fn(spark, d).collect()[0]
    assert out["split_hour"] == 11
    assert out["gini_split"] == 0.0
    assert out["gain"] == out["gini_parent"] == 0.5


def test_pinball_loss_constant_bias(spark, tmp_path):
    """Seasonal-naive with a constant +2 residual (every hour has 2 more
    events than 24h earlier): pinball(tau) = 2*tau exactly."""
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for h in range(48):
        c = 3 + 2 * (h // 24)        # day 1: 3/hour, day 2: 5/hour
        for _ in range(c):
            rows.append((eid, t0 + dt.timedelta(hours=h), 1, "click",
                         1.0, ""))
            eid += 1
    d = str(tmp_path / "pin")
    os.makedirs(d, exist_ok=True)
    _write(spark, f"{d}/events.parquet", rows,
           "event_id long, ts timestamp, user_id long, event_type string, "
           "value double, props string")
    q = all_queries()["pinball_loss_eval"]
    run_compare(spark, q, d)
    out = {r["tau"]: r for r in q.fn(spark, d).collect()}
    for tau in (0.1, 0.5, 0.9):
        assert out[tau]["n"] == 24
        assert out[tau]["pinball"] == round(2 * tau, 6)


def test_fano_factor_known_dispersion(spark, tmp_path):
    """'view' alternates 1/3 per hour (mean 2, pop var 1 -> fano 0.5);
    'click' is constant (fano 0.0 exactly)."""
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for h in range(24):
        for _ in range(1 if h % 2 == 0 else 3):
            rows.append((eid, t0 + dt.timedelta(hours=h), 1, "view",
                         1.0, ""))
            eid += 1
        for _ in range(2):
            rows.append((eid, t0 + dt.timedelta(hours=h), 1, "click",
                         1.0, ""))
            eid += 1
    d = str(tmp_path / "fano")
    os.makedirs(d, exist_ok=True)
    _write(spark, f"{d}/events.parquet", rows,
           "event_id long, ts timestamp, user_id long, event_type string, "
           "value double, props string")
    q = all_queries()["fano_factor_burstiness"]
    run_compare(spark, q, d)
    out = {r["event_type"]: r for r in q.fn(spark, d).collect()}
    assert out["click"]["fano"] == 0.0
    assert out["view"]["fano"] == 0.5 and out["view"]["mean_rate"] == 2.0


def test_davies_bouldin_zero_scatter_clusters(spark, tmp_path):
    """Each label's vectors are IDENTICAL -> scatter 0 -> every
    db_term = 0.0 exactly (separation finite, numerator zero)."""
    rows = []
    vid = 0
    for lbl in range(3):
        base = [float(lbl + 1) * 0.1] * 64
        for _ in range(4):
            rows.append((vid, base, lbl))
            vid += 1
    d = str(tmp_path / "db")
    os.makedirs(d, exist_ok=True)
    _write(spark, f"{d}/embeddings.parquet", rows,
           "vec_id long, embedding array<float>, label int")
    q = all_queries()["davies_bouldin_clusters"]
    run_compare(spark, q, d)
    out = q.fn(spark, d).collect()
    assert len(out) == 3
    for r in out:
        assert r["scatter_sq"] == 0.0 and r["db_term"] == 0.0


def test_token_kl_identical_sources_zero(spark, tmp_path):
    """Two sources with IDENTICAL token multisets -> KL = 0 exactly in
    both directions; a divergent third source scores > 0 against both."""
    rows = [
        (1, "aa bb cc aa", "en", "s1", 11),
        (2, "aa bb cc aa", "en", "s2", 11),
        (3, "zz zz yy xx", "en", "s3", 11),
    ]
    d = str(tmp_path / "kl")
    os.makedirs(d, exist_ok=True)
    _write(spark, f"{d}/documents.parquet", rows,
           "doc_id long, text string, lang string, source string, "
           "n_chars long")
    q = all_queries()["token_kl_by_source_pair"]
    run_compare(spark, q, d)
    out = {(r["source_a"], r["source_b"]): r for r in q.fn(spark, d).collect()}
    assert out[("s1", "s2")]["kl_micronat_num"] == 0
    assert out[("s1", "s2")]["kl_nats"] == 0.0
    assert out[("s2", "s1")]["kl_nats"] == 0.0
    assert out[("s1", "s3")]["kl_nats"] > 0
    assert out[("s3", "s1")]["kl_nats"] > 0


def test_cochran_armitage_flat_and_rising(spark, tmp_path):
    """Exactly proportional per-hour positives -> T = 0 and z = 0; a
    rising purchase share must give z > 0."""
    t0 = dt.datetime(2024, 1, 1)

    def build(tmpname, pos_of_hour):
        rows = []
        eid = 0
        for h in range(24):
            pos = pos_of_hour(h)
            for _ in range(pos):
                rows.append((eid, t0 + dt.timedelta(hours=h), 1,
                             "purchase", 1.0, ""))
                eid += 1
            for _ in range(10 - pos):
                rows.append((eid, t0 + dt.timedelta(hours=h), 1,
                             "view", 1.0, ""))
                eid += 1
        d = str(tmp_path / tmpname)
        os.makedirs(d, exist_ok=True)
        _write(spark, f"{d}/events.parquet", rows,
               "event_id long, ts timestamp, user_id long, "
               "event_type string, value double, props string")
        return d

    q = all_queries()["cochran_armitage_trend"]
    d_flat = build("flat", lambda h: 3)          # constant 30% share
    run_compare(spark, q, d_flat)
    out = q.fn(spark, d_flat).collect()[0]
    assert out["t_stat"] == 0 and out["z_ca"] == 0.0
    d_rise = build("rise", lambda h: min(9, h // 3))   # rising share
    run_compare(spark, q, d_rise)
    out = q.fn(spark, d_rise).collect()[0]
    assert out["t_stat"] > 0 and out["z_ca"] > 3


def test_pq_adc_perfect_recall_on_pure_clusters(spark, tmp_path):
    """Every label's vectors are identical -> each query's ADC distance
    to same-label candidates is exactly 0 and positive elsewhere, and
    exact cosine ranks same-label candidates first with the same cid
    tie-break -> recall@5 = 1.0 for every probe."""
    import random

    rng = random.Random(3)
    protos = [[float(rng.uniform(-0.5, 0.5)) for _ in range(64)]
              for _ in range(10)]
    rows = [(vid, protos[vid // 60], vid // 60) for vid in range(600)]
    d = str(tmp_path / "adc")
    os.makedirs(d, exist_ok=True)
    _write(spark, f"{d}/embeddings.parquet", rows,
           "vec_id long, embedding array<float>, label int")
    q = all_queries()["pq_adc_recall_at_5"]
    run_compare(spark, q, d)
    out = q.fn(spark, d).collect()
    assert len(out) == 6          # qids 0, 100, ..., 500
    for r in out:
        assert r["recall_at_5"] == 1.0, tuple(r)


def test_ivf_pq_perfect_recall_on_pure_clusters(spark, tmp_path):
    """Pure clusters again: cell pruning keeps exactly the same-label
    candidates and ADC ranks them at distance 0 with the cid tie-break
    matching exact cosine's -> end-to-end IVF-PQ recall@5 = 1.0."""
    import random

    rng = random.Random(4)
    protos = [[float(rng.uniform(-0.5, 0.5)) for _ in range(64)]
              for _ in range(10)]
    rows = [(vid, protos[vid // 60], vid // 60) for vid in range(600)]
    d = str(tmp_path / "ivfpq")
    os.makedirs(d, exist_ok=True)
    _write(spark, f"{d}/embeddings.parquet", rows,
           "vec_id long, embedding array<float>, label int")
    q = all_queries()["ivf_pq_recall_at_5"]
    run_compare(spark, q, d)
    out = q.fn(spark, d).collect()
    assert len(out) == 6
    for r in out:
        assert r["recall_at_5"] == 1.0, tuple(r)


def test_sprt_state_fold_is_partition_invariant(spark):
    """Linearity property: folding ANY partition of an event list through
    apply_events_delta (in order, state carried) equals the one-shot
    daily rollup — the algebraic fact that makes the streaming gate's
    state maintainable. Three seeded random partitions of a random
    30-day event set."""
    import random

    from redpanda_iceberg_duckdb_spark.operators.sprt10 import daily_stats
    from redpanda_iceberg_duckdb_spark.streaming.sprt_sink import (
        apply_events_delta, empty_daily)

    rng = random.Random(1101)
    rows = [(dt.datetime(2024, 1, 1 + rng.randrange(28), rng.randrange(24)),
             rng.choice(["purchase", "view", "click"]))
            for _ in range(300)]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string")
    want = sorted(map(tuple, daily_stats(df).collect()))
    for trial in range(3):
        cuts = sorted(rng.sample(range(1, 300), rng.randrange(1, 6)))
        bounds = [0] + cuts + [300]
        state = empty_daily(spark)
        for lo, hi in zip(bounds, bounds[1:]):
            batch = spark.createDataFrame(
                rows[lo:hi], "ts timestamp, event_type string")
            state = apply_events_delta(state, batch) \
                .localCheckpoint(eager=False)
        assert sorted(map(tuple, state.collect())) == want, f"trial {trial}"


def test_token_kl_nonnegative_on_random_corpus(spark, tmp_path):
    """Gibbs' inequality: every pairwise KL is >= 0 on a random corpus
    (equality only for identical smoothed distributions) — the micro-nat
    snapping must not break the sign."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    rows = [(i, " ".join(rng.choices(vocab, k=rng.randrange(5, 40))),
             "en", f"s{i % 4}", 0) for i in range(60)]
    d = str(tmp_path / "klrand")
    os.makedirs(d, exist_ok=True)
    _write(spark, f"{d}/documents.parquet", rows,
           "doc_id long, text string, lang string, source string, "
           "n_chars long")
    q = all_queries()["token_kl_by_source_pair"]
    run_compare(spark, q, d)
    out = q.fn(spark, d).collect()
    assert len(out) == 12          # 4 sources, ordered pairs
    for r in out:
        assert r["kl_nats"] >= 0, tuple(r)
        assert r["kl_micronat_num"] > 0   # random corpora never coincide


def test_rolling_origin_folds_known_counts(spark, tmp_path):
    """35 days x 2 events/day: fold f trains on exactly 14f events over
    7f days and tests on 14 events over 7 days, and test windows never
    precede the training window (no future leakage by construction)."""
    t0 = dt.datetime(2024, 1, 1)
    rows = [(2 * d + j, t0 + dt.timedelta(days=d, hours=j), 1 + j,
             "view", 1.0, "")
            for d in range(35) for j in range(2)]
    d = str(tmp_path / "rocv")
    os.makedirs(d, exist_ok=True)
    _write(spark, f"{d}/events.parquet", rows,
           "event_id long, ts timestamp, user_id long, event_type string, "
           "value double, props string")
    q = all_queries()["rolling_origin_cv_folds"]
    run_compare(spark, q, d)
    out = {(r["fold"], r["split"]): r for r in q.fn(spark, d).collect()}
    for f in range(1, 5):
        assert out[(f, "train")]["n_events"] == 14 * f
        assert out[(f, "train")]["n_days"] == 7 * f
        assert out[(f, "test")]["n_events"] == 14
        assert out[(f, "test")]["n_days"] == 7


def test_woe_iv_balanced_bins_zero(spark, tmp_path):
    """Every hour has 2 purchases and 2 views -> each bin's smoothed
    odds equal the global odds exactly -> WoE = 0 micro-nats and
    iv_term = 0.0 in all 24 bins."""
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for h in range(24):
        for et in ("purchase", "purchase", "view", "view"):
            rows.append((eid, t0 + dt.timedelta(hours=h), 1, et, 1.0, ""))
            eid += 1
    d = str(tmp_path / "woe")
    os.makedirs(d, exist_ok=True)
    _write(spark, f"{d}/events.parquet", rows,
           "event_id long, ts timestamp, user_id long, event_type string, "
           "value double, props string")
    q = all_queries()["woe_iv_hour_bins"]
    run_compare(spark, q, d)
    out = q.fn(spark, d).collect()
    assert len(out) == 24
    for r in out:
        assert r["woe_micronat"] == 0 and r["iv_term"] == 0.0


def test_sprt_state_cardinality_equals_expected(spark, sf_smoke):
    """Round-13 state accounting for the SPRT sink: after each replay
    batch, the REAL apply_events_delta state must hold exactly one row per
    event day seen — equal to the oracled sprt_state_expected query's
    state_rows, and far below events_seen (the compression the days-sized
    sufficient statistic buys)."""
    from pyspark.sql import functions as F

    from redpanda_iceberg_duckdb_spark.operators.sprt_stream import (
        _batch_bounds)
    from redpanda_iceberg_duckdb_spark.registry import all_queries
    from redpanda_iceberg_duckdb_spark.streaming.sprt_sink import (
        apply_events_delta, empty_daily)
    from redpanda_iceberg_duckdb_spark.tables import load_table

    expected = {r["batch_id"]: r for r in
                all_queries()["sprt_state_expected"]
                .fn(spark, sf_smoke).collect()}
    e = load_table(spark, sf_smoke, "events").select("ts", "event_type")
    state = empty_daily(spark)
    for i, (lo, hi) in enumerate(_batch_bounds(), 1):
        cond = F.lit(True)
        if lo:
            cond = cond & (F.col("ts") >= F.lit(lo).cast("timestamp"))
        if hi:
            cond = cond & (F.col("ts") < F.lit(hi).cast("timestamp"))
        state = (apply_events_delta(state, e.filter(cond))
                 .localCheckpoint(eager=False))
        x = expected[i]
        n = state.count()
        assert n == x["state_rows"], (i, n, x.asDict())
        assert n < x["events_seen"]
