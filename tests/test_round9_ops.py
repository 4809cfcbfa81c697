"""Round-9 targeted tests: the weighted (unique text, count) BPE variant
on a planted duplicate-heavy corpus, the keyed-order checker's ability to
actually DETECT violations, the generator-parity fixture's byte stability,
and the frontier-over-join survivor bound."""

from __future__ import annotations

from pyspark.sql import functions as F

from redpanda_iceberg_duckdb_spark.registry import all_queries


def test_bpe_wordcount_agrees_on_duplicate_heavy_corpus(spark):
    """Plant a corpus where exact-duplicate texts dominate (each text
    repeated 1-7x) and check the weighted loop learns the IDENTICAL merge
    table — ranks, tokens, and multiplicity-weighted adoption counts —
    as the plain per-row loop. This is the mult>1 regime the shipped
    documents fixture doesn't exercise (its 500 texts are distinct)."""
    from redpanda_iceberg_duckdb_spark.operators.bpe_train import (
        _WRAP, _train_encoded)

    texts = []
    for i in range(12):
        t = f"tok{i % 4} tok{(i * 3) % 5} tok{i % 4} shared tail{i % 3}"
        texts.extend([t] * (1 + i % 7))
    d = spark.createDataFrame([(t,) for t in texts], "text string")
    plain = d.select(F.expr(_WRAP).alias("enc"), F.lit(1).alias("mult"))
    weighted = (d.groupBy("text").agg(F.count(F.lit(1)).alias("mult"))
                .select(F.expr(_WRAP).alias("enc"), "mult"))
    assert _train_encoded(plain) == _train_encoded(weighted)


def test_keyed_order_checker_detects_violations(spark):
    """kafka_keyed_order_replay must not be a tautology: corrupt the
    per-key sequence assignment (swap two sequence numbers within one
    key) and the violation counter must fire. Runs the same codec +
    consumer-side rank check as the registered query."""
    from pyspark.sql import Window as W, types as T

    from redpanda_iceberg_duckdb_spark.sources.kafka import (
        decode_json_values, encode_keyed_json)

    rows = [(1, 10), (1, 20), (1, 30), (2, 40), (2, 50)]
    o = spark.createDataFrame(rows, "o_custkey long, o_orderkey long")
    seqd = o.withColumn("seq", F.row_number().over(
        W.partitionBy("o_custkey").orderBy("o_orderkey")))
    # corrupt: swap seq 1<->3 for key 1 (a producer that reordered)
    corrupted = seqd.withColumn("seq", F.when(
        (F.col("o_custkey") == 1) & (F.col("seq") == 1), 3).when(
        (F.col("o_custkey") == 1) & (F.col("seq") == 3), 1)
        .otherwise(F.col("seq")))
    schema = T.StructType([
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("seq", T.IntegerType()),
    ])
    for frame, expect in ((seqd, 0), (corrupted, 2)):
        decoded = decode_json_values(encode_keyed_json(frame, "o_custkey"),
                                     schema)
        violations = (decoded.select(
            F.col("_key").alias("k"),
            F.col("data.o_orderkey").alias("ok"),
            F.col("data.seq").alias("seq"))
            .withColumn("rn", F.row_number().over(
                W.partitionBy("k").orderBy("ok")))
            .filter(F.col("seq") != F.col("rn")).count())
        assert violations == expect


def test_f9_fixture_regeneration_is_stable(tmp_path):
    """tools/gen_f9_fixture.py re-run must produce a table equal to the
    committed fixture — the generator's determinism contract. Compares
    logical content (pyarrow table equality), which is what the DuckDB
    oracle reads."""
    import pyarrow.parquet as pq

    from redpanda_iceberg_duckdb_spark.generator import generate_trades
    from tools.gen_f9_fixture import OUT, SCHEMA

    import pyarrow as pa

    rows = generate_trades(20_000, 42)
    fresh = pa.table({n: [r[n] for r in rows] for n in SCHEMA.names},
                     schema=SCHEMA)
    committed = pq.read_table(OUT)
    assert committed.schema.equals(fresh.schema, check_metadata=False)
    assert committed.equals(fresh)


def test_dataset_keyed_caches_do_not_cross_contaminate(spark):
    """The trade-graph edge table is cached per (applicationId, data
    fingerprint). Running against two different datasets back-to-back
    must (a) give each dataset its own correct result — no stale reuse —
    and (b) build each dataset's edge table once: going back to the first
    dataset reuses its entry (same object, no new miss)."""
    from redpanda_iceberg_duckdb_spark import cache
    from redpanda_iceberg_duckdb_spark.operators.graph import edges

    qs = all_queries()
    sf_a, sf_b = "/root/testdata/sf0.001", "/root/testdata/sf0.01"
    a = qs["pagerank_trade_graph"].fn(spark, sf_a)
    rows_a = [tuple(r) for r in a.collect()]
    edges_a = edges._edges_with_deg(spark, sf_a)
    b = qs["pagerank_trade_graph"].fn(spark, sf_b)
    rows_b = [tuple(r) for r in b.collect()]
    assert edges._edges_with_deg(spark, sf_b) is not edges_a
    assert rows_a != rows_b                  # no stale cross-dataset reuse
    # back to the first dataset: served by its own entry, identical rows
    misses = cache.stats()["misses"]
    rows_a2 = [tuple(r) for r in
               qs["pagerank_trade_graph"].fn(spark, sf_a).collect()]
    assert edges._edges_with_deg(spark, sf_a) is edges_a
    assert cache.stats()["misses"] == misses
    assert rows_a2 == rows_a


def test_supplier_frontier_survivors_bounded(spark, sf_smoke):
    """The composed skyline's prune must prune on the derived frame too:
    survivors ≪ supplier count (the verify nested-loop input stays
    broadcast-tiny)."""
    from redpanda_iceberg_duckdb_spark.operators.frontier import (
        frontier_survivors)
    from redpanda_iceberg_duckdb_spark.tables import load_table

    li = load_table(spark, sf_smoke, "lineitem")
    agg = (li.groupBy("l_suppkey")
           .agg(F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
                .cast("bigint").alias("n_returns"),
                F.sum(F.floor(F.col("l_extendedprice") * 100).cast("bigint"))
                .cast("bigint").alias("revenue_cents")))
    n = agg.count()
    surv = frontier_survivors(agg, "n_returns", "revenue_cents").count()
    got = sorted(r["l_suppkey"] for r in
                 all_queries()["supplier_frontier_over_join"]
                 .fn(spark, sf_smoke).collect())
    assert surv <= max(16, n // 4), (surv, n)
    assert len(got) <= surv


def test_m4_captures_planted_spikes_within_budget(spark):
    """M4's contract: per (series, bucket) the emitted v_min/v_max are the
    true bucket extremes and every selected point exists in the input.
    Plant a flat series with one extreme spike per bucket and check each
    spike survives downsampling while output stays <= W rows/series."""
    import datetime as dt

    from redpanda_iceberg_duckdb_spark.operators.m4_downsample import (
        _W, m4_downsample_events)

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for b in range(_W):
        for k in range(10):
            ts = base + dt.timedelta(minutes=b * 60 + k * 5)
            v = 5.0 if k != 7 else 1000.0 + b  # one spike per hour-bucket
            rows.append((eid, ts, eid % 3, "s", v, "{}"))
            eid += 1
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string"
    ).write.mode("overwrite").parquet("/tmp/m4_fixture/events.parquet")
    out = m4_downsample_events(spark, "/tmp/m4_fixture").collect()
    assert len(out) <= _W
    spikes = sorted(r["v_max"] for r in out)
    assert spikes == [1000.0 + b for b in range(_W)]
    assert all(r["v_min"] == 5.0 for r in out)
    assert all(r["t_first_us"] <= r["t_last_us"] for r in out)


def test_cuped_reduces_variance_on_correlated_metric(spark):
    """CUPED's whole point: when post is strongly predicted by pre, the
    adjusted variance collapses. Plant post = pre + small noise and check
    var_adjusted << var_post in both arms, and that theta ~ 1."""
    import datetime as dt

    from redpanda_iceberg_duckdb_spark.operators.experiment_stats import (
        cuped_adjusted_metrics)

    pre_t = dt.datetime(2024, 1, 5)
    post_t = dt.datetime(2024, 1, 25)
    rows = []
    eid = 0
    for u in range(200):
        pre = float(10 + (u * 37) % 100)             # heterogeneous users
        noise = float((u * 13) % 7) / 10.0
        for t, v in ((pre_t, pre), (post_t, pre + noise)):
            rows.append((eid, t, u, "view", v, "{}"))
            eid += 1
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string"
    ).write.mode("overwrite").parquet("/tmp/cuped_fixture/events.parquet")
    out = {r["arm"]: r for r in
           cuped_adjusted_metrics(spark, "/tmp/cuped_fixture").collect()}
    for arm in ("control", "treatment"):
        assert out[arm]["var_adjusted"] < 0.05 * out[arm]["var_post"]
    assert abs(out["control"]["theta"] - 1.0) < 0.05


def test_ivm_partitions_all_four_quadrants_exactly(spark):
    """Plant one order/lineitem in each (old/new order x old/new line)
    quadrant plus a multi-line order straddling the cutoff, and check the
    incremental decomposition equals the direct join with no term dropped
    or double-counted (the ΔO⋈ΔL quadrant is the classic double-count)."""
    import datetime as dt

    from redpanda_iceberg_duckdb_spark.operators.ivm import (
        ivm_join_delta_revenue)

    old_t = dt.datetime(2000, 6, 1)
    new_t = dt.datetime(2001, 6, 1)
    orders = [(1, 10, "F", 0.0, old_t, "1-URGENT"),   # old order
              (2, 10, "F", 0.0, new_t, "1-URGENT"),   # new order
              (3, 20, "F", 0.0, old_t, "1-URGENT")]   # old, straddling lines
    lines = [(1, 1, 1, 1, 1.0, 100.0, 0.0, 0.0, "N", "O", old_t),
             (1, 1, 1, 2, 1.0, 10.0, 0.0, 0.0, "N", "O", new_t),  # late line
             (2, 1, 1, 1, 1.0, 1000.0, 0.0, 0.0, "N", "O", old_t),
             (2, 1, 1, 2, 1.0, 2000.0, 0.0, 0.0, "N", "O", new_t),  # ΔO⋈ΔL
             (3, 1, 1, 1, 1.0, 5.0, 0.10, 0.0, "N", "O", new_t)]
    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long, o_orderstatus string, "
                "o_totalprice double, o_orderdate timestamp, "
                "o_orderpriority string"
    ).write.mode("overwrite").parquet("/tmp/ivm_fixture/orders.parquet")
    spark.createDataFrame(
        lines, "l_orderkey long, l_partkey long, l_suppkey long, "
               "l_linenumber int, l_quantity double, l_extendedprice double, "
               "l_discount double, l_tax double, l_returnflag string, "
               "l_linestatus string, l_shipdate timestamp"
    ).write.mode("overwrite").parquet("/tmp/ivm_fixture/lineitem.parquet")
    got = {r["c_custkey"]: r["revenue"] for r in
           ivm_join_delta_revenue(spark, "/tmp/ivm_fixture").collect()}
    assert got == {10: 3110.0, 20: 4.5}


def test_ivm_delta_joins_are_broadcast(spark, sf_smoke):
    """The scale claim: both delta terms join with the small side
    broadcast — the big side is never shuffled for maintenance."""
    from redpanda_iceberg_duckdb_spark.operators.ivm import (
        ivm_join_delta_revenue)

    plan = ivm_join_delta_revenue(
        spark, sf_smoke)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2


def test_pca_recovers_planted_dominant_direction(spark):
    """Plant embeddings = t * u + small noise for a fixed unit vector u
    and check the recovered component aligns with u (|cos| > 0.99) and
    explains most of the variance — the estimator must actually find the
    dominant axis, not just converge to something normalized."""
    import numpy as np

    from redpanda_iceberg_duckdb_spark.operators.pca_power import (
        _D, embedding_pca_power)

    rng = np.random.RandomState(7)
    u = rng.randn(_D); u /= np.linalg.norm(u)
    X = (rng.randn(400, 1) * 3.0) @ u[None, :] + 0.05 * rng.randn(400, _D)
    rows = [(i, [float(x) for x in X[i]], 0) for i in range(400)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet("/tmp/pca_fixture/embeddings.parquet")
    out = embedding_pca_power(spark, "/tmp/pca_fixture").collect()
    v = np.array([r["loading"] for r in sorted(out, key=lambda r: r["dim"])])
    assert abs(float(v @ u)) > 0.99
    assert out[0]["explained"] > 0.9


def test_theilsen_recovers_trend_despite_outlier_hours(spark):
    """Plant counts c(h) = 5 + 2h with two wildly corrupted hours; the
    pairwise-slope median must stay at 2/hr (the breakdown property OLS
    lacks). Counts are planted by emitting that many events in hour h."""
    import datetime as dt

    from redpanda_iceberg_duckdb_spark.operators.robust_trend import (
        theilsen_hourly_trend)

    base = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    for h in range(24):
        c = 5 + 2 * h
        if h in (7, 19):
            c = 500  # corrupted hours
        for k in range(c):
            rows.append((eid, base + dt.timedelta(hours=h, seconds=k),
                         k % 5, "t", 1.0, "{}"))
            eid += 1
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string"
    ).write.mode("overwrite").parquet("/tmp/ts_fixture/events.parquet")
    out = theilsen_hourly_trend(spark, "/tmp/ts_fixture").collect()
    assert len(out) == 1 and abs(out[0]["ts_slope"] - 2.0) < 0.3


def test_precedence_support_direction_and_strictness(spark):
    """Plant 10 users who all signup strictly before purchase, plus one
    user with the two first-times EQUAL: the tie must count in neither
    direction, so n_a_before_b ('purchase' < 'signup' lexically) is 0 and
    support = 0 over 11 users-with-both."""
    import datetime as dt

    from redpanda_iceberg_duckdb_spark.operators.seqmine import (
        event_precedence_support)

    t0 = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    for u in range(10):
        rows.append((eid, t0 + dt.timedelta(minutes=u), u, "signup",
                     1.0, "{}")); eid += 1
        rows.append((eid, t0 + dt.timedelta(minutes=u, hours=1), u,
                     "purchase", 1.0, "{}")); eid += 1
    tie = t0 + dt.timedelta(days=2)
    rows.append((eid, tie, 99, "signup", 1.0, "{}")); eid += 1
    rows.append((eid, tie, 99, "purchase", 1.0, "{}")); eid += 1
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string"
    ).write.mode("overwrite").parquet("/tmp/prec_fixture/events.parquet")
    out = event_precedence_support(spark, "/tmp/prec_fixture").collect()
    assert len(out) == 1
    r = out[0]
    assert (r["type_a"], r["type_b"]) == ("purchase", "signup")
    assert r["n_users_both"] == 11 and r["n_a_before_b"] == 0
    assert r["support"] == 0.0


def test_loo_ablation_matches_direct_recompute(spark, sf_smoke):
    """The sufficient-stats identity: each source's loo_mean must equal
    the mean recomputed directly over the corpus minus that source."""
    from pyspark.sql import functions as F

    from redpanda_iceberg_duckdb_spark.operators.ablation import (
        _TOKENS_SPARK, loo_source_ablation)
    from redpanda_iceberg_duckdb_spark.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    out = loo_source_ablation(spark, sf_smoke).collect()
    for r in out[:3]:
        direct = (docs.filter(F.col("source") != r["source"])
                  .agg(F.round(F.avg(F.expr(_TOKENS_SPARK)), 6))
                  .collect()[0][0])
        assert abs(direct - r["loo_mean_tokens"]) < 2e-6


def test_cusum_alarms_after_level_shift_not_on_flat_series(spark):
    """Plant a series whose rate triples at hour 24 and an exactly-flat
    control: the shifted series must alarm shortly after the shift, the
    flat one never (its CUSUM is identically zero)."""
    import datetime as dt

    from redpanda_iceberg_duckdb_spark.operators.changepoint import (
        cusum_changepoint_hourly)

    base = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    for h in range(48):
        for name, c in (("shifted", 10 if h < 24 else 30), ("flat", 10)):
            for k in range(c):
                rows.append((eid, base + dt.timedelta(hours=h, seconds=k),
                             k, name, 1.0, "{}"))
                eid += 1
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string"
    ).write.mode("overwrite").parquet("/tmp/cusum_fixture/events.parquet")
    base_h = int(base.timestamp()) // 3600
    out = {r["event_type"]: r for r in
           cusum_changepoint_hourly(spark, "/tmp/cusum_fixture").collect()}
    assert out["flat"]["alarm_hour"] is None
    # Detection delay = threshold / drift = (4*sd) / (30 - mu - 0.5*sd)
    # = 40/5 = 8h with this fixture's pooled mu=20, sd=10.
    shift_at = out["shifted"]["alarm_hour"] - base_h
    assert 24 <= shift_at <= 33


def test_quantile_norm_aligns_group_distributions(spark):
    """Plant two groups with the same shape but a +1000 offset: after
    normalization both groups' value sets map onto the pooled order
    statistics, group means nearly coincide, and within-group order is
    preserved (the map is monotone in rank)."""
    import datetime as dt

    from redpanda_iceberg_duckdb_spark.operators.quantile_norm import (
        quantile_normalize_by_type)

    t0 = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    for g, off in (("lo", 0.0), ("hi", 1000.0)):
        for k in range(200):
            rows.append((eid, t0, k, g, off + float(k % 50), "{}"))
            eid += 1
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string"
    ).write.mode("overwrite").parquet("/tmp/qn_fixture/events.parquet")
    out = quantile_normalize_by_type(spark, "/tmp/qn_fixture").collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r["event_type"], []).append(r)
    means = {g: sum(r["norm_value"] for r in rs) / len(rs)
             for g, rs in by_g.items()}
    assert abs(means["lo"] - means["hi"]) < 30  # raw gap was 1000
    for rs in by_g.values():
        rs = sorted(rs, key=lambda r: (r["value"], r["event_id"]))
        nv = [r["norm_value"] for r in rs]
        assert nv == sorted(nv)  # monotone map


def test_target_encoding_excludes_own_fold(spark):
    """Leakage check by construction: plant a key whose target is 1 ONLY
    inside fold f's rows; fold f's encoding must not reflect those 1s
    (it sees s_key - s_{key,f} = 0 beyond the prior), while other folds'
    encodings do. Verified against a hand-computed expectation."""
    from pyspark.sql import functions as F

    from redpanda_iceberg_duckdb_spark.operators.target_encoding import (
        _FOLDS, _SMOOTH, target_encoding_oof)
    from redpanda_iceberg_duckdb_spark.functions.hashing import md5_mod_spark

    import datetime as dt

    t0 = dt.datetime(2000, 1, 1)
    # Find orderkeys hashing to fold 0 vs others, then give key 'K' target
    # 1 exactly on its fold-0 rows.
    keys = list(range(1, 400))
    df = spark.createDataFrame([(k,) for k in keys], "o_orderkey long")
    folds = {r["o_orderkey"]: r["f"] for r in df.select(
        "o_orderkey",
        F.expr(md5_mod_spark("concat('fold:', cast(o_orderkey as string))",
                             _FOLDS)).alias("f")).collect()}
    rows = []
    for k in keys:
        status = "F" if folds[k] == 0 else "O"
        rows.append((k, 1, status, 10.0, t0, "1-URGENT"))
    spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderstatus string, "
              "o_totalprice double, o_orderdate timestamp, "
              "o_orderpriority string"
    ).write.mode("overwrite").parquet("/tmp/te_fixture/orders.parquet")
    out = {r["fold"]: r for r in
           target_encoding_oof(spark, "/tmp/te_fixture").collect()}
    n0 = out[0]["n_in_fold"]
    n_tot = len(keys)
    # Fold 0: numerator has zero real positives — only the prior, whose
    # fold-free global rate is 0 too (all positives sit in fold 0).
    assert out[0]["encoding"] == 0.0
    # Any other fold sees all n0 positives plus a nonzero prior.
    for f in range(1, _FOLDS):
        nf = out[f]["n_in_fold"]
        g_f = n0 / (n_tot - nf)
        expect = (n0 + _SMOOTH * g_f) / (n_tot - nf + _SMOOTH)
        assert abs(out[f]["encoding"] - expect) < 1e-6


def test_auc_on_separable_and_random_scores(spark):
    """AUC sanity on planted data: a perfectly separating score gives
    exactly 1.0; a perfectly anti-separating score gives exactly 0.0 —
    the rank-sum algebra's two boundary cases."""
    import datetime as dt

    from redpanda_iceberg_duckdb_spark.operators.auc_eval import (
        auc_mann_whitney)

    t0 = dt.datetime(2024, 1, 1)
    for flip, expect in ((False, 1.0), (True, 0.0)):
        rows = []
        for i in range(100):
            pos = i < 30
            score = (100.0 + i) if (pos != flip) else float(i)
            rows.append((i, t0, i, "purchase" if pos else "view",
                         score, "{}"))
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double, props string"
        ).write.mode("overwrite").parquet("/tmp/auc_fixture/events.parquet")
        out = auc_mann_whitney(spark, "/tmp/auc_fixture").collect()[0]
        assert out["n_pos"] == 30 and out["n_neg"] == 70
        assert out["auc"] == expect


def test_kaplan_meier_hand_computed_curve_with_censoring(spark):
    """Four-user cohort with known KM values: two convert at t=1h
    (S=0.5); the last converter and the censored user share t=3h, where
    the censored user is still at risk, so S(3) = 0.5 * (1 - 1/2)."""
    import datetime as dt

    from redpanda_iceberg_duckdb_spark.operators.survival import (
        kaplan_meier_conversion)

    t0 = dt.datetime(2024, 1, 1)
    rows, eid = [], 0

    def ev(u, kind, hours):
        nonlocal eid
        rows.append((eid, t0 + dt.timedelta(hours=hours), u, kind,
                     1.0, "{}"))
        eid += 1

    for u in (0, 1, 2, 3):
        ev(u, "signup", 0)
    ev(0, "purchase", 1)
    ev(1, "purchase", 1.5)   # still hour-bucket 1
    ev(3, "purchase", 3)
    ev(9, "view", 2)         # study end at t=2h censors user 2
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string"
    ).write.mode("overwrite").parquet("/tmp/km_fixture/events.parquet")
    out = [(r["t_hours"], r["n_risk"], r["n_events"], r["n_censored"],
            r["survival"]) for r in
           kaplan_meier_conversion(spark, "/tmp/km_fixture").collect()]
    # NB user 9 has no signup -> not in the cohort; max ts is user 3's
    # purchase at t=3h, so user 2 censors at hour 3 and — per the standard
    # KM convention — is still AT RISK at t=3: S(3) = 0.5 * (1 - 1/2).
    assert out == [(1, 4, 2, 0, 0.5), (3, 2, 1, 1, 0.25)]


def test_mase_separates_periodic_from_shifted_series(spark):
    """A perfectly weekly-periodic series forecasts exactly (MASE = 0);
    the same series with a level shift confined to the holdout week
    scores far worse than the in-sample naive error (MASE >> 1)."""
    import datetime as dt

    from redpanda_iceberg_duckdb_spark.operators.forecast_eval import (
        _SEASON, mase_seasonal_naive)

    base = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    weeks = 4
    for h in range(weeks * _SEASON):
        # Week-0-only noise: creates nonzero TRAIN errors (week1 vs week0
        # pairs) but never appears as the lag of a holdout hour, so the
        # periodic series' holdout error stays exactly 0 (and the scaling
        # denominator stays nonzero — MASE is 0/positive, not 0/0).
        noise = 3 if (h < _SEASON and h % 7 == 0) else 0
        seasonal = 3 + (h % _SEASON) % 5 + noise
        last_week = h >= (weeks - 1) * _SEASON
        for name, c in (("periodic", seasonal),
                        ("shifted", seasonal + (20 if last_week else 0))):
            for k in range(c):
                rows.append((eid, base + dt.timedelta(hours=h, seconds=k),
                             k, name, 1.0, "{}"))
                eid += 1
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string"
    ).write.mode("overwrite").parquet("/tmp/mase_fixture/events.parquet")
    out = {r["event_type"]: r for r in
           mase_seasonal_naive(spark, "/tmp/mase_fixture").collect()}
    assert out["periodic"]["mase"] == 0.0
    assert out["shifted"]["mase"] > 5.0


def test_offpolicy_identities_on_planted_rewards(spark):
    """Make reward 1 exactly on the rows where the target policy agrees
    with the logged arm: SNIPS must be exactly 1.0 and IPS must equal
    K * n_match / n — the estimator identities, checked end-to-end
    through the real hash policies."""
    import datetime as dt

    from pyspark.sql import functions as F

    from redpanda_iceberg_duckdb_spark.functions.hashing import md5_mod_spark
    from redpanda_iceberg_duckdb_spark.operators.offpolicy import (
        _K, offpolicy_ips_snips)

    t0 = dt.datetime(2024, 1, 1)
    base = spark.createDataFrame(
        [(i, i % 40) for i in range(600)], "event_id long, user_id long")
    a_log = F.expr(md5_mod_spark(
        "concat('log:', cast(event_id as string))", _K))
    a_tgt = F.expr(md5_mod_spark(
        "concat('tgt:', cast(user_id as string))", _K))
    (base.select(
        "event_id", F.lit(t0).alias("ts"), "user_id",
        F.when(a_log == a_tgt, "purchase").otherwise("view")
        .alias("event_type"),
        F.lit(1.0).alias("value"), F.lit("{}").alias("props"))
     .write.mode("overwrite").parquet("/tmp/ops_fixture/events.parquet"))
    out = offpolicy_ips_snips(spark, "/tmp/ops_fixture").collect()[0]
    assert out["snips_value"] == 1.0
    assert out["ips_value"] == round(_K * out["n_match"] / out["n"], 6)
    assert out["behavior_value"] == round(out["n_match"] / out["n"], 6)


def test_data_quality_checks_count_planted_violations(spark):
    """Corrupt a batch with known defects — null dates, an out-of-domain
    status, a non-positive price, orphaned custkeys — and check each
    expectation reports the exact violation count."""
    import datetime as dt

    from redpanda_iceberg_duckdb_spark.operators.data_quality import (
        data_quality_checks)

    t0 = dt.datetime(2024, 1, 1)
    orders = []
    for i in range(20):
        date = None if i in (3, 7) else t0
        status = "X" if i == 5 else "F"
        price = -4.0 if i == 11 else 100.0
        cust = 999 if i in (0, 1, 2) else 1  # 999 has no customer row
        orders.append((i, cust, status, price, date, "1-URGENT"))
    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long, o_orderstatus string, "
                "o_totalprice double, o_orderdate timestamp, "
                "o_orderpriority string"
    ).write.mode("overwrite").parquet("/tmp/dq_fixture/orders.parquet")
    spark.createDataFrame([(1, "c", 0, 0.0, "B")],
                          "c_custkey long, c_name string, c_nationkey int, "
                          "c_acctbal double, c_mktsegment string"
    ).write.mode("overwrite").parquet("/tmp/dq_fixture/customer.parquet")
    out = {(r["check_name"], r["col"]): r["violations"] for r in
           data_quality_checks(spark, "/tmp/dq_fixture").collect()}
    assert out[("complete", "o_orderdate")] == 2
    assert out[("complete", "o_orderkey")] == 0
    assert out[("in_domain", "o_orderstatus")] == 1
    assert out[("positive", "o_totalprice")] == 1
    assert out[("ref_exists", "o_custkey")] == 3
    assert out[("prefix_format", "o_orderpriority")] == 0
