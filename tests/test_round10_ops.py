"""Round-10 targeted tests: dataset-fingerprint cache keys (a parquet
rewrite inside one application must be a cache MISS — round-9 advice),
and the data-quality referential check's duplicate-key robustness."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from redpanda_iceberg_duckdb_spark.registry import all_queries

from .table_fixtures import write_single


def test_edge_cache_misses_on_data_rewrite(spark, tmp_path):
    """Rewriting the parquet under an sf_dir within one Spark application
    (the bench tmp-dir pattern) must invalidate the trade graph's checkpointed
    edge cache: the second run must see the NEW data, not stale blocks."""
    d = str(tmp_path / "ds")
    os.makedirs(d)
    for t in ("orders", "lineitem"):
        shutil.copy(f"/root/testdata/sf0.001/{t}.parquet",
                    f"{d}/{t}.parquet")
    q = all_queries()["graph_degree_stats"]
    rows_small = [tuple(r) for r in q.fn(spark, d).collect()]

    # Rewrite IN PLACE with a structurally different graph (sf0.01).
    for t in ("orders", "lineitem"):
        shutil.copy(f"/root/testdata/sf0.01/{t}.parquet",
                    f"{d}/{t}.parquet")
    rows_big = [tuple(r) for r in q.fn(spark, d).collect()]
    assert rows_big != rows_small, \
        "edge cache served stale data after an in-place parquet rewrite"

    # And it matches a fresh read of the same dataset from its home dir.
    rows_ref = [tuple(r) for r in
                q.fn(spark, "/root/testdata/sf0.01").collect()]
    assert rows_big == rows_ref


def test_train_cache_misses_on_data_rewrite(spark, tmp_path):
    """Same hazard for quantizer_train._TRAIN_CACHE: in-place rewrite of
    embeddings.parquet must re-train, not serve stale assignments."""
    from redpanda_iceberg_duckdb_spark.operators.quantizer_train import (
        train_assignments)

    d = str(tmp_path / "ds")
    os.makedirs(d)
    shutil.copy("/root/testdata/sf0.001/embeddings.parquet",
                f"{d}/embeddings.parquet")
    fin1, _ = train_assignments(spark, d)
    a1 = sorted(map(tuple, fin1.collect()))
    shutil.copy("/root/testdata/sf0.01/embeddings.parquet",
                f"{d}/embeddings.parquet")
    fin2, _ = train_assignments(spark, d)
    a2 = sorted(map(tuple, fin2.collect()))
    assert a2 != a1, \
        "train cache served stale assignments after a parquet rewrite"
    ref = sorted(map(tuple, train_assignments(
        spark, "/root/testdata/sf0.01")[0].collect()))
    assert a2 == ref


def test_dq_referential_check_survives_duplicate_dim_keys(spark, tmp_path):
    """The ref_exists check joins orders against customer keys; a duplicated
    c_custkey must NOT fan out orders rows (which would inflate every
    counter in the shared one-pass aggregate). Plant a customer table where
    every key appears twice and assert all counters equal the clean run's."""
    from redpanda_iceberg_duckdb_spark.operators.data_quality import (
        data_quality_checks)

    src = "/root/testdata/sf0.001"
    d = str(tmp_path / "ds")
    os.makedirs(d)
    shutil.copy(f"{src}/orders.parquet", f"{d}/orders.parquet")
    cust = spark.read.parquet(f"{src}/customer.parquet")
    cust.unionAll(cust).write.mode("overwrite").parquet(
        f"{d}/customer.parquet")

    clean = {(r["check_name"], r["col"]): (r["violations"],
                                           r["pass_fraction"])
             for r in data_quality_checks(spark, src).collect()}
    dup = {(r["check_name"], r["col"]): (r["violations"], r["pass_fraction"])
           for r in data_quality_checks(spark, d).collect()}
    assert dup == clean


def test_ivm_foreachbatch_refresh_matches_direct_recompute(spark, tmp_path):
    """Run the REAL streaming refresh: a unified order/line changelog file
    stream, one file per delta batch, folded into the versioned state by
    foreachBatch (streaming/ivm_sink.start_ivm_refresh). The final
    maintained view must be BIT-EQUAL to a from-scratch join recompute,
    and one snapshot version must exist per micro-batch."""
    from pyspark.sql import types as T

    from redpanda_iceberg_duckdb_spark.operators.ivm_stream import (
        _REV, _batch_bounds)
    from redpanda_iceberg_duckdb_spark.streaming.ivm_sink import (
        read_state, start_ivm_refresh)
    from redpanda_iceberg_duckdb_spark.streaming.snapshots import (
        current_version)
    from redpanda_iceberg_duckdb_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    orders = load_table(spark, sf, "orders")
    line = load_table(spark, sf, "lineitem")

    src = tmp_path / "changelog"
    src.mkdir()
    for i, (lo, hi) in enumerate(_batch_bounds()):
        def rng(col, lo=lo, hi=hi):
            cond = F.lit(True)
            if lo:
                cond = cond & (col >= F.lit(lo).cast("timestamp"))
            if hi:
                cond = cond & (col < F.lit(hi).cast("timestamp"))
            return cond
        ch_o = (orders.filter(rng(F.col("o_orderdate")))
                .select(F.lit("order").alias("kind"),
                        F.col("o_orderkey").alias("orderkey"),
                        F.col("o_custkey").alias("custkey"),
                        F.lit(None).cast("decimal(30,4)").alias("rev")))
        ch_l = (line.filter(rng(F.col("l_shipdate")))
                .select(F.lit("line").alias("kind"),
                        F.col("l_orderkey").alias("orderkey"),
                        F.lit(None).cast("bigint").alias("custkey"),
                        F.expr(_REV).cast("decimal(30,4)").alias("rev")))
        (ch_o.unionByName(ch_l).coalesce(1)
         .write.parquet(str(src / f"batch_{i}")))

    stream = (spark.readStream
              .schema(T.StructType([
                  T.StructField("kind", T.StringType()),
                  T.StructField("orderkey", T.LongType()),
                  T.StructField("custkey", T.LongType()),
                  T.StructField("rev", T.DecimalType(30, 4))]))
              .option("maxFilesPerTrigger", "1")
              .option("recursiveFileLookup", "true")
              .parquet(str(src)))
    base = str(tmp_path / "state")
    q = start_ivm_refresh(stream, base=base,
                          checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(300)

    assert current_version(base) == 4  # one committed version per batch
    final = read_state(spark, base).view
    direct = (orders.join(line, orders.o_orderkey == line.l_orderkey)
              .groupBy(F.col("o_custkey").alias("c_custkey"))
              .agg(F.sum(F.expr(_REV)).cast("decimal(30,4)")
                   .alias("revenue")))
    got = sorted((r.c_custkey, r.revenue) for r in final.collect())
    want = sorted((r.c_custkey, r.revenue) for r in direct.collect())
    assert got == want  # exact decimals, zero slack


def test_ivm_batch_replay_guard_prevents_double_count(spark, tmp_path):
    """Re-delivering an epoch (foreachBatch failure replay) must be a
    no-op: the delta algebra is NOT idempotent, so without the pointer
    guard a replay would double-count the batch."""
    from redpanda_iceberg_duckdb_spark.streaming.ivm_sink import (
        ivm_batch, read_state)

    base = str(tmp_path / "state")
    os.makedirs(base)
    schema = "kind string, orderkey bigint, custkey bigint, rev decimal(30,4)"
    from decimal import Decimal
    b0 = spark.createDataFrame(
        [("order", 1, 10, None), ("line", 1, None, Decimal("5.0"))], schema)
    assert ivm_batch(b0, 0, base=base)
    v1 = sorted(map(tuple, read_state(spark, base).view.collect()))
    assert not ivm_batch(b0, 0, base=base)   # replayed epoch -> skipped
    assert sorted(map(tuple, read_state(spark, base).view.collect())) == v1


def test_theilsen_cap_thins_long_series(spark):
    """The quadratic guard: a series past the cap is deterministically
    pre-thinned (equi-spaced in rank), so pair counts stay bounded. On a
    noiseless linear series every pairwise slope is identical, so the
    thinned estimate is EXACT — asserting both the bound and the lack of
    estimator damage in the clean case."""
    from redpanda_iceberg_duckdb_spark.operators.robust_trend import (
        thin_series)

    pts = spark.range(1000).select(
        F.lit("s").alias("k"), F.col("id").alias("x"),
        (F.lit(7.0) * F.col("id") + 3.0).alias("y"))
    thin = thin_series(pts, "k", "x", max_points=100)
    n = thin.count()
    assert n == 100          # ceil(1000/100)=10 stride -> exactly 100 kept
    # stride is rank-equi-spaced: kept xs are 0,10,20,...
    xs = [r.x for r in thin.orderBy("x").collect()]
    assert xs == list(range(0, 1000, 10))
    # short series pass through untouched
    short = spark.range(50).select(
        F.lit("t").alias("k"), F.col("id").alias("x"),
        F.col("id").cast("double").alias("y"))
    assert thin_series(short, "k", "x", max_points=100).count() == 50


def test_theilsen_registered_query_unchanged_by_guard(spark):
    """On the shipped fixture (L ≪ cap) the guard is a structural no-op:
    the query still matches its oracle exactly."""
    from redpanda_iceberg_duckdb_spark.registry import all_queries

    from .oracle_harness import run_compare

    run_compare(spark, all_queries()["theilsen_hourly_trend"],
                "/root/testdata/sf0.001")


def test_dq_drift_detects_planted_shift(spark, tmp_path):
    """The drift bands must FIRE on a real shift: plant a current batch
    whose status histogram collapses to 'F' and whose prices are doubled;
    the corresponding metrics must come back within_band=false while the
    undisturbed ones stay true."""
    from redpanda_iceberg_duckdb_spark.operators.data_quality import (
        _DRIFT_CUT, dq_cross_batch_drift)

    src = "/root/testdata/sf0.001"
    d = str(tmp_path / "ds")
    os.makedirs(d)
    o = spark.read.parquet(f"{src}/orders.parquet")
    cut = F.lit(_DRIFT_CUT).cast("timestamp")
    prior = o.filter(F.col("o_orderdate") < cut)
    drifted = (o.filter(F.col("o_orderdate") >= cut)
               .withColumn("o_orderstatus", F.lit("F"))
               .withColumn("o_totalprice", F.col("o_totalprice") * 2))
    prior.unionByName(drifted).write.mode("overwrite").parquet(
        f"{d}/orders.parquet")

    got = {r["metric"]: r["within_band"]
           for r in dq_cross_batch_drift(spark, d).collect()}
    assert got["share_status_F"] is False      # collapsed to 100% F
    assert got["share_status_O"] is False
    assert got["share_status_P"] is False
    assert got["avg_price_cents"] is False     # doubled prices
    assert got["share_prio_urgent"] is True    # untouched
    assert got["row_count"] is True            # untouched


def test_pca_top4_recovers_planted_orthogonal_basis(spark, tmp_path):
    """Plant embeddings spanning three orthogonal axes with well-separated
    variances (9, 4, 1) + small noise: the deflation must return the three
    axes IN ORDER with |cos| > 0.99 each and decreasing eigenvalues — a
    basis, not just one direction (round-9 verdict item 4)."""
    import numpy as np

    from redpanda_iceberg_duckdb_spark.operators.pca_power import (
        _D, embedding_pca_top4)

    rng = np.random.RandomState(11)
    q, _ = np.linalg.qr(rng.randn(_D, 3))       # 3 orthonormal axes
    t = rng.randn(500, 3) * np.array([3.0, 2.0, 1.0])
    X = t @ q.T + 0.02 * rng.randn(500, _D)
    rows = [(i, [float(x) for x in X[i]], 0) for i in range(500)]
    d = str(tmp_path / "ds")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

    out = embedding_pca_top4(spark, d).collect()
    V = {}
    lam = {}
    for r in out:
        V.setdefault(r["component"], [0.0] * _D)[r["dim"]] = r["loading"]
        lam[r["component"]] = r["eigval"]
    for k in range(3):
        cos = abs(float(np.array(V[k]) @ q[:, k]))
        assert cos > 0.99, f"component {k} misaligned: |cos|={cos}"
    assert lam[0] > lam[1] > lam[2] > lam[3]   # separated spectrum sorts
    assert lam[3] < 0.1 * lam[2]               # 4th is noise-floor


def test_bradley_terry_recovers_planted_win_rates(spark, tmp_path):
    """Plant a 3-item tournament where per-user frequency order gives
    a->b win rate 70%, b->c 70%, a->c 90%: the fitted strengths must
    order a > b > c and the implied P(a beats b) = ta/(ta+tb) must sit
    near the planted 0.7 (MM on a consistent BT-generated design)."""
    import datetime as dt

    from redpanda_iceberg_duckdb_spark.operators.preference10 import (
        bradley_terry_strengths)

    rows, eid = [], 0
    base = dt.datetime(2024, 1, 1)
    for u in range(200):
        # counts per type decide wins; vary by user hash to plant rates
        ca = 3 if u % 10 < 7 else 1      # a beats b for 70% of users
        cb = 2
        cc = 3 if u % 10 >= 9 else 1     # c beats b for 10% of users
        # a-c relation: a=3 vs c in {1,3}: ties (u%10==9 with ca=1? no,
        # u%10>=9 -> ca=1, cc=3 -> c beats a for 10% of users)
        for typ, c in (("a", ca), ("b", cb), ("c", cc)):
            for k in range(c):
                rows.append((eid, base + dt.timedelta(seconds=eid), u,
                             typ, 1.0, "{}"))
                eid += 1
    d = str(tmp_path / "ds")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string"
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")

    got = {r["item"]: r for r in bradley_terry_strengths(spark, d).collect()}
    ta, tb, tc = (got[x]["strength"] for x in "abc")
    assert ta > tb > tc
    p_ab = ta / (ta + tb)
    assert 0.6 < p_ab < 0.8   # planted 0.7
    assert got["a"]["comparisons"] > 0 and got["a"]["wins"] > got["c"]["wins"]


def test_dsir_selects_target_domain_docs(spark, tmp_path):
    """Plant disjoint vocabularies: target-lang docs use tgt* tokens, the
    rest use src* tokens. Every top-k slot must go to a target-vocabulary
    doc — including 'mislabeled' ones written in the target vocabulary
    (DSIR scores CONTENT, not the label)."""
    from redpanda_iceberg_duckdb_spark.operators.domain10 import (
        dsir_importance_topk)

    rows = []
    for i in range(300):
        if i % 3 == 0:     # true target docs
            lang, text = "en", " ".join(f"tgt{j % 40}" for j in range(60))
        elif i % 17 == 1:  # target-vocabulary doc labeled otherwise
            lang, text = "de", " ".join(f"tgt{j % 40}" for j in range(60))
        else:
            lang, text = "fr", " ".join(f"src{(i + j) % 80}"
                                        for j in range(60))
        rows.append((i, text, lang, "s", len(text)))
    d = str(tmp_path / "ds")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    got = dsir_importance_topk(spark, d).collect()
    assert len(got) == 50
    # every selected doc is target-vocabulary (doc_id % 3 == 0 or the
    # planted mislabeled ones), never a src-vocabulary doc
    for r in got:
        assert r.doc_id % 3 == 0 or r.doc_id % 17 == 1, r
    assert {r.lang for r in got} >= {"en", "de"}  # content beat the label
    assert all(r.dsir_logweight > 0 for r in got)


def test_bipartite_projection_hub_cap_binds(spark, tmp_path):
    """Plant one hub customer linked to 100 suppliers: its C(100,2)=4950
    pairs must NOT appear in the projection (only the normal customers'
    pairs do) — proving the stop-node rule actually executes."""
    from redpanda_iceberg_duckdb_spark.operators.graph.structure import (
        bipartite_supplier_projection)

    rows_o, rows_l = [], []
    ok = 0
    # 30 normal customers, each ordering from suppliers (c, c+1)
    for c in range(30):
        rows_o.append((ok, c, "O", 1.0, "2024-01-01", "1-URGENT"))
        rows_l.extend([(ok, c % 5 + 1000, 1.0, 0.0, "2024-01-02"),
                       (ok, c % 5 + 1001, 1.0, 0.0, "2024-01-02")])
        ok += 1
    # hub customer 999 -> suppliers 0..99
    for s in range(100):
        rows_o.append((ok, 999, "O", 1.0, "2024-01-01", "1-URGENT"))
        rows_l.append((ok, s, 1.0, 0.0, "2024-01-02"))
        ok += 1
    d = str(tmp_path / "ds")
    spark.createDataFrame(
        rows_o, "o_orderkey long, o_custkey long, o_orderstatus string, "
                "o_totalprice double, o_orderdate string, "
                "o_orderpriority string"
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp")) \
     .write.mode("overwrite").parquet(f"{d}/orders.parquet")
    write_single(spark.createDataFrame(
        rows_l, "l_orderkey long, l_suppkey long, l_extendedprice double, "
                "l_discount double, l_shipdate string"
    ), tmp_path / "ds", "lineitem")

    got = bipartite_supplier_projection(spark, d).collect()
    assert got, "projection empty"
    for r in got:
        assert r.s1 >= 1000 and r.s2 >= 1000, \
            f"hub pair leaked through the cap: {tuple(r)}"


def test_isotonic_minimax_equals_sequential_pav(spark):
    """The closed-form minimax identity must equal the classic sequential
    pool-adjacent-violators fit on the same bins, and the output must be
    monotone nondecreasing."""
    from redpanda_iceberg_duckdb_spark.operators.calibration10 import (
        isotonic_calibration_bins)

    rows = isotonic_calibration_bins(
        spark, "/root/testdata/sf0.01").collect()
    iso = [r.iso_prob for r in sorted(rows, key=lambda r: r.bin)]
    assert iso == sorted(iso)   # monotone

    # sequential PAV on the same (n, frac_pos) bins
    blocks = [[r.n * r.frac_pos, r.n] for r in
              sorted(rows, key=lambda r: r.bin)]
    i = 0
    while i < len(blocks) - 1:
        if blocks[i][0] / blocks[i][1] > \
                blocks[i + 1][0] / blocks[i + 1][1] + 1e-12:
            blocks[i][0] += blocks[i + 1][0]
            blocks[i][1] += blocks[i + 1][1]
            del blocks[i + 1]
            i = max(i - 1, 0)
        else:
            i += 1
    # expand pooled blocks back to per-bin fitted values by row count
    orig = sorted(rows, key=lambda r: r.bin)
    expected = []
    bi = 0
    remaining = blocks[0][1]
    for r in orig:
        if remaining <= 0:
            bi += 1
            remaining = blocks[bi][1]
        expected.append(round(blocks[bi][0] / blocks[bi][1], 6))
        remaining -= r.n
    assert iso == expected


def test_bucketed_join_plan_has_no_exchange(spark, tmp_path):
    """Both sides bucketed+sorted on the join key: the sort-merge join
    plan must contain NO shuffle exchange (the bucketing contract the
    bench demo times)."""
    o = (spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
         .select("o_orderkey", "o_custkey"))
    li = (spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
          .select("l_orderkey", "l_extendedprice"))
    for t in ("t10_orders_b", "t10_lineitem_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    try:
        (o.write.bucketBy(16, "o_orderkey").sortBy("o_orderkey")
         .mode("overwrite").saveAsTable("t10_orders_b"))
        (li.write.bucketBy(16, "l_orderkey").sortBy("l_orderkey")
         .mode("overwrite").saveAsTable("t10_lineitem_b"))
        ob, lb = spark.table("t10_orders_b"), spark.table("t10_lineitem_b")
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = ob.join(lb, ob.o_orderkey == lb.l_orderkey)
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan[:1500]
            # and it actually runs, matching the plain join's count
            assert joined.count() == o.join(
                li, o.o_orderkey == li.l_orderkey).count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        for t in ("t10_orders_b", "t10_lineitem_b"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_kfold_exact_balance_and_budget_reached(spark):
    """Fold sizes within every stratum differ by at most 1 (round-robin
    guarantee, not just hash expectation); the token-budget selection
    reaches each source's budget (sum >= budget) without overshooting by
    more than one document's tokens."""
    from redpanda_iceberg_duckdb_spark.operators.mixture10 import (
        stratified_kfold_assignment, token_budget_mixture)

    sf = "/root/testdata/sf0.01"
    folds = stratified_kfold_assignment(spark, sf).collect()
    by_lang = {}
    for r in folds:
        by_lang.setdefault(r.lang, []).append(r.n_docs)
    for lang, sizes in by_lang.items():
        assert max(sizes) - min(sizes) <= 1, (lang, sizes)

    toks = (spark.read.parquet(f"{sf}/documents.parquet")
            .select("source", F.size(F.split("text", " ")).alias("n"))
            .groupBy("source").agg(F.sum("n").alias("tot"),
                                   F.max("n").alias("mx")))
    tot = {r.source: (r.tot, r.mx) for r in toks.collect()}
    for r in token_budget_mixture(spark, sf).collect():
        budget = tot[r.source][0] // 2
        assert r.tokens_selected >= budget, (r.source, r.tokens_selected)
        assert r.tokens_selected < budget + tot[r.source][1], r.source


def test_ivm_sink_time_travel_reads_old_versions(spark, tmp_path):
    """Every committed snapshot version stays readable after later
    batches commit (the poor-man's time travel the pointer-flip layout
    provides): v1's view must equal what v1 contained when it was
    current, not the latest state."""
    from decimal import Decimal

    from redpanda_iceberg_duckdb_spark.streaming.ivm_sink import (
        IvmState, ivm_batch, read_state)

    base = str(tmp_path / "state")
    os.makedirs(base)
    schema = "kind string, orderkey bigint, custkey bigint, rev decimal(30,4)"
    b0 = spark.createDataFrame(
        [("order", 1, 10, None), ("line", 1, None, Decimal("5.0"))], schema)
    b1 = spark.createDataFrame(
        [("line", 1, None, Decimal("2.5"))], schema)
    assert ivm_batch(b0, 0, base=base)
    v1_then = sorted(map(tuple, read_state(spark, base).view.collect()))
    assert ivm_batch(b1, 1, base=base)
    v2 = sorted(map(tuple, read_state(spark, base).view.collect()))
    assert v2 != v1_then
    # time travel: read v1 directly
    old = IvmState(
        spark.read.parquet(f"{base}/v1/view"),
        spark.read.parquet(f"{base}/v1/orders"),
        spark.read.parquet(f"{base}/v1/lines"))
    assert sorted(map(tuple, old.view.collect())) == v1_then


def test_psi_detects_planted_price_regime_change(spark, tmp_path):
    """Double the current batch's prices: PSI must cross the 0.25 'major
    shift' convention, while the untouched corpus stays under 0.1."""
    from redpanda_iceberg_duckdb_spark.operators.drift10 import (
        _CUT, psi_price_drift)

    src = "/root/testdata/sf0.01"
    base = psi_price_drift(spark, src).collect()[0]
    assert base.psi < 0.1, base

    o = spark.read.parquet(f"{src}/orders.parquet")
    cut = F.lit(_CUT).cast("timestamp")
    shifted = (o.filter(F.col("o_orderdate") < cut).unionByName(
        o.filter(F.col("o_orderdate") >= cut)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)))
    d = str(tmp_path / "ds")
    shifted.write.mode("overwrite").parquet(f"{d}/orders.parquet")
    drifted = psi_price_drift(spark, d).collect()[0]
    assert drifted.psi > 0.25, drifted


def test_mutual_information_detects_planted_coupling(spark, tmp_path):
    """Uniform fixture MI ~ 0; planting a perfect type<->hour coupling
    (each type fires only in its own hour) must push MI toward ln(5)."""
    import datetime as dt
    import math

    from redpanda_iceberg_duckdb_spark.operators.drift10 import (
        mutual_information_type_hour)

    base = mutual_information_type_hour(
        spark, "/root/testdata/sf0.01").collect()[0]
    assert base.mi_nats < 0.05, base

    rows = []
    t0 = dt.datetime(2024, 1, 1)
    for i in range(2000):
        typ = i % 5
        rows.append((i, t0 + dt.timedelta(hours=typ, seconds=i % 1800),
                     i % 97, f"type{typ}", 1.0, "{}"))
    d = str(tmp_path / "ds")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string"
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    coupled = mutual_information_type_hour(spark, d).collect()[0]
    assert abs(coupled.mi_nats - math.log(5)) < 1e-6, coupled


def test_shapley_efficiency_and_planted_attribution(spark, tmp_path):
    """Shapley efficiency: the values sum to v(full). Planted: one source
    group of long docs and two of short — the long group's value must be
    positive and the short groups' negative (they drag the mean down)."""
    from redpanda_iceberg_duckdb_spark.operators.valuation10 import (
        shapley_source_value)

    rows = shapley_source_value(spark, "/root/testdata/sf0.01").collect()
    assert abs(sum(r.shapley_value for r in rows) - rows[0].v_full) < 1e-5

    # plant: find source names hashing to each group via the query's own
    # grouping (just craft docs with controlled n_chars per source name)
    import hashlib

    def md5_u64(s):
        return int.from_bytes(hashlib.md5(s.encode()).digest()[8:16],
                              "little")
    by_g = {0: None, 1: None, 2: None}
    i = 0
    while any(v is None for v in by_g.values()):
        name = f"src{i}"
        g = md5_u64(name) % 2147483647 % 3
        if by_g[g] is None:
            by_g[g] = name
        i += 1
    docs = []
    for did in range(300):
        g = did % 3
        n_chars = 5000 if g == 0 else 100
        docs.append((did, "x", "en", by_g[g], n_chars))
    d = str(tmp_path / "ds")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = {r.grp: r.shapley_value for r in
           shapley_source_value(spark, d).collect()}
    assert got[0] > 0 and got[1] < 0 and got[2] < 0, got


def test_ivm_state_cardinality_equals_expected(spark, sf_smoke):
    """Round-13 state accounting for the IVM sink (round-12 verdict item
    6): after each replay batch, the REAL apply_delta state tables must
    hold exactly the cardinalities the oracled ivm_state_expected query
    derives from the data — orders/lines stay order-cardinality, the view
    customer-cardinality, proving no line-cardinality state leak."""
    from pyspark.sql import functions as F

    from redpanda_iceberg_duckdb_spark.operators.ivm_stream import (
        _REV, _batch_bounds)
    from redpanda_iceberg_duckdb_spark.registry import all_queries
    from redpanda_iceberg_duckdb_spark.streaming.ivm_sink import (
        IvmState, apply_delta, empty_state)
    from redpanda_iceberg_duckdb_spark.tables import load_table

    expected = {r["batch_id"]: r for r in
                all_queries()["ivm_state_expected"]
                .fn(spark, sf_smoke).collect()}
    orders = load_table(spark, sf_smoke, "orders")
    line = load_table(spark, sf_smoke, "lineitem")
    state = empty_state(spark)
    for i, (lo, hi) in enumerate(_batch_bounds(), 1):
        def rng(col, lo=lo, hi=hi):
            cond = F.lit(True)
            if lo:
                cond = cond & (col >= F.lit(lo).cast("timestamp"))
            if hi:
                cond = cond & (col < F.lit(hi).cast("timestamp"))
            return cond
        d_o = (orders.filter(rng(F.col("o_orderdate")))
               .select("o_orderkey", "o_custkey"))
        d_l = (line.filter(rng(F.col("l_shipdate")))
               .select("l_orderkey", F.expr(_REV).alias("rev")))
        nxt = apply_delta(state, d_o, d_l)
        state = IvmState(nxt.view.localCheckpoint(eager=False),
                         nxt.orders.localCheckpoint(eager=False),
                         nxt.lines.localCheckpoint(eager=False))
        x = expected[i]
        assert state.orders.count() == x["orders_rows"], i
        assert state.lines.count() == x["lines_rows"], i
        assert state.view.count() == x["view_rows"], i
