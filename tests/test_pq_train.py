"""Trained-codebook PQ (operators/vectors/) properties beyond the driver
oracle: Lloyd training must not INCREASE any subspace's quantization
distortion relative to the untrained label-cell codebooks, the trained
ADC recall evaluation must keep the probe-set contract, and the trainer's
driver and distributed paths must agree."""

from __future__ import annotations

from redpanda_iceberg_duckdb_spark.registry import all_queries

SF = "/root/testdata/sf0.001"


def test_training_never_increases_subspace_distortion(spark):
    untrained = {r.subspace: r.avg_sq_err for r in
                 all_queries()["pq_code_distortion"].fn(spark, SF).collect()}
    trained_rows = all_queries()["pq_trained_distortion"].fn(
        spark, SF).collect()
    trained = {r.subspace: r.avg_sq_err for r in trained_rows}
    assert set(trained) == set(untrained) == set(range(8))
    for sub in trained:
        # Lloyd monotonically decreases within-cluster SSE per subspace
        # (each subspace trains independently); allow the round-6 display
        # rounding as slack.
        assert trained[sub] <= untrained[sub] + 1e-6, sub
    # training actually did something: strict improvement somewhere
    assert any(trained[s] < untrained[s] - 1e-6 for s in trained)
    # the converged round count is reported and sane
    assert trained_rows[0].n_rounds >= 2


def test_trained_recall_probe_contract(spark):
    rows = all_queries()["ivf_pq_trained_recall"].fn(spark, SF).collect()
    # same probe set rule as pq_adc_recall_at_5 / ann_recall_*
    assert all(r.qid % 100 == 0 and r.qid < 6400 for r in rows)
    assert all(0 <= r.n_hits <= 5 for r in rows)
    assert all(abs(r.recall_at_5 - r.n_hits / 5.0) < 1e-9 for r in rows)


def test_driver_and_distributed_training_paths_agree(spark, monkeypatch):
    """The driver-resident trainer must be byte-identical to the
    distributed per-round loop: same sufficient stats, same joint round
    count (same init, same first-minimum tie-break, same mover
    accounting), for PQ (8 subspaces) and k-means (1 subspace). Force the
    distributed path by zeroing the sample bound and compare against the
    driver path on the same data."""
    from redpanda_iceberg_duckdb_spark.operators.vectors import lloyd

    sf = "/root/testdata/sf0.001"
    for m in (lloyd.PQ_M, 1):
        driver_stats, driver_rounds = lloyd.train_lloyd(spark, sf, m)
        with monkeypatch.context() as mp:
            mp.setattr(lloyd, "DRIVER_TRAIN_BOUND", 0)
            dist_stats, dist_rounds = lloyd.train_lloyd(spark, sf, m)
        assert driver_rounds == dist_rounds, m
        assert [(s, c, n, list(a)) for s, c, n, a in driver_stats] == \
               [(s, c, n, list(a)) for s, c, n, a in dist_stats], m
