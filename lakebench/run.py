"""Benchmark runner: one workload, one seed, one run.

    python3 lakebench/run.py --workload reference_queries --seed 1 --seconds 30 --trace 0

Runs from the root of a checkout. It sets up a Spark session, writes the
workload's inputs from ``--seed`` into ``.lakebench/`` under the checkout,
prepares every expected answer, runs untimed warm-up passes and then a fixed
number of timed passes over the workload's operations, each pass in an order
shuffled from the seed. Every operation's result is checked: a failed
operation is left out of the timing samples, and a run with any failed
operation exits with code 1 after printing its result.

With ``--trace 0`` it prints the end-to-end metrics; with ``--trace 1`` it
alternates untraced and traced passes and prints the per-layer metrics from
the traced ones plus the tracing overhead. Human-readable lines come first;
the last line of stdout is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

# Per workload: scale factor, warm-up passes, and the nominal cost of one
# operation on a 4-core host. The timed pass count is derived from
# --seconds and this nominal cost, never from the clock, so every run of a
# workload holds the same operations whatever the host's speed.
PROFILES = {
    "reference_queries": {"sf": 0.01, "warmup": 2, "op_s": 0.29},
    "tpch_queries": {"sf": 0.01, "warmup": 1, "op_s": 0.7},
    "trade_pipeline": {"sf": None, "warmup": 3, "op_s": 1.2},
}

END_TO_END_UNITS = {"setup_s": "s", "latency_p50_s": "s", "latency_p90_s": "s",
                    "throughput_per_s": "1/s"}

# Per-layer metric -> (unit, span name, field): the spans' self time or a job-group count.
SPAN_METRICS = {
    "plan.build_s": ("s", "plan", "self_s"),
    "plan.jobs": ("count", "plan", "jobs"),
    "exec.action_s": ("s", "exec", "self_s"),
    "exec.jobs": ("count", "exec", "jobs"),
    "exec.stages": ("count", "exec", "stages"),
    "exec.tasks": ("count", "exec", "tasks"),
    "exec.executor_run_s": ("s", "exec", "executor_run_s"),
    "exec.executor_cpu_s": ("s", "exec", "executor_cpu_s"),
    "exec.gc_s": ("s", "exec", "gc_s"),
    "exec.input_bytes": ("B", "exec", "input_bytes"),
    "exec.shuffle_read_bytes": ("B", "exec", "shuffle_read_bytes"),
    "exec.shuffle_write_bytes": ("B", "exec", "shuffle_write_bytes"),
    "ingest.batch_s": ("s", "ingest", "self_s"),
    "publish.s": ("s", "publish", "self_s"),
    "merge.batch_s": ("s", "merge", "self_s"),
    "merge.jobs": ("count", "merge", "jobs"),
    "maintenance.expire_s": ("s", "maintenance", "self_s"),
}
OP_COUNT_METRICS = {
    "ingest.add_batch_ms": "ms", "ingest.query_planning_ms": "ms",
    "ingest.wal_commit_ms": "ms", "ingest.latest_offset_ms": "ms",
    "ingest.rows_committed": "count", "ingest.rows_rejected": "count",
    "publish.dead_letters": "count", "maintenance.dirs_removed": "count",
}
RUN_METRICS = {
    "storage.files": "count", "storage.bytes_per_row": "B",
    "setup.session_s": "s", "setup.inputs_s": "s", "setup.expected_s": "s",
    "setup.warmup_s": "s",
    "host.steal_s": "s", "jvm.jit_compile_s": "s", "jvm.gc_s": "s", "jvm.cpu_s": "s",
    "driver.cpu_s": "s", "jvm.rss_peak_mb": "MB",
    "trace.overhead_s": "s",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(PROFILES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="nominal timed window; sets the number of timed passes")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="override the query workloads' scale factor (self-test)")
    args = ap.parse_args(argv)
    if args.sf is not None and PROFILES[args.workload]["sf"] is None:
        ap.error(f"--sf does not apply to {args.workload}")
    return args


def timed_passes(args, n_ops: int) -> int:
    n = max(1, round(args.seconds / (PROFILES[args.workload]["op_s"] * n_ops)))
    if args.trace:  # untraced and traced passes alternate, so an even count
        n = max(2, n + n % 2)
    return n


def quantile(values: list[float], q: int) -> float:
    """The q-th percentile, interpolated between samples (never beyond them)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def run_pass(workload, ops, rng, tracer, records) -> None:
    """One pass over ``ops`` in a seeded shuffled order: stage (untimed),
    execute (timed), check (untimed)."""
    order = list(ops)
    rng.shuffle(order)
    for op in order:
        workload.stage(op)
        ok, counts, seconds = False, {}, 0.0
        with tracer.span(op):
            t0 = time.perf_counter()
            try:
                result = workload.execute(op, tracer)
                seconds = time.perf_counter() - t0
            except Exception:  # a failed operation is counted, not fatal
                seconds = time.perf_counter() - t0
                traceback.print_exc(file=sys.stderr)
                result = None
        if result is not None:
            try:
                ok, counts = workload.check(op, result)
            except Exception:
                traceback.print_exc(file=sys.stderr)
        if not ok:
            print(f"FAILED operation {op}", file=sys.stderr)
        records.append({"op": op, "s": seconds, "ok": ok, "traced": tracer.enabled,
                        "counts": counts})


def layer_metrics(tracer, records) -> dict[str, float]:
    """Per-operation means over the traced operations."""
    traced = [r for r in records if r["traced"]]
    n = max(len(traced), 1)
    self_s = tracer.self_times()
    totals = {k: 0.0 for k in SPAN_METRICS}
    for i, sp in enumerate(tracer.spans):
        for metric, (_, name, fld) in SPAN_METRICS.items():
            if sp.name == name:
                totals[metric] += self_s[i] if fld == "self_s" else sp.counts.get(fld, 0)
    out = {k: v / n for k, v in totals.items()}
    for metric in OP_COUNT_METRICS:
        out[metric] = sum(r["counts"].get(metric, 0) for r in traced) / n
    return out


def self_time_violations(tracer) -> int:
    """Operations whose spans' self times sum to more than the operation took."""
    self_s = tracer.self_times()
    by_op: dict[int, float] = {}
    for i, sp in enumerate(tracer.spans):
        by_op[sp.op] = by_op.get(sp.op, 0.0) + self_s[i]
    roots = {sp.op: sp.end - sp.start for sp in tracer.spans if sp.parent is None}
    return sum(1 for op, total in by_op.items() if total > roots[op] + 1e-6)


def start_spark(work: Path):
    from redpanda_iceberg_duckdb_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    # Scratch files of Python, the JVM and Spark all stay inside the checkout.
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tempfile.tempdir = str(tmp)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    spark = get_spark("lakebench", cpus=cpus, extra_conf={
        "spark.local.dir": str(tmp),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cpus


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = time.perf_counter()
    sys.path[:0] = [str(HERE), str(ROOT)]
    from spans import HostReadings, Tracer
    import workloads

    host_start = HostReadings()
    work = ROOT / ".lakebench" / f"{args.workload}-{args.seed}-{os.getpid()}"
    profile = PROFILES[args.workload]
    spark = None
    workload = None
    try:
        spark, cpus = start_spark(work)
        setup = {"setup.session_s": time.perf_counter() - t_start}
        kwargs = {}
        if profile["sf"] is not None:
            kwargs["sf"] = args.sf if args.sf is not None else profile["sf"]
        workload = workloads.WORKLOADS[args.workload](spark, str(work), args.seed, **kwargs)
        for phase, fn in (("setup.inputs_s", workload.prepare_inputs),
                          ("setup.expected_s", workload.prepare_expected)):
            t = time.perf_counter()
            fn()
            setup[phase] = time.perf_counter() - t
        ops = workload.ops()
        rng = random.Random(args.seed)
        untraced, tracer = Tracer(spark, enabled=False), Tracer(spark, enabled=True)
        warm: list[dict] = []
        t = time.perf_counter()
        for _ in range(profile["warmup"]):
            run_pass(workload, ops, rng, untraced, warm)
        setup["setup.warmup_s"] = time.perf_counter() - t
        setup_s = time.perf_counter() - t_start

        passes = timed_passes(args, len(ops))
        host_timed = HostReadings(spark)
        records: list[dict] = []
        for i in range(passes):
            traced = bool(args.trace) and i % 2 == 1
            run_pass(workload, ops, rng, tracer if traced else untraced, records)
        host = HostReadings(spark).delta(host_timed)
        host_setup = host_timed.delta(host_start)
        storage = workload.storage()
    finally:
        if workload is not None:
            workload.close()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    # Failed operations are reported, never timed: a broken result cannot read as a gain.
    lat = [r["s"] for r in records if r["ok"] and not r["traced"]]
    traced_lat = [r["s"] for r in records if r["ok"] and r["traced"]]
    failed = sum(1 for r in records + warm if not r["ok"])
    attempted = len(records) + len(warm)
    if not lat or (args.trace and not traced_lat):
        print(f"lakebench: every timed operation failed ({failed} of {attempted} failed)",
              file=sys.stderr)
        return 1
    print(f"lakebench workload={args.workload} seed={args.seed} cpus={cpus} "
          f"mode={'traced' if args.trace else 'untraced'} passes={passes} "
          f"ops_per_pass={len(ops)} warmup_ops={len(warm)} timed_ops={len(records)}")
    print("  host[setup] " + " ".join(f"{k}={v:.3f}" for k, v in host_setup.items()))
    print("  host[timed] " + " ".join(f"{k}={v:.3f}" for k, v in host.items()))

    if not args.trace:
        metrics = {
            "setup_s": setup_s,
            "latency_p50_s": statistics.median(lat),
            "latency_p90_s": quantile(lat, 90),
            "throughput_per_s": len(lat) / sum(lat),
        }
        samples = {"setup_s": 1}
        for name in END_TO_END_UNITS:
            print(f"  {name:<18} {metrics[name]:>12.6f} {END_TO_END_UNITS[name]:<6} "
                  f"n={samples.get(name, len(lat))}")
        print(f"  {'failed_ratio':<18} {failed / attempted:>12.6f} {'ratio':<6} n={attempted}")
        out = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in metrics.items()}
    else:
        layer = layer_metrics(tracer, records)
        layer.update(storage)
        layer.update(setup)
        layer.update({k: v for k, v in host.items() if k in RUN_METRICS})
        layer["trace.overhead_s"] = statistics.mean(traced_lat) - statistics.mean(lat)
        units = {**{k: u for k, (u, _, _) in SPAN_METRICS.items()}, **OP_COUNT_METRICS,
                 **RUN_METRICS}
        for name in units:
            print(f"  {name:<26} {layer[name]:>16.6f} {units[name]}")
        print(f"  traced ops={len(traced_lat)} untraced ops={len(lat)} "
              f"self-time violations={self_time_violations(tracer)}")
        spans_path = ROOT / ".lakebench" / f"spans-{args.workload}-{args.seed}.jsonl"
        tracer.write(str(spans_path))
        print(f"  spans written to {spans_path.relative_to(ROOT)}")
        out = {k: {"value": layer[k], "unit": u} for k, u in units.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
