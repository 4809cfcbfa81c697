"""Self-test of the benchmark: every workload with a handful of operations
(one timed pass untraced, two traced), after its usual warm-up. The query
workloads run at sf0.001; the pipeline's batch size is fixed.

    python3 -m pytest lakebench/tests -q
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
SCALE = {"reference_queries": ["--sf", "0.001"], "tpch_queries": ["--sf", "0.001"],
         "trade_pipeline": []}
WORKLOADS = list(SCALE)
END_TO_END = {"setup_s": "s", "latency_p50_s": "s", "latency_p90_s": "s",
              "throughput_per_s": "1/s", "failed_ratio": "ratio"}


def run_bench(workload: str, trace: int) -> tuple[list[str], dict]:
    proc = subprocess.run(
        [sys.executable, "lakebench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), *SCALE[workload]],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


def declared(kind: str) -> dict[str, str]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_prints_every_metric_with_unit_and_samples(workload):
    lines, result = run_bench(workload, trace=0)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared("end_to_end")
    for name, unit in END_TO_END.items():
        line = next(ln for ln in lines if ln.split()[:1] == [name])
        value, got_unit, samples = line.split()[1:4]
        assert got_unit == unit and re.fullmatch(r"n=\d+", samples), line
        if name == "failed_ratio":
            assert float(value) == 0.0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_self_times_fit_inside_each_operation(workload):
    _, result = run_bench(workload, trace=1)
    assert result["correct"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared("per_layer")
    spans = [json.loads(ln) for ln in
             (ROOT / ".lakebench" / f"spans-{workload}-3.jsonl").read_text().splitlines()]
    assert spans
    covered: dict[int, float] = {}  # span index -> time its children cover
    for sp in spans:
        if sp["parent"] is not None:
            covered[sp["parent"]] = covered.get(sp["parent"], 0.0) + sp["end"] - sp["start"]
    self_sum: dict[int, float] = {}
    for i, sp in enumerate(spans):
        self_time = sp["end"] - sp["start"] - covered.get(i, 0.0)
        assert self_time >= -1e-9, sp
        self_sum[sp["op"]] = self_sum.get(sp["op"], 0.0) + self_time
    for sp in spans:
        if sp["parent"] is None:
            assert self_sum[sp["op"]] <= sp["end"] - sp["start"] + 1e-9
