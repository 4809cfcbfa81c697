"""Outside-in tracing and host-noise readings for the benchmark.

``Tracer`` keeps spans in memory: each has a name, start, end, parent and
operation id. Around every span that calls into Spark it sets a job group of
its own, so the Spark jobs, stages, tasks and per-stage executor metrics
that a layer caused are read back from the SparkContext status store after
the operation ends. Nothing inside the package is instrumented; the spans
wrap the calls the benchmark makes into its public functions.

``HostReadings`` reads steal time, JVM JIT/GC/CPU time, peak JVM RSS and
driver CPU time. They explain a slow run; they never drop or re-weight one.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Per-stage fields summed per span: (status-store accessor, metric suffix, scale).
_STAGE_FIELDS = [
    ("executorRunTime", "executor_run_s", 1e-3),
    ("executorCpuTime", "executor_cpu_s", 1e-9),
    ("jvmGcTime", "gc_s", 1e-3),
    ("inputBytes", "input_bytes", 1),
    ("shuffleReadBytes", "shuffle_read_bytes", 1),
    ("shuffleWriteBytes", "shuffle_write_bytes", 1),
]


@dataclass
class Span:
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    counts: dict = field(default_factory=dict)


class Tracer:
    """Spans of one run. With ``enabled`` false every call is a no-op, so
    the untraced path runs the same benchmark code with nothing recorded."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._sc = spark.sparkContext
        self._op = -1
        self._op_start = 0  # index of the current operation's root span

    @contextmanager
    def span(self, name: str, *, spark_jobs: bool = False):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        if parent is None:
            self._op, self._op_start = self._op + 1, idx
        sp = Span(name, self._op, parent, 0.0)
        self.spans.append(sp)
        if spark_jobs:
            sp.group = f"lakebench-{idx}"
            self._sc.setJobGroup(sp.group, sp.group)
        self._stack.append(idx)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if spark_jobs:  # job-group spans are leaves: no enclosing group to restore
                self._sc._jsc.clearJobGroup()
            if parent is None:
                self._collect_jobs()

    def _collect_jobs(self) -> None:
        """Read job, stage and task counts for the finished operation's
        groups, once the listener bus has delivered their events."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        tracker = self._sc.statusTracker()
        store = self._sc._jsc.sc().statusStore()
        for sp in self.spans[self._op_start:]:
            if not sp.group:
                continue
            c = {"jobs": 0, "stages": 0, "tasks": 0}
            c.update({suffix: 0 for _, suffix, _ in _STAGE_FIELDS})
            for job in tracker.getJobIdsForGroup(sp.group):
                info = tracker.getJobInfo(job)
                c["jobs"] += 1
                for stage in (info.stageIds if info else []):
                    data = store.lastStageAttempt(stage)
                    if str(data.status()) != "COMPLETE":
                        continue  # skipped: its shuffle output was reused
                    c["stages"] += 1
                    c["tasks"] += data.numCompleteTasks()
                    for accessor, suffix, scale in _STAGE_FIELDS:
                        c[suffix] += getattr(data, accessor)() * scale
            sp.counts.update(c)

    def self_times(self) -> dict[int, float]:
        """Span index -> its duration minus the time its children cover."""
        child_time = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent is not None:
                child_time[sp.parent] += sp.end - sp.start
        return {i: (sp.end - sp.start) - child_time[i] for i, sp in enumerate(self.spans)}

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({"name": sp.name, "op": sp.op, "parent": sp.parent,
                                    "start": sp.start, "end": sp.end, **sp.counts}) + "\n")


class HostReadings:
    """Cumulative host and JVM counters; ``delta`` of two readings gives the
    noise over an interval."""

    _CLK = os.sysconf("SC_CLK_TCK")

    def __init__(self, spark=None):
        self.wall = time.perf_counter()
        self.driver_cpu_s = sum(os.times()[:2])
        self.steal_s = self._steal()
        self.jvm = self._jvm(spark) if spark is not None else None

    def _steal(self) -> float:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / self._CLK if len(fields) > 8 else 0.0

    def _jvm(self, spark) -> dict:
        gw = spark.sparkContext._gateway.jvm
        mf = gw.java.lang.management.ManagementFactory
        pid = gw.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read().rsplit(")", 1)[1].split()
        rss_peak_kb = 0
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    rss_peak_kb = int(line.split()[1])
        return {
            "jit_compile_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
            "gc_s": sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3,
            "cpu_s": (int(stat[11]) + int(stat[12])) / self._CLK,
            "rss_peak_mb": rss_peak_kb / 1024,
        }

    def delta(self, start: "HostReadings") -> dict[str, float]:
        out = {
            "wall_s": self.wall - start.wall,
            "host.steal_s": self.steal_s - start.steal_s,
            "driver.cpu_s": self.driver_cpu_s - start.driver_cpu_s,
        }
        if self.jvm is not None:
            before = start.jvm or {"jit_compile_s": 0.0, "gc_s": 0.0, "cpu_s": 0.0}
            out.update({
                "jvm.jit_compile_s": self.jvm["jit_compile_s"] - before["jit_compile_s"],
                "jvm.gc_s": self.jvm["gc_s"] - before["gc_s"],
                "jvm.cpu_s": self.jvm["cpu_s"] - before["cpu_s"],
                "jvm.rss_peak_mb": self.jvm["rss_peak_mb"],
            })
        return out
