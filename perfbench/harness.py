"""Benchmark harness: spans, Spark counters, statistics and the run loop.

Nothing here reaches inside the engine. Spans wrap the benchmark's own
calls into the engine's public functions; Spark counters are read from the
SparkContext's status store, attributed to spans by job group.
"""

from __future__ import annotations

import json
import os
import resource
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


class CheckFailed(Exception):
    """An op returned a wrong answer."""


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


# -- statistics ---------------------------------------------------------------


def pct(values: list[float], q: int) -> float:
    """Percentile (q in 1..99) of a non-empty list, interpolated between
    the two nearest ranks: steadier than nearest rank on a few samples."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def p50(values: list[float]) -> float:
    return statistics.median(values)


# -- spans ----------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    op: int | None
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory when enabled; a no-op otherwise. Each span
    tags the Spark jobs started inside it with its own job group, so the
    counter collector can attribute work to the innermost span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op: int | None = None  # index of the timed op; negative in set-up
        self.sc = None  # SparkContext, set once the session exists
        self.layer: dict[str, list[float]] = {}  # per-layer samples of traced ops

    def record(self, key: str, value: float) -> None:
        """One per-layer sample, kept only for traced timed ops."""
        if self.enabled and self.op is not None and self.op >= 0:
            self.layer.setdefault(key, []).append(float(value))

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, self.op, parent.id if parent else None,
                 time.time(), attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(parent)

    def _set_group(self, s: Span | None) -> None:
        if self.sc is None:
            return
        self.sc.setLocalProperty("spark.jobGroup.id", None if s is None else f"span{s.id}")

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part its direct children cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + s.dur
        return {s.id: s.dur - child.get(s.id, 0.0) for s in self.spans}

    def write(self, path: str, extra: dict) -> None:
        selft = self.self_times()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                {
                    **extra,
                    "spans": [
                        {"id": s.id, "name": s.name, "op": s.op, "parent": s.parent,
                         "start": s.start, "end": s.end, "self_s": selft[s.id],
                         **s.attrs}
                        for s in self.spans
                    ],
                },
                fh,
            )


def timed(tracer: Tracer, name: str, fn):
    """Call ``fn`` inside a span; return its result and wall seconds."""
    t = time.perf_counter()
    with tracer.span(name):
        out = fn()
    return out, time.perf_counter() - t


# -- Spark counters ---------------------------------------------------------------

COUNTERS = (
    "jobs", "stages", "tasks", "tasks_failed", "shuffle_write_bytes",
    "spill_bytes", "executor_run_s", "executor_cpu_s", "gc_s",
)


class SparkCounters:
    """Per-span Spark work read from the status store of the live context.
    Works with the UI disabled: the store is fed by the listener bus."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.tracker = self.sc.statusTracker()
        self.cores = self.sc.defaultParallelism

    def _opt_ms(self, opt) -> float | None:
        return opt.get().getTime() / 1000.0 if opt.isDefined() else None

    def for_group(self, group: str) -> tuple[dict, list[tuple[float, float]]]:
        """Counter sums for one job group, plus each job's [submit, end]."""
        out = dict.fromkeys(COUNTERS, 0.0)
        intervals = []
        seen = set()
        for jid in self.tracker.getJobIdsForGroup(group):
            jd = self.store.job(jid)
            out["jobs"] += 1
            sub, end = self._opt_ms(jd.submissionTime()), self._opt_ms(jd.completionTime())
            if sub is not None:
                intervals.append((sub, end if end is not None else time.time()))
            ids = jd.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - a skipped stage never ran
                    continue
                if sd.numCompleteTasks() + sd.numFailedTasks() == 0:
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                out["tasks_failed"] += sd.numFailedTasks()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["executor_run_s"] += sd.executorRunTime() / 1e3
                out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                out["gc_s"] += sd.jvmGcTime() / 1e3
        return out, intervals

    def driver_totals(self) -> dict:
        """Whole-context totals of the driver (the only executor locally)."""
        ex = self.store.executorSummary("driver")
        return {
            "tasks": ex.totalTasks(),
            "tasks_failed": ex.failedTasks(),
            "task_time_s": ex.totalDuration() / 1e3,
            "gc_s": ex.totalGCTime() / 1e3,
        }

    def for_spans(self, tracer: Tracer, op: int) -> dict:
        """Counters of the engine-call spans of one op, summed, with the
        time inside those calls not covered by any running job and the
        idle core share. The op's root span, which also holds the output
        checks, is left out."""
        spans = [s for s in tracer.spans if s.op == op and s.parent is not None]
        ids = {s.id for s in spans}
        total = dict.fromkeys(COUNTERS, 0.0)
        intervals = []
        for s in spans:
            c, iv = self.for_group(f"span{s.id}")
            s.attrs["spark"] = c
            intervals += iv
            for k in COUNTERS:
                total[k] += c[k]
        calls = [s for s in spans if s.parent not in ids]
        wall = sum(s.dur for s in calls)
        covered = 0.0
        for r in calls:
            covered += _covered(intervals, r.start, r.end)
        total["driver_only_s"] = max(0.0, wall - covered)
        total["idle_core_share"] = (
            1.0 - total["executor_run_s"] / (wall * self.cores) if wall > 0 else 0.0
        )
        return total


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of the intervals."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def peak_rss_mb(spark) -> float:
    """Driver JVM VmHWM plus this Python process's peak RSS."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes of every file, number of parquet files) under a directory."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return total, files
