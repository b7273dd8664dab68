"""Measurement plumbing shared by the workloads: op timing, layer spans,
Spark counters, latency statistics and host-contention readings.

Everything here observes the package from outside. A span wraps one call
into a package layer; with tracing on, Spark's own counters are read
before and after the call so each span carries the jobs, tasks, shuffle
bytes, GC time and storage memory its call caused.
"""

from __future__ import annotations

import os
import time
import traceback
from contextlib import contextmanager
from statistics import median  # noqa: F401  (the workloads import it from here)

COUNTER_KEYS = ("jobs", "tasks", "shuffle_write_bytes", "gc_ms", "storage_bytes")


class SparkCounters:
    """Cumulative Spark work counters of one SparkContext.

    Jobs come from ``statusTracker()``; tasks, shuffle-write bytes, GC
    time and storage memory from the status store's executor summaries.
    The listener bus is drained first so every finished task is counted:
    the counts are exact, not sampled."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()

    def jobs(self) -> int:
        self._jsc.listenerBus().waitUntilEmpty()
        ids = self._sc.statusTracker().getJobIdsForGroup(None)
        return max(ids) + 1 if ids else 0

    def read(self) -> dict:
        jobs = self.jobs()
        execs = self._jsc.statusStore().executorList(True)
        out = {"jobs": jobs, "tasks": 0, "shuffle_write_bytes": 0, "gc_ms": 0,
               "storage_bytes": 0}
        for i in range(execs.size()):
            e = execs.apply(i)
            out["tasks"] += e.totalTasks()
            out["shuffle_write_bytes"] += e.totalShuffleWrite()
            out["gc_ms"] += e.totalGCTime()
            out["storage_bytes"] += e.memoryUsed()
        return out


def _delta(after: dict, before: dict) -> dict:
    d = {k: after[k] - before[k] for k in COUNTER_KEYS}
    d["storage_bytes"] = after["storage_bytes"]  # a level, not a flow
    return d


class Tracer:
    """Spans (name, start, end, parent) kept in memory; counters read
    around each span when tracing is on. With tracing off ``span`` costs
    one generator step and records nothing."""

    def __init__(self, counters: SparkCounters | None, enabled: bool):
        self.enabled = enabled
        self.counters = counters
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0  # time spent reading counters
        self._phase_overhead = 0.0
        self._phase = "setup"

    @property
    def phase(self) -> str:
        return self._phase

    @phase.setter
    def phase(self, name: str) -> None:
        self._phase, self._phase_overhead = name, self.overhead_s

    @property
    def timed_overhead_s(self) -> float:
        """Counter-reading time since the current phase began."""
        return self.overhead_s - self._phase_overhead

    def _read(self) -> dict:
        t = time.perf_counter()
        c = self.counters.read()
        self.overhead_s += time.perf_counter() - t
        return c

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "phase": self.phase, **attrs}
        self.spans.append(rec)
        before = self._read()
        rec["start"] = time.perf_counter()
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            rec["counters"] = _delta(self._read(), before)

    def self_times(self) -> list[float]:
        """Per span: its duration minus the part its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = []
        for i, s in enumerate(self.spans):
            covered, edge = 0.0, s["start"]
            for a, b in sorted(kids.get(i, [])):
                a = max(a, edge)
                if b > a:
                    covered += b - a
                    edge = b
            out.append(s["end"] - s["start"] - covered)
        return out

    def by_name(self, phase: str = "timed") -> dict:
        """Aggregate one phase's spans by name: calls, wall seconds, self
        seconds and the counter deltas the span caused outside its child
        spans."""
        agg: dict[str, dict] = {}
        selfs = self.self_times()
        child_counts: dict[int, dict] = {}
        for s in self.spans:
            if s["parent"] is not None:
                acc = child_counts.setdefault(s["parent"], dict.fromkeys(COUNTER_KEYS, 0))
                for k in COUNTER_KEYS:
                    acc[k] += s["counters"][k]
        for i, s in enumerate(self.spans):
            if s["phase"] != phase:
                continue
            a = agg.setdefault(s["name"], {"calls": 0, "wall_s": 0.0, "self_s": 0.0,
                                           **dict.fromkeys(COUNTER_KEYS, 0)})
            a["calls"] += 1
            a["wall_s"] += s["end"] - s["start"]
            a["self_s"] += selfs[i]
            kids = child_counts.get(i, dict.fromkeys(COUNTER_KEYS, 0))
            for k in COUNTER_KEYS:
                if k == "storage_bytes":
                    a[k] = max(a[k], s["counters"][k])
                else:
                    a[k] += s["counters"][k] - kids[k]
        return agg

    def dump(self) -> list[dict]:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        return [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0}
            for s in self.spans
        ]


class CheckFailed(AssertionError):
    """An output of the program disagrees with the benchmark's model."""


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


class OpLog:
    """Closed-loop op accounting: latency per op class, attempted and
    failed counts. An op fails if the call raises or its output check
    fails; a failed op still counts as attempted and keeps its latency
    out of the samples."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    @contextmanager
    def op(self, kind: str):
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{kind}"):
                yield
        except Exception:  # the loop must go on; the failure is recorded
            self.failed += 1
            self.errors.append(f"{kind}: {traceback.format_exc(limit=3)}")
            return
        self.samples.setdefault(kind, []).append(time.perf_counter() - t0)

    def all_samples(self) -> list[float]:
        return [x for v in self.samples.values() for x in v]


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest nearest-rank percentile that
    still has at least ten samples above it. With ten samples or fewer no
    percentile qualifies; the minimum is returned, as the rank closest to
    qualifying, and the printed percentile says so."""
    xs = sorted(samples)
    n = len(xs)
    k = max(n - 11, 0)
    return xs[k], 100.0 * (k + 1) / n, n


class HostProbe:
    """Load average and CPU steal over a run, so contended runs can be
    told apart from slow code."""

    @staticmethod
    def _steal() -> tuple[int, int]:
        try:
            with open("/proc/stat") as f:
                cpu = f.readline().split()[1:]
        except OSError:
            return 0, 0
        vals = [int(x) for x in cpu]
        return (vals[7] if len(vals) > 7 else 0), sum(vals)

    def __init__(self):
        self._steal0, self._total0 = self._steal()
        self.load_start = os.getloadavg()

    def finish(self) -> dict:
        steal1, total1 = self._steal()
        dt = max(total1 - self._total0, 1)
        return {
            "loadavg_start": list(self.load_start),
            "loadavg_end": list(os.getloadavg()),
            "steal_pct": 100.0 * (steal1 - self._steal0) / dt,
        }
