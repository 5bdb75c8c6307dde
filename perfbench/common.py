"""Measurement plumbing shared by the workloads: the span tracer, Spark
status-store counters, peak memory, latency statistics and the result
record."""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


class Tracer:
    """Spans kept in memory: (id, parent, name, op, start, end).

    Disabled, ``span`` costs one attribute test.  Spans nest per thread;
    a layer's self time is its span time minus its children's, which
    never overlap because each thread runs its children in sequence."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple[int, int | None, str, int | None, float, float]] = []
        self._local = threading.local()
        self._next = 0
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            self._next += 1
            sid = self._next
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append((sid, parent, name, op, t0, t1))

    def self_seconds(self, ops: set | None = None) -> dict[str, float]:
        """Total self time per span name, over the spans of ``ops`` (all
        spans when None)."""
        child = {}
        for _sid, parent, _n, _op, t0, t1 in self.spans:
            if parent is not None:
                child[parent] = child.get(parent, 0.0) + (t1 - t0)
        out: dict[str, float] = {}
        for sid, _p, name, op, t0, t1 in self.spans:
            if ops is None or op in ops:
                out[name] = out.get(name, 0.0) + (t1 - t0) - child.get(sid, 0.0)
        return out

    def write(self, path: str) -> None:
        import json

        with open(path, "w") as fh:
            for sid, parent, name, op, t0, t1 in self.spans:
                fh.write(json.dumps({"id": sid, "parent": parent, "name": name,
                                     "op": op, "start": t0, "end": t1}) + "\n")


SESSION_FIELDS = (
    "jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


class SparkCounters:
    """Work Spark did inside given wall-clock windows, read from the
    driver's status store (works with ``spark.ui.enabled=false``): the
    jobs and stages submitted inside any window.  Read after the ops, so
    the status listener has caught up with them."""

    def __init__(self, spark):
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._no_quantiles = spark.sparkContext._gateway.new_array(spark._jvm.double, 0)

    def within(self, windows: list[tuple[float, float]]) -> dict[str, float]:
        """Totals over the jobs and stages submitted in ``windows``
        (epoch seconds)."""

        def inside(submitted) -> bool:
            if submitted.isEmpty():
                return False
            t = submitted.get().getTime() / 1000
            return any(a <= t <= b for a, b in windows)

        out = dict.fromkeys(SESSION_FIELDS, 0.0)
        jobs = self._store.jobsList(None).iterator()
        while jobs.hasNext():
            out["jobs"] += inside(jobs.next().submissionTime())
        stages = self._store.stageList(None, False, False, self._no_quantiles, None).iterator()
        while stages.hasNext():
            s = stages.next()
            if s.status().toString() == "SKIPPED" or not inside(s.submissionTime()):
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["executor_run_ms"] += s.executorRunTime()
            out["executor_cpu_ms"] += s.executorCpuTime() / 1e6
            out["gc_ms"] += s.jvmGcTime()
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return out


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python driver."""
    jvm_pid = spark._jvm.ProcessHandle.current().pid()
    return (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")) / 1024.0


def heap_live_mb(spark) -> float:
    """Driver JVM heap still in use after full collections: what the
    program retains (in local mode that includes cached blocks).

    Python proxies keep their JVM objects alive until Python collects
    them, and Spark frees shuffle, broadcast and RDD blocks from a
    cleaner thread once a collection finds their owners unreachable, so
    one collection can leave them behind; collect until the figure
    settles."""
    import gc

    gc.collect()
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    last = float("inf")
    for _ in range(8):
        jvm.System.gc()
        used = bean.getHeapMemoryUsage().getUsed() / 2**20
        if abs(last - used) < 0.01 * used:
            break
        last = used
        time.sleep(0.25)
    return used


def tail(samples: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it, or None below eleven samples."""
    n = len(samples)
    if n < 11:
        return None
    ordered = sorted(samples)
    k = n - 11  # index with exactly ten samples above it
    return 100.0 * (k + 1) / n, ordered[k]


@dataclass
class Run:
    """What one workload run measured; ``metrics`` is name → (value, unit)."""

    attempted: int = 0
    failed: int = 0
    correct: bool = True
    notes: list[str] = field(default_factory=list)
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    op_seconds: list[float] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def check(self, ok: bool, what: str) -> None:
        """Record an output check; a failed one fails the run loudly."""
        if not ok:
            self.correct = False
            self.notes.append(f"CHECK FAILED: {what}")

    def end_to_end(self, setup_s: float, records: int, timed_s: float) -> None:
        """The end-to-end metrics, read once the timed window is over."""
        ops = self.op_seconds
        self.put("setup_s", setup_s, "s")
        self.put("op_p50_s", statistics.median(ops), "s")
        self.put("records_per_s", records / timed_s, "1/s")
        t = tail(ops)
        self.notes.append("op seconds: " + " ".join(f"{s:.2f}" for s in ops))
        self.notes.append(
            f"ops={len(ops)} failed={self.failed}/{self.attempted} "
            + (f"op_tail_s=p{t[0]:.1f}:{t[1]:.4f}" if t else
               "op_tail_s omitted (fewer than 11 ops)")
        )


def op_schedule(ctx, t_start: float):
    """Op numbers of a closed loop with one client: ops run back to back
    until ``ctx.seconds`` have passed, finishing the op in flight.  In
    the traced run odd ops are traced, and the loop also runs until it
    has at least one traced op and ends on a plain one, so every traced
    op sits between plain ops under the same warm-up drift."""
    i = 0
    while True:
        done = time.perf_counter() - t_start >= ctx.seconds and i >= 1
        if done and (not ctx.trace or (i >= 3 and i % 2 == 1)):
            return
        yield i
        i += 1


def env_cpus() -> int:
    return len(os.sched_getaffinity(0))
