"""Measurement probes that sit outside the program: spans, streaming progress,
the Spark event log, the stream checkpoint and ``/proc``.

Nothing here reaches inside the program.  Spans wrap the benchmark's own calls
into the program's public functions (and, for the pipeline, the module
attributes ``run_pipeline`` looks up at call time); the engine and task
numbers come from records Spark writes anyway.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import itertools
import json
import os
import statistics
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile ``q`` in [0, 100] (0.0 for no samples)."""
    if not values:
        return 0.0
    v = sorted(values)
    k = (len(v) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# --- spans -------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, trace id).  Disabled, it
    records nothing and ``span`` costs one attribute test."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, trace_id: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": trace_id or (parent["trace"] if parent else None),
            "start": time.time(),
            "end": None,
            **attrs,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, module, attr: str, name: str):
        """Replace ``module.attr`` by a spanned wrapper; returns an undo."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(module, attr, wrapped)
        return lambda: setattr(module, attr, orig)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in sorted(self.spans, key=lambda s: s["start"])
                if s["name"] == name]

    def self_time(self, span: dict) -> float:
        """``span``'s duration minus the time its child spans cover."""
        kids = sum(s["end"] - s["start"] for s in self.spans if s["parent"] == span["id"])
        return span["end"] - span["start"] - kids

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), fh)


# --- streaming progress -----------------------------------------------------


class ProgressLog(StreamingQueryListener):
    """Keeps each micro-batch's ``StreamingQueryProgress`` fields."""

    def __init__(self):
        self.batches: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.batches.append({
            "batch": p.batchId,
            "rows": p.numInputRows,
            "ms": dict(p.durationMs),
        })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def checkpoint_files(checkpoint: str) -> dict[str, int]:
    """File path -> batch id, from the file source's metadata log (plain and
    compacted entries alike)."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    rec = json.loads(line)
                    out[rec["path"]] = int(rec["batchId"])
    return out


# --- Spark event log ----------------------------------------------------------


def read_event_logs(log_dir: str) -> tuple[list[float], list[dict]]:
    """Job submission times (s) and task-end records of every app logged."""
    jobs: list[float] = []
    tasks: list[dict] = []
    for path in glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True):
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line:
                    jobs.append(json.loads(line)["Submission Time"] / 1000.0)
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    m = ev.get("Task Metrics") or {}
                    tasks.append({
                        "end": ev["Task Info"]["Finish Time"] / 1000.0,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "run_s": m.get("Executor Run Time", 0) / 1e3,
                        "gc_s": m.get("JVM GC Time", 0) / 1e3,
                        "shuffle_bytes": (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0),
                        "spill_bytes": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                    })
    return jobs, tasks


def exec_metrics(log_dir: str, windows: list[tuple[float, float]], units: int) -> dict[str, float]:
    """Task totals inside ``windows``, per unit of work (batch, drain or query)."""
    jobs, tasks = read_event_logs(log_dir)

    def inside(t: float) -> bool:
        return any(a <= t <= b for a, b in windows)

    ts = [t for t in tasks if inside(t["end"])]
    n = max(units, 1)
    return {
        "exec.jobs": sum(1 for j in jobs if inside(j)) / n,
        "exec.tasks": len(ts) / n,
        "exec.executor_cpu_s": sum(t["cpu_s"] for t in ts) / n,
        "exec.executor_run_s": sum(t["run_s"] for t in ts) / n,
        "exec.jvm_gc_s": sum(t["gc_s"] for t in ts) / n,
        "exec.shuffle_write_bytes": sum(t["shuffle_bytes"] for t in ts) / n,
        "exec.spill_bytes": sum(t["spill_bytes"] for t in ts) / n,
    }


def jobs_between(log_dir: str, spans: list[tuple[float, float]]) -> int:
    jobs, _ = read_event_logs(log_dir)
    return sum(1 for j in jobs if any(a <= j <= b for a, b in spans))


# --- /proc -------------------------------------------------------------------


def _children(pid: int) -> list[int]:
    """Child pids of every thread of ``pid`` (the JVM forks its Python
    workers from threads other than the main one)."""
    out = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path) as fh:
                out += [int(p) for p in fh.read().split()]
        except OSError:
            pass
    return out


def descendants(pid: int | None = None) -> list[int]:
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in _children(todo.pop()):
            out.append(c)
            todo.append(c)
    return out


def hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` in MiB, 0.0 once it has exited."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def is_java(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip() == "java"
    except OSError:
        return False


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks since boot, from the first line of /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return sum(ticks), ticks[7] if len(ticks) > 7 else 0


def steal_ratio(start: tuple[int, int]) -> float:
    """Share of CPU time since ``start`` that the hypervisor gave to others:
    the host noise behind slow runs, reported so a run can be judged."""
    total, steal = cpu_ticks()
    return (steal - start[1]) / max(total - start[0], 1)

