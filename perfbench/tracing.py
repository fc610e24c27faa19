"""Spans, Spark counters and the statistics the benchmark reports.

Spans are recorded by the benchmark around each call it makes into a
layer's public functions; the program itself is not instrumented. They
stay in memory and are written once, when the run ends. Spark's own
counters come from the status tracker and status store: a traced call
runs under a job group of its own, and the stages of the group's jobs
are summed afterwards, outside the timed region.
"""

from __future__ import annotations

import json
import math
import statistics
import threading
import time
from contextlib import contextmanager

_JOB_GROUP = "spark.jobGroup.id"


class Tracer:
    """In-memory span recorder.

    A span has a name, start, end, parent span and run id, so self time
    (duration minus the part covered by child spans) can be computed. When
    ``enabled`` is false, :meth:`span` records nothing and sets no job
    group, so an untraced run pays neither.
    """

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, sc=None, parent: int | None = None, **attrs):
        """Record ``name`` around the block. The parent is the innermost
        open span of this thread unless ``parent`` names one (a span opened
        by another thread). With a SparkContext ``sc``, the block's jobs
        run under a job group named after the span id, and the span's
        ``group`` attribute names it."""
        if not self.enabled:
            yield {}
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        if parent is None and stack:
            parent = stack[-1]
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": parent, "run": self.run_id, **attrs}
            self.spans.append(rec)
        if sc is not None:
            rec["group"] = f"{self.run_id}:{sid}"
            sc.setJobGroup(rec["group"], name)
        stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if sc is not None:
                sc.setLocalProperty(_JOB_GROUP, None)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and "end" in s]

    def self_times(self) -> dict[int, float]:
        """Span id → duration minus the union of its children's intervals."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            if "end" not in s:
                continue
            covered, last = 0.0, s["start"]
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, last), min(b, s["end"])
                if b > a:
                    covered += b - a
                    last = b
            out[s["id"]] = s["end"] - s["start"] - covered
        return out

    def dump(self, path: str) -> None:
        self_t = self.self_times()
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps({**s, "self": self_t.get(s["id"])}) + "\n")


def dur(span: dict) -> float:
    return span["end"] - span["start"]


# --- Spark counters ----------------------------------------------------------

COUNTER_KEYS = (
    "jobs", "stages", "tasks", "run_ms", "gc_ms", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "input_bytes", "input_rows",
)


def job_ids(sc, groups) -> list[int]:
    tracker = sc.statusTracker()
    return sorted({j for g in groups for j in tracker.getJobIdsForGroup(g)})


def stage_counters(sc, jobs) -> dict[str, int]:
    """Sum the status store's stage metrics over ``jobs``. Skipped stages
    (shuffle output reused) ran no tasks and count as zero."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(COUNTER_KEYS, 0)
    seen: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is None:
            raise RuntimeError(f"job {j} evicted from the status store")
        out["jobs"] += 1
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            attempts = store.stageData(sid, False, None, False, None)
            for i in range(attempts.size()):
                d = attempts.apply(i)
                if str(d.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += d.numCompleteTasks()
                out["run_ms"] += d.executorRunTime()
                out["gc_ms"] += d.jvmGcTime()
                out["shuffle_read_bytes"] += d.shuffleReadBytes()
                out["shuffle_write_bytes"] += d.shuffleWriteBytes()
                out["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
                out["input_bytes"] += d.inputBytes()
                out["input_rows"] += d.inputRecords()
    return out


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the Spark driver JVM, in MB."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


# --- statistics --------------------------------------------------------------

def median(xs) -> float:
    return statistics.median(xs)


def geomean(xs) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def tail(xs, beyond: int = 10) -> tuple[float, float]:
    """(value, percentile rank) of the highest percentile with at least
    ``beyond`` samples above it; the slowest sample when that percentile
    would not reach the median (fewer than ``2 * beyond + 1`` samples)."""
    s = sorted(xs)
    k = len(s) - beyond - 1
    if k < len(s) // 2:
        k = len(s) - 1
    return s[k], 100.0 * k / len(s)
