"""Spans, Spark-job attribution and process-tree memory for the benchmark.

Spans are recorded by the benchmark's own code around each call into an
engine layer; the engine itself is not instrumented.  Every run records
one *op* span per timed operation (the end-to-end timings come from
these).  A traced run also records one *layer* span per call inside an
op, tags the Spark jobs each call starts with a job group naming the
span, and reads the Spark event log after the session stops.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from pathlib import Path

#: the engine modules whose public calls are wrapped in layer spans
LAYERS = (
    "index_build",
    "vtokenize",
    "queryparser",
    "search",
    "engine",
    "incremental",
    "index_append",
    "catalog",
)
#: the layers that start Spark jobs
SPARK_LAYERS = ("index_build", "search", "engine", "incremental", "index_append")
GROUP_PREFIX = "perfbench-"


class Tracer:
    def __init__(self, traced: bool):
        self.traced = traced
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        # one stack of open spans per client thread; Spark job groups are
        # thread-local too (pinned thread mode)
        self._local = threading.local()
        self.sc = None  # set once the SparkContext exists (traced runs)

    @property
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _open(self, name: str, kind: str, extra: dict | None) -> dict:
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "kind": kind,
            "parent": parent,
            "op": self.spans[parent]["op"] if parent is not None else None,
            "start": time.time(),
            "end": None,
            **(extra or {}),
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        if kind == "op":
            rec["op"] = rec["id"]
        self._stack.append(rec["id"])
        if self.sc is not None:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{rec['id']}", name)
        return rec

    def _close(self, rec: dict) -> None:
        rec["end"] = time.time()
        self._stack.pop()
        if self.sc is not None:
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self.sc.setJobGroup(f"{GROUP_PREFIX}{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def op(self, name: str, **extra):
        """One timed operation (a request, a batch, a reindex phase);
        recorded in every run."""
        rec = self._open(name, "op", extra)
        try:
            yield rec
        finally:
            self._close(rec)

    @contextmanager
    def span(self, name: str, **extra):
        """One call into a layer (``<layer>.<call>``); traced runs only."""
        if not self.traced:
            yield {}
            return
        rec = self._open(name, "layer", extra)
        try:
            yield rec
        finally:
            self._close(rec)

    def ops(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["kind"] == "op" and s["name"] == name]

    def dump(self, path: Path) -> None:
        """One JSON line per span, with its Spark job and task counts."""
        with open(path, "w") as f:
            for s in self.spans:
                rec = {k: v for k, v in s.items() if k not in ("jobs", "manifest")}
                rec.update(jobs=len(s.get("jobs", ())), tasks=len(span_tasks(s)))
                f.write(json.dumps(rec, default=str) + "\n")


def duration(s: dict) -> float:
    return s["end"] - s["start"]


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default


def tail(values) -> dict:
    """Median plus the highest of p99/p95/p90/p75 that still has at least
    ten samples beyond it, with the sample count."""
    v = sorted(values)
    out = {"n": len(v), "p50": median(v)}
    for p in (99, 95, 90, 75):
        if len(v) * (100 - p) / 100 >= 10:
            out[f"p{p}"] = v[min(len(v) - 1, int(len(v) * p / 100))]
            break
    return out


# -- Spark event log ---------------------------------------------------------


def read_event_log(log_dir: Path) -> list[dict]:
    """Jobs from the event log: submit time, group, and per-task metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    files = sorted(p for p in log_dir.rglob("*") if p.is_file() and p.name.startswith("events_"))
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "id": jid,
                        "submit": ev["Submission Time"] / 1000.0,
                        "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                        "tasks": [],
                    }
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if jid is None or not m:
                        continue
                    info = ev["Task Info"]
                    sr = m.get("Shuffle Read Metrics", {})
                    jobs[jid]["tasks"].append(
                        {
                            "dur": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                            "run": m.get("Executor Run Time", 0) / 1000.0,
                            "cpu": m.get("Executor CPU Time", 0) / 1e9,
                            "gc": m.get("JVM GC Time", 0) / 1000.0,
                            "input_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
                            "input_records": m.get("Input Metrics", {}).get("Records Read", 0),
                            "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                            "shuffle_write": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                            "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        }
                    )
    return list(jobs.values())


def attribute_jobs(spans: list[dict], jobs: list[dict]) -> None:
    """Attach each job to a span: by its job group when it carries one,
    else (jobs started on the engine's own threads lose the group) to the
    innermost span open at its submit time.  Jobs outside every span
    (set-up, correctness gate) stay unattributed."""
    for s in spans:
        s["jobs"] = []
    for job in jobs:
        sid = None
        group = job["group"] or ""
        if group.startswith(GROUP_PREFIX):
            sid = int(group[len(GROUP_PREFIX):])
        else:
            inside = [
                s for s in spans
                if s["end"] is not None and s["start"] <= job["submit"] <= s["end"]
            ]
            if inside:
                sid = max(inside, key=lambda s: s["start"])["id"]
        if sid is not None:
            spans[sid]["jobs"].append(job)


def span_tasks(s: dict) -> list[dict]:
    return [t for j in s.get("jobs", ()) for t in j["tasks"]]


def task_skew(tasks: list[dict]) -> float:
    """Slowest task over the median task (1.0 = perfectly even)."""
    durs = [t["dur"] for t in tasks]
    med = median(durs)
    return max(durs) / med if durs and med > 0 else 0.0


def self_time(spans: list[dict], s: dict) -> float:
    kids = [c for c in spans if c["parent"] == s["id"]]
    return duration(s) - sum(duration(c) for c in kids)


# -- host and process-tree state -------------------------------------------------


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, ValueError, IndexError):
            pass
    return total


class PeakRss(threading.Thread):
    """Samples the RSS of this process and all its descendants (driver
    JVM, Python workers) and keeps the peak."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_event = threading.Event()

    def run(self) -> None:
        root = os.getpid()
        while not self._stop_event.is_set():
            self.peak = max(self.peak, tree_rss_bytes(root))
            self._stop_event.wait(self.interval)

    def stop(self) -> int:
        self._stop_event.set()
        self.join()
        return self.peak


def cpu_times() -> list[int]:
    """Host CPU jiffies: user nice system idle iowait irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(start: list[int], end: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    d = [b - a for a, b in zip(start, end)]
    return d[7] / sum(d) if sum(d) else 0.0


def membw_gbps(seconds: float = 0.3) -> float:
    """Single-thread memcpy bandwidth over 64 MB buffers (window health)."""
    import numpy as np

    a = np.ones(1 << 26, dtype=np.uint8)
    b = np.empty_like(a)
    np.copyto(b, a)
    n, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        np.copyto(b, a)
        n += 1
    return 2 * n * a.nbytes / (time.perf_counter() - t0) / 1e9
