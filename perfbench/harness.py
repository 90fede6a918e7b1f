"""Measurement plumbing shared by the workloads: spans, Spark work
counters, process-tree memory, warehouse listings and summary statistics.

Everything here observes the program from outside: spans wrap the calls
the benchmark makes into a layer, Spark counters read the job group the
benchmark sets around a call, and storage counters diff file listings.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

# ------------------------------------------------------------------ spans


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Disabled, ``span`` only yields, so the
    untraced run pays one generator per call and records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        if op is None:
            op = parent.op if parent is not None else name
        with self._lock:
            sid = next(self._ids)
        current = Span(sid, name, time.perf_counter(), 0.0,
                       parent.span_id if parent else None, op)
        stack.append(current)
        try:
            yield current
        finally:
            current.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(current)

    def durations(self, name: str) -> list[float]:
        return [s.duration for s in self.spans if s.name == name]

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the part of its interval covered
        by its children (children of one span never overlap here, since
        each span's children run on the thread that opened it)."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] = child_time.get(s.parent, 0.0) + s.duration
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + s.duration - child_time.get(s.span_id, 0.0)
        return out

    def span_cost_s(self, n: int = 20000) -> float:
        """Wall time one recorded span adds, measured on a scratch tracer."""
        scratch = Tracer(enabled=True)
        t0 = time.perf_counter()
        for _ in range(n):
            with scratch.span("x"):
                pass
        return (time.perf_counter() - t0) / n

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


# ------------------------------------------------------- Spark work counts


@dataclass
class SparkWork:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0


class SparkCounters:
    """Counts the Spark jobs, stages and tasks one operation ran, by
    tagging the calling thread with a job group and reading the status
    tracker afterwards. Jobs started on other threads are not counted."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._seq = itertools.count(1)
        self.read_s = 0.0  # time spent reading the tracker: tracing cost

    @contextmanager
    def group(self, label: str):
        gid = f"perfbench-{label}-{next(self._seq)}"
        work = SparkWork()
        self.sc.setJobGroup(gid, label)
        try:
            yield work
        finally:
            t0 = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            tracker = self.sc.statusTracker()
            for jid in tracker.getJobIdsForGroup(gid):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                work.jobs += 1
                for sid in info.stageIds:
                    st = tracker.getStageInfo(sid)
                    if st is not None and st.numCompletedTasks > 0:
                        work.stages += 1
                        work.tasks += st.numCompletedTasks
            self.read_s += time.perf_counter() - t0


# ------------------------------------------------------ process-tree memory


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def running(pids) -> list[int]:
    """The pids that still run (exist and are not zombies)."""
    out = []
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                state = f.read().rsplit(")", 1)[1].split()[0]
        except OSError:
            continue
        if state != "Z":
            out.append(pid)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


class RssSampler:
    """Samples the summed RSS of this process and all its descendants
    (the JVM and the Python workers) on a background thread, and keeps the
    per-program breakdown of the peak sample."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_kb = 0
        self.peak_parts: dict[str, list[int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        rss = {p: _rss_kb(p) for p in [me, *descendants(me)]}
        total = sum(rss.values())
        if total > self.peak_kb:
            self.peak_kb = total
            parts: dict[str, list[int]] = {}
            for pid, kb in rss.items():
                part = parts.setdefault("main" if pid == me else _comm(pid), [0, 0])
                part[0] += 1
                part[1] += kb
            self.peak_parts = parts

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.sample()
        return self.peak_kb / 1024.0

    def describe(self) -> str:
        return ", ".join(
            f"{name} x{n} {kb / 1024:.0f}MB" for name, (n, kb) in sorted(self.peak_parts.items())
        )


# -------------------------------------------------------- storage listings


def data_files(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every parquet data file under root."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            if name.endswith(".parquet") and not name.startswith((".", "_")):
                p = os.path.join(dirpath, name)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


@dataclass
class StorageDiff:
    bytes_written: int
    files_written: int
    buckets_rewritten: int
    files_total: int


def storage_diff(before: dict, after: dict) -> StorageDiff:
    """What one call wrote: new or changed data files, and the distinct
    partition directories (``<table>/<col>=<n>``) they landed in."""
    written = [p for p, meta in after.items() if before.get(p) != meta]
    buckets = {os.path.dirname(p) for p in written if "=" in os.path.basename(os.path.dirname(p))}
    return StorageDiff(
        bytes_written=sum(after[p][0] for p in written),
        files_written=len(written),
        buckets_rewritten=len(buckets),
        files_total=len(after),
    )


def tree_bytes(root: str) -> int:
    return sum(size for size, _ in data_files(root).values())


# ------------------------------------------------------------- statistics


def median(xs) -> float:
    return float(statistics.median(xs))


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile, q in (0, 100]."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return float(s[k])
