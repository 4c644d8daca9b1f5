"""Measurement helpers: span tracer, Spark job/task counters, the
Python-worker RSS sampler and the summary statistics.

Spans are recorded from the benchmark's own files around calls into
the program's layers; nothing inside the program is instrumented.
Each span is tagged with a Spark job group, so the jobs and tasks a
layer call launches are counted against that call.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass


def median(xs) -> float:
    return float(statistics.median(xs))


def tail_percentile(xs, beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile with at least ``beyond`` samples above
    it, as (percentile, value, n). With ``beyond`` samples or fewer no
    such percentile exists, and the maximum (the 100th) stands in."""
    xs = sorted(xs)
    n = len(xs)
    if n <= beyond:
        return (100.0, xs[-1], n)
    idx = n - beyond - 1
    return (100.0 * (idx + 1) / n, xs[idx], n)


# ---------------------------------------------------------------------
# Spark counters
# ---------------------------------------------------------------------


@dataclass
class SparkCounts:
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0

    def __iadd__(self, o: "SparkCounts") -> "SparkCounts":
        self.jobs += o.jobs
        self.tasks += o.tasks
        self.failed_tasks += o.failed_tasks
        return self


def group_counts(sc, group: str) -> SparkCounts:
    """Jobs, tasks and failed tasks of one job group, read from the
    status tracker (stages of every job the group launched)."""
    tracker = sc.statusTracker()
    out = SparkCounts()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out.jobs += 1
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is not None:
                out.tasks += st.numTasks
                out.failed_tasks += st.numFailedTasks
    return out


class JobGroups:
    """Hands out job-group names and keeps the group stack, so a
    nested region restores its parent's group on exit."""

    def __init__(self, sc, prefix: str):
        self.sc = sc
        self.prefix = prefix
        self._n = 0
        self._stack: list[str] = []

    @contextlib.contextmanager
    def group(self):
        self._n += 1
        name = f"{self.prefix}-{self._n}"
        self._stack.append(name)
        self.sc.setJobGroup(name, name)
        try:
            yield name
        finally:
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1], self._stack[-1])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def counts(self, name: str) -> SparkCounts:
        return group_counts(self.sc, name)


# ---------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    run_id: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``span`` opens a span (and a Spark job
    group) around a layer call; ``self_times`` subtracts the time
    covered by child spans."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self.groups = JobGroups(sc, f"trace-{run_id}")

    @contextlib.contextmanager
    def span(self, name: str, layer: str, run_id: str | None = None):
        parent = self._open[-1].span_id if self._open else None
        with self.groups.group() as g:
            s = Span(
                len(self.spans), name, layer, run_id or self.run_id,
                parent, time.perf_counter(), group=g,
            )
            self.spans.append(s)
            self._open.append(s)
            try:
                yield s
            finally:
                s.end = time.perf_counter()
                self._open.pop()

    def spark_counts(self, s: Span) -> SparkCounts:
        return self.groups.counts(s.group)

    def self_time(self, s: Span) -> float:
        kids = sum(c.duration for c in self.spans if c.parent == s.span_id)
        return s.duration - kids

    def by_layer(self, run_id: str) -> dict[str, float]:
        """Self time per layer over the spans of one run id."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s.run_id == run_id:
                out[s.layer] = out.get(s.layer, 0.0) + self.self_time(s)
        return out

    def dump(self, path: str) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        rows = [
            {
                "id": s.span_id, "name": s.name, "layer": s.layer,
                "run_id": s.run_id, "parent": s.parent,
                "start": round(s.start - t0, 6), "end": round(s.end - t0, 6),
                "self_s": round(self.self_time(s), 6),
            }
            for s in self.spans
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(rows, f, ensure_ascii=False, indent=0)


@contextlib.contextmanager
def patched(module, name: str, wrap):
    """Temporarily replace ``module.name`` with ``wrap(original)``."""
    orig = getattr(module, name)
    setattr(module, name, wrap(orig))
    try:
        yield
    finally:
        setattr(module, name, orig)


# ---------------------------------------------------------------------
# Python-worker RSS
# ---------------------------------------------------------------------


def _ppid(pid: int) -> int:
    # /proc/<pid>/stat field 4; comm (field 2) may contain spaces but
    # is parenthesised, so split after the closing paren
    with open(f"/proc/{pid}/stat") as f:
        st = f.read()
    return int(st.rsplit(")", 1)[1].split()[1])


def descendants(root: int) -> list[int]:
    """Live processes whose parent chain reaches ``root``."""
    out = []
    for p in glob.glob("/proc/[0-9]*"):
        try:
            pid = int(p.rsplit("/", 1)[1])
            cur = pid
            for _ in range(32):  # bounded walk; init/orphan → 0/1
                if cur <= 1:
                    break
                cur = _ppid(cur)
                if cur == root:
                    out.append(pid)
                    break
        except (OSError, ValueError, IndexError):
            continue
    return out


def py_worker_rss_mb(root: int) -> float:
    """Total RSS (MiB) of the pyspark daemon and workers descended from
    ``root`` — scoped by ancestry, so another session's workers on the
    same machine never count."""
    total_kb = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            if b"pyspark.daemon" not in cmd and b"pyspark.worker" not in cmd:
                continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
                        break
        except (OSError, ValueError):
            continue
    return total_kb / 1024.0


class RssSampler:
    """Background thread sampling the worker RSS; ``peak`` is the
    largest total seen between ``start`` and ``stop``."""

    def __init__(self, root: int, interval: float = 0.25):
        self.root = root
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, py_worker_rss_mb(self.root))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, py_worker_rss_mb(self.root))
        return False


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total
