"""Measuring helpers: percentiles, spans, layer names, result digests,
process-tree memory and the Spark status REST API.

Nothing here imports the engine or starts Spark, so the unit tests in
``test_measure.py`` run without a session.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import threading
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime, timezone

import pandas as pd

# Percentiles a tail may be reported at, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples (the
    epsilon keeps 99.9% of 10000 at rank 9990, not 9991)."""
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    return sorted(values)[_rank(p, len(values)) - 1]


def tail_percentile(n: int) -> float:
    """The highest ladder percentile that leaves at least ``MIN_BEYOND`` of
    ``n`` samples above its rank; 100 (the maximum) when ``n`` is too small
    for any of them."""
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= MIN_BEYOND:
            return p
    return 100.0


# -- spans -------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b > cur:
            total += b - max(a, cur)
            cur = b
    return total


class Trace:
    """Spans kept in memory, written once at the end; a span's id is its
    index."""

    def __init__(self):
        self.spans: list[Span] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        self.spans.append(Span(name, start, end, parent, attrs))
        return len(self.spans) - 1

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def self_time(self, sid: int) -> float:
        """Span duration minus the part of it that its children cover."""
        s = self.spans[sid]
        kids = [(c.start, c.end) for c in self.children(sid)]
        return s.duration - covered(kids, s.start, s.end)

    def innermost(self, t: float, candidates: list[int], slack: float = 0.0) -> int | None:
        """The shortest candidate span containing time ``t``."""
        best = None
        for sid in candidates:
            s = self.spans[sid]
            if s.start - slack <= t <= s.end + slack and (
                best is None or s.duration < self.spans[best].duration
            ):
                best = sid
        return best

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                rec = {"id": i, "name": s.name, "start": s.start, "end": s.end, "parent": s.parent}
                rec.update(s.attrs)
                f.write(json.dumps(rec) + "\n")


# -- attribution -------------------------------------------------------------

_PKG = "conceptnetwork_spark"


def layer_of_module(dotted: str) -> str | None:
    """Engine layer of a Python module: 'conceptnetwork_spark.operators.graph'
    -> 'graph', 'conceptnetwork_spark.streaming.ops' -> 'streaming.ops',
    'conceptnetwork_spark.catalog' -> 'catalog'. None outside the engine."""
    parts = dotted.split(".")
    if parts[0] != _PKG or len(parts) < 2:
        return None
    return ".".join(parts[2:] if parts[1] == "operators" else parts[1:]) or None


# -- result digests ----------------------------------------------------------


@dataclass(frozen=True)
class Digest:
    rows: int
    columns: tuple[str, ...]
    value_hash: str


def digest_pandas(pdf: pd.DataFrame) -> Digest:
    """Order-insensitive digest of a result: row count, lower-cased column
    names in order, and a hash over the sorted rows, with columns taken in
    name order and each cell normalized by the repository's oracle rule
    (``tests/oracle_utils._norm_cell``: type-tagged, floats rounded to 6
    places, sign of zero kept)."""
    from tests.oracle_utils import _norm_cell  # the checkout's root is on sys.path

    cols = [str(c).lower() for c in pdf.columns]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(repr(tuple(_norm_cell(row[i]) for i in order)) for row in pdf.itertuples(index=False))
    return Digest(len(pdf), tuple(cols), hashlib.sha256("\n".join(rows).encode()).hexdigest())


# -- process-tree memory -----------------------------------------------------


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants, from the parent ids in /proc."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            kids.setdefault(int(stat[stat.rindex(")") + 2 :].split()[1]), []).append(int(d))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(kids.get(pid, ()))
    return tree


def peak_rss_bytes(pid: int) -> int:
    """The kernel's high-water mark of a process's resident set (VmHWM)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024
    return 0


class PeakRss:
    """Peak resident memory of this process tree (this Python process, the
    JVM it launches and Spark's Python workers): the sum of each process's own
    high-water mark, polled so that processes which exit are kept."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.per_pid: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @property
    def peak(self) -> int:
        return sum(self.per_pid.values())

    def poll(self) -> None:
        for pid in process_tree(os.getpid()):
            try:
                self.per_pid[pid] = max(self.per_pid.get(pid, 0), peak_rss_bytes(pid))
            except OSError:
                pass

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.poll()

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.poll()


# -- Spark status REST API ---------------------------------------------------


def api_time(s: str | None) -> float | None:
    """'2026-10-17T03:01:42.123GMT' (status API) or '2026-10-17T03:01:42.123Z'
    (streaming progress) -> epoch seconds."""
    if not s:
        return None
    dt = datetime.strptime(s.removesuffix("GMT").removesuffix("Z"), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


def status_api(ui_url: str, app_id: str, what: str) -> list[dict]:
    with urllib.request.urlopen(f"{ui_url}/api/v1/applications/{app_id}/{what}", timeout=30) as r:
        return json.loads(r.read())


@dataclass
class Job:
    job_id: int
    start: float
    end: float
    stage_ids: list[int]
    group: str | None = None


def fetch_jobs(ui_url: str, app_id: str) -> list[Job]:
    out = []
    for j in status_api(ui_url, app_id, "jobs"):
        start = api_time(j.get("submissionTime"))
        if start is not None:
            end = api_time(j.get("completionTime")) or start
            out.append(Job(j["jobId"], start, end, list(j.get("stageIds", [])), j.get("jobGroup")))
    return out


STAGE_KEYS = {
    "numCompleteTasks": "tasks",
    "numFailedTasks": "tasks_failed",
    "executorRunTime": "executor_run_ms",
    "executorCpuTime": "executor_cpu_ns",
    "jvmGcTime": "gc_ms",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "mem_spill_bytes",
    "diskBytesSpilled": "disk_spill_bytes",
}


def fetch_stages(ui_url: str, app_id: str) -> dict[int, dict]:
    """Stage id -> metrics summed over the attempts that ran (skipped stages
    are left out)."""
    out: dict[int, dict] = {}
    for s in status_api(ui_url, app_id, "stages"):
        if s.get("status") == "SKIPPED":
            continue
        acc = out.setdefault(s["stageId"], dict.fromkeys(STAGE_KEYS.values(), 0))
        for k, v in STAGE_KEYS.items():
            acc[v] += s.get(k, 0) or 0
    return out


# -- physical plans ----------------------------------------------------------

PYTHON_NODE_MARKERS = ("EvalPython", "InPandas", "InArrow", "PythonUDTF", "PythonDataSource", "ArrowWindowPython")


def python_nodes(plan: str) -> int:
    """Python-evaluation operators in a physical-plan string (one per line)."""
    return sum(1 for line in plan.splitlines() if any(m in line for m in PYTHON_NODE_MARKERS))
