"""Outside-in tracing for the benchmark: spans, Spark event logs, memory.

Nothing here reaches inside the package. :class:`Tracer` replaces public
functions in the package's modules with timing wrappers for the duration of
a traced run (and puts the originals back), the Spark side comes from the
event log and the query execution's phase tracker, and
:class:`PeakRssSampler` polls ``/proc`` for the whole process tree.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

PACKAGE = "data_ingestion_s3_to_parquet_spark"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    children: list[int] = field(default_factory=list)
    jobs: list[tuple[float, float]] = field(default_factory=list)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def seconds(self) -> float:
        return self.end - self.start


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Span recorder. Spans nest by call order on the main thread; calls
    made from other threads (an operator's own branch pool) pass through
    untraced and count toward the span that spawned them."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if threading.current_thread() is not threading.main_thread():
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        sp = Span(name, time.time(), parent=parent)
        self.spans.append(sp)
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    def wrap(self, name: str, fn, after=None):
        """``fn`` timed as span ``name``; ``after(result, args, kwargs)``
        may record counts once it returns."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                result = fn(*args, **kwargs)
            if after is not None:
                after(result, args, kwargs)
            return result

        return wrapper

    def patch(self, original, wrapper) -> None:
        """Bind ``wrapper`` wherever a package module holds ``original``
        (the defining module and every ``from x import name`` copy)."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    self._patched.append((mod, attr, value))
                    setattr(mod, attr, wrapper)

    def unpatch(self) -> None:
        for mod, attr, value in reversed(self._patched):
            setattr(mod, attr, value)
        self._patched.clear()

    def attach_jobs(self, jobs: list[tuple[float, float]]) -> None:
        """Hang each Spark job (epoch start, end) on the deepest span that
        was open when it was submitted."""
        for s, e in jobs:
            best = None
            for i, sp in enumerate(self.spans):
                if sp.start <= s < sp.end and (
                    best is None or self._depth(i) > self._depth(best)
                ):
                    best = i
            if best is not None:
                sp = self.spans[best]
                sp.jobs.append((s, min(e, sp.end)))

    def _depth(self, i: int) -> int:
        d = 0
        while self.spans[i].parent is not None:
            i = self.spans[i].parent
            d += 1
        return d

    def self_times(self, roots: list[int]) -> dict[str, float]:
        """Per-layer self seconds under ``roots``: a span's duration less
        what its child spans cover; Spark job time not covered by a child
        span is the ``spark`` layer's. Sums to the roots' total duration."""
        out: dict[str, float] = defaultdict(float)
        todo = list(roots)
        while todo:
            i = todo.pop()
            sp = self.spans[i]
            kids = [(self.spans[c].start, self.spans[c].end) for c in sp.children]
            covered = _union_seconds(kids)
            spark = _union_seconds(kids + sp.jobs) - covered
            out[sp.layer] += sp.seconds - covered - spark
            out["spark"] += spark
            todo.extend(sp.children)
        return out

    def totals(self, roots: list[int]) -> dict[str, float]:
        """Inclusive seconds per span name under ``roots``."""
        out: dict[str, float] = defaultdict(float)
        todo = list(roots)
        while todo:
            sp = self.spans[todo.pop()]
            out[sp.name] += sp.seconds
            todo.extend(sp.children)
        return out


def catalyst_phases(df) -> dict[str, float]:
    """Analysis / optimization / planning milliseconds from the
    DataFrame's query-execution tracker. Analysis is the one ``df`` paid
    when it was made; a write optimises and plans through its own query
    execution, so the other two come from planning ``df`` once more here,
    a re-plan rather than the write's own figures. Call it outside any
    timed span."""
    out = {}
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    for k in ("analysis", "optimization", "planning"):
        if phases.contains(k):
            p = phases.apply(k)
            out[k] = float(p.endTimeMs() - p.startTimeMs())
    return out


# --- Spark event log -----------------------------------------------------


@dataclass
class SparkRun:
    jobs: list[dict]
    stages: set[int]  # completed stages
    tasks: list[dict]


def read_event_log(log_dir: str) -> SparkRun:
    """Parse every event-log file under ``log_dir`` (uncompressed JSON
    lines, as written with ``spark.eventLog.compress=false``; Spark 4
    rolls them into an ``eventlog_v2_<app>/events_<n>_<app>`` directory)."""
    jobs: dict[int, dict] = {}
    stages: set[int] = set()
    tasks: list[dict] = []
    paths = sorted(
        (int(f.split("_")[1]), os.path.join(d, f))
        for d, _, fs in os.walk(log_dir)
        for f in fs
        if f.startswith("events_")
    )
    for _, path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "stages": ev.get("Stage IDs", []),
                    }
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    stages.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    tasks.append(
                        {
                            "stage": ev["Stage ID"],
                            "failed": ev["Task End Reason"]["Reason"] != "Success",
                            "run_ms": m.get("Executor Run Time", 0),
                            "shuffle_read": rd.get("Remote Bytes Read", 0)
                            + rd.get("Local Bytes Read", 0),
                            "shuffle_write": wr.get("Shuffle Bytes Written", 0),
                            "spill": m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0),
                        }
                    )
    return SparkRun(
        [j for j in jobs.values() if j["end"] is not None], stages, tasks
    )


def spark_totals(run: SparkRun, window: tuple[float, float]) -> dict[str, float]:
    """Job, stage and task totals for jobs submitted inside ``window``."""
    lo, hi = window
    jobs = [j for j in run.jobs if lo <= j["start"] < hi]
    stage_ids = {s for j in jobs for s in j["stages"] if s in run.stages}
    tasks = [t for t in run.tasks if t["stage"] in stage_ids]
    mb = 1024.0 * 1024.0
    return {
        "jobs": float(len(jobs)),
        "stages": float(len(stage_ids)),
        "tasks": float(len(tasks)),
        "task_s": sum(t["run_ms"] for t in tasks) / 1000.0,
        "shuffle_read_mb": sum(t["shuffle_read"] for t in tasks) / mb,
        "shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / mb,
        "spill_mb": sum(t["spill"] for t in tasks) / mb,
        "failed_tasks": float(sum(t["failed"] for t in tasks)),
    }


# --- memory --------------------------------------------------------------


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children[ppid].append(int(entry))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def _tree_rss_bytes(root: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total


class PeakRssSampler:
    """Polls the resident set of this process and all its descendants
    (the JVM and its Python workers) from one thread."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            rss = _tree_rss_bytes(pid)
            with self._lock:
                self.peak = max(self.peak, rss)
            if self._stop.wait(self.interval):
                return

    def reset(self) -> None:
        """Forget the peak seen so far."""
        with self._lock:
            self.peak = 0

    def __enter__(self) -> "PeakRssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024.0 * 1024.0)
