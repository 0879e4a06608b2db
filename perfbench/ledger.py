"""Span ledger: per-call wall time plus the Spark work each call launched.

The ledger sits outside the engine. Each public call the benchmark makes is
wrapped in a span; the span tags the jobs it launches with
``SparkContext.setJobGroup`` and, when it closes, reads those jobs and their
stages back from Spark's status store. The status store is a private JVM
API (``SparkContext.statusStore``), so it is probed once and, when missing,
the ledger falls back to the public ``statusTracker`` counts plus wall time
and says so through ``StatusReader.source``.
"""

from __future__ import annotations

import itertools
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

METRIC_NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

# figures every Spark span reports, in output order
SPAN_METRICS = (
    ("wall_s", "s"),
    ("driver_s", "s"),
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("failed_tasks", "count"),
    ("exec_cpu_s", "s"),
    ("exec_run_s", "s"),
    ("shuffle_read_bytes", "bytes"),
    ("shuffle_write_bytes", "bytes"),
    ("rows_out", "count"),
)


def valid_metric_name(name: str) -> bool:
    return METRIC_NAME_RE.fullmatch(name) is not None


def interval_union(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_start = cur_end = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def uncovered_time(start: float, end: float, intervals) -> float:
    """Length of [start, end] not covered by ``intervals`` (clipped to it).

    A span's self time is its wall minus the union of its child spans; its
    driver time is its wall minus the union of its Spark jobs'
    submit->complete intervals."""
    clipped = [(max(s, start), min(e, end)) for s, e in intervals]
    return (end - start) - interval_union(clipped)


def self_time(sp: "Span", spans) -> float:
    """A span's wall minus the part its child spans cover."""
    kids = [(c.start, c.end) for c in spans if c.parent is sp]
    return uncovered_time(sp.start, sp.end, kids)


@dataclass
class Span:
    name: str
    group: str
    parent: "Span | None"
    start: float
    end: float = 0.0
    stats: dict = field(default_factory=dict)
    output: object = None  # DataFrame whose row count becomes rows_out

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class StatusReader:
    """Job and stage figures for one job group, read after the group ran."""

    def __init__(self, sc) -> None:
        self._sc = sc
        self._jsc = sc._jsc.sc()
        try:
            self._store = self._jsc.statusStore()
            self._store.jobsList(None)
            self.source = "statusStore"
        except Exception:  # private API missing or renamed
            self._store = None
            self.source = "statusTracker (fallback: counts and wall only)"

    def wait_idle(self) -> None:
        """Block until the listener bus has delivered every event, so the
        status store has seen the end of every job that has returned."""
        try:
            self._jsc.listenerBus().waitUntilEmpty()
        except Exception:
            time.sleep(0.5)

    def group_stats(self, group: str, start: float, end: float) -> dict:
        job_ids = list(self._sc.statusTracker().getJobIdsForGroup(group))
        if self._store is None:
            return self._tracker_stats(job_ids)
        intervals = []
        out = dict(jobs=len(job_ids), stages=0, tasks=0, failed_tasks=0,
                   exec_cpu_s=0.0, exec_run_s=0.0,
                   shuffle_read_bytes=0, shuffle_write_bytes=0)
        seen = set()
        for jid in job_ids:
            job = self._store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                t1 = done.get().getTime() / 1e3 if done.isDefined() else end
                intervals.append((sub.get().getTime() / 1e3, t1))
            ids = job.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                st = self._store.lastStageAttempt(sid)
                desc = st.description()
                # a stage reused from an earlier span's shuffle shows up in
                # this job's ids but ran (and is counted) under that span
                if str(st.status()) == "SKIPPED" or not (
                    desc.isDefined() and desc.get() == group
                ):
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["failed_tasks"] += st.numFailedTasks()
                out["exec_run_s"] += st.executorRunTime() / 1e3
                out["exec_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["driver_s"] = uncovered_time(start, end, intervals)
        return out

    def _tracker_stats(self, job_ids) -> dict:
        tr = self._sc.statusTracker()
        stages = tasks = failed = 0
        for jid in job_ids:
            info = tr.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                si = tr.getStageInfo(sid)
                if si is not None and si.numCompletedTasks + si.numFailedTasks:
                    stages += 1
                    tasks += si.numTasks
                    failed += si.numFailedTasks
        return dict(jobs=len(job_ids), stages=stages, tasks=tasks,
                    failed_tasks=failed)


class Ledger:
    """Records spans in memory; ``enabled=False`` makes ``span`` hand out a
    throwaway span and record nothing, so untraced timings carry no
    tracing cost."""

    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._sc = spark.sparkContext
        self._reader = StatusReader(self._sc) if enabled else None
        self._stack: list[Span] = []
        self._ids = itertools.count()

    @property
    def source(self) -> str:
        return self._reader.source if self._reader else "off"

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield Span(name, "", None, 0.0)
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, f"{name}#{next(self._ids)}", parent, time.time())
        self._sc.setJobGroup(sp.group, sp.group)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(parent.group, parent.group)
            else:
                self._sc._jsc.sc().clearJobGroup()
            self.spans.append(sp)

    def collect(self) -> None:
        """Fill each span's stats (after the traced op, outside its wall)."""
        self._reader.wait_idle()
        for sp in self.spans:
            if sp.stats:
                continue
            sp.stats = self._reader.group_stats(sp.group, sp.start, sp.end)
            sp.stats["wall_s"] = sp.wall_s
            if sp.output is not None:
                sp.stats["rows_out"] = sp.output.count()


class StoragePoller:
    """Block-manager storage (memory plus disk) an operation's cached and
    checkpointed RDDs take, each counted at its largest size while the
    operation runs (sampled on a thread). This is the operation's peak if
    none of its blocks is released before it ends; blocks of intermediates
    that become unreachable are dropped whenever the JVM happens to
    collect them, so the instantaneous peak would vary with GC timing."""

    def __init__(self, sc, interval_s: float = 0.05) -> None:
        self._jsc = sc._jsc.sc()
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = None
        self._before: set = set()
        self._largest: dict = {}

    def _sample(self) -> None:
        for info in self._jsc.getRDDStorageInfo():
            rid = info.id()
            if rid not in self._before:
                size = info.memSize() + info.diskSize()
                self._largest[rid] = max(self._largest.get(rid, 0), size)

    def __enter__(self) -> "StoragePoller":
        self._before = {info.id() for info in self._jsc.getRDDStorageInfo()}
        self._largest = {}
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self._sample()

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return sum(self._largest.values()) / 1e6
