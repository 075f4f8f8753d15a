"""In-memory span tracing for the traced benchmark run.

A span is ``(id, name, start, end, parent, run_id, thread, attrs)``.
Spans live in memory and are written once, at exit, as JSON. Spark
work inside a span is attributed in two ways:

- spans opened on the driver's main thread set a Spark **job group**
  (``setJobGroup``), and the group's jobs, tasks and failed tasks are
  read back from ``statusTracker()`` when the span closes;
- jobs submitted from threads that carry no group (the engine submits
  its parallel table writes from a thread pool, and Spark job groups
  are per thread) are attributed by job-id watermark to the innermost
  main-thread span open when they ran.

A layer's **self time** is its span's duration minus the part of that
interval covered by its child spans (:func:`self_times`).

:class:`TracedCatalog` wraps the public, eagerly-executing methods of
``SnapshotCatalog`` with spans, so catalog reads, writes and commits
are timed from outside the program.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

from web_scrapers_python_spark.sources.catalog import SnapshotCatalog


class Tracer:
    """Span recorder; with ``enabled=False`` every span is a no-op, so
    the untraced run shares the traced run's code path."""

    def __init__(self, spark, run_id: str, enabled: bool = True):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0          # time spent in tracer bookkeeping
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[dict] = []
        self._main = threading.main_thread()
        self._last_job = self._max_job_id()

    # -- status tracker -----------------------------------------------------
    def _max_job_id(self) -> int:
        ids = self.sc.statusTracker().getJobIdsForGroup(None)
        return max(ids, default=-1)

    def _job_stats(self, job_ids) -> dict:
        st = self.sc.statusTracker()
        jobs = tasks = failed = 0
        for jid in job_ids:
            info = st.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                s = st.getStageInfo(sid)
                if s is not None:
                    tasks += s.numCompletedTasks
                    failed += s.numFailedTasks
        return {"jobs": jobs, "tasks": tasks, "failed_tasks": failed}

    # -- spans ----------------------------------------------------------------
    def _stack(self) -> list[dict]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _parent(self) -> int | None:
        stack = self._stack()
        if stack:
            return stack[-1]["id"]
        # a pool thread's first span hangs under the main thread's span
        return self._main_stack[-1]["id"] if self._main_stack else None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        t0 = time.perf_counter()
        on_main = threading.current_thread() is self._main
        sp = {"id": next(self._ids), "name": name, "parent": self._parent(),
              "run_id": self.run_id,
              "thread": threading.current_thread().name, "attrs": attrs}
        group = f"{self.run_id}:{sp['id']}"
        if on_main:
            self._flush_ungrouped()
            self.sc.setJobGroup(group, name)
        self._stack().append(sp)
        with self._lock:
            self.overhead_s += time.perf_counter() - t0
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            t1 = time.perf_counter()
            self._stack().pop()
            if on_main:
                self._flush_ungrouped()
                grouped = self.sc.statusTracker().getJobIdsForGroup(group)
                sp["spark"] = self._job_stats(grouped)
                parent = self._main_stack[-1] if self._main_stack else None
                if parent is not None:
                    self.sc.setJobGroup(f"{self.run_id}:{parent['id']}",
                                        parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self.spans.append(sp)
                self.overhead_s += time.perf_counter() - t1

    def _flush_ungrouped(self) -> None:
        """Credit jobs that ran with no group since the last flush to the
        innermost open main-thread span."""
        st = self.sc.statusTracker()
        new = [j for j in st.getJobIdsForGroup(None) if j > self._last_job]
        if not new:
            return
        self._last_job = max(new)
        if self._main_stack:
            target = self._main_stack[-1]
            extra = self._job_stats(new)
            acc = target.setdefault("ungrouped", {"jobs": 0, "tasks": 0,
                                                  "failed_tasks": 0})
            for k, v in extra.items():
                acc[k] += v

    def add_span(self, name: str, start: float, end: float,
                 parent: int | None, **attrs) -> dict:
        """Record a span measured elsewhere (e.g. the engine's own
        per-phase timings)."""
        sp = {"id": next(self._ids), "name": name, "parent": parent,
              "run_id": self.run_id, "thread": "main", "attrs": attrs,
              "start": start, "end": end}
        with self._lock:
            self.spans.append(sp)
        return sp

    def dump(self, path: str, extra: dict) -> None:
        """Write every span, each span name's total self time and
        ``extra`` as one JSON document."""
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, **extra,
                       "overhead_s": self.overhead_s,
                       "self_time_s": self_times(self.spans),
                       "spans": self.spans}, f)


def spark_counts(sp: dict) -> dict:
    """Jobs / tasks / failed tasks of a span: its own group plus the
    ungrouped jobs credited to it."""
    out = {"jobs": 0, "tasks": 0, "failed_tasks": 0}
    for part in (sp.get("spark"), sp.get("ungrouped")):
        for k, v in (part or {}).items():
            out[k] += v
    return out


def _covered(intervals: list[tuple[float, float]]) -> float:
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


def self_times(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name: duration minus the union of its
    children's intervals (clipped to the parent)."""
    kids: dict[int, list[dict]] = {}
    for sp in spans:
        if sp.get("parent") is not None:
            kids.setdefault(sp["parent"], []).append(sp)
    out: dict[str, float] = {}
    for sp in spans:
        s, e = sp["start"], sp["end"]
        cov = _covered([(max(c["start"], s), min(c["end"], e))
                        for c in kids.get(sp["id"], [])
                        if c["end"] > s and c["start"] < e])
        out[sp["name"]] = out.get(sp["name"], 0.0) + (e - s) - cov
    return out


class TracedCatalog(SnapshotCatalog):
    """SnapshotCatalog whose public, eager methods record spans and the
    bytes / files / rows each write commits."""

    def __init__(self, spark, warehouse: str, tracer: Tracer):
        super().__init__(spark, warehouse)
        self.tracer = tracer
        self.written = {"rows": 0, "bytes": 0, "files": 0}

    def _account(self, table: str, snap_id: int) -> None:
        rows = self.snapshot_delta_rowcount(table, snap_id)
        nbytes = files = 0
        for d in self._delta_paths(table, snap_id):
            if os.path.isdir(d):
                for name in os.listdir(d):
                    if name.endswith(".parquet"):
                        files += 1
                        nbytes += os.path.getsize(os.path.join(d, name))
        with self.tracer._lock:
            self.written["rows"] += rows
            self.written["bytes"] += nbytes
            self.written["files"] += files

    def write_snapshot(self, table, df, *args, **kwargs):
        with self.tracer.span("catalog.write", table=table):
            sid = super().write_snapshot(table, df, *args, **kwargs)
        self._account(table, sid)
        return sid

    def overwrite_shards(self, table, df, *args, **kwargs):
        with self.tracer.span("catalog.write", table=table):
            sid = super().overwrite_shards(table, df, *args, **kwargs)
        self._account(table, sid)
        return sid

    def read(self, table, snapshot_id=None):
        with self.tracer.span("catalog.read", table=table):
            return super().read(table, snapshot_id)

    def read_snapshot_delta(self, table, snapshot_id):
        with self.tracer.span("catalog.read", table=table):
            return super().read_snapshot_delta(table, snapshot_id)

    def read_shards(self, table, shards, snapshot_id=None):
        with self.tracer.span("catalog.read", table=table):
            return super().read_shards(table, shards, snapshot_id)

    def commit_round(self, round_no, table_snapshots):
        with self.tracer.span("catalog.commit"):
            return super().commit_round(round_no, table_snapshots)
