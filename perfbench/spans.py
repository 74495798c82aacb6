"""Tracing for the benchmark's traced run: spans, layer wrappers, Spark's
event log and /proc readings.

Everything here observes the engine from outside. Spans are recorded
around the benchmark's calls into each layer, and around each call into
a layer's public functions by wrapping them at run time; the package's
source is not changed. Spark-side work comes from Spark's own event log
(one plain JSON file), grouped by the job group each span sets.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    id: str
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    request: str | None = None
    group: bool = False


class Recorder:
    """In-memory span recorder. Spans nest per thread; a span opened with
    ``group=True`` also becomes the Spark job group of the jobs started
    inside it, so the event log can be grouped by span id."""

    def __init__(self, spark=None) -> None:
        self.spark = spark
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, request: str | None = None, group: bool = False) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = f"s{next(self._ids)}"
        span = Span(
            sid,
            name,
            time.perf_counter(),
            parent=parent.id if parent else None,
            request=request or (parent.request if parent else None),
            group=group,
        )
        stack.append(span)
        if group and self.spark is not None:
            self.spark.sparkContext.setJobGroup(sid, name)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self._stack()
        stack.pop()
        with self._lock:
            self.spans.append(span)
        if span.group and self.spark is not None:
            outer = next((s for s in reversed(stack) if s.group), None)
            if outer is not None:
                self.spark.sparkContext.setJobGroup(outer.id, outer.name)
            else:
                self.spark.sparkContext._jsc.clearJobGroup()

    @contextlib.contextmanager
    def span(self, name: str, request: str | None = None, group: bool = False):
        s = self.open(name, request, group)
        try:
            yield s
        finally:
            self.close(s)

    # -- analysis -------------------------------------------------------
    def children(self) -> dict[str | None, list[Span]]:
        out: dict[str | None, list[Span]] = defaultdict(list)
        for s in self.spans:
            out[s.parent].append(s)
        return out

    def self_time(self, span: Span, kids: dict | None = None) -> float:
        """Duration minus the part of it covered by child spans."""
        kids = self.children() if kids is None else kids
        covered, reach = 0.0, span.start
        for s, e in sorted((c.start, c.end) for c in kids.get(span.id, [])):
            s, e = max(s, reach), min(e, span.end)  # the part not yet counted
            if e > s:
                covered += e - s
                reach = e
        return (span.end - span.start) - covered

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def descendants(self, root: Span, kids: dict | None = None) -> list[Span]:
        kids = self.children() if kids is None else kids
        out, todo = [], [root.id]
        while todo:
            for c in kids.get(todo.pop(), []):
                out.append(c)
                todo.append(c.id)
        return out

    def dump(self, path: str) -> None:
        kids = self.children()
        with open(path, "w", encoding="utf-8") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(
                    json.dumps(
                        {
                            "id": s.id,
                            "name": s.name,
                            "start": round(s.start, 6),
                            "end": round(s.end, 6),
                            "parent": s.parent,
                            "request": s.request,
                            "self_s": round(self.self_time(s, kids), 6),
                        }
                    )
                    + "\n"
                )


def instrument(target, layer: str, rec: Recorder) -> list:
    """Wrap every public function of a module, or public method of a
    class, so each call records a span named ``<layer>.<name>``.
    Returns undo records for :func:`restore`."""
    undo = []
    for name, attr in list(vars(target).items()):
        if name.startswith("_"):
            continue
        if inspect.isclass(target):
            fn = attr.__func__ if isinstance(attr, (staticmethod, classmethod)) else attr
            if not inspect.isfunction(fn):
                continue
        elif not (inspect.isfunction(attr) and attr.__module__ == target.__name__):
            continue
        else:
            fn = attr
        wrapped = _wrap(fn, f"{layer}.{name}", rec)
        if isinstance(attr, staticmethod):
            wrapped = staticmethod(wrapped)
        elif isinstance(attr, classmethod):
            wrapped = classmethod(wrapped)
        setattr(target, name, wrapped)
        undo.append((target, name, attr))
    return undo


def _wrap(fn, name: str, rec: Recorder):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        span = rec.open(name)
        try:
            return fn(*args, **kwargs)
        finally:
            rec.close(span)

    return wrapper


def restore(undo: list) -> None:
    for target, name, attr in reversed(undo):
        setattr(target, name, attr)


# ---------------------------------------------------------------------------
# Spark event log (spark.eventLog.enabled, compress=false, no rolling)
# ---------------------------------------------------------------------------

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

_SQL_PREFIX = "org.apache.spark.sql.execution.ui."


@dataclass
class Job:
    id: int
    group: str | None
    execution: int | None
    batch: str | None
    query: str | None
    stages: list[int]


@dataclass
class StageTotals:
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    input_records: int = 0
    python_ms: int = 0


@dataclass
class EventLog:
    jobs: list[Job] = field(default_factory=list)
    stages: dict[int, StageTotals] = field(default_factory=dict)
    # SQL metrics posted by the driver: (execution id, metric name) -> sum
    driver_metrics: dict[tuple[int, str], int] = field(default_factory=dict)

    def jobs_of(self, groups) -> list[Job]:
        groups = set(groups)
        return [j for j in self.jobs if j.group in groups]

    def totals(self, jobs) -> StageTotals:
        out = StageTotals()
        seen: set[int] = set()
        for j in jobs:
            for sid in j.stages:
                st = self.stages.get(sid)
                if st is None or sid in seen:
                    continue  # skipped stage (reused shuffle) ran no tasks
                seen.add(sid)
                for k in vars(out):
                    setattr(out, k, getattr(out, k) + getattr(st, k))
        return out

    def stage_count(self, jobs) -> int:
        return len({sid for j in jobs for sid in j.stages if sid in self.stages})

    def driver_metric(self, executions, name: str) -> int:
        executions = set(executions)
        return sum(
            v for (e, n), v in self.driver_metrics.items() if e in executions and n == name
        )


def parse_event_log(path: str) -> EventLog:
    """Read one uncompressed event-log file into jobs, per-stage task
    totals and driver-side SQL metrics. A trailing partial line (the
    file of a running application) is ignored."""
    log = EventLog()
    accum_names: dict[int, str] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            try:
                e = json.loads(line)
            except json.JSONDecodeError:
                continue
            kind = e.get("Event", "")
            if kind == "SparkListenerJobStart":
                p = e.get("Properties") or {}
                ex = p.get("spark.sql.execution.id")
                log.jobs.append(
                    Job(
                        e["Job ID"],
                        p.get("spark.jobGroup.id"),
                        int(ex) if ex is not None else None,
                        p.get("streaming.sql.batchId"),
                        p.get("sql.streaming.queryId"),
                        list(e.get("Stage IDs", [])),
                    )
                )
            elif kind == "SparkListenerTaskEnd":
                st = log.stages.setdefault(e["Stage ID"], StageTotals())
                m = e.get("Task Metrics") or {}
                st.tasks += 1
                st.run_ms += m.get("Executor Run Time", 0)
                st.cpu_ns += m.get("Executor CPU Time", 0)
                st.gc_ms += m.get("JVM GC Time", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                st.spill_bytes += m.get("Disk Bytes Spilled", 0)
                im = m.get("Input Metrics") or {}
                st.input_bytes += im.get("Bytes Read", 0)
                st.input_records += im.get("Records Read", 0)
                for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                    if acc.get("Name") == "time to run Python workers":
                        st.python_ms += int(acc.get("Update") or 0)
            elif kind == _SQL_PREFIX + "SparkListenerSQLExecutionStart":
                _plan_metric_names(e.get("sparkPlanInfo") or {}, accum_names)
            elif kind == _SQL_PREFIX + "SparkListenerSQLAdaptiveExecutionUpdate":
                _plan_metric_names(e.get("sparkPlanInfo") or {}, accum_names)
            elif kind == _SQL_PREFIX + "SparkListenerDriverAccumUpdates":
                ex = e.get("executionId")
                for acc_id, value in e.get("accumUpdates", []):
                    name = accum_names.get(acc_id)
                    if name is not None:
                        key = (ex, name)
                        log.driver_metrics[key] = log.driver_metrics.get(key, 0) + value
    return log


def _plan_metric_names(node: dict, out: dict[int, str]) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in node.get("children", []):
        _plan_metric_names(child, out)


def event_log_file(directory: str) -> str:
    files = [os.path.join(directory, f) for f in os.listdir(directory)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event-log file in {directory}, found {len(files)}")
    return files[0]


# ---------------------------------------------------------------------------
# /proc readings
# ---------------------------------------------------------------------------

def _status_kb(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(pids) -> float:
    """Sum of each process's peak resident set (VmHWM), in MiB."""
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0
