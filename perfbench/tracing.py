"""Spans, Spark job groups and the per-layer counters of one benchmark run.

Every call into a public pipeline function is wrapped in a :class:`Tracer`
span.  A span tags the jobs it submits with its own Spark job group, so the
work can be attributed from outside the program in two ways:

* :func:`status_counts` asks the ``statusTracker`` for the jobs, stages and
  tasks of a group (cheap; used in every run);
* :func:`parse_event_log` reads the Spark event log of a traced run and adds
  executor run/CPU/GC time, shuffle and spill bytes, empty tasks and the job
  intervals that :func:`layer_metrics` turns into a driver gap.

Spans are kept in memory and only summarised once the run has ended.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

GROUP_PREFIX = "pb"
_GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    name: str  # "<layer>.<phase>", e.g. "shear.call"
    op: int
    start: float  # epoch seconds
    end: float
    parent: str | None
    group: str | None  # Spark job group of the jobs submitted inside


def group_layer(group: str) -> tuple[int, str] | None:
    """``"pb.3.shear.call.m1"`` -> ``(3, "shear")``."""
    parts = group.split(".")
    if len(parts) < 4 or parts[0] != GROUP_PREFIX:
        return None
    return int(parts[1]), parts[2]


class Tracer:
    """Records spans and sets a job group for each span that runs Spark work.

    ``span`` may be entered from several threads at once (fleet shear); the
    job group is a thread-local Spark property, so each thread sets its own.
    """

    def __init__(self, sc):
        self._sc = sc
        self._lock = threading.Lock()
        self._local = threading.local()
        self.spans: list[Span] = []

    def groups(self, op: int) -> list[str]:
        with self._lock:
            return [s.group for s in self.spans if s.op == op and s.group]

    @contextmanager
    def span(
        self,
        name: str,
        op: int,
        suffix: str = "",
        spark_jobs: bool = True,
        parent: str | None = None,
    ):
        """Time the enclosed block as span ``name``.  ``parent`` defaults to
        the innermost open span of this thread; pass it for a span opened in
        a worker thread on behalf of another thread's span."""
        stack = self._local.__dict__.setdefault("stack", [])
        parent = parent or (stack[-1] if stack else None)
        group = None
        if spark_jobs:
            group = f"{GROUP_PREFIX}.{op}.{name}{suffix}"
            self._sc.setJobGroup(group, group)
        stack.append(name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            stack.pop()
            if spark_jobs:
                self._sc.setLocalProperty(_GROUP_KEY, None)
            with self._lock:
                self.spans.append(Span(name, op, start, end, parent, group))

    def op_spans(self, op: int) -> list[Span]:
        with self._lock:
            return [s for s in self.spans if s.op == op]


def self_time(span: Span, spans: list[Span]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    children = [
        (max(s.start, span.start), min(s.end, span.end))
        for s in spans
        if s.parent == span.name and s.op == span.op
    ]
    return (span.end - span.start) - union_length(children)


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(intervals, windows):
    return [
        (max(s, ws), min(e, we)) for s, e in intervals for ws, we in windows
    ]


# ----------------------------------------------------------- statusTracker


def status_counts(sc, groups: list[str], wait_s: float = 5.0) -> dict[str, dict]:
    """``{layer: {"jobs", "stages", "tasks"}}`` for one op's job groups.

    A stage is counted once, for the first job (lowest id) that lists it and
    only if it ran tasks; skipped stages are not counted.  Waits until the
    status store has seen every job end, since listener events arrive
    asynchronously after an action returns."""
    tracker = sc.statusTracker()
    jobs: list[tuple[int, str]] = []
    for g in groups:
        jobs.extend((j, g) for j in tracker.getJobIdsForGroup(g))
    deadline = time.time() + wait_s
    while time.time() < deadline:
        infos = [tracker.getJobInfo(j) for j, _ in jobs]
        if all(i is not None and i.status != "RUNNING" for i in infos):
            break
        time.sleep(0.05)
    out: dict[str, dict] = {}
    seen: set[int] = set()
    for j, g in sorted(jobs):
        layer = group_layer(g)[1]
        c = out.setdefault(layer, {"jobs": 0, "stages": 0, "tasks": 0})
        c["jobs"] += 1
        info = tracker.getJobInfo(j)
        for sid in sorted(info.stageIds if info else []):
            if sid in seen:
                continue
            st = tracker.getStageInfo(sid)
            ran = (st.numCompletedTasks + st.numFailedTasks) if st else 0
            if ran:
                seen.add(sid)
                c["stages"] += 1
                c["tasks"] += ran
    return out


# ---------------------------------------------------------------- event log


def parse_event_log(path: str) -> dict[str, dict]:
    """Per job group: job intervals and summed task metrics.

    Needs an uncompressed, non-rolling log (``spark.eventLog.compress=false``,
    ``spark.eventLog.rolling.enabled=false``).  Stages and tasks belong to the
    group of the job that submitted the stage."""
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}

    def acc(g: str) -> dict:
        return groups.setdefault(
            g,
            {
                "jobs": [],  # [start_s, end_s]
                "stages": 0,
                "tasks": 0,
                "empty_tasks": 0,
                "executor_run_s": 0.0,
                "executor_cpu_s": 0.0,
                "gc_s": 0.0,
                "shuffle_read_bytes": 0,
                "shuffle_write_bytes": 0,
                "spill_bytes": 0,
            },
        )

    job_idx: dict[int, list] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get(_GROUP_KEY)
                if g and g.startswith(GROUP_PREFIX + "."):
                    iv = [ev["Submission Time"] / 1e3, None]
                    acc(g)["jobs"].append(iv)
                    job_idx[ev["Job ID"]] = iv
            elif kind == "SparkListenerJobEnd":
                iv = job_idx.get(ev["Job ID"])
                if iv is not None:
                    iv[1] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageSubmitted":
                g = (ev.get("Properties") or {}).get(_GROUP_KEY)
                if g and g.startswith(GROUP_PREFIX + "."):
                    stage_group[ev["Stage Info"]["Stage ID"]] = g
            elif kind == "SparkListenerStageCompleted":
                g = stage_group.get(ev["Stage Info"]["Stage ID"])
                if g:
                    acc(g)["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"])
                if not g:
                    continue
                a = acc(g)
                a["tasks"] += 1
                m = ev.get("Task Metrics") or {}
                a["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                a["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                a["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                a["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                a["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                records = (
                    (m.get("Input Metrics") or {}).get("Records Read", 0)
                    + sr.get("Total Records Read", 0)
                    + sw.get("Shuffle Records Written", 0)
                    + (m.get("Output Metrics") or {}).get("Records Written", 0)
                )
                a["empty_tasks"] += records == 0
    return groups


def eventlog_counts(groups: dict[str, dict], op: int) -> dict[str, dict]:
    """The event log's ``{layer: {"jobs", "stages", "tasks"}}`` for one op,
    comparable with :func:`status_counts`."""
    out: dict[str, dict] = {}
    for g, a in groups.items():
        key = group_layer(g)
        if key is None or key[0] != op:
            continue
        c = out.setdefault(key[1], {"jobs": 0, "stages": 0, "tasks": 0})
        c["jobs"] += len(a["jobs"])
        c["stages"] += a["stages"]
        c["tasks"] += a["tasks"]
    return out


def layer_metrics(groups: dict[str, dict], spans: list[Span], op: int, layer: str) -> dict:
    """Event-log metrics of one layer in one op.

    ``driver_gap_s`` is the wall time the layer's spans cover minus the part
    of it covered by the layer's jobs: Python, py4j, planning and scheduling
    while no job of the layer runs."""
    mine = [g for g in groups if group_layer(g) == (op, layer)]
    windows = [
        (s.start, s.end) for s in spans if s.op == op and s.name.split(".")[0] == layer
    ]
    totals = {
        k: sum(groups[g][k] for g in mine)
        for k in (
            "executor_run_s",
            "executor_cpu_s",
            "gc_s",
            "shuffle_read_bytes",
            "shuffle_write_bytes",
            "spill_bytes",
        )
    }
    tasks = sum(groups[g]["tasks"] for g in mine)
    empty = sum(groups[g]["empty_tasks"] for g in mine)
    jobs = [tuple(iv) for g in mine for iv in groups[g]["jobs"] if iv[1] is not None]
    busy = union_length(_clip(jobs, windows))
    totals["driver_gap_s"] = max(0.0, union_length(windows) - busy)
    totals["empty_task_share"] = empty / tasks if tasks else 0.0
    return totals
