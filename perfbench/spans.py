"""Spans, Spark event-log parsing and the layer arithmetic of the traced run.

The benchmark records spans from its own code, around each call into the
engine (construction, physical planning, the action, a stream run).  After
the session stops, the uncompressed Spark event log gives the jobs, stages
and tasks each call caused; they are attached as child spans by job group
(``<workload>:<query>:<phase>``) and, for streams, by the query's run id.
A span's self time is its duration minus the part of it its children cover.
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass, field


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0..100), numpy's default."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def covered(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """Length of ``[start, end]`` covered by the union of ``children``."""
    parts = sorted((max(s, start), min(e, end)) for s, e in children)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in parts:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover."""
    return (end - start) - covered(start, end, children)


def core_idle_s(exec_s: float, cores: int, task_s: float) -> float:
    """Slot time that executor stages held but no task used."""
    return exec_s * cores - task_s


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans kept in memory and written out as JSON lines at the end."""

    def __init__(self):
        self.spans: list[Span] = []

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int:
        self.spans.append(Span(name, start, end, parent, attrs))
        return len(self.spans) - 1

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, "name": s.name, "start": s.start,
                                    "end": s.end, "parent": s.parent, **s.attrs}) + "\n")


# --- event log ---------------------------------------------------------------

@dataclass
class Job:
    job_id: int
    group: str | None
    start: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)
    execution_id: int | None = None


@dataclass
class Stage:
    stage_id: int
    tasks: int = 0
    task_s: float = 0.0
    max_task_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    scan_bytes: int = 0
    scan_rows: int = 0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0


@dataclass
class Execution:
    exec_id: int
    replans: int = 0
    plan: dict | None = None


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of every (uncompressed) log file under ``log_dir``."""
    events = []
    for root, _dirs, files in os.walk(log_dir):
        for fn in sorted(files):
            if fn.endswith((".crc", ".inprogress")) or fn.startswith("appstatus"):
                continue
            with open(os.path.join(root, fn)) as f:
                events.extend(json.loads(line) for line in f if line.strip())
    return events


def _plan_counts(node: dict, acc: dict) -> dict:
    name = node.get("nodeName", "")
    if name == "Exchange" or name.startswith("ShuffleExchange"):
        acc["exchanges"] += 1
    elif name == "BroadcastExchange":
        acc["broadcasts"] += 1
    elif name == "Sort":
        acc["sorts"] += 1
    for child in node.get("children", []):
        _plan_counts(child, acc)
    return acc


def plan_counts(plan: dict | None) -> dict:
    """Shuffle exchanges, sorts and broadcasts in one SparkPlanInfo tree."""
    acc = {"exchanges": 0, "sorts": 0, "broadcasts": 0}
    return _plan_counts(plan, acc) if plan else acc


class EventLog:
    """Jobs, stages and SQL executions of one application's event log."""

    def __init__(self, events: list[dict]):
        self.jobs: dict[int, Job] = {}
        self.stages: dict[int, Stage] = {}
        self.executions: dict[int, Execution] = {}
        for ev in events:
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                eid = props.get("spark.sql.execution.id")
                self.jobs[ev["Job ID"]] = Job(
                    ev["Job ID"], props.get("spark.jobGroup.id"),
                    ev["Submission Time"] / 1000.0,
                    stages=list(ev.get("Stage IDs", [])),
                    execution_id=int(eid) if eid is not None else None,
                )
            elif kind == "SparkListenerJobEnd":
                job = self.jobs.get(ev["Job ID"])
                if job is not None:
                    job.end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                self._task(ev)
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                self.executions[ev["executionId"]] = Execution(
                    ev["executionId"], plan=ev.get("sparkPlanInfo"))
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                ex = self.executions.setdefault(ev["executionId"], Execution(ev["executionId"]))
                ex.replans += 1
                ex.plan = ev.get("sparkPlanInfo")

    def _task(self, ev: dict) -> None:
        m = ev.get("Task Metrics") or {}
        st = self.stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
        run_s = m.get("Executor Run Time", 0) / 1000.0
        st.tasks += 1
        st.task_s += run_s
        st.max_task_s = max(st.max_task_s, run_s)
        st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
        st.gc_s += m.get("JVM GC Time", 0) / 1000.0
        inp = m.get("Input Metrics") or {}
        st.scan_bytes += inp.get("Bytes Read", 0)
        st.scan_rows += inp.get("Records Read", 0)
        sw = m.get("Shuffle Write Metrics") or {}
        st.shuffle_write += sw.get("Shuffle Bytes Written", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        st.spill += m.get("Disk Bytes Spilled", 0)

    def jobs_in(self, groups: set[str]) -> list[Job]:
        return [j for j in self.jobs.values() if j.group in groups]


def job_metrics(log: EventLog, jobs: list[Job]) -> dict:
    """Executor-side totals of ``jobs``: each stage counted once."""
    seen: set[int] = set()
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "task_s": 0.0,
           "max_task_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "scan_bytes": 0,
           "scan_rows": 0, "shuffle_write": 0, "shuffle_read": 0,
           "spill": 0, "exchanges": 0, "sorts": 0,
           "broadcasts": 0, "replans": 0}
    for j in jobs:
        for sid in j.stages:
            st = log.stages.get(sid)
            if st is None or sid in seen or st.tasks == 0:
                continue  # skipped (reused shuffle) or never-run stage
            seen.add(sid)
            out["stages"] += 1
            out["tasks"] += st.tasks
            out["task_s"] += st.task_s
            out["max_task_s"] += st.max_task_s
            out["cpu_s"] += st.cpu_s
            out["gc_s"] += st.gc_s
            out["scan_bytes"] += st.scan_bytes
            out["scan_rows"] += st.scan_rows
            out["shuffle_write"] += st.shuffle_write
            out["shuffle_read"] += st.shuffle_read
            out["spill"] += st.spill
    for eid in {j.execution_id for j in jobs if j.execution_id is not None}:
        ex = log.executions.get(eid)
        if ex is None:
            continue
        out["replans"] += ex.replans
        for k, v in plan_counts(ex.plan).items():
            out[k] += v
    return out
