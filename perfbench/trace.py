"""Tracing for the benchmark's traced runs, measured from outside the program.

- :class:`Tracer` keeps spans in memory (workload → request → build /
  action / to_pandas / write / load) and tags each request's Spark jobs
  with a job group named after the request span.
- :func:`parse_event_log` reads a Spark event log and sums job, stage,
  task and executed-plan counters per job group.
- :func:`count_plan` counts operators in one executed plan.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1024 * 1024


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float  # epoch seconds
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder.  ``enabled=False`` keeps the same call
    shape but records nothing and never touches the Spark context."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, job_group: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(len(self.spans), name, self._stack[-1] if self._stack else None, time.time(), attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s.id)
        sc = self.spark.sparkContext
        if job_group:
            sc.setJobGroup(f"span-{s.id}", name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if job_group:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def attach_jobs(self, jobs: dict[str, list["Job"]]) -> None:
        """Add each Spark job as a child of the innermost span, within the
        span that tagged it, whose interval holds the job's start."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        for group, js in jobs.items():
            if not group.startswith("span-"):
                continue
            for j in js:
                parent = int(group[5:])
                while True:
                    inner = [c for c in kids.get(parent, []) if c.start <= j.start <= c.end]
                    if not inner:
                        break
                    parent = inner[0].id
                self.spans.append(Span(len(self.spans), f"spark.job.{j.job_id}", parent, j.start, j.end))

    def self_times(self) -> dict[str, float]:
        """Span name → summed self time (duration minus the union of its
        children's intervals)."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append((s.start, s.end))
        out: dict[str, float] = {}
        for s in self.spans:
            name = "spark.job" if s.name.startswith("spark.job.") else s.name
            covered = union_length(clip(kids.get(s.id, []), s.start, s.end))
            out[name] = out.get(name, 0.0) + max(0.0, s.dur - covered)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                [
                    {"id": s.id, "name": s.name, "parent": s.parent, "start": s.start,
                     "end": s.end, **({"attrs": s.attrs} if s.attrs else {})}
                    for s in self.spans
                ],
                fh,
            )


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# -- event log -----------------------------------------------------------------


@dataclass
class Job:
    job_id: int
    group: str | None
    start: float  # epoch seconds
    end: float
    stages: list[int]


#: per-task counters summed per job group
TASK_FIELDS = (
    "tasks", "failed_tasks", "empty_tasks", "exec_cpu_s", "exec_run_s", "gc_s",
    "sched_delay_s", "input_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
    "result_mb",
)


_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_ADAPTIVE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


def parse_event_log(lines) -> tuple[dict[str, list[Job]], dict[str, dict[str, float]]]:
    """Parse the event-log JSON lines of one Spark application.

    Returns ``(jobs, totals)``: the jobs of each job group (``None`` group →
    key ``""``), and per group the stage count, the task counters of
    :data:`TASK_FIELDS`, ``job_s``, the length of the union of the group's
    job intervals (overlapping jobs count once), and the operator counts of
    :data:`PLAN_FIELDS` summed over the final plans of the SQL executions
    whose jobs ran in the group.
    """
    jobs: dict[int, Job] = {}
    stage_group: dict[int, str] = {}
    stages_done: dict[str, int] = {}
    tasks: dict[str, dict[str, float]] = {}
    plans: dict[int, dict] = {}  # SQL execution id → its latest plan
    exec_group: dict[int, str] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            jid = ev["Job ID"]
            sids = list(ev.get("Stage IDs", []))
            jobs[jid] = Job(jid, group, ev["Submission Time"] / 1000.0, ev["Submission Time"] / 1000.0, sids)
            for sid in sids:
                stage_group[sid] = group
            if props.get("spark.sql.execution.id") is not None:
                exec_group.setdefault(int(props["spark.sql.execution.id"]), group)
        elif kind in (_SQL_START, _SQL_ADAPTIVE):
            plans[ev["executionId"]] = ev["sparkPlanInfo"]
        elif kind == "SparkListenerJobEnd":
            j = jobs.get(ev["Job ID"])
            if j is not None:
                j.end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            g = stage_group.get(sid, "")
            stages_done[g] = stages_done.get(g, 0) + 1
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev.get("Stage ID"), "")
            acc = tasks.setdefault(g, dict.fromkeys(TASK_FIELDS, 0.0))
            info = ev.get("Task Info", {})
            m = ev.get("Task Metrics") or {}
            inp = (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            sread = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            swrite = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            run_ms = m.get("Executor Run Time", 0)
            dur_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            acc["tasks"] += 1
            acc["failed_tasks"] += 1 if info.get("Failed") else 0
            acc["empty_tasks"] += 1 if inp == 0 and sread == 0 else 0
            acc["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            acc["exec_run_s"] += run_ms / 1000.0
            acc["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            acc["sched_delay_s"] += max(
                0,
                dur_ms
                - run_ms
                - m.get("Executor Deserialize Time", 0)
                - m.get("Result Serialization Time", 0)
                - info.get("Getting Result Time", 0),
            ) / 1000.0
            acc["input_mb"] += inp / MB
            acc["shuffle_read_mb"] += sread / MB
            acc["shuffle_write_mb"] += swrite / MB
            acc["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / MB
            acc["result_mb"] += m.get("Result Size", 0) / MB
    by_group: dict[str, list[Job]] = {}
    for j in jobs.values():
        by_group.setdefault(j.group or "", []).append(j)
    plan_by_group: dict[str, dict[str, int]] = {}
    for eid, g in exec_group.items():
        if eid in plans:
            acc = plan_by_group.setdefault(g, dict.fromkeys(PLAN_FIELDS, 0))
            for k, v in count_plan(plans[eid]).items():
                acc[k] += v
    totals: dict[str, dict[str, float]] = {}
    for g in set(by_group) | set(tasks) | set(stages_done):
        t = dict(tasks.get(g) or dict.fromkeys(TASK_FIELDS, 0.0))
        t.update(plan_by_group.get(g) or dict.fromkeys(PLAN_FIELDS, 0))
        js = by_group.get(g, [])
        t["jobs"] = float(len(js))
        t["stages"] = float(stages_done.get(g, 0))
        t["job_s"] = union_length((j.start, j.end) for j in js)
        totals[g] = t
    return by_group, totals


def group_metrics(walls: dict[str, float], totals: dict[str, dict[str, float]]) -> dict[str, float]:
    """Sum the event-log totals of the job groups in ``walls`` (job group →
    wall seconds of the call that tagged it) and add ``driver_gap_s``, the
    part of each call's wall time that no Spark job of its group covered."""
    out = dict.fromkeys(TASK_FIELDS + PLAN_FIELDS + ("jobs", "stages", "job_s"), 0.0)
    gap = 0.0
    for g, wall in walls.items():
        t = totals.get(g, {})
        for k, v in t.items():
            out[k] += v
        gap += max(0.0, wall - t.get("job_s", 0.0))
    out["driver_gap_s"] = gap
    return out


def read_event_logs(log_dir: str) -> list[str]:
    """All event lines under ``log_dir`` (single-file and rolling
    ``eventlog_v2_*/events_*`` layouts; status marker files skipped)."""
    lines: list[str] = []
    for root, _, files in sorted(os.walk(log_dir)):
        for name in sorted(files):
            if name.startswith("appstatus") or name.startswith("."):
                continue
            with open(os.path.join(root, name)) as fh:
                lines.extend(fh)
    return lines


# -- executed plans -------------------------------------------------------------

#: the plan counters summed per job group
PLAN_FIELDS = ("scans", "exchanges", "broadcasts", "python_nodes", "codegen_stages")

_PYTHON_NODES = {
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow", "PythonMapInArrow",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInArrow", "AggregateInPandas", "ArrowAggregatePython", "WindowInPandas",
    "ArrowWindowPython", "ArrowEvalPythonUDTF", "BatchEvalPythonUDTF",
}
#: nodes whose subtree was executed elsewhere (a reused exchange, a cached
#: relation), so it is not counted again
_OPAQUE = {"ReusedExchange", "InMemoryTableScan"}


def count_plan(info: dict) -> dict[str, int]:
    """Operator counts in an executed plan, given as the event log's
    ``sparkPlanInfo`` tree (nodes with ``nodeName`` and ``children``)."""
    out = dict.fromkeys(PLAN_FIELDS, 0)
    stack = [info]
    while stack:
        node = stack.pop()
        name = node.get("nodeName", "")
        if name.startswith("Scan ") or name.startswith("BatchScan"):
            out["scans"] += 1
        elif name == "Exchange":
            out["exchanges"] += 1
        elif name == "BroadcastExchange":
            out["broadcasts"] += 1
        elif name in _PYTHON_NODES:
            out["python_nodes"] += 1
        elif name.startswith("WholeStageCodegen"):
            out["codegen_stages"] += 1
        if name not in _OPAQUE:
            stack.extend(node.get("children", []))
    return out


# -- memory ----------------------------------------------------------------------


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, own and reaped children) of process
    ``root`` and all its live descendants, plus this process's own."""
    tick = os.sysconf("SC_CLK_TCK")
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(d)] = int(f[1])
        ticks[int(d)] = sum(int(x) for x in f[11:15])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += t
    me = os.times()
    return total / tick + me.user + me.system


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB; 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
