"""Spans around calls into the engine, and the Spark event log read back per span.

A span records name, start, end, parent and op id in memory.  While tracing is
on, each span sets the Spark job group to its own id, so every job, stage, task
and SQL-node metric in the event log can be charged to the innermost span that
launched it.  With tracing off, ``span`` does nothing.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from collections import Counter, defaultdict

MS = 1e-3
NS = 1e-9


class Tracer:
    def __init__(self, sc=None):
        self.on = sc is not None
        self.spans: list[dict] = []
        self.op: int | None = None
        self._sc = sc
        self._stack: list[dict] = []
        self._raised: set[int] = set()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        rec = {
            "id": len(self.spans), "name": name, "op": self.op,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(), "end": None, "error": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._sc.setLocalProperty("spark.jobGroup.id", str(rec["id"]))
        try:
            yield
        except BaseException as e:
            # name only the innermost span the exception passed through
            if id(e) not in self._raised:
                self._raised.add(id(e))
                rec["error"] = f"{type(e).__name__}: {e}"[:400]
            raise
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            parent = str(self._stack[-1]["id"]) if self._stack else None
            self._sc.setLocalProperty("spark.jobGroup.id", parent)

    def self_times(self) -> dict[int, float]:
        """span id -> its duration minus the time covered by its children."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        return {
            s["id"]: (s["end"] - s["start"]) - _covered(kids[s["id"]])
            for s in self.spans if s["end"] is not None
        }


def _covered(intervals) -> float:
    total, reach = 0.0, None
    for a, b in sorted(intervals):
        if reach is None or a > reach:
            total += b - a
            reach = b
        elif b > reach:
            total += b - reach
            reach = b
    return total


# ---------------------------------------------------------------- event log

def _roles_of_plan(node: dict, roles: dict, under_arrow: bool = False) -> None:
    """Tags the accumulator ids of the SQL nodes whose metrics the layers use."""
    name = node["nodeName"]
    metrics = {m["name"]: (m["accumulatorId"], m["metricType"]) for m in node.get("metrics", [])}
    kids = node.get("children", [])
    rows = metrics.get("number of output rows")
    if name == "Generate" and rows:
        roles[rows[0]] = ("probe_rows", rows[1])
    elif name == "BroadcastHashJoin" and rows:
        if any(k["nodeName"] == "Generate" for k in kids):
            role = "candidate_rows" if under_arrow else "interior_rows"
            roles[rows[0]] = (role, rows[1])
        elif any(_contains(b, "BroadcastNestedLoopJoin") for b in map(_broadcast_side, kids) if b):
            # build side replicated by a cross join: kNN's grid candidate join
            roles[rows[0]] = ("grid_candidate_rows", rows[1])
    elif name == "BroadcastExchange":
        for metric, role in (("data size", "bcast_bytes"), ("number of output rows", "bcast_rows"),
                             ("time to collect", "bcast_time"), ("time to build", "bcast_time"),
                             ("time to broadcast", "bcast_time")):
            if metric in metrics:
                roles[metrics[metric][0]] = (role, metrics[metric][1])
    elif name in ("MapInArrow", "ArrowEvalPython"):
        prefix = "arrow" if name == "MapInArrow" else "udf"
        for metric, (acc, kind) in metrics.items():
            roles[acc] = (f"{prefix}.{metric}", kind)
        if name == "MapInArrow":
            under_arrow = True
    for k in kids:
        _roles_of_plan(k, roles, under_arrow)


def _broadcast_side(node: dict) -> dict | None:
    """The BroadcastExchange a join child reads, through its stage wrappers."""
    while node["nodeName"] in ("InputAdapter", "BroadcastQueryStage") and node.get("children"):
        node = node["children"][0]
    return node if node["nodeName"] == "BroadcastExchange" else None


def _contains(node: dict, name: str) -> bool:
    return node["nodeName"] == name or any(_contains(k, name) for k in node.get("children", []))


def _in_base_units(value: float, kind: str) -> float:
    return value * {"timing": MS, "nsTiming": NS}.get(kind, 1.0)


class SpanStats:
    """What the event log says one span (or a union of spans) cost."""

    def __init__(self):
        self.jobs = 0
        self.stages = 0
        self.tasks = 0
        self.run_s = 0.0
        self.cpu_s = 0.0
        self.gc_s = 0.0
        self.spill_b = 0
        self.shuffle_write_b = 0
        self.heap_peak_b = 0  # JVM heap in use, peak over the tasks
        self.storage_peak_b = 0  # Spark's on-heap storage memory (broadcasts, caches)
        self.job_intervals: list[tuple[float, float]] = []
        self.stage_task_runs: list[list[float]] = []
        self.roles: Counter = Counter()

    def add(self, other: "SpanStats") -> "SpanStats":
        for k in ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s", "spill_b", "shuffle_write_b"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.heap_peak_b = max(self.heap_peak_b, other.heap_peak_b)
        self.storage_peak_b = max(self.storage_peak_b, other.storage_peak_b)
        self.job_intervals += other.job_intervals
        self.stage_task_runs += other.stage_task_runs
        self.roles.update(other.roles)
        return self

    def jobs_wall_s(self) -> float:
        return _covered(self.job_intervals)

    def skew(self) -> float:
        """max / median task run time in the span's busiest stage."""
        runs = max(self.stage_task_runs, key=sum, default=[])
        med = statistics.median(runs) if runs else 0.0
        return max(runs) / med if med > 0 else 1.0


def read_eventlog(path: str) -> dict[int, SpanStats]:
    """span id (the job group) -> SpanStats, from a plain-text Spark event log."""
    job_group, job_exec, stage_job = {}, {}, {}
    job_times = {}
    stage_tasks = defaultdict(list)
    stage_acc = defaultdict(Counter)
    exec_acc = defaultdict(Counter)
    roles: dict[int, tuple[str, str]] = {}
    completed = set()
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                job_group[jid] = props.get("spark.jobGroup.id")
                if props.get("spark.sql.execution.id") is not None:
                    job_exec[jid] = int(props["spark.sql.execution.id"])
                job_times[jid] = [ev["Submission Time"] * MS, None]
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                job_times[ev["Job ID"]][1] = ev["Completion Time"] * MS
            elif kind == "SparkListenerStageCompleted":
                completed.add(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                m = ev.get("Task Metrics") or {}
                stage_tasks[sid].append((m, ev.get("Task Executor Metrics") or {}))
                for acc in ev["Task Info"].get("Accumulables", []):
                    if acc["ID"] in roles or acc.get("Metadata") == "sql":
                        try:
                            stage_acc[sid][acc["ID"]] += float(acc["Update"])
                        except (KeyError, TypeError, ValueError):
                            pass
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in ev["accumUpdates"]:
                    exec_acc[ev["executionId"]][acc_id] += value
            elif kind.endswith(("SparkListenerSQLExecutionStart",
                                "SparkListenerSQLAdaptiveExecutionUpdate")):
                _roles_of_plan(ev["sparkPlanInfo"], roles)

    def group_of(jid):
        g = job_group.get(jid)
        return int(g) if g is not None and g.isdigit() else None

    out: dict[int, SpanStats] = defaultdict(SpanStats)
    for jid, (start, end) in job_times.items():
        span = group_of(jid)
        if span is not None:
            out[span].jobs += 1
            out[span].job_intervals.append((start, end if end is not None else start))
    for sid, tasks in stage_tasks.items():
        span = group_of(stage_job.get(sid))
        if span is None:
            continue
        st = out[span]
        st.stages += sid in completed
        st.tasks += len(tasks)
        runs = []
        for m, peaks in tasks:
            st.heap_peak_b = max(st.heap_peak_b, peaks.get("JVMHeapMemory", 0))
            st.storage_peak_b = max(st.storage_peak_b, peaks.get("OnHeapStorageMemory", 0))
            run = m.get("Executor Run Time", 0) * MS
            runs.append(run)
            st.run_s += run
            st.cpu_s += m.get("Executor CPU Time", 0) * NS
            st.gc_s += m.get("JVM GC Time", 0) * MS
            st.spill_b += m.get("Disk Bytes Spilled", 0)
            st.shuffle_write_b += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        st.stage_task_runs.append(runs)
        for acc_id, value in stage_acc[sid].items():
            if acc_id in roles:
                role, kind = roles[acc_id]
                st.roles[role] += _in_base_units(value, kind)
    # driver-side SQL metrics (broadcast build and size) belong to the span that
    # ran the first job of their SQL execution
    exec_span = {}
    for jid in sorted(job_exec):
        exec_span.setdefault(job_exec[jid], group_of(jid))
    for ex, accs in exec_acc.items():
        span = exec_span.get(ex)
        if span is None:
            continue
        for acc_id, value in accs.items():
            if acc_id in roles:
                role, kind = roles[acc_id]
                out[span].roles[role] += _in_base_units(value, kind)
    return out
