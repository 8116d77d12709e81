"""Measurement plumbing: spans, process-tree figures, event-log parsing.

Everything here observes the engine from outside: spans wrap the
benchmark's calls into the engine's public functions, the process-tree
figures come from ``/proc``, and the Spark numbers come from the
uncompressed event log the traced run asks the session to write.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """In-memory spans: name, start, end, parent, pass id, attributes.
    A disabled tracer records nothing, so the timed run pays only a
    function call per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_id = 0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "pass": self.pass_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield attrs
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str, timed: bool = False) -> list[float]:
        """Span durations; ``timed`` keeps those inside timed passes."""
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None
                and (s["pass"] or not timed)]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# --- process tree ---------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(d))
    return kids


def _tree(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _cpu_s(pid: int) -> float:
    """CPU seconds of one pid, including its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return 0.0
    return sum(int(x) for x in fields[11:15]) / _CLK_TCK   # u/s + cu/cs


def tree_cpu_s(root: int) -> float:
    return sum(map(_cpu_s, _tree(root)))


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    ``PR_SET_CHILD_SUBREAPER``): a Python worker whose JVM has exited then
    stays in this process's tree, where ``end_tree`` waits for it."""
    import ctypes
    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)


def end_tree(root: int, grace: float = 20.0) -> list[int]:
    """Wait until every descendant of ``root`` (this process) has exited
    and been reaped; SIGKILL whatever is still there after ``grace``
    seconds.  Returns the pids that had to be killed."""
    import signal
    deadline = time.monotonic() + grace
    killed: list[int] = []
    while True:
        while True:   # reap exited children, adopted orphans included
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        left = [p for p in _tree(root) if p != root]
        if not left:
            return killed
        if time.monotonic() > deadline:
            for p in left:
                if p not in killed:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        continue
                    killed.append(p)
        time.sleep(0.02)


def tree_peak_rss(root: int) -> int:
    """Sum over the process tree (driver Python, the JVM and the Python
    workers it forks) of each process's peak resident bytes (VmHWM)."""
    total = 0
    for p in _tree(root):
        try:
            with open(f"/proc/{p}/status") as f:
                total += next(int(line.split()[1]) * 1024 for line in f
                              if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
    return total


# --- Spark event log ------------------------------------------------------

def event_log_conf(log_dir: str) -> dict:
    os.makedirs(log_dir, exist_ok=True)
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false"}


class EventLog:
    """Per-job-group task metrics and per-SQL-execution plan metrics.

    ``groups[g]`` sums the task metrics of every job launched under job
    group ``g``; ``plans[g]`` lists, for each SQL execution in the group,
    the final (post-AQE) plan's nodes with their summed SQL metrics."""

    def __init__(self, log_dir: str):
        files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}")
        self.jobs: dict[str, int] = defaultdict(int)
        self.job_spans: dict[str, list[tuple[float, float]]] = \
            defaultdict(list)
        job_start: dict[int, tuple[str, float]] = {}
        self.groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        self.stage_tasks: dict[str, dict[int, list[float]]] = \
            defaultdict(lambda: defaultdict(list))
        stage_group: dict[int, str] = {}
        exec_group: dict[int, str] = {}
        exec_plan: dict[int, dict] = {}
        accum: dict[int, float] = defaultdict(float)
        with open(files[0]) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"].rsplit(".", 1)[-1]
                if kind == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    self.jobs[g] += 1
                    job_start[e["Job ID"]] = (g, e["Submission Time"] / 1e3)
                    for s in e["Stage IDs"]:
                        stage_group[s] = g
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in job_start:
                        g, t0 = job_start.pop(e["Job ID"])
                        self.job_spans[g].append(
                            (t0, e["Completion Time"] / 1e3))
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(e["Stage ID"])
                    info = e.get("Task Info") or {}
                    for a in info.get("Accumulables", ()):
                        if a.get("Metadata") == "sql":
                            accum[a["ID"]] += float(a["Update"])
                    m = e.get("Task Metrics")
                    if g is None or not m:
                        continue
                    self._add_task(g, e["Stage ID"], m)
                elif kind == "SparkListenerSQLExecutionStart":
                    if e.get("jobGroupId"):
                        exec_group[e["executionId"]] = e["jobGroupId"]
                    exec_plan[e["executionId"]] = e["sparkPlanInfo"]
                elif kind == "SparkListenerSQLAdaptiveExecutionUpdate":
                    exec_plan[e["executionId"]] = e["sparkPlanInfo"]
                elif kind == "SparkListenerDriverAccumUpdates":
                    for aid, v in e["accumUpdates"]:
                        accum[aid] += float(v)
        self.plans: dict[str, list[list[dict]]] = defaultdict(list)
        for ex, plan in sorted(exec_plan.items()):
            g = exec_group.get(ex)
            if g is not None:
                self.plans[g].append(_plan_nodes(plan, accum))

    def _add_task(self, g: str, stage: int, m: dict) -> None:
        t = self.groups[g]
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        t["tasks"] += 1
        t["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        t["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
        t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        t["scan_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        t["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        t["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                    + sr.get("Local Bytes Read", 0))
        t["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                             + m.get("Disk Bytes Spilled", 0))
        t["result_bytes"] += m.get("Result Size", 0)
        self.stage_tasks[g][stage].append(m.get("Executor Run Time", 0) / 1e3)

    def groups_matching(self, pred) -> list[str]:
        return [g for g in set(self.jobs) | set(self.groups) | set(self.plans)
                if pred(g)]

    def total(self, groups: list[str], key: str) -> float:
        if key == "jobs":
            return float(sum(self.jobs.get(g, 0) for g in groups))
        return sum(self.groups[g].get(key, 0.0) for g in groups
                   if g in self.groups)

    def outside_jobs(self, op_walls: dict[str, float]) -> float:
        """Sum over operations of wall time not covered by any of the
        operation's Spark jobs: planning, eager driver work, result
        fetch and conversion to Python objects."""
        total = 0.0
        for g, wall in op_walls.items():
            covered, end = 0.0, float("-inf")
            for a, b in sorted(self.job_spans.get(g, ())):
                a = max(a, end)
                if b > a:
                    covered += b - a
                    end = b
            total += max(wall - covered, 0.0)
        return total

    def node_metric(self, groups: list[str], node: str, metric: str) -> float:
        """Sum of ``metric`` over every plan node named ``node`` (prefix
        match) in the final plans of ``groups``' executions."""
        return sum(n["metrics"].get(metric, 0.0)
                   for g in groups for plan in self.plans.get(g, ())
                   for n in plan if n["name"].startswith(node))

    def task_skew(self, groups: list[str]) -> float:
        """Largest task ÷ median task in the stage with the most task time
        (the pair-producing stage of a dedup leaf)."""
        stages = [ts for g in groups
                  for ts in self.stage_tasks.get(g, {}).values() if ts]
        if not stages:
            return 0.0
        busiest = max(stages, key=sum)
        med = statistics.median(busiest)
        return max(busiest) / med if med > 0 else 0.0


def _plan_nodes(plan: dict, accum: dict[int, float]) -> list[dict]:
    """Flatten a plan tree; a node reused through a query-stage wrapper
    appears once per occurrence, so metrics are keyed by accumulator id
    and each id is counted once."""
    out, seen, todo = [], set(), [plan]
    while todo:
        p = todo.pop()
        metrics = {}
        for m in p.get("metrics", ()):
            aid = m["accumulatorId"]
            if aid in seen:
                continue
            seen.add(aid)
            metrics[m["name"]] = accum.get(aid, 0.0)
        out.append({"name": p["nodeName"], "metrics": metrics})
        todo.extend(p.get("children", ()))
    return out
