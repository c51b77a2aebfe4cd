"""Spark event log → task metrics per job group.

The session writes an uncompressed JSON-lines event log
(``spark.eventLog.enabled``, ``spark.eventLog.compress=false``). Each job
carries the job group of the span that launched it, so summing task
metrics by job group gives each span's own Spark work. Python UDF
metrics are SQL metrics of ``ArrowEvalPython`` plan nodes: their
accumulator ids come from the SQL execution events, their values from the
task-end accumulator updates.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field
from pathlib import Path

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_ADAPTIVE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
PYTHON_NODE = "ArrowEvalPython"
PYTHON_METRICS = {
    "data sent to Python workers": "python_bytes_out",
    "data returned from Python workers": "python_bytes_in",
    "number of output rows": "python_rows",
    "time to run Python workers": "python_run_ms",
}


@dataclass
class GroupStats:
    jobs: int = 0
    stages: set = field(default_factory=set)
    tasks: int = 0
    failed_tasks: int = 0
    cpu_ns: int = 0
    run_ms: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    task_ms: list = field(default_factory=list)
    python: dict = field(default_factory=dict)
    arrow_nodes: int = 0

    def add(self, other: "GroupStats") -> "GroupStats":
        out = GroupStats()
        for name in ("jobs", "tasks", "failed_tasks", "cpu_ns", "run_ms", "gc_ms",
                     "shuffle_write_bytes", "spill_bytes", "input_bytes", "arrow_nodes"):
            setattr(out, name, getattr(self, name) + getattr(other, name))
        out.stages = self.stages | other.stages
        out.task_ms = self.task_ms + other.task_ms
        out.python = {k: self.python.get(k, 0) + other.python.get(k, 0)
                      for k in set(self.python) | set(other.python)}
        return out

    @property
    def task_skew(self) -> float:
        """Longest task / median task (1.0 when there are no tasks)."""
        if not self.task_ms:
            return 1.0
        return max(self.task_ms) / max(statistics.median(self.task_ms), 1)


def read_events(log_dir: Path):
    """Events of every event log file under ``log_dir``, in file order
    (rolling logs: ``events_<n>_<app>`` sorted by n)."""
    files = [p for p in Path(log_dir).rglob("*") if p.is_file() and not p.name.startswith(("appstatus", "."))]

    def index(p: Path) -> tuple:
        parts = p.name.split("_")
        return (str(p.parent), int(parts[1]) if len(parts) > 2 and parts[1].isdigit() else 0)

    for p in sorted(files, key=index):
        with open(p) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _walk(node: dict):
    yield node
    for child in node.get("children", []):
        yield from _walk(child)


def aggregate(events) -> dict[str | None, GroupStats]:
    """Job group id (None for jobs outside any group) → its task metrics."""
    groups: dict[str | None, GroupStats] = {}
    stage_group: dict[int, str | None] = {}
    exec_group: dict[str, str | None] = {}
    exec_plan: dict[str, dict] = {}
    acc_metric: dict[int, str] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            g = props.get("spark.jobGroup.id")
            groups.setdefault(g, GroupStats()).jobs += 1
            for sid in e.get("Stage IDs", []):
                stage_group[sid] = g
            ex = props.get("spark.sql.execution.id")
            if ex is not None:
                exec_group.setdefault(str(ex), g)
        elif kind in (SQL_START, SQL_ADAPTIVE):
            plan = e["sparkPlanInfo"]
            exec_plan[str(e["executionId"])] = plan
            for node in _walk(plan):
                if node["nodeName"].startswith(PYTHON_NODE):
                    for m in node.get("metrics", []):
                        if m["name"] in PYTHON_METRICS:
                            acc_metric[m["accumulatorId"]] = PYTHON_METRICS[m["name"]]
        elif kind == "SparkListenerTaskEnd":
            g = groups.setdefault(stage_group.get(e["Stage ID"]), GroupStats())
            info = e.get("Task Info", {})
            g.tasks += 1
            g.stages.add(e["Stage ID"])
            if info.get("Failed") or e.get("Task End Reason", {}).get("Reason") != "Success":
                g.failed_tasks += 1
            if info.get("Finish Time") and info.get("Launch Time"):
                g.task_ms.append(info["Finish Time"] - info["Launch Time"])
            for acc in info.get("Accumulables", []):
                name = acc_metric.get(acc.get("ID"))
                if name is not None:
                    g.python[name] = g.python.get(name, 0) + int(acc.get("Update", 0))
            m = e.get("Task Metrics") or {}
            g.cpu_ns += m.get("Executor CPU Time", 0)
            g.run_ms += m.get("Executor Run Time", 0)
            g.gc_ms += m.get("JVM GC Time", 0)
            g.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            g.spill_bytes += m.get("Disk Bytes Spilled", 0)
            g.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
    for ex, plan in exec_plan.items():
        if ex in exec_group:
            n = sum(node["nodeName"].startswith(PYTHON_NODE) for node in _walk(plan))
            groups.setdefault(exec_group[ex], GroupStats()).arrow_nodes += n
    return groups


def total(groups: dict[str | None, GroupStats], ids) -> GroupStats:
    """Sum of the stats of the given job groups."""
    out = GroupStats()
    for g in ids:
        if g in groups:
            out = out.add(groups[g])
    return out
