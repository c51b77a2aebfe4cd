"""Event log → per-job-group aggregation."""

from __future__ import annotations

from pathlib import Path

from perfbench.eventlog import SQL_START, aggregate, read_events, total

DATA = Path(__file__).parent / "data"


def task_end(stage, launch, finish, cpu_ns=0, gc=0, shuffle=0, spill=0, read=0, ok=True, accs=()):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
        "Task Info": {"Launch Time": launch, "Finish Time": finish, "Failed": not ok,
                      "Accumulables": [{"ID": i, "Update": u} for i, u in accs]},
        "Task Metrics": {"Executor CPU Time": cpu_ns, "Executor Run Time": finish - launch,
                         "JVM GC Time": gc, "Disk Bytes Spilled": spill,
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                         "Input Metrics": {"Bytes Read": read}},
    }


def job_start(job, stages, group=None, execution=None):
    props = {}
    if group is not None:
        props["spark.jobGroup.id"] = group
    if execution is not None:
        props["spark.sql.execution.id"] = str(execution)
    return {"Event": "SparkListenerJobStart", "Job ID": job, "Stage IDs": stages, "Properties": props}


def test_synthetic_log_sums_by_group():
    plan = {"nodeName": "Execute", "metrics": [], "children": [
        {"nodeName": "ArrowEvalPython", "children": [], "metrics": [
            {"name": "data sent to Python workers", "accumulatorId": 7},
            {"name": "number of output rows", "accumulatorId": 8}]}]}
    events = [
        {"Event": SQL_START, "executionId": 3, "sparkPlanInfo": plan},
        job_start(0, [0, 1], group="g1", execution=3),
        task_end(0, 100, 110, cpu_ns=5_000_000, shuffle=1000, accs=[(7, 400), (8, 10)]),
        task_end(1, 110, 150, cpu_ns=7_000_000, gc=3, accs=[(7, 600), (8, 20), (99, 5)]),
        job_start(1, [2], group="g2"),
        task_end(2, 200, 202, spill=50, read=4096),
        task_end(2, 200, 204, ok=False),
        job_start(2, [3]),
        task_end(3, 300, 301),
    ]
    g = aggregate(events)
    assert set(g) == {"g1", "g2", None}
    g1 = g["g1"]
    assert (g1.jobs, g1.tasks, len(g1.stages), g1.failed_tasks) == (1, 2, 2, 0)
    assert g1.cpu_ns == 12_000_000 and g1.gc_ms == 3 and g1.shuffle_write_bytes == 1000
    assert g1.python == {"python_bytes_out": 1000, "python_rows": 30}
    assert g1.arrow_nodes == 1
    assert g1.task_ms == [10, 40]
    g2 = g["g2"]
    assert (g2.jobs, g2.tasks, g2.failed_tasks, g2.spill_bytes, g2.input_bytes) == (1, 2, 1, 50, 4096)
    assert g2.task_skew == 4 / 3
    both = total(g, ["g1", "g2", "absent"])
    assert (both.jobs, both.tasks, len(both.stages)) == (2, 4, 3)
    assert g[None].jobs == 1


def test_recorded_log():
    """A local[2] session run three groups: ``agg`` (a groupBy over 1000
    rows), ``udf`` (a pandas UDF over 100 rows, noop write) and ``bad``
    (a task that raised, retried once)."""
    g = aggregate(read_events(DATA / "eventlog_small"))
    assert g["udf"].arrow_nodes == 1
    assert g["udf"].python["python_rows"] == 100
    assert g["udf"].python["python_bytes_out"] > 0 and g["udf"].python["python_bytes_in"] > 0
    assert g["agg"].arrow_nodes == 0 and not g["agg"].python
    assert g["agg"].shuffle_write_bytes > 0
    assert g["agg"].jobs >= 1 and g["agg"].tasks >= 2
    assert g["bad"].failed_tasks >= 1
    assert all(s.cpu_ns > 0 for k, s in g.items() if k in ("agg", "udf"))
