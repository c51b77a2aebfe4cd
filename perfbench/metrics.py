"""Metric names, units and the per-layer arithmetic of the traced run.

``END_TO_END`` is what an untraced run reports; ``PER_LAYER`` is what a
traced run reports. Both lists must match ``BENCHMARK.json`` (pinned by
``tests/test_metrics.py``).
"""

from __future__ import annotations

from perfbench.eventlog import GroupStats, total
from perfbench.tracing import Span, self_times, subtree

MB = 1e6

END_TO_END = {
    "setup_s": "s",
    "job_cpu_s": "s",
    "warm_cpu_s": "s",
    "written_mb": "MB",
}

# printed by an untraced run beside END_TO_END, not reported as metrics
WALLS = {
    "job_s": "s",
    "warm_job_s": "s",
    "turns_per_s": "turns/s",
}

FAMILIES = (
    "rules.s", "uniqueness.s", "windows.opening_s", "windows.sequence_s",
    "referential.orphan_s", "referential.zero_children_s", "drift.s", "stats.column_stats_s",
)

PER_LAYER = {
    "session.start_s": "s",
    "jobs.cold_s": "s",
    "jobs.warm_s": "s",
    "session.peak_rss_mb": "MB",
    "catalog.read_s": "s",
    "ledger.pending_s": "s",
    "ledger.sketch_s": "s",
    "ledger.record_s": "s",
    "ledger.sketch_record_s": "s",
    "ledger.jobs": "count",
    "pipeline.build_s": "s",
    "pipeline.plan_ms": "ms",
    "pipeline.turns_scans": "count",
    "pipeline.exchanges": "count",
    "pipeline.broadcasts": "count",
    "pipeline.windows": "count",
    "pipeline.materialize_s": "s",
    "pipeline.jobs": "count",
    "pipeline.tasks": "count",
    "pipeline.cpu_s": "s",
    "pipeline.gc_s": "s",
    "pipeline.shuffle_write_mb": "MB",
    "pipeline.spill_mb": "MB",
    "pipeline.input_mb": "MB",
    "pipeline.cpu_util": "ratio",
    "pipeline.task_skew": "ratio",
    "pipeline.shared_ratio": "ratio",
    **{name: "s" for name in FAMILIES},
    "sinks.s": "s",
    "sinks.violations_s": "s",
    "sinks.verdicts_s": "s",
    "sinks.summary_s": "s",
    "sinks.pivot_s": "s",
    "sinks.stats_s": "s",
    "sinks.spc_s": "s",
    "sinks.jobs": "count",
    "sinks.mb": "MB",
    "sinks.files": "count",
    "transform.write_s": "s",
    "transform.cpu_s": "s",
    "transform.output_mb": "MB",
    "transform.files": "count",
    "functions.arrow_nodes": "count",
    "functions.python_rows": "count",
    "functions.python_mb_out": "MB",
    "functions.python_mb_in": "MB",
    "functions.python_run_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.scaling_eff": "ratio",
    "trace.overhead_s": "s",
    "trace.call_self_s": "s",
}

SINK_WRITERS = {
    "sinks.violations_s": "sinks.write_violations",
    "sinks.verdicts_s": "sinks.write_verdicts",
    "sinks.summary_s": "sinks.write_summary_csv",
    "sinks.pivot_s": "sinks.write_pivot_csv",
    "sinks.stats_s": "sinks.write_stats",
    "sinks.spc_s": "sinks.write_spc_csv",
}


def layer_metrics(
    spans: list[Span],
    groups: dict[str | None, GroupStats],
    plans: list[dict],
    cores: int,
) -> dict[str, float]:
    """Per-layer metrics of one traced call from its spans, the event-log
    stats of their job groups, and the plan facts recorded at
    ``materialize``. A layer the call never entered reads 0."""

    def named(name: str) -> list[Span]:
        return [s for s in spans if s.name == name]

    def dur(*names: str) -> float:
        return sum(s.duration for n in names for s in named(n))

    def stats(*names: str) -> GroupStats:
        ids: set[str] = set()
        for n in names:
            for s in named(n):
                ids |= subtree(spans, s.id)
        return total(groups, ids)

    m: dict[str, float] = {}
    m["catalog.read_s"] = dur("catalog.read_table")
    m["ledger.pending_s"] = dur("ledger.pending_partitions")
    m["ledger.sketch_s"] = dur("ledger.hll_partition_sketches")
    m["ledger.record_s"] = dur("ledger.record")
    m["ledger.sketch_record_s"] = dur("ledger.sketch_record")
    m["ledger.jobs"] = stats("ledger.pending_partitions", "ledger.hll_partition_sketches",
                             "ledger.record", "ledger.sketch_record").jobs

    m["pipeline.build_s"] = dur("pipeline.validate")
    m["pipeline.plan_ms"] = sum(
        sum(p[frame]["phases_ms"].values()) for p in plans for frame in ("violations", "stats"))
    for key in ("turns_scans", "exchanges", "broadcasts", "windows"):
        m[f"pipeline.{key}"] = sum(p["violations"]["counts"][key] for p in plans)
    mat_s = dur("pipeline.materialize")
    mat = stats("pipeline.materialize")
    m["pipeline.materialize_s"] = mat_s
    m["pipeline.jobs"] = mat.jobs
    m["pipeline.tasks"] = mat.tasks
    m["pipeline.cpu_s"] = mat.cpu_ns / 1e9
    m["pipeline.gc_s"] = mat.gc_ms / 1e3
    m["pipeline.shuffle_write_mb"] = mat.shuffle_write_bytes / MB
    m["pipeline.spill_mb"] = mat.spill_bytes / MB
    m["pipeline.input_mb"] = mat.input_bytes / MB
    m["pipeline.cpu_util"] = mat.cpu_ns / 1e9 / (mat_s * cores) if mat_s else 0.0
    m["pipeline.task_skew"] = mat.task_skew if mat.tasks else 0.0

    m["sinks.s"] = dur("sinks.write_all")
    for metric, name in SINK_WRITERS.items():
        m[metric] = dur(name)
    m["sinks.jobs"] = stats("sinks.write_all").jobs

    m["transform.write_s"] = dur("catalog.write_table")
    m["transform.cpu_s"] = stats("catalog.write_table").cpu_ns / 1e9

    call = stats("call")
    m["functions.arrow_nodes"] = call.arrow_nodes
    m["functions.python_rows"] = call.python.get("python_rows", 0)
    m["functions.python_mb_out"] = call.python.get("python_bytes_out", 0) / MB
    m["functions.python_mb_in"] = call.python.get("python_bytes_in", 0) / MB
    m["functions.python_run_s"] = call.python.get("python_run_ms", 0) / 1e3
    m["spark.jobs"] = call.jobs
    m["spark.stages"] = len(call.stages)
    m["spark.tasks"] = call.tasks
    m["spark.failed_tasks"] = call.failed_tasks
    m["spark.cpu_s"] = call.cpu_ns / 1e9
    m["spark.gc_s"] = call.gc_ms / 1e3
    m["spark.shuffle_write_mb"] = call.shuffle_write_bytes / MB
    m["spark.spill_mb"] = call.spill_bytes / MB
    selfs = self_times(spans)
    m["trace.call_self_s"] = sum(selfs[s.id] for s in named("call"))
    return m


def family_ratio(materialize_s: float, family_s: dict[str, float]) -> float:
    """``materialize_s`` / Σ family walls: below 1 means the fused
    pipeline shares work the families pay for separately."""
    denom = sum(family_s.values())
    return materialize_s / denom if denom else 0.0
