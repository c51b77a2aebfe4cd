"""BENCHMARK.json agrees with the code, and the per-layer arithmetic."""

from __future__ import annotations

import json
from pathlib import Path

from perfbench import workloads as W
from perfbench.eventlog import GroupStats
from perfbench.metrics import END_TO_END, PER_LAYER, family_ratio, layer_metrics
from perfbench.tracing import Span

BENCH = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())


def test_benchmark_json_lists_what_the_runs_print():
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == PER_LAYER
    # validate_resume stays runnable but is not gated (time budget)
    assert [w["name"] for w in BENCH["workloads"]] == ["validate_full", "transform_text"]
    assert all(w["why"] == W.WORKLOADS[w["name"]].why for w in BENCH["workloads"])
    setup = next(m for m in BENCH["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in BENCH["end_to_end"])


def test_layer_metrics_from_spans_and_groups():
    spans = [
        Span("pb0", "call", None, 0.0, 10.0),
        Span("pb1", "pipeline.validate", "pb0", 0.5, 1.5),
        Span("pb2", "pipeline.materialize", "pb0", 2.0, 6.0),
        Span("pb3", "sinks.write_all", "pb0", 6.0, 8.0),
        Span("pb4", "sinks.write_violations", "pb3", 6.0, 7.0),
        Span("pb5", "ledger.record", "pb0", 8.0, 9.0),
    ]
    groups = {
        "pb2": GroupStats(jobs=3, tasks=8, cpu_ns=8_000_000_000, task_ms=[10, 10, 40]),
        "pb3": GroupStats(jobs=1, tasks=1),
        "pb4": GroupStats(jobs=2, tasks=2),
        "pb5": GroupStats(jobs=1, tasks=1),
        None: GroupStats(jobs=9),  # outside the traced call
    }
    plans = [{"violations": {"counts": {"turns_scans": 14, "exchanges": 26, "broadcasts": 15,
                                        "windows": 3},
                             "phases_ms": {"analysis": 5, "optimization": 700, "planning": 300}},
              "stats": {"counts": {}, "phases_ms": {"analysis": 1, "optimization": 20,
                                                   "planning": 10}}}]
    m = layer_metrics(spans, groups, plans, cores=4)
    assert m["pipeline.build_s"] == 1.0 and m["pipeline.materialize_s"] == 4.0
    assert m["pipeline.cpu_util"] == 8.0 / (4.0 * 4)
    assert m["pipeline.task_skew"] == 4.0
    assert m["pipeline.plan_ms"] == 1036
    assert m["pipeline.turns_scans"] == 14 and m["pipeline.broadcasts"] == 15
    assert m["sinks.s"] == 2.0 and m["sinks.violations_s"] == 1.0 and m["sinks.jobs"] == 3
    assert m["ledger.record_s"] == 1.0 and m["ledger.jobs"] == 1
    assert m["spark.jobs"] == 7 and m["spark.tasks"] == 12
    assert m["trace.call_self_s"] == 10.0 - 1.0 - 4.0 - 2.0 - 1.0
    assert m["transform.write_s"] == 0 and m["functions.arrow_nodes"] == 0
    assert family_ratio(4.0, {"a": 1.0, "b": 3.0}) == 1.0
    assert family_ratio(4.0, {}) == 0.0
