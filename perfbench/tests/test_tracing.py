"""Span arithmetic and the tracer's job-group bookkeeping."""

from __future__ import annotations

import types

from perfbench.tracing import Span, Tracer, plan_counts, self_times, subtree


def test_self_time_subtracts_union_of_children():
    spans = [
        Span("a", "call", None, 0.0, 10.0),
        Span("b", "x", "a", 1.0, 4.0),
        Span("c", "y", "a", 3.0, 6.0),  # overlaps b: union is [1, 6]
        Span("d", "z", "a", 8.0, 12.0),  # clipped to the parent: [8, 10]
        Span("e", "w", "b", 1.5, 2.0),
    ]
    st = self_times(spans)
    assert st["a"] == 10.0 - 5.0 - 2.0
    assert st["b"] == 3.0 - 0.5
    assert st["c"] == 3.0
    assert st["e"] == 0.5


def test_subtree_collects_descendants_only():
    spans = [Span("a", "call", None, 0, 1), Span("b", "x", "a", 0, 1),
             Span("c", "y", "b", 0, 1), Span("d", "z", None, 0, 1)]
    assert subtree(spans, "a") == {"a", "b", "c"}
    assert subtree(spans, "b") == {"b", "c"}


class FakeSC:
    def __init__(self):
        self.group = None

    def setJobGroup(self, gid, desc):
        self.group = gid

    def setLocalProperty(self, key, value):
        if key == "spark.jobGroup.id":
            self.group = value


def ticking_clock():
    t = iter(range(1000))
    return lambda: float(next(t))


def test_nested_spans_restore_the_parent_job_group():
    sc = FakeSC()
    tr = Tracer(sc, clock=ticking_clock())
    seen = []
    mod = types.SimpleNamespace(inner=lambda: seen.append(sc.group) or "in",
                                outer=lambda: (mod.inner(), seen.append(sc.group)))
    tr.wrap(mod, "inner", "layer.inner")
    tr.wrap(mod, "outer", "layer.outer")
    tr.run_call("c1", mod.outer)
    names = {s.id: s.name for s in tr.spans}
    assert [names[g] for g in seen] == ["layer.inner", "layer.outer"]
    assert sc.group is None
    assert [s.parent for s in tr.spans] == [None, "pb0", "pb1"]
    assert all(s.call == "c1" for s in tr.spans)


def test_lazy_span_keeps_its_group_until_the_next_call():
    sc = FakeSC()
    tr = Tracer(sc, clock=ticking_clock())
    groups = []
    mod = types.SimpleNamespace(lazy=lambda: "frame", eager=lambda: groups.append(sc.group))

    def job():
        mod.lazy()
        groups.append(sc.group)  # the caller acts on the lazy frame here
        mod.eager()

    tr.wrap(mod, "lazy", "layer.lazy", lazy=True)
    tr.wrap(mod, "eager", "layer.eager")
    tr.run_call("c1", job)
    lazy, eager = tr.spans[1], tr.spans[2]
    assert groups == [lazy.id, eager.id]
    assert lazy.end <= eager.start
    assert lazy.parent == eager.parent == tr.spans[0].id


def test_uninstall_restores_originals():
    sc = FakeSC()
    tr = Tracer(sc)
    orig = lambda: 1  # noqa: E731
    mod = types.SimpleNamespace(f=orig)
    tr.wrap(mod, "f", "layer.f")
    assert mod.f is not orig and mod.f() == 1
    tr.uninstall()
    assert mod.f is orig


def test_plan_counts_reads_the_tree_string():
    text = "\n".join([
        "Union",
        ":- Window [count(1) windowspecdefinition(a)], [a]",
        ":  +- Exchange hashpartitioning(a, 4), ENSURE_REQUIREMENTS, [plan_id=1]",
        ":     +- FileScan parquet [a] Location: InMemoryFileIndex(1 paths)[file:/x/turns]",
        "+- BroadcastHashJoin",
        "   :- FileScan parquet [a] Location: InMemoryFileIndex(1 paths)[file:/x/turns]",
        "   +- BroadcastExchange HashedRelationBroadcastMode",
        "      +- FileScan parquet [t] Location: InMemoryFileIndex(1 paths)[file:/x/allowed_tools]",
    ])
    assert plan_counts(text) == {"turns_scans": 2, "exchanges": 1, "broadcasts": 1, "windows": 1}
