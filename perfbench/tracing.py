"""Spans around the engine's layer entry points, recorded from the
benchmark's own code.

``Tracer.install()`` replaces layer functions by module attribute (the
jobs import them inside ``run()``, so the replacement is what they call),
and ``uninstall()`` puts the originals back. Each span sets the Spark job
group to its id, so the event log attributes every Spark job to the
innermost open span. Spans stay in memory until the run writes them out.

A layer function that returns a lazy DataFrame (``lazy=True``) has its
Spark jobs run when the caller acts on the frame, after the function
returned. Its span therefore stays open, and keeps its job group, until
the next traced call starts or the traced job ends.
"""

from __future__ import annotations

import functools
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float
    end: float | None = None
    call: str | None = None

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[str, float]:
    """Span id → its duration minus the part of its interval covered by
    its children (the union of their intervals, clipped to the span)."""
    children: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = s.duration - covered
    return out


def subtree(spans: list[Span], root_id: str) -> set[str]:
    """Ids of ``root_id`` and all its descendants."""
    kids: dict[str, list[str]] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s.id)
    out, todo = set(), [root_id]
    while todo:
        sid = todo.pop()
        out.add(sid)
        todo.extend(kids.get(sid, []))
    return out


class Tracer:
    """Records spans and tags Spark jobs with the innermost span's id."""

    def __init__(self, sc, clock=time.perf_counter):
        self.sc = sc
        self.clock = clock
        self.spans: list[Span] = []
        self.plans: list[dict] = []  # plan facts of frames entering materialize
        self._stack: list[Span] = []
        self._lazy: Span | None = None
        self._undo: list[tuple[object, str, object]] = []
        self.call: str | None = None

    # ---- spans
    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.id, span.name)

    def _close_lazy(self) -> None:
        if self._lazy is not None:
            self._lazy.end = self.clock()
            self._lazy = None
            self._set_group(self._stack[-1] if self._stack else None)

    def open(self, name: str) -> Span:
        self._close_lazy()
        parent = self._stack[-1].id if self._stack else None
        span = Span(f"pb{len(self.spans)}", name, parent, self.clock(), call=self.call)
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span)
        return span

    def close(self, span: Span, lazy: bool = False) -> None:
        self._close_lazy()
        self._stack.remove(span)
        if lazy:
            self._lazy = span  # keeps its job group until the next call
        else:
            span.end = self.clock()
            self._set_group(self._stack[-1] if self._stack else None)

    def run_call(self, call_id: str, fn, *args, **kwargs):
        """Run one job call under a root span named ``call``."""
        self.call = call_id
        span = self.open("call")
        try:
            return fn(*args, **kwargs)
        finally:
            self.close(span)
            self.call = None

    # ---- wrapping
    def wrap(self, owner, attr: str, name: str, lazy: bool = False, before=None, after=None) -> None:
        """Replace ``owner.attr`` by a traced version. ``before(args)`` runs
        inside the span ahead of the call; its result goes to
        ``after(args, result)``, which runs once the span is closed."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            span = self.open(name)
            try:
                state = before(args) if before is not None else None
                out = orig(*args, **kwargs)
            except BaseException:
                self.close(span)
                raise
            self.close(span, lazy=lazy)
            if after is not None:
                after(args, state)
            return out

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        from sgb_data_validator_spark.operators import stats
        from sgb_data_validator_spark.plans import pipeline
        from sgb_data_validator_spark.sources import catalog, ledger, sinks

        self.wrap(pipeline, "validate", "pipeline.validate")
        self.wrap(pipeline, "materialize", "pipeline.materialize",
                  before=self._plan_text, after=self._record_plans)
        for attr in ("write_all", "write_violations", "write_verdicts", "write_summary_csv",
                     "write_pivot_csv", "write_stats", "write_spc_csv"):
            self.wrap(sinks, attr, f"sinks.{attr}")
        for attr in ("read", "latest", "record"):
            self.wrap(ledger.Ledger, attr, f"ledger.{attr}")
        self.wrap(ledger.Ledger, "pending_partitions", "ledger.pending_partitions", lazy=True)
        self.wrap(ledger.SketchStore, "record", "ledger.sketch_record")
        self.wrap(catalog, "read_table", "catalog.read_table")
        self.wrap(catalog, "write_table", "catalog.write_table")
        self.wrap(stats, "hll_partition_sketches", "ledger.hll_partition_sketches", lazy=True)

    def uninstall(self) -> None:
        self._close_lazy()
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    @staticmethod
    def _plan_text(args) -> str:
        """The violations frame's initial physical plan. Planning it here
        is work ``materialize`` would do next: its checkpoint runs the
        same QueryExecution. Only the tree string is extra."""
        return args[0].violations._jdf.queryExecution().executedPlan().toString()

    def _record_plans(self, args, violations_plan: str) -> None:
        """Plan facts of the frames that entered ``materialize``. The phase
        times are read after it ran, so they are the ones its checkpoints
        paid."""
        result = args[0]
        self.plans.append({
            "violations": {"counts": plan_counts(violations_plan),
                           "phases_ms": phase_ms(result.violations)},
            "stats": {"phases_ms": phase_ms(result.stats)},
        })

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


PHASES = ("analysis", "optimization", "planning")


def phase_ms(df) -> dict[str, int]:
    """Analysis, optimization and planning time of a DataFrame's
    QueryExecution."""
    phases = df._jdf.queryExecution().tracker().phases()
    ms = {}
    for ph in PHASES:
        opt = phases.get(ph)
        ms[ph] = int(opt.get().durationMs()) if opt.isDefined() else 0
    return ms


def plan_counts(text: str) -> dict[str, int]:
    """Node counts in a physical plan's tree string. Before execution an
    adaptive plan prints its initial plan, with every exchange in place."""
    lines = text.splitlines()
    return {
        "turns_scans": sum("FileScan" in ln and "/turns]" in ln for ln in lines),
        "exchanges": sum("Exchange hashpartitioning" in ln for ln in lines),
        "broadcasts": sum("BroadcastExchange" in ln for ln in lines),
        "windows": sum(ln.lstrip(" :+-").startswith("Window [") for ln in lines),
    }
