"""The assembled validation pipeline over a transcript table.

Mirrors the reference's run lifecycle (validate.py:764-802 →
print_report/save_report/export_validation_csv) as a handful of
DataFrames:

  validate(tables) → ValidationResult(violations, verdicts, stats, drift)

* ``violations``: canonical rows (rule_id, conv_id, turn_idx, column,
  offending_value, severity, part) — analog of DataValidationError /
  Warning (validate.py:37-61).
* ``verdicts``: per-partition (part, status, error_count, warning_count)
  — analog of the per-item-set pass/fail (validate.py:1191-1192: exit 1
  iff any errors → status FAILED iff any error-severity violation).
* exit-code contract: ``ValidationResult.passed`` is False iff any
  error exists anywhere (driver-side small collect of verdicts).

Scale notes: the default violations plan reads the fact table 9 times
(pinned by tests/test_windows_stats_drift.py): once for each family and
each referential check, twice for the sequence rules (window pass plus
chunk-boundary carry). Spark caches nothing by default here — callers
validating the same partition set repeatedly should persist the pruned
scan. All dimension joins are broadcast.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sgb_data_validator_spark.operators import drift as drift_ops
from sgb_data_validator_spark.operators import rules as R
from sgb_data_validator_spark.operators.referential import (
    manifest_reconcile,
    orphan_violations,
    zero_children_violations,
)
from sgb_data_validator_spark.operators.stats import ColumnSpec, column_stats, stats_digest
from sgb_data_validator_spark.operators.uniqueness import uniqueness_violations
from sgb_data_validator_spark.operators.windows import (
    opening_role_violations,
    sequence_violations,
)
from sgb_data_validator_spark.sources.generator import ROLES


@dataclass
class TranscriptTables:
    turns: DataFrame
    conversations: DataFrame | None = None
    allowed_tools: DataFrame | None = None
    baseline_stats: DataFrame | None = None


@dataclass
class ValidationResult:
    violations: DataFrame
    verdicts: DataFrame
    stats: DataFrame
    _passed: bool | None = field(default=None, repr=False)

    @property
    def passed(self) -> bool:
        if self._passed is None:
            self._passed = (
                self.verdicts.where(F.col("status") == "FAILED").limit(1).count() == 0
            )
        return self._passed


def transcript_row_rules() -> R.RowRuleSet:
    """The canonical row-rule set for the input_hint transcript schema."""
    return R.RowRuleSet().add(
        R.not_null("text"),                                   # models.py:75 analog
        R.non_empty("text"),                                  # models.py:22-28
        R.in_vocabulary("role", ROLES),                       # vocabularies.py:45-55
        R.no_url_in_text("text"),                             # validate.py:467-506
        R.tool_role_consistency(tool_roles=("tool",)),        # models.py field pairs
    )


def compute_violations(
    t: TranscriptTables,
    row_rules: R.RowRuleSet | None = None,
    reconcile_manifest: bool = False,
    opening_roles: tuple[str, ...] | None = ("system",),
    closing_roles: tuple[str, ...] | None = None,
    fill_rate_drift: bool = False,
    fill_rate_tol: float = 0.005,
    partition_consistency: bool = False,
    tool_caller_roles: tuple[str, ...] | None = None,
    tool_result_roles: tuple[str, ...] | None = None,
    tail_freshness_s: int | None = None,
) -> DataFrame:
    rs = row_rules or transcript_row_rules()
    if partition_consistency:
        # opt-in (same contract as reconcile_manifest / fill_rate_drift:
        # default OFF keeps recorded violation counts stable): the
        # misrouted-write check part == date(ts). Folded into the FUSED
        # row-rule projection, so enabling it costs zero extra scans.
        rs = R.RowRuleSet(list(rs.rules)).add(R.partition_matches_ts())
    v = rs.violations(t.turns)
    v = v.unionByName(uniqueness_violations(t.turns))
    if opening_roles:
        # conversation-structure argmin (conv.opening_role) — part of the
        # standard verdict path; pass opening_roles=None to disable for
        # schemas where "first turn role" has no contract
        v = v.unionByName(opening_role_violations(t.turns, opening_roles))
    if closing_roles:
        # opt-in argmax complement (conv.closing_role): default OFF keeps
        # recorded violation counts stable, same contract as the other
        # opt-ins; enable where "last turn role" has a contract (e.g.
        # conversations must not end mid-tool-call or on an error)
        from sgb_data_validator_spark.operators.windows import (
            closing_role_violations,
        )

        v = v.unionByName(closing_role_violations(t.turns, closing_roles))
    if t.conversations is not None:
        v = v.unionByName(
            orphan_violations(t.turns, t.conversations, "conv_id", "conv_id", "ref.conv_id")
        )
        v = v.unionByName(
            zero_children_violations(t.conversations, t.turns, "conv_id", "conv_id")
        )
        if reconcile_manifest and "n_turns_expected" in t.conversations.columns:
            # opt-in (default OFF keeps every recorded violation count —
            # scaling-curve arms, transcript_pipeline oracle — stable):
            # per-conv turn count vs the manifest's stated expectation.
            # The violation attaches to the conversation's home
            # partition (created_ts date) when available so verdicts
            # react; it is conversation-level, not turn-level.
            rec = manifest_reconcile(
                t.turns,
                t.conversations,
                fact_key="conv_id",
                manifest_key="conv_id",
                stated_col="n_turns_expected",
                agg=F.count(F.lit(1)),
                rel_tol=0.0,
            )
            if "created_ts" in t.conversations.columns:
                home = t.conversations.select(
                    "conv_id", F.date_format("created_ts", "yyyy-MM-dd").alias("_home_part")
                )
                rec = rec.join(home, "conv_id", "left")
            else:
                rec = rec.withColumn("_home_part", F.lit(None).cast("string"))
            v = v.unionByName(
                rec.select(
                    F.lit("conv.turn_count").alias("rule_id"),
                    F.col("conv_id").cast("string").alias("conv_id"),
                    F.lit(None).cast("int").alias("turn_idx"),
                    F.lit("n_turns_expected").alias("column"),
                    F.concat(
                        F.lit("expected "),
                        # a NULL stated expectation is the 'unverifiable'
                        # finding manifest_reconcile surfaces — render it
                        # as the literal string so concat can't blank the
                        # whole message
                        F.coalesce(
                            F.col("stated").cast("bigint").cast("string"),
                            F.lit("NULL"),
                        ),
                        F.lit(", got "),
                        F.col("computed").cast("bigint").cast("string"),
                    ).alias("offending_value"),
                    F.lit(R.SEV_WARNING).alias("severity"),
                    F.col("_home_part").alias("part"),
                )
            )
    if t.allowed_tools is not None:
        v = v.unionByName(
            orphan_violations(t.turns, t.allowed_tools, "tool", "tool", "ref.tool")
        )
    # all sequence rules ride ONE skew-split window pass; the tool-call
    # adjacency pairing rules are opt-in (pass BOTH role tuples; default
    # OFF keeps recorded violation counts stable, same contract as the
    # other opt-ins) and cost zero extra scans when enabled — they fold
    # into this same pass
    v = v.unionByName(
        sequence_violations(
            t.turns,
            tool_caller_roles=tool_caller_roles,
            tool_result_roles=tool_result_roles,
        )
    )
    if t.baseline_stats is not None:
        # drift runs on the vocabulary-conforming subset — out-of-vocab
        # values are already flagged by vocab/ref rules, and counting them
        # again as "drift" double-reports (reference analog: parse-failed
        # records are excluded from content checks, validate.py:701-716)
        drift_input = t.turns.where(F.col("role").isin(ROLES) | F.col("role").isNull())
        if t.allowed_tools is not None:
            # broadcast left join + marker instead of collect()+isin: the
            # tool gate stays plan-side (no driver round-trip), null-tool
            # rows pass through, and the dim broadcasts like every other
            # dimension join in this pipeline
            allowed = F.broadcast(
                t.allowed_tools.select("tool").distinct().withColumn("__tool_ok", F.lit(True))
            )
            drift_input = (
                drift_input.join(allowed, "tool", "left")
                .where(F.col("tool").isNull() | F.col("__tool_ok"))
                .drop("__tool_ok")
            )
        v = v.unionByName(drift_ops.drift_violations(drift_input, t.baseline_stats))
        if fill_rate_drift:
            # opt-in (same contract as reconcile_manifest: default OFF
            # keeps every recorded violation count stable): partition
            # completeness vs the snapshot's dim='fill_rate' rows.
            # Audited columns are exactly the snapshot's — baselines
            # written before the fill_rate dim existed contribute no
            # rows and the check is a no-op, not an error. Runs on the
            # RAW turns (not drift_input): NULL text is precisely the
            # signal, so it must not be pre-filtered away.
            audited = [
                r["value"]
                for r in t.baseline_stats.where(F.col("dim") == "fill_rate")
                .select("value")
                .collect()  # O(audited columns) — a handful of names
                if r["value"] in t.turns.columns
            ]
            if audited:
                fr = drift_ops.fill_rate_drift(
                    t.turns, "part", audited, baseline=t.baseline_stats, tol=fill_rate_tol
                )
                v = v.unionByName(
                    fr.where(F.col("flagged")).select(
                        F.concat(F.lit("drift.fill."), F.col("column")).alias("rule_id"),
                        F.lit(None).cast("string").alias("conv_id"),
                        F.lit(None).cast("int").alias("turn_idx"),
                        "column",
                        F.round("delta", 6).cast("string").alias("offending_value"),
                        F.lit(R.SEV_ERROR).alias("severity"),
                        "part",
                    )
                )
    if tail_freshness_s is not None:
        # opt-in (same default-OFF stability contract as the other
        # opt-ins): ingest tail-freshness — a partition whose last event
        # lands > tail_freshness_s before the earlier of its midnight
        # boundary and the table watermark is a truncated-export signal
        # volume checks miss. Partition-level finding (conv_id NULL),
        # keyed on the table's own part so verdicts/ledger react.
        from sgb_data_validator_spark.operators.certify import partition_freshness

        fresh = partition_freshness(
            t.turns, "ts", tail_freshness_s, part_col="part"
        )
        v = v.unionByName(
            fresh.select(
                F.lit("part.tail_freshness").alias("rule_id"),
                F.lit(None).cast("string").alias("conv_id"),
                F.lit(None).cast("int").alias("turn_idx"),
                F.lit("ts").alias("column"),
                F.concat(
                    F.lit("silent "), F.col("tail_silence_s").cast("string"),
                    F.lit("s before window close"),
                ).alias("offending_value"),
                F.lit(R.SEV_WARNING).alias("severity"),
                "part",
            )
        )
    return v


def compute_verdicts(partitioned: DataFrame, violations: DataFrame) -> DataFrame:
    """Per-partition pass/fail. Partitions with zero violations PASS too,
    so verdicts start from the partition list of ``partitioned``: the
    fact table, or any frame with a row for every partition of it (the
    stats frame)."""
    parts = partitioned.select(F.col("part").cast("string").alias("part")).distinct()
    counts = (
        violations.where(F.col("part").isNotNull())
        .groupBy("part")
        .agg(
            F.sum((F.col("severity") == "error").cast("long")).alias("error_count"),
            F.sum((F.col("severity") == "warning").cast("long")).alias("warning_count"),
        )
    )
    return (
        parts.join(counts, "part", "left")
        .select(
            "part",
            F.coalesce("error_count", F.lit(0)).alias("error_count"),
            F.coalesce("warning_count", F.lit(0)).alias("warning_count"),
        )
        .withColumn(
            "status", F.when(F.col("error_count") > 0, F.lit("FAILED")).otherwise(F.lit("PASSED"))
        )
    )


def transcript_stats(turns: DataFrame) -> DataFrame:
    specs = [
        ColumnSpec("conv_id"),
        ColumnSpec("turn_idx", numeric=True),
        ColumnSpec("role", conform_pattern=r"^(?:user|assistant|system|tool)$"),
        ColumnSpec("text"),
        ColumnSpec("tool"),
        ColumnSpec("ts"),
    ]
    return column_stats(turns, specs)


def validate(
    t: TranscriptTables,
    row_rules: R.RowRuleSet | None = None,
    reconcile_manifest: bool = False,
    opening_roles: tuple[str, ...] | None = ("system",),
    closing_roles: tuple[str, ...] | None = None,
    fill_rate_drift: bool = False,
    fill_rate_tol: float = 0.005,
    partition_consistency: bool = False,
    tool_caller_roles: tuple[str, ...] | None = None,
    tool_result_roles: tuple[str, ...] | None = None,
    tail_freshness_s: int | None = None,
) -> ValidationResult:
    violations = compute_violations(
        t,
        row_rules,
        reconcile_manifest=reconcile_manifest,
        opening_roles=opening_roles,
        closing_roles=closing_roles,
        fill_rate_drift=fill_rate_drift,
        fill_rate_tol=fill_rate_tol,
        partition_consistency=partition_consistency,
        tool_caller_roles=tool_caller_roles,
        tool_result_roles=tool_result_roles,
        tail_freshness_s=tail_freshness_s,
    )
    verdicts = compute_verdicts(t.turns, violations)
    stats = transcript_stats(t.turns)
    return ValidationResult(violations=violations, verdicts=verdicts, stats=stats)


def materialize(result: ValidationResult) -> ValidationResult:
    """Compute the fact-derived frames ONCE before a multi-artifact
    fan-out.

    ``validate()`` returns lazy frames — correct for library users who
    run one action on them. The CLI run is not that user: it performs
    ~8 actions on the same result (violations/verdicts/stats/summary/
    pivot/spc sinks + ledger record + console verdicts), and each
    action would re-execute the violations DAG — itself several scans
    of the fact (fused row rules, uniqueness, opening argmin, orphan
    joins, sequence window, drift). At 10^12 turns that is the
    difference between one pass over the data and eight.

    ``localCheckpoint`` (MEMORY_AND_DISK on the executors) materializes
    violations and stats eagerly; verdicts is rebuilt ON the
    materialized violations, with the partition list of the
    materialized stats (a row per partition, NULL-keyed included), and
    checkpointed too (it is O(parts)).
    Downstream actions then scan the checkpointed blocks — the fact is
    never re-read. The violation/verdict/stats VALUES are identical to
    the lazy result's (pinned by
    tests/test_pipeline_e2e.py::test_materialize_semantic_parity).
    Violations are dirt-rate-bounded, so the checkpoint is far smaller
    than the fact; stats and verdicts are O(parts × columns)."""
    viol = result.violations.localCheckpoint()
    stats = result.stats.localCheckpoint()
    verdicts = compute_verdicts(stats, viol).localCheckpoint()
    return ValidationResult(violations=viol, verdicts=verdicts, stats=stats)


def summary_report(violations: DataFrame) -> DataFrame:
    """Severity × rule counts (reference print_report, validate.py:804-826)."""
    return (
        violations.groupBy("severity", "rule_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("severity", "rule_id")
    )


def pivot_report(violations: DataFrame, rule_ids: list[str] | None = None) -> DataFrame:
    """One row per resource, one column per violated rule — the CSV pivot
    (reference export_validation_csv, validate.py:859-983). Passing the
    explicit rule_id list skips the extra distinct-scan Spark needs to
    discover pivot values."""
    p = violations.groupBy("conv_id", "turn_idx").pivot("rule_id", rule_ids)
    # max(), not first(): first() is nondeterministic under parallel
    # execution when a (resource, rule) pair has several violations
    return p.agg(F.max("offending_value")).orderBy("conv_id", "turn_idx")


def spc_report(result: ValidationResult, k: float = 3.0) -> DataFrame:
    """Statistical-process-control layer over the run: a u-chart
    (Poisson violations-per-turn; several rules can fire on one turn,
    so the rate is unbounded and binomial p-chart limits would be
    wrong) flagging partitions whose violation RATE broke from the
    run's own process — the complement of compute_verdicts' absolute
    pass/fail: a verdict says "this partition has errors", the SPC
    status says "this partition is anomalous RELATIVE to the others",
    with limits that tighten on big partitions and loosen on small ones
    (operators/stats.py:uchart_from_counts).

    ZERO additional fact scans: per-partition turn counts come from the
    stats artifact (column_stats' ``n`` is the partition row count,
    identical on every column row) and defect counts from the
    violations frame — both already computed by validate()."""
    n = result.stats.groupBy("part").agg(F.max("n").alias("n"))
    defects = (
        result.violations.where(F.col("part").isNotNull())
        .groupBy(F.col("part").cast("string").alias("part"))
        .agg(F.count(F.lit(1)).alias("defects"))
    )
    per = (
        n.join(defects, "part", "left")
        .withColumn("defects", F.coalesce(F.col("defects"), F.lit(0)))
    )
    from sgb_data_validator_spark.operators.stats import uchart_from_counts

    return uchart_from_counts(per, k=k)


def digest_for_ledger(result: ValidationResult) -> DataFrame:
    return stats_digest(result.stats)
