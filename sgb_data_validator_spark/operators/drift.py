"""Distribution-drift checks per partition vs a baseline snapshot.

North-star checks (SURVEY.md §2.4 A5; nearest reference analog is the
human-reviewed profiling snapshot, /root/reference/src/profiling.py:57-83):

* categorical drift — KL divergence of per-partition role/tool frequency
  vs ``baseline_stats`` freq:  KL = Σ_v p_v · ln(p_v / q_v)
* temporal drift — chi-square of the per-partition hour-of-ts histogram
  vs baseline expected counts:  χ² = Σ_b (obs_b − exp_b)² / exp_b

Every statistic reads ONE frequency table, :func:`categorical_freqs`:
each row becomes one (dim, value) cell per audited dimension (an
explode over structs), then one groupBy(part, dim, value) count — a
single shuffle for all dimensions at once — and a window total per
(part, dim) on the aggregated frame. KL and χ² join that table with the
broadcast baseline on (dim, value) and reduce per (part, dim); PSI, JS,
KS and W1 expand it to the full parts × baseline-values grid first
(:func:`_full_grid`). No UDFs.

Smoothing: categories absent from the baseline get q = epsilon so a
brand-new category produces a large-but-finite KL contribution instead
of infinity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

EPSILON = 1e-6
HOUR_DIM = "ts_hour_bucket"


def _hour() -> Column:
    return F.hour("ts").cast("string")


def categorical_freqs(turns: DataFrame, dims: dict[str, Column]) -> DataFrame:
    """(part, dim, value, n, total, p) — per-partition value frequencies
    of every ``{dim: value column}`` entry, from one scan and one
    groupBy(part, dim, value). NULL values and NULL-keyed partitions are
    not counted."""
    cells = F.explode(
        F.array(*[F.struct(F.lit(d).alias("dim"), c.alias("value")) for d, c in dims.items()])
    )
    counts = (
        turns.select(F.col("part").cast("string").alias("part"), cells.alias("c"))
        .select("part", "c.dim", "c.value")
        .where(F.col("value").isNotNull() & F.col("part").isNotNull())
        .groupBy("part", "dim", "value")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = F.sum("n").over(Window.partitionBy("part", "dim"))
    return counts.select(
        "part", "dim", "value", "n", total.alias("total"), (F.col("n") / total).alias("p")
    )


def _scores(freqs: DataFrame, baseline: DataFrame) -> DataFrame:
    """(part, dim, kl, chi2, n_obs) — each (part, dim) of the frequency
    table against the broadcast baseline; a value the baseline lacks
    gets q = EPSILON."""
    q = baseline.select("dim", "value", F.col("freq").alias("q"))
    joined = freqs.join(F.broadcast(q), ["dim", "value"], "left").withColumn(
        "q", F.coalesce(F.col("q"), F.lit(EPSILON))
    )
    expected = F.col("q") * F.col("total")
    return joined.groupBy("part", "dim").agg(
        F.sum(F.col("p") * F.log(F.col("p") / F.col("q"))).alias("kl"),
        F.sum(F.pow(F.col("n") - expected, F.lit(2)) / expected).alias("chi2"),
        F.first("total").alias("n_obs"),
    )


def kl_divergence(
    turns: DataFrame, baseline: DataFrame, dim: str, value_col=None
) -> DataFrame:
    """(part, dim, kl) — KL(p_partition ‖ q_baseline)."""
    value_col = value_col if value_col is not None else F.col(dim)
    freqs = categorical_freqs(turns, {dim: value_col})
    return _scores(freqs, baseline).select("part", "dim", "kl", "n_obs")


def ts_chi_square(turns: DataFrame, baseline: DataFrame, dim: str = HOUR_DIM) -> DataFrame:
    """(part, dim, chi2) — hour-of-day histogram vs baseline expectation."""
    freqs = categorical_freqs(turns, {dim: _hour()})
    return _scores(freqs, baseline).select("part", "dim", "chi2")


def _full_grid(freqs: DataFrame, baseline: DataFrame, dim: str, fill: float) -> DataFrame:
    """(part, value, p, q) over every partition × (its values ∪ the
    baseline's values for ``dim``); the side lacking a value gets
    ``fill``. The (parts × baseline values) grid is tiny and broadcast."""
    p = freqs.select("part", "value", "p")
    q = baseline.where(F.col("dim") == dim).select("value", F.col("freq").alias("q"))
    grid = p.select("part").distinct().crossJoin(F.broadcast(q))
    return (
        p.join(grid, ["part", "value"], "full")
        .withColumn("p", F.coalesce(F.col("p"), F.lit(fill)))
        .withColumn("q", F.coalesce(F.col("q"), F.lit(fill)))
    )


def psi(turns: DataFrame, baseline: DataFrame, dim: str, value_col=None) -> DataFrame:
    """(part, dim, psi) — Population Stability Index, the industry drift
    score: Σ_v (p_v − q_v)·ln(p_v/q_v). Unlike KL it is symmetric in
    spirit (both directions of shift contribute positively) and includes
    baseline categories MISSING from the partition (p smoothed to ε), so
    a vanished category registers."""
    value_col = value_col if value_col is not None else F.col(dim)
    joined = _full_grid(categorical_freqs(turns, {dim: value_col}), baseline, dim, EPSILON)
    return (
        joined.groupBy("part")
        .agg(F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))).alias("psi"))
        .select("part", F.lit(dim).alias("dim"), "psi")
    )


def js_divergence(
    turns: DataFrame, baseline: DataFrame, dim: str, value_col=None
) -> DataFrame:
    """(part, dim, js) — Jensen–Shannon divergence of the per-partition
    categorical mix vs the baseline: JS(p‖q) = ½·KL(p‖m) + ½·KL(q‖m)
    with m = (p+q)/2. The symmetric, BOUNDED (≤ ln 2) member of the
    drift family — unlike KL it cannot blow up on a category the other
    side lacks, so one alert threshold works across dimensions with
    very different cardinalities. Same full-grid ε-smoothing as psi():
    vanished and brand-new categories both register."""
    value_col = value_col if value_col is not None else F.col(dim)
    return js_divergence_from_freqs(categorical_freqs(turns, {dim: value_col}), baseline, dim)


def js_divergence_from_freqs(
    p: DataFrame, baseline: DataFrame, dim: str
) -> DataFrame:
    """JS core over a PRE-NORMALIZED (part, value, p, …) frequency frame —
    the shared math :func:`js_divergence` (batch, from raw rows) and the
    streaming drift monitor (from finalized windowed counts) both
    delegate to, so batch/stream parity is by construction: same grid,
    same ε-smoothing, same reduction."""
    joined = _full_grid(p, baseline, dim, EPSILON)
    m = (F.col("p") + F.col("q")) / 2
    term = 0.5 * F.col("p") * F.log(F.col("p") / m) + 0.5 * F.col("q") * F.log(
        F.col("q") / m
    )
    return (
        joined.groupBy("part")
        .agg(F.sum(term).alias("js"))
        .select("part", F.lit(dim).alias("dim"), "js")
    )


def _cdfs(turns: DataFrame, baseline: DataFrame, dim: str, value_col) -> DataFrame:
    """(part, _b, cp, cq) — partition and baseline CDFs over ORDERED
    integer buckets ``_b``. Zero cells are exact (no smoothing). The CDF
    window runs on the O(parts × buckets) grid, never on the fact."""
    value_col = value_col if value_col is not None else _hour()
    joined = _full_grid(categorical_freqs(turns, {dim: value_col}), baseline, dim, 0.0)
    w = Window.partitionBy("part").orderBy(F.col("value").cast("int"))
    return joined.select(
        "part",
        F.col("value").cast("int").alias("_b"),
        F.sum("p").over(w).alias("cp"),
        F.sum("q").over(w).alias("cq"),
    )


def ks_statistic(
    turns: DataFrame,
    baseline: DataFrame,
    dim: str = HOUR_DIM,
    value_col=None,
) -> DataFrame:
    """(part, dim, ks) — two-sample Kolmogorov–Smirnov distance between
    the per-partition hour-of-day histogram and the baseline:
    KS = max_h |CDF_p(h) − CDF_q(h)| over buckets in ascending hour
    order. Complements χ² (which weights per-bucket deviation) with the
    classic max-CDF-gap statistic, sensitive to systematic shifts of
    mass along the ordered axis (e.g. traffic moving 3 hours later).

    No smoothing: a bucket absent from one side contributes p (or q) = 0
    exactly — KS is well-defined on zero cells, unlike KL/PSI.
    """
    return (
        _cdfs(turns, baseline, dim, value_col)
        .groupBy("part")
        .agg(F.max(F.abs(F.col("cp") - F.col("cq"))).alias("ks"))
        .select("part", F.lit(dim).alias("dim"), "ks")
    )


def wasserstein(
    turns: DataFrame,
    baseline: DataFrame,
    dim: str = HOUR_DIM,
    value_col=None,
) -> DataFrame:
    """(part, dim, w1) — first Wasserstein (earth-mover) distance between
    the per-partition histogram over ORDERED integer buckets and the
    baseline, with unit bucket width:
    W1 = Σ_h |CDF_p(h) − CDF_q(h)| · (next_h − h) — each CDF gap
    weighted by the run of integer buckets it persists across, so
    buckets absent from BOTH sides still contribute their displacement
    (all mass at 0 vs all mass at 5 is W1 = 5 even with 1..4 empty).

    Completes the drift family's ordered-axis pair: KS reports the single
    worst CDF gap (max), W1 reports the total transported mass × distance
    (sum) — a distribution that shifts ALL its mass one bucket later has
    tiny KS-per-bucket but W1 ≈ 1.0, so W1 catches broad gentle shifts
    KS underweights, and its unit is "buckets of displacement", directly
    interpretable as e.g. "traffic moved 2.3 hours later".

    Zero cells are exact (no smoothing), like KS, and the CDFs are the
    same (:func:`_cdfs`).
    """
    # each |ΔCDF| persists until the NEXT present bucket, so weight it
    # by that gap — summing only over present buckets would under-count
    # displacement across integer buckets absent from BOTH sides (all
    # mass at 0 vs all mass at 5 with 1..4 empty is W1=5, not 1). The
    # last bucket's ΔCDF is ~0 (both CDFs reach 1); its weight defaults
    # to 1 so float residue contributes at most one unit of itself.
    w_b = Window.partitionBy("part").orderBy("_b")
    cum = _cdfs(turns, baseline, dim, value_col).withColumn(
        "_gap",
        F.coalesce(F.lead("_b").over(w_b) - F.col("_b"), F.lit(1)).cast("double"),
    )
    return (
        cum.groupBy("part")
        .agg(F.sum(F.abs(F.col("cp") - F.col("cq")) * F.col("_gap")).alias("w1"))
        .select("part", F.lit(dim).alias("dim"), "w1")
    )


def drift_violations(
    turns: DataFrame,
    baseline: DataFrame,
    kl_threshold: float = 0.05,
    kl_chi2_crit: float = 40.0,
    chi2_threshold: float = 100.0,  # χ²(23) crit at p≈1e-11 — hour histograms
) -> DataFrame:
    """Partition-level violations in the canonical violations schema:
    ``drift.kl.role`` / ``drift.kl.tool`` and ``drift.chi2.ts``, all
    scored from ONE frequency table (one scan of ``turns``).

    The KL trigger is scale-aware: under H0 (no drift), 2·n·KL is
    asymptotically χ²(k−1), so a partition drifts only when BOTH the
    effect size (kl > kl_threshold) and the evidence (2·n·kl >
    kl_chi2_crit) are large — small partitions don't false-positive on
    sampling noise, huge partitions don't alert on negligible shifts.
    """
    freqs = categorical_freqs(
        turns, {"role": F.col("role"), "tool": F.col("tool"), HOUR_DIM: _hour()}
    )
    is_ts = F.col("dim") == HOUR_DIM
    kl, chi2 = F.col("kl"), F.col("chi2")
    fired = F.when(is_ts, chi2 > chi2_threshold).otherwise(
        (kl > kl_threshold) & (2.0 * F.col("n_obs") * kl > kl_chi2_crit)
    )
    return _scores(freqs, baseline).where(fired).select(
        F.when(is_ts, F.lit("drift.chi2.ts"))
        .otherwise(F.concat(F.lit("drift.kl."), F.col("dim")))
        .alias("rule_id"),
        F.lit(None).cast("string").alias("conv_id"),
        F.lit(None).cast("int").alias("turn_idx"),
        F.when(is_ts, F.lit("ts")).otherwise(F.col("dim")).alias("column"),
        F.when(is_ts, F.round(chi2, 3)).otherwise(F.round(kl, 6)).cast("string")
        .alias("offending_value"),
        F.lit("error").alias("severity"),
        "part",
    )


def novel_entities(
    df: DataFrame,
    part_col,
    entity_col,
) -> DataFrame:
    """Per-partition novel-entity rate: of the distinct entities active
    in each partition, how many appear there for the FIRST time. The
    categorical-drift family covers shifts in the MIX of known values;
    this covers the open-vocabulary dimension drift can't — a spike of
    never-seen conv_ids/users/tools on one ingest day is the classic
    signature of an upstream id-remap, a replay, or a new traffic
    source, and is invisible to KL/PSI over a fixed vocabulary.

    Output: (part, active, novel, novel_rate) — one row per partition,
    ordered axis left to the caller (partitions are usually dates).

    Plan shape: groupBy(entity) min(part) collapses the fact to one row
    per entity (ONE shuffle keyed by entity — skew-safe: hot entities
    combine map-side), then groupBy(part) twice on shrinking frames
    (actives from an entity×part distinct, novels from the first-seen
    frame) joined on the O(parts) result. The fact is scanned once."""
    # first-seen is min over the RAW partition value (native type
    # ordering), cast to string only afterwards — a lexicographic min
    # over the cast would misorder numeric partition keys ('10' < '9').
    # ISO date strings order identically either way.
    raw_part = F.col(part_col) if isinstance(part_col, str) else part_col
    slim = df.select(
        raw_part.alias("_rawpart"),
        F.col(entity_col).alias("entity") if isinstance(entity_col, str) else entity_col.alias("entity"),
    ).where(F.col("entity").isNotNull())
    per_entity_part = (
        slim.groupBy("entity", "_rawpart")
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn("part", F.col("_rawpart").cast("string"))
    )
    first_seen = (
        per_entity_part.groupBy("entity")
        .agg(F.min("_rawpart").alias("_rawpart"))
        .withColumn("part", F.col("_rawpart").cast("string"))
    )
    active = per_entity_part.groupBy("part").agg(
        F.count(F.lit(1)).alias("active")
    )
    novel = first_seen.groupBy("part").agg(F.count(F.lit(1)).alias("novel"))
    return (
        active.join(novel, "part", "left")
        .withColumn("novel", F.coalesce(F.col("novel"), F.lit(0)))
        .select(
            "part",
            F.col("active").cast("bigint").alias("active"),
            F.col("novel").cast("bigint").alias("novel"),
            F.round(F.col("novel") / F.col("active"), 6).alias("novel_rate"),
        )
    )


def fill_rates(df: DataFrame, part_col, cols: list[str]) -> DataFrame:
    """Per-(partition, column) fill rate (share of non-NULL values) in
    ONE fact scan: a single groupBy(part) computes count(*) plus one
    count(col) per audited column (all map-side-combinable, one shuffle
    keyed by part), then the wide O(parts) row is unpivoted with
    ``stack`` — the fact itself is never exploded or rescanned per
    column. Completeness is the column-stats axis the frequency-drift
    family (KL/PSI/JS/KS/W1) cannot see: those compare the mix of
    PRESENT values, so a field silently going NULL for half a partition
    is invisible to them while it is the single most common upstream
    breakage (dropped join in the producer, schema evolution, a writer
    defaulting a new field).

    Output: (part, column, n, filled, fill_rate), one row per audited
    column per partition.

    Reference analog: the null/required-field checks that
    /root/reference/src/models.py enforces per record; here they become
    a partition-level completeness profile so drift in missingness is a
    first-class, baseline-comparable signal.
    """
    part = (
        F.col(part_col).cast("string") if isinstance(part_col, str) else part_col.cast("string")
    )
    aggs = [F.count(F.lit(1)).alias("__n")] + [
        F.count(F.col(c)).alias(f"__f_{c}") for c in cols
    ]
    wide = df.groupBy(part.alias("part")).agg(*aggs)
    pairs = ", ".join(f"'{c}', __f_{c}" for c in cols)
    return wide.select(
        "part",
        F.col("__n").cast("bigint").alias("n"),
        F.expr(f"stack({len(cols)}, {pairs})").alias("column", "filled"),
    ).select(
        "part",
        "column",
        "n",
        F.col("filled").cast("bigint").alias("filled"),
        (F.col("filled") / F.col("n")).alias("fill_rate"),
    )


def fill_rate_drift(
    df: DataFrame,
    part_col,
    cols: list[str],
    baseline: DataFrame | None = None,
    tol: float = 0.005,
    k: float = 3.0,
) -> DataFrame:
    """Per-partition completeness drift: each audited column's fill rate
    vs a baseline rate, flagged when the absolute gap exceeds the
    noise-aware limit ``max(tol, k·sqrt(b(1−b)/n))`` — the same
    binomial-3σ construction as the p-chart (operators/stats.py:
    rate_pchart), so small partitions don't false-positive on sampling
    noise while ``tol`` stays the effect-size floor that governs at
    scale (a 10^9-row partition's σ term is ~0, leaving the pure
    half-percentage-point contract).

    ``baseline`` is the engine's (dim, value, freq) snapshot frame with
    ``dim = 'fill_rate'`` rows (value = column name, freq = the clean
    fill rate) — the same shape ``generate_baseline_stats`` writes for
    the categorical dims, so no schema change anywhere. When
    ``baseline`` is None the global (all-partition) fill rate serves as
    the reference, computed as an in-plan aggregate over the already
    grouped O(parts × cols) frame — no second fact scan either way; the
    baseline side broadcasts.

    Output: (part, column, n, fill_rate, baseline_rate, delta, limit,
    flagged), delta = fill_rate − baseline_rate.
    """
    rates = fill_rates(df, part_col, cols)
    if baseline is not None:
        base = (
            baseline.where(F.col("dim") == "fill_rate")
            .select(F.col("value").alias("column"), F.col("freq").alias("baseline_rate"))
        )
        joined = rates.join(F.broadcast(base), "column", "inner")
    else:
        w = Window.partitionBy("column")
        joined = rates.withColumn(
            "baseline_rate", F.sum("filled").over(w) / F.sum("n").over(w)
        )
    b = F.col("baseline_rate")
    limit = F.greatest(F.lit(tol), F.lit(k) * F.sqrt(b * (1.0 - b) / F.col("n")))
    return joined.select(
        "part",
        "column",
        "n",
        "fill_rate",
        "baseline_rate",
        (F.col("fill_rate") - b).alias("delta"),
        limit.alias("limit"),
        (F.abs(F.col("fill_rate") - b) > limit).alias("flagged"),
    )
