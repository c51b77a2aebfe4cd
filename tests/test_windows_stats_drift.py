import datetime as dt

import pytest
from pyspark.sql import functions as F

from sgb_data_validator_spark.operators.drift import (
    drift_violations,
    kl_divergence,
    ks_statistic,
)
from sgb_data_validator_spark.operators.stats import ColumnSpec, column_stats, stats_digest
from sgb_data_validator_spark.operators.windows import sequence_violations


def _ts(h, m=0):
    return dt.datetime(2026, 1, 5, h, m)


def test_sequence_rules(spark):
    turns = spark.createDataFrame(
        [
            ("c1", 0, _ts(1), "p"), ("c1", 1, _ts(2), "p"), ("c1", 2, _ts(1, 30), "p"),  # ts rewind at idx 2
            ("c2", 1, _ts(1), "p"),                                                      # starts at 1
            ("c3", 0, _ts(1), "p"), ("c3", 3, _ts(2), "p"),                              # gap 0→3
        ],
        "conv_id string, turn_idx int, ts timestamp, part string",
    )
    got = sorted((r.rule_id, r.conv_id, r.turn_idx) for r in sequence_violations(turns).collect())
    assert got == [
        ("ts.monotonicity", "c1", 2),
        ("turn.contiguity", "c2", 1),
        ("turn.contiguity", "c3", 3),
    ]


def test_sequence_carry_crosses_empty_chunks(spark):
    """A turn_idx gap spanning a whole chunk must still carry the lag:
    the carry routes to the next chunk WITH rows, so a ts rewind across
    the empty chunk is flagged exactly like the unchunked lag would
    (round-1 ADVICE: the chunk+1-only carry silently missed it)."""
    turns = spark.createDataFrame(
        [
            ("c1", 0, _ts(5), "p"), ("c1", 1, _ts(6), "p"),   # chunk 0
            # chunks 1-2 empty (idx 4..11 absent), chunk 3: ts rewound
            ("c1", 13, _ts(2), "p"),
        ],
        "conv_id string, turn_idx int, ts timestamp, part string",
    )
    got = sorted(
        (r.rule_id, r.turn_idx)
        for r in sequence_violations(turns, chunk=4).collect()
    )
    # the unchunked-lag truth: idx 13 is both a gap AND a ts regression
    assert got == [("ts.monotonicity", 13), ("turn.contiguity", 13)]


def _pairing(spark, rows, chunk=4, **kw):
    turns = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, tool string, part string"
    )
    kw.setdefault("tool_caller_roles", ("assistant",))
    kw.setdefault("tool_result_roles", ("tool",))
    return sorted(
        (r.rule_id, r.conv_id, r.turn_idx)
        for r in sequence_violations(
            turns,
            check_monotonic_ts=False,
            check_contiguity=False,
            chunk=chunk,
            **kw,
        ).collect()
    )


def test_tool_pairing_basic(spark):
    got = _pairing(
        spark,
        [
            # c1: clean call→result, then result→result (parallel calls legal)
            ("c1", 0, "user", None, "p"),
            ("c1", 1, "assistant", "search", "p"),
            ("c1", 2, "tool", None, "p"),
            ("c1", 3, "tool", None, "p"),
            # c2: dangling result after a user turn
            ("c2", 0, "user", None, "p"),
            ("c2", 1, "tool", None, "p"),
            # c3: unanswered call — next turn is a user turn
            ("c3", 0, "assistant", "search", "p"),
            ("c3", 1, "user", None, "p"),
            # c4: unanswered call at conversation end
            ("c4", 0, "user", None, "p"),
            ("c4", 1, "assistant", "search", "p"),
            # c5: result opens the conversation
            ("c5", 0, "tool", None, "p"),
            # c6: assistant WITHOUT tool followed by user — no finding
            ("c6", 0, "assistant", None, "p"),
            ("c6", 1, "user", None, "p"),
        ],
    )
    assert got == [
        ("tool.dangling_result", "c2", 1),
        ("tool.dangling_result", "c5", 0),
        ("tool.unanswered_call", "c3", 0),
        ("tool.unanswered_call", "c4", 1),
    ]


def test_tool_pairing_carries_cross_chunk_boundaries(spark):
    """Both carry directions: a result at a chunk START whose caller
    ends the previous chunk must NOT flag (lag-carry), and a call at a
    chunk END answered at the next chunk's start must NOT flag
    (lead-carry) — while the same shapes WITH the neighbor wrong DO
    flag. chunk=4 puts idx 3|4 on a boundary."""
    got = _pairing(
        spark,
        [
            # c1: call at idx 3 (end of chunk 0), result at idx 4 — clean
            *[("c1", i, "user", None, "p") for i in range(3)],
            ("c1", 3, "assistant", "x", "p"),
            ("c1", 4, "tool", None, "p"),
            # c2: call at idx 3, but idx 4 is a user turn — unanswered
            *[("c2", i, "user", None, "p") for i in range(3)],
            ("c2", 3, "assistant", "x", "p"),
            ("c2", 4, "user", None, "p"),
            # c3: result at idx 4 (chunk start) after a user at idx 3 — dangling
            *[("c3", i, "user", None, "p") for i in range(4)],
            ("c3", 4, "tool", None, "p"),
            # c4: gap spanning a whole chunk between call and result:
            # idx 3 call, idx 13 result — the carry still supplies the
            # caller as the previous PRESENT turn, so pairing is clean
            # (the gap itself is contiguity's finding, not pairing's)
            *[("c4", i, "user", None, "p") for i in range(3)],
            ("c4", 3, "assistant", "x", "p"),
            ("c4", 13, "tool", None, "p"),
        ],
    )
    assert got == [
        ("tool.dangling_result", "c3", 4),
        ("tool.unanswered_call", "c2", 3),
    ]


def test_tool_pairing_brute_force_replay(spark):
    """Chunked-window pairing == a pure-Python replay over the sorted
    conversation, on a deterministic pseudo-random fixture with a hot
    conversation crossing many chunk-4 boundaries."""
    import hashlib

    rows = []
    for conv, n in [("hot", 40), ("a", 3), ("b", 1), ("c", 7)]:
        for i in range(n):
            h = int(hashlib.md5(f"{conv}|{i}".encode()).hexdigest(), 16)
            role = ["user", "assistant", "tool", "system"][h % 4]
            tool = "t" if (role == "assistant" and (h >> 4) % 2) else None
            rows.append((conv, i, role, tool, "p"))
    got = _pairing(spark, rows)
    exp = []
    by_conv: dict[str, list] = {}
    for r in rows:
        by_conv.setdefault(r[0], []).append(r)
    for conv, turns in by_conv.items():
        turns.sort(key=lambda r: r[1])
        for j, (cid, idx, role, tool, _) in enumerate(turns):
            prev = turns[j - 1][2] if j > 0 else None
            nxt = turns[j + 1][2] if j + 1 < len(turns) else None
            if role == "tool" and prev not in ("assistant", "tool"):
                exp.append(("tool.dangling_result", cid, idx))
            if tool is not None and role == "assistant" and nxt != "tool":
                exp.append(("tool.unanswered_call", cid, idx))
    assert got == sorted(exp) and len(got) > 5


def test_column_stats_long_format(spark):
    df = spark.createDataFrame(
        [("p1", "a", 1), ("p1", None, 2), ("p1", "b", 2), ("p2", "a", None)],
        "part string, s string, n int",
    )
    stats = column_stats(df, [ColumnSpec("s"), ColumnSpec("n", numeric=True)]).collect()
    by = {(r.part, r.column): r for r in stats}
    assert by[("p1", "s")].n == 3 and by[("p1", "s")].n_null == 1
    assert by[("p1", "s")].min == "a" and by[("p1", "s")].max == "b"
    assert by[("p2", "n")].null_rate == 1.0
    assert by[("p1", "n")].approx_distinct == 2


def test_stats_digest_deterministic(spark):
    df = spark.createDataFrame(
        [("p1", "a"), ("p1", "b"), ("p2", "c")], "part string, s string"
    )
    s1 = stats_digest(column_stats(df, [ColumnSpec("s")])).collect()
    s2 = stats_digest(column_stats(df.repartition(3), [ColumnSpec("s")])).collect()
    assert {(r.part, r.stats_digest) for r in s1} == {(r.part, r.stats_digest) for r in s2}


def test_conformance_rate(spark):
    df = spark.createDataFrame(
        [("p", "user"), ("p", "bogus"), ("p", None), ("p", "tool")],
        "part string, role string",
    )
    stats = column_stats(df, [ColumnSpec("role", conform_pattern=r"^(?:user|tool)$")]).collect()
    assert abs(stats[0].conform_rate - 2 / 3) < 1e-9


def test_kl_zero_on_identical_distribution(spark):
    turns = spark.createDataFrame(
        [("p1", "user", _ts(1))] * 5 + [("p1", "assistant", _ts(1))] * 5,
        "part string, role string, ts timestamp",
    )
    baseline = spark.createDataFrame(
        [("role", "user", 0.5), ("role", "assistant", 0.5)], "dim string, value string, freq double"
    )
    kl = kl_divergence(turns, baseline, "role").collect()[0]
    assert abs(kl.kl) < 1e-12


def test_ks_zero_on_identical_distribution(spark):
    turns = spark.createDataFrame(
        [("p1", _ts(1))] * 5 + [("p1", _ts(2))] * 5,
        "part string, ts timestamp",
    )
    baseline = spark.createDataFrame(
        [("ts_hour_bucket", "1", 0.5), ("ts_hour_bucket", "2", 0.5)],
        "dim string, value string, freq double",
    )
    ks = ks_statistic(turns, baseline).collect()[0]
    assert abs(ks.ks) < 1e-12


def test_ks_hand_computed_point_mass(spark):
    # all partition mass at hour 1, baseline uniform over hours 1..3:
    # CDFs p = (1, 1, 1), q = (1/3, 2/3, 1) -> KS = 2/3
    turns = spark.createDataFrame(
        [("p1", _ts(1))] * 9, "part string, ts timestamp"
    )
    baseline = spark.createDataFrame(
        [("ts_hour_bucket", str(h), 1.0 / 3.0) for h in (1, 2, 3)],
        "dim string, value string, freq double",
    )
    ks = ks_statistic(turns, baseline).collect()[0]
    assert abs(ks.ks - 2.0 / 3.0) < 1e-12


def test_ks_detects_ordered_shift(spark):
    # mass moves to late hours; per-bucket sizes stay modest so chi2-style
    # per-cell deviation is spread out, but the CDF gap accumulates:
    # p uniform over hours 3..4, q uniform over 1..4 -> KS = 0.5.
    # A bucket absent from the baseline (hour 5 in the "extra" part)
    # is handled with exact zeros, no smoothing.
    rows = [("late", _ts(3))] * 10 + [("late", _ts(4))] * 10 + [
        ("extra", _ts(5))
    ] * 4 + [("extra", _ts(1))] * 4
    turns = spark.createDataFrame(rows, "part string, ts timestamp")
    baseline = spark.createDataFrame(
        [("ts_hour_bucket", str(h), 0.25) for h in (1, 2, 3, 4)],
        "dim string, value string, freq double",
    )
    got = {r.part: r.ks for r in ks_statistic(turns, baseline).collect()}
    assert abs(got["late"] - 0.5) < 1e-12
    # extra: p = (.5, 0, 0, 0, .5), q = (.25, .25, .25, .25, 0)
    # cp = (.5, .5, .5, .5, 1), cq = (.25, .5, .75, 1, 1) -> KS = .5
    assert abs(got["extra"] - 0.5) < 1e-12


def test_drift_fires_on_shifted_partition(spark):
    rows = (
        [("good", "user", _ts(1))] * 50 + [("good", "assistant", _ts(2))] * 50
        + [("bad", "user", _ts(1))] * 95 + [("bad", "assistant", _ts(2))] * 5
    )
    turns = spark.createDataFrame(rows, "part string, role string, ts timestamp")
    turns = turns.withColumn("tool", F.lit(None).cast("string"))
    baseline = spark.createDataFrame(
        [("role", "user", 0.5), ("role", "assistant", 0.5),
         ("ts_hour_bucket", "1", 0.5), ("ts_hour_bucket", "2", 0.5)],
        "dim string, value string, freq double",
    )
    got = {(r.rule_id, r.part) for r in drift_violations(turns, baseline).collect()}
    assert ("drift.kl.role", "bad") in got
    assert all(p != "good" for _, p in got)


@pytest.fixture(scope="module")
def fixture_tables(spark, tmp_path_factory):
    from sgb_data_validator_spark.plans.pipeline import TranscriptTables
    from sgb_data_validator_spark.sources.generator import FixtureConfig, write_fixture_tables

    d = str(tmp_path_factory.mktemp("plan_shape"))
    write_fixture_tables(spark, FixtureConfig(n_turns=1000), d)
    return TranscriptTables(
        *(spark.read.parquet(f"{d}/{n}")
          for n in ("turns", "conversations", "allowed_tools", "baseline_stats"))
    )


def _turns_scans(df) -> int:
    """FileScan nodes over the parquet turns table in the unexecuted
    physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum("FileScan" in ln and "/turns]" in ln for ln in plan.splitlines())


def test_drift_violations_scans_the_fact_once(fixture_tables):
    """Every drift statistic reads one frequency table: the KL (role,
    tool) and chi-square (hour) checks plan a single turns scan."""
    t = fixture_tables
    assert _turns_scans(drift_violations(t.turns, t.baseline_stats)) == 1


def test_default_violations_plan_turns_scans(fixture_tables):
    """Plan-shape guard for the default validate() violations frame."""
    from sgb_data_validator_spark.plans.pipeline import compute_violations

    assert _turns_scans(compute_violations(fixture_tables)) <= 9


def test_js_divergence_bounded_and_zero_on_identical(spark):
    """JS is 0 on an identical mix and ≤ ln 2 even when the partition's
    categories are fully disjoint from the baseline — the boundedness
    KL lacks (its disjoint case explodes toward ln(1/ε))."""
    import math

    from sgb_data_validator_spark.operators.drift import js_divergence, kl_divergence

    same = spark.createDataFrame(
        [("p1", "a")] * 30 + [("p1", "b")] * 70, "part string, role string"
    )
    baseline = spark.createDataFrame(
        [("role", "a", 0.3), ("role", "b", 0.7)], "dim string, value string, freq double"
    )
    [r] = js_divergence(same, baseline, "role").collect()
    assert abs(r.js) < 1e-12
    disjoint = spark.createDataFrame(
        [("p1", "x")] * 50 + [("p1", "y")] * 50, "part string, role string"
    )
    [rj] = js_divergence(disjoint, baseline, "role").collect()
    [rk] = kl_divergence(disjoint, baseline, "role").collect()
    assert rj.js <= math.log(2) + 1e-9
    assert rj.js > 0.5  # near the bound: total separation
    assert rk.kl > math.log(2) * 5  # KL blows up where JS stays bounded


def test_js_divergence_symmetric(spark):
    """Swapping partition mix and baseline leaves JS unchanged (up to
    the ε-smoothing of categories the grids share here: none missing)."""
    from sgb_data_validator_spark.operators.drift import js_divergence

    t1 = spark.createDataFrame(
        [("p1", "a")] * 20 + [("p1", "b")] * 80, "part string, role string"
    )
    b1 = spark.createDataFrame(
        [("role", "a", 0.6), ("role", "b", 0.4)], "dim string, value string, freq double"
    )
    t2 = spark.createDataFrame(
        [("p1", "a")] * 60 + [("p1", "b")] * 40, "part string, role string"
    )
    b2 = spark.createDataFrame(
        [("role", "a", 0.2), ("role", "b", 0.8)], "dim string, value string, freq double"
    )
    [x] = js_divergence(t1, b1, "role").collect()
    [y] = js_divergence(t2, b2, "role").collect()
    assert abs(x.js - y.js) < 1e-12


def test_robust_outliers_flags_megadoc_not_bulk(spark):
    """A single megadoc among tight-length peers is flagged with the
    right robust-z; the bulk stays silent; the all-identical group
    (MAD 0) uses the floor instead of dividing by zero."""
    from sgb_data_validator_spark.operators.stats import robust_outliers

    rows = [(i, "src1", 100 + (i % 5)) for i in range(50)]          # 100..104
    rows += [(99, "src1", 5000)]                                     # megadoc
    rows += [(200 + i, "src2", 77) for i in range(20)]               # identical
    rows += [(299, "src2", 78)]                                      # tiny deviation
    df = spark.createDataFrame(rows, "doc_id int, source string, n int")
    out = {r.id: r for r in robust_outliers(df, "source", "n", "doc_id", k=3.0).collect()}
    assert 99 in out and out[99].grp == "src1"
    assert out[99].med == 102.0 and out[99].robust_z > 1000
    # src2: MAD is 0, floor 0.5 ⇒ deviation of 1 scores z=2.0 < k ⇒ silent
    assert set(out) == {99}
    out2 = {r.id for r in robust_outliers(df, "source", "n", "doc_id", k=1.5).collect()}
    assert 299 in out2  # lower threshold surfaces the floored deviation


def test_fill_rate_drift_flags_and_noise_guard(spark):
    """Completeness drift: a partition where a column went 40% NULL is
    flagged against an explicit baseline; a small partition whose gap
    is within the binomial 3σ band is NOT (the p-chart noise guard);
    the global-baseline path (baseline=None) agrees on the blatant
    case."""
    from sgb_data_validator_spark.operators.drift import fill_rate_drift, fill_rates

    rows = (
        [("good", "x", "y")] * 100
        + [("bad", "x", None)] * 40 + [("bad", "x", "y")] * 60
        # tiny partition, 1 null out of 20 = fill 0.95 vs baseline 1.0:
        # gap 0.05 < 3*sqrt(1.0*0/20)=0 -- with b=1.0 sigma is 0, so use
        # baseline 0.9 for the noise-guard column instead (below)
        + [("small", "x", "y")] * 19 + [("small", "x", None)]
    )
    df = spark.createDataFrame(rows, "part string, a string, b string")
    base = spark.createDataFrame(
        [("fill_rate", "a", 1.0), ("fill_rate", "b", 0.9)],
        "dim string, value string, freq double",
    )
    got = {
        (r.part, r.column): r
        for r in fill_rate_drift(df, "part", ["a", "b"], baseline=base, tol=0.005).collect()
    }
    assert got[("bad", "b")].flagged  # fill 0.6 vs 0.9: blatant
    assert not got[("good", "a")].flagged  # fill 1.0 == baseline
    # small partition: fill 0.95 vs baseline 0.9, gap .05 but
    # 3*sqrt(.9*.1/20) = .201 -- inside the noise band, not flagged
    assert not got[("small", "b")].flagged
    assert abs(got[("small", "b")]["limit"] - 3.0 * (0.9 * 0.1 / 20) ** 0.5) < 1e-12
    # global-baseline path agrees on the blatant drop (global b fill =
    # (100+60+19)/220 = 0.8136; bad's 0.6 gap .21 > max(.005, 3sigma))
    glob = {
        (r.part, r.column): r.flagged
        for r in fill_rate_drift(df, "part", ["a", "b"], tol=0.005).collect()
    }
    assert glob[("bad", "b")]
    assert not glob[("good", "a")]
    # fill_rates itself: one row per (part, column), exact counts
    fr = {(r.part, r.column): (r.n, r.filled) for r in fill_rates(df, "part", ["a", "b"]).collect()}
    assert fr[("bad", "b")] == (100, 60)
    assert fr[("good", "b")] == (100, 100)
