"""Round-5 certification tier: turn-gap islands (hand-computed
intervals, dup-dirt collapse, leading-gap and expect_start edges),
Wilson bound (pure-Python closed-form replay, k=0 behaviour,
monotonicity), sampled certification (full-sample exact counts,
deterministic sample subset), partition freshness (hand-computed
silences, watermark clamp), and co-occurrence lift (hand-computed
pairs, duplicate-row collapse)."""

import math

from pyspark.sql import functions as F

from sgb_data_validator_spark.operators.certify import (
    WILSON_Z,
    gap_intervals,
    partition_freshness,
    sample_predicate,
    sampled_certification,
    violation_cooccurrence,
    wilson_upper,
)


def _turns(spark, convs: dict[str, list[int]]):
    rows = [(cid, i) for cid, idxs in convs.items() for i in idxs]
    return spark.createDataFrame(rows, "conv_id string, turn_idx int")


# ------------------------------------------------- gap intervals

def test_gap_intervals_hand_computed(spark):
    t = _turns(spark, {"a": [0, 1, 5, 6, 9], "clean": [0, 1, 2]})
    got = sorted(
        (r.conv_id, r.gap_start, r.gap_end, r.gap_len)
        for r in gap_intervals(t).collect()
    )
    assert got == [("a", 2, 4, 3), ("a", 7, 8, 2)]


def test_gap_intervals_leading_gap(spark):
    t = _turns(spark, {"late": [3, 4]})
    got = [(r.gap_start, r.gap_end, r.gap_len) for r in gap_intervals(t).collect()]
    assert got == [(0, 2, 3)]


def test_gap_intervals_expect_start(spark):
    # 1-based numbering: starting at 1 is clean, starting at 3 gaps [1,2]
    t = _turns(spark, {"ok": [1, 2], "late": [3]})
    got = sorted(
        (r.conv_id, r.gap_start, r.gap_end, r.gap_len)
        for r in gap_intervals(t, expect_start=1).collect()
    )
    assert got == [("late", 1, 2, 2)]


def test_gap_intervals_duplicates_no_phantom_edges(spark):
    # dup-dirt: repeated indexes must collapse, not fabricate gaps
    t = _turns(spark, {"d": [0, 0, 1, 1, 1, 2]})
    assert gap_intervals(t).count() == 0


def test_gap_intervals_pure_python_replay(spark):
    convs = {
        "c%d" % i: sorted({(j * j + 3 * i) % 17 for j in range(i + 2)})
        for i in range(8)
    }
    t = _turns(spark, convs)
    got = sorted(
        (r.conv_id, r.gap_start, r.gap_end, int(r.gap_len))
        for r in gap_intervals(t).collect()
    )
    want = []
    for cid, idxs in convs.items():
        prev = -1  # expect_start=0 ⇒ virtual predecessor -1
        for x in idxs:
            if x - prev > 1:
                want.append((cid, prev + 1, x - 1, x - prev - 1))
            prev = x
    assert got == sorted(want)


# ------------------------------------------------- Wilson bound

def _wilson_py(k: int, n: int, z: float = WILSON_Z) -> float:
    p = k / n
    z2 = z * z
    centre = p + z2 / (2.0 * n)
    spread = z * math.sqrt((p * (1.0 - p) + z2 / (4.0 * n)) / n)
    return (centre + spread) / (1.0 + z2 / n)


def test_wilson_upper_matches_pure_python(spark):
    rows = [(k, n) for n in (10, 100, 5000) for k in (0, 1, n // 10, n // 2, n)]
    df = spark.createDataFrame(rows, "k int, n int")
    got = {
        (r.k, r.n): r.u
        for r in df.select(
            "k", "n", wilson_upper(F.col("k"), F.col("n")).alias("u")
        ).collect()
    }
    for (k, n), u in got.items():
        assert abs(u - _wilson_py(k, n)) < 1e-12, (k, n)
        assert 0.0 < u <= 1.0 + 1e-12


def test_wilson_upper_zero_k_not_degenerate(spark):
    # the Wald interval collapses to [0,0] at k=0; Wilson must not
    df = spark.createDataFrame([(0, 400)], "k int, n int")
    u = df.select(wilson_upper(F.col("k"), F.col("n")).alias("u")).first().u
    assert 0.0 < u < 0.02  # ~ z^2 / (n + z^2) ≈ 0.0095


def test_wilson_upper_monotone_in_k(spark):
    df = spark.createDataFrame([(k, 100) for k in range(0, 101, 10)], "k int, n int")
    us = [
        r.u
        for r in df.orderBy("k")
        .select(wilson_upper(F.col("k"), F.col("n")).alias("u"))
        .collect()
    ]
    assert us == sorted(us)


# ------------------------------------------------- sampled certification

def test_sampled_certification_full_sample_exact(spark):
    # rate_bp=10000 ⇒ every row sampled ⇒ exact known counts
    rows = [(i, i % 5 == 0, i % 2 == 0) for i in range(200)]
    df = spark.createDataFrame(rows, "id bigint, bad5 boolean, bad2 boolean")
    out = {
        r.rule_id: r
        for r in sampled_certification(
            df,
            [("r.five", F.col("bad5")), ("r.two", F.col("bad2"))],
            F.col("id").cast("string"),
            rate_bp=10_000,
            tol=0.3,
        ).collect()
    }
    assert out["r.five"].n_sample == 200 and out["r.five"].k_viol == 40
    assert out["r.two"].k_viol == 100
    assert out["r.five"].viol_rate == 0.2
    # tol=0.3: 20% rate certifies, 50% does not
    assert out["r.five"].certified == 1 and out["r.two"].certified == 0
    assert abs(out["r.five"].upper_bound - round(_wilson_py(40, 200), 6)) < 1e-9


def test_sample_predicate_deterministic_and_proportional(spark):
    df = spark.createDataFrame([(i,) for i in range(4000)], "id bigint")
    key = F.col("id").cast("string")
    a = {r.id for r in df.where(sample_predicate(key, 2000)).collect()}
    b = {r.id for r in df.where(sample_predicate(key, 2000)).collect()}
    assert a == b  # content-addressed: identical subset on re-run
    assert 0.15 < len(a) / 4000 < 0.25  # ~20%
    # nested budgets: a 10% sample is a subset of the 20% sample
    c = {r.id for r in df.where(sample_predicate(key, 1000)).collect()}
    assert c <= a


# ------------------------------------------------- partition freshness

def test_partition_freshness_hand_computed(spark):
    rows = [
        ("2024-03-01 10:00:00",),
        ("2024-03-01 23:00:00",),   # day1: 3600 s before midnight
        ("2024-03-02 09:00:00",),
        ("2024-03-02 12:00:00",),   # day2: watermark ⇒ silence 0
    ]
    df = spark.createDataFrame(rows, "ts string").select(
        F.to_timestamp("ts").alias("ts")
    )
    got = {
        r.part: r.tail_silence_s
        for r in partition_freshness(df, "ts", max_tail_silence_s=1800).collect()
    }
    assert got == {"2024-03-01": 3600}


def test_partition_freshness_watermark_clamps_current_day(spark):
    # a single in-progress day is never flagged: watermark == its max
    rows = [("2024-03-05 08:00:00",), ("2024-03-05 08:10:00",)]
    df = spark.createDataFrame(rows, "ts string").select(
        F.to_timestamp("ts").alias("ts")
    )
    assert partition_freshness(df, "ts", max_tail_silence_s=0).count() == 0


def test_partition_freshness_threshold_boundary(spark):
    # exactly-at-threshold silence is NOT flagged (strict >)
    rows = [("2024-03-01 23:59:00",), ("2024-03-02 10:00:00",)]
    df = spark.createDataFrame(rows, "ts string").select(
        F.to_timestamp("ts").alias("ts")
    )
    assert partition_freshness(df, "ts", max_tail_silence_s=60).count() == 0
    got = partition_freshness(df, "ts", max_tail_silence_s=59).collect()
    assert [(r.part, r.tail_silence_s) for r in got] == [("2024-03-01", 60)]


# ------------------------------------------------- co-occurrence lift

def test_violation_cooccurrence_hand_computed(spark):
    viol = spark.createDataFrame(
        [
            ("A", "r1"), ("A", "r2"),
            ("B", "r1"), ("B", "r2"),
            ("C", "r1"),
            ("C", "r1"),  # duplicate row must collapse
        ],
        "conv_id string, rule_id string",
    )
    n = spark.createDataFrame([(10,)], "n_total bigint")
    got = violation_cooccurrence(viol, n).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.rule_a, r.rule_b, r.n_both, r.n_a, r.n_b) == ("r1", "r2", 2, 3, 2)
    assert r.lift == round(2 * 10 / (3 * 2), 6)


def test_violation_cooccurrence_unordered_pairs_once(spark):
    # every pair appears exactly once, as (min, max)
    viol = spark.createDataFrame(
        [("A", "x"), ("A", "y"), ("A", "z")], "conv_id string, rule_id string"
    )
    n = spark.createDataFrame([(5,)], "n_total bigint")
    got = sorted((r.rule_a, r.rule_b) for r in violation_cooccurrence(viol, n).collect())
    assert got == [("x", "y"), ("x", "z"), ("y", "z")]


def test_violation_cooccurrence_query_ignores_null_user(spark, tmp_path):
    """The registry query's population N counts distinct non-NULL users,
    as its SQL twin does: an event with a NULL user_id is no
    conversation, so the lifts agree with DuckDB's."""
    import duckdb

    from sgb_data_validator_spark.plans.certify_queries import (
        _sql_violation_cooccurrence,
        q_violation_cooccurrence,
    )

    # user 97 gets the stray 'shell' tool on its view turns, so
    # ref.tool and tool.role_consistency co-fire there
    rows = [
        (1, "2024-01-01 10:00:00", 97, "view", 1.0, "a"),
        (2, "2024-01-01 10:01:00", 97, "view", 1.0, "b"),
        (3, "2024-01-01 10:02:00", 1, "view", 1.0, "c"),
        (4, "2024-01-01 10:03:00", 2, "click", 1.0, "d"),
        (5, "2024-01-01 10:04:00", None, "view", 1.0, "e"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id bigint, ts string, user_id bigint, event_type string, value double, props string"
    ).withColumn("ts", F.to_timestamp("ts"))
    d = f"{tmp_path}/sf"
    ev.coalesce(1).write.parquet(f"{d}/events.parquet")
    got = sorted(
        (r.rule_a, r.rule_b, r.n_both, r.n_a, r.n_b, r.lift)
        for r in q_violation_cooccurrence(spark, d).collect()
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet/*.parquet'")
    want = sorted(
        (a, b, n, na, nb, float(lift))
        for a, b, n, na, nb, lift in con.execute(_sql_violation_cooccurrence()).fetchall()
    )
    assert ("ref.tool", "tool.role_consistency") in {r[:2] for r in got}
    assert got == want


# ------------------------------------------------- per-part certificates

def test_cert_by_part_sums_to_global(spark):
    # grouping by part must partition the global certificate's counts
    # exactly: sum(n), sum(k) over parts == the global form's n, k
    from sgb_data_validator_spark.operators.certify import (
        sampled_certification_by_part,
    )

    rows = [(i, "p%d" % (i % 3), i % 7 == 0) for i in range(500)]
    df = spark.createDataFrame(rows, "id bigint, part string, bad boolean")
    key = F.col("id").cast("string")
    flags = [("r.seven", F.col("bad"))]
    g = sampled_certification(df, flags, key, rate_bp=2000, tol=0.1).first()
    by = sampled_certification_by_part(
        df, flags, key, rate_bp=2000, tol=0.1
    ).collect()
    assert sum(r.n_sample for r in by) == g.n_sample
    assert sum(r.k_viol for r in by) == g.k_viol


def test_cert_by_part_hand_computed(spark):
    from sgb_data_validator_spark.operators.certify import (
        sampled_certification_by_part,
    )

    rows = [(i, "clean", False) for i in range(100)] + [
        (1000 + i, "dirty", i < 30) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "id bigint, part string, bad boolean")
    out = {
        r.part: r
        for r in sampled_certification_by_part(
            df, [("r", F.col("bad"))], F.col("id").cast("string"),
            rate_bp=10_000, tol=0.05,
        ).collect()
    }
    assert out["clean"].k_viol == 0 and out["clean"].certified == 1
    assert out["dirty"].k_viol == 30 and out["dirty"].certified == 0
    assert out["dirty"].viol_rate == 0.3


# ------------------------------------------------- hypothesis properties

from hypothesis import given, settings, strategies as st


@settings(max_examples=10, deadline=None)
@given(
    convs=st.dictionaries(
        st.text(alphabet="abc", min_size=1, max_size=2),
        st.lists(st.integers(0, 30), min_size=1, max_size=25),  # dups allowed
        min_size=1,
        max_size=5,
    )
)
def test_gap_intervals_property_vs_bruteforce(spark, convs):
    # whatever (possibly duplicate-ridden) index multiset the strategy
    # generates, the result equals the pure-Python islands replay over
    # the DISTINCT sorted indexes
    rows = [(cid, i) for cid, idxs in convs.items() for i in idxs]
    t = spark.createDataFrame(rows, "conv_id string, turn_idx int")
    got = sorted(
        (r.conv_id, r.gap_start, r.gap_end, int(r.gap_len))
        for r in gap_intervals(t).collect()
    )
    want = []
    for cid, idxs in convs.items():
        prev = -1
        for x in sorted(set(idxs)):
            if x - prev > 1:
                want.append((cid, prev + 1, x - 1, x - prev - 1))
            prev = x
    assert got == sorted(want)


@settings(max_examples=10, deadline=None)
@given(
    n=st.integers(1, 10_000),
    k_frac=st.floats(0.0, 1.0),
)
def test_wilson_upper_property(spark, n, k_frac):
    # bound matches the closed form, covers the point estimate, and
    # stays in (0, 1]
    k = min(n, int(n * k_frac))
    df = spark.createDataFrame([(k, n)], "k int, n int")
    u = df.select(wilson_upper(F.col("k"), F.col("n")).alias("u")).first().u
    assert abs(u - _wilson_py(k, n)) < 1e-12
    assert u >= k / n - 1e-12
    assert 0.0 < u <= 1.0 + 1e-12


def test_sampled_certification_empty_sample_not_certified(spark):
    # an empty sample attests nothing: certified must be an explicit 0,
    # never NULL (a NULL reads as "not certified" to some consumers and
    # "unknown" to others)
    df = spark.createDataFrame([], "id bigint, bad boolean")
    out = sampled_certification(
        df, [("r", F.col("bad"))], F.col("id").cast("string"),
        rate_bp=10_000, tol=0.99,
    ).collect()
    assert len(out) == 1
    assert out[0].n_sample == 0 and out[0].certified == 0
