"""Round-5 monitoring / conversation-structure queries: Wasserstein
drift, the violation-rate p-chart, the role-transition matrix and
per-conversation Markov surprise, and per-partition novel-entity rates.

Same driver contract as every other plans module: each query is a
(callable, oracle-SQL) pair over the driver testdata tables, every
computed column aliased identically on both sides, counts cast bigint,
floats rounded 4-6 dp (see plans/driver_queries.py's conventions
docstring). Transcript-shaped inputs are projected from `events` by
the shared plans/constants.events_turns (row_number per user) and its
SQL twin, so these queries prove the operators without synthesizing
external data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sgb_data_validator_spark.plans.constants import (
    EVENT_TYPES,
    _IN_TYPES,
    _t,
    events_turns,
    sql_events_turns,
)


# ------------------------------------------------------------- drift: W1

def q_drift_w1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-Wasserstein (earth-mover) drift of the hour-of-day
    histogram per day vs the global mix
    (operators/drift.py:wasserstein) — the total-displacement member of
    the ordered-axis drift pair: KS reports the worst CDF gap, W1 the
    transported mass × distance in units of buckets, so a broad gentle
    shift of the whole day's traffic registers even when no single
    hour's gap is large. Global baseline computed in-plan (window over
    grouped counts), single fact scan — same shape as q_drift_ks."""
    from sgb_data_validator_spark.operators.drift import wasserstein

    ev = _t(spark, sf_dir, "events")
    t = ev.select(F.date_format("ts", "yyyy-MM-dd").alias("part"), "ts")
    baseline = (
        t.groupBy(F.hour("ts").cast("string").alias("value"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(
            F.lit("ts_hour_bucket").alias("dim"),
            "value",
            (F.col("_n") / F.sum("_n").over(Window.partitionBy())).alias("freq"),
        )
    )
    return wasserstein(t, baseline).select("part", F.round("w1", 6).alias("w1"))


SQL_DRIFT_W1 = """
WITH q AS (
  SELECT cast(hour(ts) AS varchar) AS value,
         count(*) / cast(sum(count(*)) OVER () AS double) AS q
  FROM events GROUP BY 1
), p AS (
  SELECT strftime(ts, '%Y-%m-%d') AS part, cast(hour(ts) AS varchar) AS value,
         count(*) / cast(sum(count(*)) OVER (PARTITION BY strftime(ts, '%Y-%m-%d')) AS double) AS p
  FROM events GROUP BY 1, 2
), grid AS (
  SELECT part, value, q FROM (SELECT DISTINCT part FROM p) CROSS JOIN q
), j AS (
  SELECT coalesce(g.part, p.part) AS part, coalesce(g.value, p.value) AS value,
         coalesce(p.p, 0.0) AS p, coalesce(g.q, 0.0) AS q
  FROM grid g FULL JOIN p ON g.part = p.part AND g.value = p.value
), c AS (
  SELECT part, cast(value AS int) AS b,
         sum(p) OVER (PARTITION BY part ORDER BY cast(value AS int)) AS cp,
         sum(q) OVER (PARTITION BY part ORDER BY cast(value AS int)) AS cq
  FROM j
), g2 AS (
  SELECT part, cp, cq,
         cast(coalesce(lead(b) OVER (PARTITION BY part ORDER BY b) - b, 1) AS double) AS gap
  FROM c
)
SELECT part, round(sum(abs(cp - cq) * gap), 6) AS w1 FROM g2 GROUP BY part
"""


# -------------------------------------------------------------- p-chart

def q_violation_pchart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart p-chart over per-day vocab-violation rates
    (operators/stats.py:rate_pchart): each day's rate of out-of-vocab
    event_type rows vs the pooled rate with binomial 3σ control limits
    that tighten on big days and loosen on small ones — the verdict
    report's fixed-threshold complement. One map-side-combined
    groupBy(day) over the fact, pooled rate as an in-plan window over
    the O(days) frame."""
    from sgb_data_validator_spark.operators.stats import rate_pchart

    ev = _t(spark, sf_dir, "events")
    flag = ~F.col("event_type").isin(*EVENT_TYPES)
    return rate_pchart(
        ev.select(F.date_format("ts", "yyyy-MM-dd").alias("part"), "event_type"),
        "part",
        flag,
        k=3.0,
    ).select(
        "part",
        F.col("n").cast("bigint").alias("n"),
        F.col("defects").cast("bigint").alias("defects"),
        "rate",
        "pooled_rate",
        "z",
        "status",
    )


SQL_VIOLATION_PCHART = f"""
WITH per AS (
  SELECT strftime(ts, '%Y-%m-%d') AS part,
         cast(count(*) AS bigint) AS n,
         cast(sum(CASE WHEN event_type NOT IN ({_IN_TYPES}) THEN 1 ELSE 0 END) AS bigint) AS defects
  FROM events GROUP BY 1
), pooled AS (
  SELECT part, n, defects,
         sum(defects) OVER () / cast(sum(n) OVER () AS double) AS pooled_rate
  FROM per
), scored AS (
  SELECT part, n, defects, pooled_rate,
         CASE WHEN pooled_rate * (1 - pooled_rate) = 0 THEN 0.0
              ELSE (defects / cast(n AS double) - pooled_rate)
                   / sqrt(pooled_rate * (1 - pooled_rate) / n) END AS z
  FROM pooled
)
SELECT part, n, defects,
       round(defects / cast(n AS double), 6) AS rate,
       round(pooled_rate, 6) AS pooled_rate,
       round(z, 4) AS z,
       CASE WHEN abs(z) > 3.0
            THEN 'OUT_OF_CONTROL' ELSE 'IN_CONTROL' END AS status
FROM scored
"""



# ----------------------------------------------------- role transitions

def q_role_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global role-transition (Markov bigram) matrix over the
    events→transcript projection (operators/windows.py:
    role_transitions): one row per (prev_role, role) with count and
    P(role | prev_role). Bigrams come from a self-join keyed by
    (conv_id, turn_idx) — skew-safe because the key includes turn_idx —
    then one map-side-combined groupBy to O(roles²) rows."""
    from sgb_data_validator_spark.operators.windows import role_transitions

    turns = events_turns(_t(spark, sf_dir, "events"))
    return role_transitions(turns).select(
        "prev_role",
        "role",
        F.col("n").cast("bigint").alias("n"),
        F.round("p", 6).alias("p"),
    )


SQL_ROLE_TRANSITIONS = f"""
WITH turns AS ({sql_events_turns()}),
pairs AS (
  SELECT a.role AS prev_role, b.role AS role
  FROM turns a JOIN turns b
    ON a.conv_id = b.conv_id AND b.turn_idx = a.turn_idx + 1
),
counts AS (
  SELECT prev_role, role, cast(count(*) AS bigint) AS n
  FROM pairs GROUP BY 1, 2
)
SELECT prev_role, role, n,
       round(n / cast(sum(n) OVER (PARTITION BY prev_role) AS double), 6) AS p
FROM counts
"""


def q_conv_surprise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation Markov surprise (operators/windows.py:
    transition_surprise): mean −ln P(role | prev_role) of each
    conversation's bigrams under the corpus's own transition matrix —
    conversations with improbable structure (loops, self-replies,
    corrupted role labels) score high though every row passes the row
    rules. Only conversations ≥ 2σ above the corpus mean surface (the
    actionable anomaly set, not a full per-conv dump)."""
    from sgb_data_validator_spark.operators.windows import transition_surprise

    turns = events_turns(_t(spark, sf_dir, "events"))
    scored = transition_surprise(turns)
    stats = Window.partitionBy()
    return (
        scored.withColumn("mu", F.avg("surprise").over(stats))
        .withColumn("sd", F.stddev_samp("surprise").over(stats))
        .where(F.col("surprise") > F.col("mu") + 2.0 * F.col("sd"))
        .select(
            "conv_id",
            F.col("n_bigrams").cast("bigint").alias("n_bigrams"),
            F.round("surprise", 6).alias("surprise"),
        )
    )


SQL_CONV_SURPRISE = f"""
WITH turns AS ({sql_events_turns()}),
pairs AS (
  SELECT a.conv_id, a.role AS prev_role, b.role AS role
  FROM turns a JOIN turns b
    ON a.conv_id = b.conv_id AND b.turn_idx = a.turn_idx + 1
),
matrix AS (
  SELECT prev_role, role,
         count(*) / cast(sum(count(*)) OVER (PARTITION BY prev_role) AS double) AS p
  FROM pairs GROUP BY 1, 2
),
scored AS (
  SELECT pr.conv_id,
         cast(count(*) AS bigint) AS n_bigrams,
         avg(-ln(m.p)) AS surprise
  FROM pairs pr JOIN matrix m
    ON pr.prev_role = m.prev_role AND pr.role = m.role
  GROUP BY 1
),
stats AS (
  SELECT conv_id, n_bigrams, surprise,
         avg(surprise) OVER () AS mu, stddev_samp(surprise) OVER () AS sd
  FROM scored
)
SELECT conv_id, n_bigrams, round(surprise, 6) AS surprise
FROM stats WHERE surprise > mu + 2.0 * sd
"""


# ------------------------------------------------------- novel entities

def q_novel_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day novel-entity rate (operators/drift.py:novel_entities):
    of the distinct users active each day, how many appear for the
    first time — the open-vocabulary drift signal KL/PSI over a fixed
    vocabulary cannot see (id remaps, replays, new traffic sources).
    One entity-keyed shuffle collapses the fact; everything after runs
    on O(entities) then O(days) frames."""
    from sgb_data_validator_spark.operators.drift import novel_entities

    ev = _t(spark, sf_dir, "events")
    return novel_entities(
        ev.select(F.date_format("ts", "yyyy-MM-dd").alias("part"), "user_id"),
        "part",
        "user_id",
    )


SQL_NOVEL_ENTITIES = """
WITH per AS (
  SELECT user_id AS entity, strftime(ts, '%Y-%m-%d') AS part
  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2
),
first_seen AS (SELECT entity, min(part) AS part FROM per GROUP BY 1),
active AS (SELECT part, cast(count(*) AS bigint) AS active FROM per GROUP BY 1),
novel AS (SELECT part, cast(count(*) AS bigint) AS novel FROM first_seen GROUP BY 1)
SELECT a.part, a.active,
       cast(coalesce(n.novel, 0) AS bigint) AS novel,
       round(coalesce(n.novel, 0) / cast(a.active AS double), 6) AS novel_rate
FROM active a LEFT JOIN novel n ON a.part = n.part
"""


def q_violation_uchart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """u-chart over per-day violation COUNTS per row
    (operators/stats.py:uchart_from_counts) — the Poisson sibling the
    engine's spc_report uses: several rules can fire on one row, so
    the rate is unbounded and binomial p-chart limits would be wrong.
    Here: rows-with-out-of-vocab event_type PLUS rows-with-negative
    value per day over the day's row count — two rules, so a row can
    carry up to two defects, exactly the shape that needs u not p."""
    from sgb_data_validator_spark.operators.stats import uchart_from_counts

    ev = _t(spark, sf_dir, "events")
    vocab_bad = (~F.col("event_type").isin(*EVENT_TYPES)).cast("int")
    # NULL value must contribute 0 to neg_bad, not poison the row's sum:
    # without the coalesce a NULL-value 'error' row would lose its vocab
    # defect too (NULL + 1 = NULL, skipped by sum) — diverging from the
    # SQL twin's CASE ... ELSE 0
    neg_bad = F.coalesce((F.col("value") < 0).cast("int"), F.lit(0))
    per = ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("part")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(vocab_bad + neg_bad).alias("defects"),
    )
    return uchart_from_counts(per, k=3.0).select(
        "part",
        F.col("n").cast("bigint").alias("n"),
        F.col("defects").cast("bigint").alias("defects"),
        "rate",
        "u_bar",
        "z",
        "status",
    )


SQL_VIOLATION_UCHART = f"""
WITH per AS (
  SELECT strftime(ts, '%Y-%m-%d') AS part,
         cast(count(*) AS bigint) AS n,
         cast(sum((CASE WHEN event_type NOT IN ({_IN_TYPES}) THEN 1 ELSE 0 END)
                + (CASE WHEN value < 0 THEN 1 ELSE 0 END)) AS bigint) AS defects
  FROM events GROUP BY 1
), pooled AS (
  SELECT part, n, defects,
         sum(defects) OVER () / cast(sum(n) OVER () AS double) AS u_bar
  FROM per
), scored AS (
  SELECT part, n, defects, u_bar,
         CASE WHEN u_bar = 0 THEN 0.0
              ELSE (defects / cast(n AS double) - u_bar) / sqrt(u_bar / n) END AS z
  FROM pooled
)
SELECT part, n, defects,
       round(defects / cast(n AS double), 6) AS rate,
       round(u_bar, 6) AS u_bar,
       round(z, 4) AS z,
       CASE WHEN abs(z) > 3.0
            THEN 'OUT_OF_CONTROL' ELSE 'IN_CONTROL' END AS status
FROM scored
"""



def q_streaming_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift monitor (streaming/incremental.py:
    run_drift_monitor): events streamed with availableNow through a
    watermarked per-(1-day window, event_type) count, each CLOSED
    window scored with the batch JS math in foreachBatch against the
    global-mix baseline, alerts sunk exactly-once. threshold=-1 emits
    every closed window so the oracle is plain per-day JS. The batch
    twin excludes the LAST day — its window end is still ahead of the
    final watermark (max ts − 2 h), so append mode withholds it by the
    documented lateness contract."""
    import tempfile

    from sgb_data_validator_spark.streaming.incremental import (
        run_drift_monitor,
        stream_turns,
    )

    tmp = tempfile.mkdtemp(prefix="sgb_stream_drift_")
    ev = _t(spark, sf_dir, "events")
    ev.select(
        F.concat(F.lit("u"), F.col("user_id")).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.lit("t").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        "ts",
        F.date_format("ts", "yyyy-MM-dd").alias("part"),
    ).write.mode("overwrite").parquet(f"{tmp}/in")
    baseline = (
        ev.groupBy(F.col("event_type").alias("value"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(
            F.lit("role").alias("dim"),
            "value",
            (F.col("_n") / F.sum("_n").over(Window.partitionBy())).alias("freq"),
        )
    )
    query = run_drift_monitor(
        stream_turns(spark, f"{tmp}/in"),
        baseline,
        out_path=f"{tmp}/out",
        checkpoint=f"{tmp}/ckpt",
        dim="role",
        window="1 day",
        watermark="2 hours",
        threshold=-1.0,
    )
    query.awaitTermination()
    return spark.read.schema("part string, dim string, js double").parquet(
        f"{tmp}/out"
    ).select("part", "js")


SQL_STREAMING_DRIFT = """
WITH q AS (
  SELECT event_type AS value,
         count(*) / cast((SELECT count(*) FROM events) AS double) AS q
  FROM events GROUP BY 1
), p AS (
  SELECT strftime(ts, '%Y-%m-%d') AS part, event_type AS value,
         count(*) / cast(sum(count(*)) OVER (PARTITION BY strftime(ts, '%Y-%m-%d')) AS double) AS p
  FROM events GROUP BY 1, 2
), grid AS (
  SELECT part, value, q FROM (SELECT DISTINCT part FROM p) CROSS JOIN q
), j AS (
  SELECT coalesce(g.part, p.part) AS part,
         coalesce(p.p, 1e-6) AS p, coalesce(g.q, 1e-6) AS q
  FROM grid g FULL JOIN p ON g.part = p.part AND g.value = p.value
)
SELECT part,
       round(sum(0.5 * p * ln(p / ((p + q) / 2))
               + 0.5 * q * ln(q / ((p + q) / 2))), 6) AS js
FROM j
WHERE part <> (SELECT max(strftime(ts, '%Y-%m-%d')) FROM events)
GROUP BY part
"""


# ----------------------------------------------------------- CUSUM

def q_cusum_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tabular CUSUM over per-day out-of-vocab rates
    (operators/stats.py:cusum_from_counts) — the sequential member of
    the SPC family: the p-chart flags a single ≥3σ day, CUSUM
    accumulates standardized excursions so a ~1σ shift that PERSISTS
    crosses the decision interval within days. Same one-scan
    groupBy(day) as the p-chart; the chart itself is two cumulative
    windows over the O(days) frame, replayed bit-for-bit by the SQL
    twin (closed prefix-scan form, no recursion)."""
    from sgb_data_validator_spark.operators.stats import cusum_from_counts

    ev = _t(spark, sf_dir, "events")
    flag = ~F.col("event_type").isin(*EVENT_TYPES)
    per = ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("part")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(flag.cast("int")).alias("defects"),
    )
    return cusum_from_counts(per, k=0.5, h=4.0).select(
        "part",
        F.col("n").cast("bigint").alias("n"),
        F.col("defects").cast("bigint").alias("defects"),
        "z",
        "cusum_pos",
        "cusum_neg",
        "status",
    )


SQL_CUSUM_SHIFT = f"""
WITH per AS (
  SELECT strftime(ts, '%Y-%m-%d') AS part,
         cast(count(*) AS bigint) AS n,
         cast(sum(CASE WHEN event_type NOT IN ({_IN_TYPES}) THEN 1 ELSE 0 END) AS bigint) AS defects
  FROM events GROUP BY 1
), pooled AS (
  SELECT part, n, defects,
         sum(defects) OVER () / cast(sum(n) OVER () AS double) AS pooled_rate
  FROM per
), scored AS (
  SELECT part, n, defects,
         CASE WHEN pooled_rate * (1 - pooled_rate) = 0 THEN 0.0
              ELSE (defects / cast(n AS double) - pooled_rate)
                   / sqrt(pooled_rate * (1 - pooled_rate) / n) END AS z
  FROM pooled
), scanned AS (
  SELECT part, n, defects, z,
         sum(z - 0.5) OVER (ORDER BY part NULLS FIRST ROWS UNBOUNDED PRECEDING) AS p,
         sum(z + 0.5) OVER (ORDER BY part NULLS FIRST ROWS UNBOUNDED PRECEDING) AS q
  FROM scored
)
SELECT part, n, defects, round(z, 4) AS z,
       round(p - least(0.0, min(p) OVER (ORDER BY part NULLS FIRST ROWS UNBOUNDED PRECEDING)), 4) AS cusum_pos,
       round(greatest(0.0, max(q) OVER (ORDER BY part NULLS FIRST ROWS UNBOUNDED PRECEDING)) - q, 4) AS cusum_neg,
       CASE WHEN p - least(0.0, min(p) OVER (ORDER BY part NULLS FIRST ROWS UNBOUNDED PRECEDING)) > 4.0
              OR greatest(0.0, max(q) OVER (ORDER BY part NULLS FIRST ROWS UNBOUNDED PRECEDING)) - q > 4.0
            THEN 'SHIFTED' ELSE 'STABLE' END AS status
FROM scanned
"""



# ------------------------------------------------- response latency

def q_latency_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day inter-turn response-latency profile: exact p50/p95/max
    of the gap (seconds) between consecutive turns of a conversation,
    attributed to the later turn's day — the transcript-native latency
    SLO view (a day whose p95 gap doubles signals a stalled upstream
    agent even when every row passes validation). Adjacency via the
    same (conv_id, turn_idx+1) self-join as role_transitions — the key
    includes turn_idx, so the Zipf-hot conversation spreads instead of
    hitting one window-sort task; gaps are integer microseconds
    (portable) divided once into double seconds. Exact percentiles so
    DuckDB mirrors bit-for-bit; the 10^12-row path swaps in
    percentile_approx exactly as q_quantiles documents."""
    turns = events_turns(_t(spark, sf_dir, "events"), "ts")
    nxt = turns.select(
        "conv_id",
        (F.col("turn_idx") - 1).alias("turn_idx"),
        F.col("ts").alias("ts_next"),
    )
    gaps = turns.join(nxt, ["conv_id", "turn_idx"]).select(
        F.date_format("ts_next", "yyyy-MM-dd").alias("part"),
        (
            (
                F.unix_micros(F.col("ts_next").cast("timestamp"))
                - F.unix_micros(F.col("ts").cast("timestamp"))
            )
            / F.lit(1000000.0)
        ).alias("gap_s"),
    )
    return gaps.groupBy("part").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.round(F.percentile("gap_s", F.lit(0.5)), 4).alias("p50_s"),
        F.round(F.percentile("gap_s", F.lit(0.95)), 4).alias("p95_s"),
        F.round(F.max("gap_s"), 4).alias("max_s"),
    )


SQL_LATENCY_PROFILE = f"""
WITH turns AS ({sql_events_turns("ts")}), gaps AS (
  SELECT strftime(b.ts, '%Y-%m-%d') AS part,
         date_diff('us', a.ts, b.ts) / 1000000.0 AS gap_s
  FROM turns a JOIN turns b
    ON a.conv_id = b.conv_id AND b.turn_idx = a.turn_idx + 1
)
SELECT part,
       cast(count(*) AS bigint) AS n_gaps,
       round(quantile_cont(gap_s, 0.5), 4) AS p50_s,
       round(quantile_cont(gap_s, 0.95), 4) AS p95_s,
       round(max(gap_s), 4) AS max_s
FROM gaps GROUP BY part
"""


def q_fill_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition completeness drift (operators/drift.py:
    fill_rate_drift): each audited column's per-day fill rate (share of
    non-NULL values) vs the global rate, flagged past a 2pp absolute
    gap — the missingness axis the frequency-drift family can't see
    (those compare the mix of PRESENT values). The testdata events
    table has no natural NULLs, so the audited columns are two
    deterministic censored projections (a JSON key dropped on k % 7,
    a value column censored above 450) — the operator is agnostic to
    where the NULLs come from. The flag limit is noise-aware:
    max(tol, 3·sqrt(b(1−b)/n)), the p-chart construction, so small
    partitions don't false-positive on binomial sampling noise. One
    fact scan: a single groupBy(part) computes count(*) + one
    count(col) per column, the wide O(days) row is stack()-unpivoted,
    and the global baseline is an in-plan window over that long
    frame."""
    from sgb_data_validator_spark.operators.drift import fill_rate_drift

    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    proj = ev.select(
        F.date_format("ts", "yyyy-MM-dd").alias("part"),
        F.when(k % 7 == 0, F.lit(None)).otherwise(k).alias("prop_k"),
        F.when(F.col("value") > 450, F.lit(None)).otherwise(F.col("value")).alias("value_cens"),
    )
    return fill_rate_drift(proj, "part", ["prop_k", "value_cens"], tol=0.02).select(
        "part",
        "column",
        F.col("n").cast("bigint").alias("n"),
        F.round("fill_rate", 6).alias("fill_rate"),
        F.round("baseline_rate", 6).alias("baseline_rate"),
        F.round("delta", 6).alias("delta"),
        F.round("limit", 6).alias("lim"),
        "flagged",
    )


SQL_FILL_DRIFT = """
WITH proj AS (
  SELECT strftime(ts, '%Y-%m-%d') AS part,
         CASE WHEN NOT json_valid(props) THEN NULL
              WHEN try_cast(json_extract_string(props, '$.k') AS int) % 7 = 0 THEN NULL
              ELSE try_cast(json_extract_string(props, '$.k') AS int) END AS prop_k,
         CASE WHEN value > 450 THEN NULL ELSE value END AS value_cens
  FROM events
), wide AS (
  SELECT part, count(*) AS n,
         count(prop_k) AS f_prop_k, count(value_cens) AS f_value_cens
  FROM proj GROUP BY part
), long AS (
  SELECT part, n, 'prop_k' AS "column", f_prop_k AS filled FROM wide
  UNION ALL
  SELECT part, n, 'value_cens' AS "column", f_value_cens AS filled FROM wide
), cmp AS (
  SELECT part, "column", n,
         filled / cast(n AS double) AS fill_rate,
         sum(filled) OVER (PARTITION BY "column")
           / cast(sum(n) OVER (PARTITION BY "column") AS double) AS baseline_rate
  FROM long
), lim AS (
  SELECT *, greatest(0.02, 3.0 * sqrt(baseline_rate * (1.0 - baseline_rate) / n)) AS l
  FROM cmp
)
SELECT part, "column", cast(n AS bigint) AS n,
       round(fill_rate, 6) AS fill_rate,
       round(baseline_rate, 6) AS baseline_rate,
       round(fill_rate - baseline_rate, 6) AS delta,
       round(l, 6) AS lim,
       abs(fill_rate - baseline_rate) > l AS flagged
FROM lim
"""


def q_ewma_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart over per-day out-of-vocab rates
    (operators/stats.py:ewma_from_counts) — completes the SPC family:
    Shewhart p-/u-charts (single ≥3σ day), CUSUM (persistent shift,
    all history weighted equally), EWMA (geometrically-forgetting
    shift detector, λ=0.25 weight on the newest day). Same one-scan
    groupBy(day) as its siblings; the chart is one cumulative window
    over the O(days) frame in closed rescaled-scan form, replayed
    bit-for-bit by the SQL twin."""
    from sgb_data_validator_spark.operators.stats import ewma_from_counts

    ev = _t(spark, sf_dir, "events")
    flag = ~F.col("event_type").isin(*EVENT_TYPES)
    per = ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("part")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(flag.cast("int")).alias("defects"),
    )
    return ewma_from_counts(per, lam=0.25, L=2.7).select(
        "part",
        F.col("n").cast("bigint").alias("n"),
        F.col("defects").cast("bigint").alias("defects"),
        "z",
        "ewma",
        "ucl",
        "status",
    )


# λ=0.25 ⇒ 1−λ=0.75 and (1−λ)²=0.5625: exact binary fractions, so
# power() agrees bit-for-bit across engines for the chart's horizon
SQL_EWMA_CHART = f"""
WITH per AS (
  SELECT strftime(ts, '%Y-%m-%d') AS part,
         cast(count(*) AS bigint) AS n,
         cast(sum(CASE WHEN event_type NOT IN ({_IN_TYPES}) THEN 1 ELSE 0 END) AS bigint) AS defects
  FROM events GROUP BY 1
), pooled AS (
  SELECT part, n, defects,
         sum(defects) OVER () / cast(sum(n) OVER () AS double) AS pooled_rate
  FROM per
), scored AS (
  SELECT part, n, defects,
         CASE WHEN pooled_rate * (1 - pooled_rate) = 0 THEN 0.0
              ELSE (defects / cast(n AS double) - pooled_rate)
                   / sqrt(pooled_rate * (1 - pooled_rate) / n) END AS z
  FROM pooled
), idx AS (
  SELECT *, row_number() OVER (ORDER BY part NULLS FIRST) AS i FROM scored
), scanned AS (
  SELECT *, sum(z * power(0.75, -i)) OVER (ORDER BY part NULLS FIRST ROWS UNBOUNDED PRECEDING) AS s
  FROM idx
)
SELECT part, n, defects, round(z, 4) AS z,
       round(0.25 * power(0.75, i) * s, 4) AS ewma,
       round(2.7 * sqrt(0.25 / 1.75 * (1 - power(0.5625, i))), 4) AS ucl,
       CASE WHEN abs(0.25 * power(0.75, i) * s)
                 > 2.7 * sqrt(0.25 / 1.75 * (1 - power(0.5625, i)))
            THEN 'OUT_OF_CONTROL' ELSE 'IN_CONTROL' END AS status
FROM scanned
"""



MONITOR_QUERIES: dict[str, tuple] = {
    "drift_w1": (q_drift_w1, SQL_DRIFT_W1),
    "violation_pchart": (q_violation_pchart, SQL_VIOLATION_PCHART),
    "violation_uchart": (q_violation_uchart, SQL_VIOLATION_UCHART),
    "role_transitions": (q_role_transitions, SQL_ROLE_TRANSITIONS),
    "conv_surprise": (q_conv_surprise, SQL_CONV_SURPRISE),
    "novel_entities": (q_novel_entities, SQL_NOVEL_ENTITIES),
    "streaming_drift": (q_streaming_drift, SQL_STREAMING_DRIFT),
    "cusum_shift": (q_cusum_shift, SQL_CUSUM_SHIFT),
    "latency_profile": (q_latency_profile, SQL_LATENCY_PROFILE),
    "fill_drift": (q_fill_drift, SQL_FILL_DRIFT),
    "ewma_chart": (q_ewma_chart, SQL_EWMA_CHART),
}
