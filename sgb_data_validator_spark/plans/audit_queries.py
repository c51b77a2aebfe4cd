"""Round-5 audit-tier queries: conversation-structure dedup
(template/bot detection), embedding snapshot drift, partition-key skew
report, Benford first-digit audit, event funnel, stated-vs-detected
language mismatch, and role co-occurrence PMI.

Same driver contract as every other plans module: (callable, oracle
SQL) pairs over the driver testdata, every computed column aliased
identically on both sides, counts cast bigint, floats rounded 6 dp.
Transcript-shaped inputs reuse the canonical events→turns projection
(plans/constants.events_turns) so the twins replay the identical
derivation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sgb_data_validator_spark.plans.constants import _t, events_turns, sql_events_turns

_SQL_H20 = "(('0x' || substr(md5(role), 1, 15))::BIGINT % 1000003)"


# ------------------------------------------------- conversation dedup

def q_conv_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Groups of conversations sharing the same 4-turn opening role
    sequence in the same order, via the pure-aggregation positional
    fingerprint (operators/audit.py:conv_fingerprints, prefix_len=4) —
    opening-template / bot detection over the transcript table
    (full-sequence duplicates vanish once conversations run tens of
    turns; shared openings are the observable template signal). Two
    shuffles total: the turn_idx window's hash exchange on user_id is
    REUSED by the per-conversation aggregation (it groups on the same
    native key the window partitioned by — grouping on the derived
    conv_id string would re-shuffle the whole fact for a key that is a
    bijection of one it already has), then O(convs)→O(groups) on the
    fingerprint; no turn list is ever collected, so Zipf-hot
    conversations cost nothing extra."""
    from sgb_data_validator_spark.operators.audit import conv_fingerprints

    t = events_turns(_t(spark, sf_dir, "events"), "user_id")
    fp = conv_fingerprints(t, conv_col="user_id", prefix_len=4).withColumn(
        "conv_id", F.concat(F.lit("u"), F.col("user_id"))
    )
    return (
        fp.groupBy("fp", "hsum", "n_turns")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_convs"),
            F.min("conv_id").alias("exemplar"),
        )
        .where(F.col("n_convs") > 1)
    )


SQL_CONV_DEDUP = f"""
WITH turns AS ({sql_events_turns()}),
f AS (
  SELECT conv_id,
         cast(sum(({_SQL_H20} * ((turn_idx % 9973) + 1)) % 999999937) AS BIGINT) AS fp,
         cast(sum({_SQL_H20}) AS BIGINT) AS hsum,
         count(*)::BIGINT AS n_turns
  FROM turns WHERE turn_idx < 4 GROUP BY 1
)
SELECT fp, hsum, n_turns, count(*)::BIGINT AS n_convs, min(conv_id) AS exemplar
FROM f GROUP BY 1, 2, 3 HAVING count(*) > 1
"""


# ------------------------------------------------- embedding drift

def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean shift between two embedding snapshots (even
    vs odd vec_id halves stand in for baseline vs candidate) — the
    embedding-space member of the drift family: a re-embedded or
    corrupted snapshot shows up as per-dimension mean displacement
    before any downstream ANN metric moves. Values are quantized to
    integer millionths BEFORE summing, so the aggregation is exact and
    order-free (float summation order differs across engines; integer
    sums don't care) — same trick as reconcile_totals' integer cents.
    Single scan, posexplode to (dim, val), one map-side-combined
    groupBy over 64 dims."""
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", F.posexplode("embedding").alias("dim", "val"))
    q = F.floor(F.col("val").cast("double") * 1000000).cast("bigint")
    a = F.col("vec_id") % 2 == 0
    g = e.groupBy(F.col("dim").cast("int").alias("dim")).agg(
        F.sum(F.when(a, q)).cast("bigint").alias("qa"),
        F.count(F.when(a, F.lit(1))).cast("bigint").alias("na"),
        F.sum(F.when(~a, q)).cast("bigint").alias("qb"),
        F.count(F.when(~a, F.lit(1))).cast("bigint").alias("nb"),
    )
    mean_a = F.col("qa") / 1000000.0 / F.col("na")
    mean_b = F.col("qb") / 1000000.0 / F.col("nb")
    return g.select(
        "dim",
        "na",
        "nb",
        F.round(mean_a, 6).alias("mean_a"),
        F.round(mean_b, 6).alias("mean_b"),
        F.round(F.abs(mean_a - mean_b), 6).alias("shift"),
    )


SQL_EMBEDDING_DRIFT = """
WITH e AS (
  SELECT vec_id, cast(generate_subscripts(embedding, 1) - 1 AS int) AS dim,
         unnest(embedding)::DOUBLE AS val
  FROM embeddings
),
g AS (
  SELECT dim,
         cast(sum(CASE WHEN vec_id % 2 = 0 THEN floor(val * 1000000)::BIGINT END) AS BIGINT) AS qa,
         cast(count(CASE WHEN vec_id % 2 = 0 THEN 1 END) AS BIGINT) AS na,
         cast(sum(CASE WHEN vec_id % 2 <> 0 THEN floor(val * 1000000)::BIGINT END) AS BIGINT) AS qb,
         cast(count(CASE WHEN vec_id % 2 <> 0 THEN 1 END) AS BIGINT) AS nb
  FROM e GROUP BY 1
)
SELECT dim, na, nb,
       round(qa / 1000000.0 / na, 6) AS mean_a,
       round(qb / 1000000.0 / nb, 6) AS mean_b,
       round(abs(qa / 1000000.0 / na - qb / 1000000.0 / nb), 6) AS shift
FROM g
"""


# ------------------------------------------------- key-skew report

def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnostics for the conversation key (events.user_id —
    the same Zipf-hot key the salted uniqueness check absorbs):
    n_keys, total_rows, max_share, top10_share, Gini
    (operators/audit.py:key_skew_report). The measurement that decides
    whether a key needs salting before it burns a shuffle."""
    from sgb_data_validator_spark.operators.audit import key_skew_report

    return key_skew_report(_t(spark, sf_dir, "events"), "user_id")


SQL_SKEW_REPORT = """
WITH per AS (
  SELECT user_id, count(*)::BIGINT AS cnt FROM events GROUP BY 1
),
ranked AS (
  SELECT cnt,
         row_number() OVER (ORDER BY cnt ASC, user_id ASC)::BIGINT AS rk,
         row_number() OVER (ORDER BY cnt DESC, user_id ASC)::BIGINT AS rk_desc
  FROM per
),
one AS (
  SELECT count(*)::BIGINT AS n_keys, cast(sum(cnt) AS BIGINT) AS total,
         max(cnt) AS max_cnt, cast(sum(rk * cnt) AS BIGINT) AS rk_dot,
         cast(sum(CASE WHEN rk_desc <= 10 THEN cnt END) AS BIGINT) AS top10
  FROM ranked
)
SELECT 'n_keys' AS metric, cast(n_keys AS DOUBLE) AS value FROM one
UNION ALL SELECT 'total_rows', cast(total AS DOUBLE) FROM one
UNION ALL SELECT 'max_share', round(max_cnt / cast(total AS DOUBLE), 6) FROM one
UNION ALL SELECT 'top10_share', round(top10 / cast(total AS DOUBLE), 6) FROM one
UNION ALL SELECT 'gini', round((2 * rk_dot - (n_keys + 1) * total) / cast(n_keys * total AS DOUBLE), 6) FROM one
"""


# ------------------------------------------------- Benford audit

def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals
    (operators/audit.py:benford_digits): digit frequencies vs
    log10(1+1/d). Flags fabricated or unit-mixed monetary columns —
    the forensic complement of reconcile_totals' exact-sum check."""
    from sgb_data_validator_spark.operators.audit import benford_digits

    return benford_digits(_t(spark, sf_dir, "orders"), "o_totalprice")


SQL_BENFORD = """
WITH per AS (
  SELECT cast(floor(o_totalprice / power(10.0, floor(log10(o_totalprice)))) AS int) AS digit,
         count(*)::BIGINT AS n
  FROM orders WHERE o_totalprice > 0 GROUP BY 1
)
SELECT digit, n,
       round(n / cast(sum(n) OVER () AS DOUBLE), 6) AS freq,
       round(log10(1.0 + 1.0 / digit), 6) AS expected,
       round(abs(n / cast(sum(n) OVER () AS DOUBLE) - log10(1.0 + 1.0 / digit)), 6) AS abs_dev
FROM per
"""


# ------------------------------------------------- event funnel

def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel over the events table: a
    user converts at stage k only with a stage-k event strictly AFTER
    their stage-(k-1) conversion time (min-ts chaining, the classic
    formulation). Each stage scans the fact with the event_type filter
    pushed to parquet, then joins the shrinking converted-user frame
    on user_id — the same key every stage groups by, so AQE plans the
    chain without extra exchanges. Output: stage, users, rate vs
    stage 1."""
    ev = _t(spark, sf_dir, "events")
    s1 = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.where(F.col("event_type") == "click")
        .join(s1, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    counts = (
        s1.agg(F.count(F.lit(1)).alias("u")).select(F.lit("1_view").alias("stage"), "u")
        .unionAll(s2.agg(F.count(F.lit(1)).alias("u")).select(F.lit("2_click").alias("stage"), "u"))
        .unionAll(s3.agg(F.count(F.lit(1)).alias("u")).select(F.lit("3_purchase").alias("stage"), "u"))
    )
    base = s1.agg(F.count(F.lit(1)).alias("base"))
    return counts.crossJoin(F.broadcast(base)).select(
        "stage",
        F.col("u").cast("bigint").alias("users"),
        F.round(F.col("u") / F.col("base"), 6).alias("rate"),
    )


SQL_FUNNEL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY 1
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1
),
c AS (
  SELECT '1_view' AS stage, count(*)::BIGINT AS users FROM s1
  UNION ALL SELECT '2_click', count(*)::BIGINT FROM s2
  UNION ALL SELECT '3_purchase', count(*)::BIGINT FROM s3
)
SELECT stage, users,
       round(users / (SELECT cast(count(*) AS DOUBLE) FROM s1), 6) AS rate
FROM c
"""


# ------------------------------------------------- language mismatch

def q_lang_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stated-vs-detected language reconciliation per source: docs
    whose declared lang column is in the classifier's label set but
    whose detected language disagrees — the metadata-trust audit
    (wrong-language documents poison monolingual training mixes).
    Detection routes through the pluggable scorer slot exactly like
    q_lang_id; undetermined predictions are reported, not counted as
    mismatches. One fact scan, groupBy(source)."""
    from sgb_data_validator_spark.operators import scorers
    from sgb_data_validator_spark.operators.textanalysis import LANG_MARKERS

    docs = _t(spark, sf_dir, "documents")
    sup = sorted(LANG_MARKERS)
    d = docs.where(F.col("lang").isin(sup)).select(
        "source", "lang", scorers.lang_id(F.col("text")).alias("pred")
    )
    und = F.col("pred") == "und"
    mism = ~und & (F.col("pred") != F.col("lang"))
    return d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(und.cast("int")).cast("bigint").alias("undetermined"),
        F.sum(mism.cast("int")).cast("bigint").alias("mismatches"),
        F.round(
            F.sum(mism.cast("int"))
            / F.nullif(F.sum((~und).cast("int")).cast("double"), F.lit(0.0)),
            6,
        ).alias("mismatch_rate"),
    )


def _sql_lang_mismatch() -> str:
    from sgb_data_validator_spark.operators.textanalysis import LANG_MARKERS
    from sgb_data_validator_spark.plans.training_queries import SQL_LANG_ID

    sup = ", ".join(f"'{c}'" for c in sorted(LANG_MARKERS))
    return f"""
WITH lp AS ({SQL_LANG_ID.strip()}),
d AS (
  SELECT doc.source, doc.lang, lp.lang_pred AS pred
  FROM documents doc JOIN lp ON doc.doc_id = lp.doc_id
  WHERE doc.lang IN ({sup})
)
SELECT source, count(*)::BIGINT AS n,
       cast(sum(CASE WHEN pred = 'und' THEN 1 ELSE 0 END) AS BIGINT) AS undetermined,
       cast(sum(CASE WHEN pred <> 'und' AND pred <> lang THEN 1 ELSE 0 END) AS BIGINT) AS mismatches,
       round(sum(CASE WHEN pred <> 'und' AND pred <> lang THEN 1 ELSE 0 END)
             / nullif(cast(sum(CASE WHEN pred <> 'und' THEN 1 ELSE 0 END) AS DOUBLE), 0.0), 6) AS mismatch_rate
FROM d GROUP BY 1
"""


SQL_LANG_MISMATCH = _sql_lang_mismatch()


# ------------------------------------------------- role co-occurrence

def q_role_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Role-pair pointwise mutual information over conversations
    (operators/audit.py:cooccurrence_pmi): which role/tool pairs
    co-occur in the same conversation more or less than independence
    predicts — the structure prior a transcript corpus should be
    audited against (e.g. tool turns never appearing without an
    assistant turn)."""
    from sgb_data_validator_spark.operators.audit import cooccurrence_pmi

    return cooccurrence_pmi(events_turns(_t(spark, sf_dir, "events")))


SQL_ROLE_PMI = f"""
WITH turns AS ({sql_events_turns()}),
dv AS (SELECT DISTINCT conv_id, role FROM turns),
per AS (SELECT role, count(*)::BIGINT AS n_one FROM dv GROUP BY 1),
n AS (SELECT count(DISTINCT conv_id)::BIGINT AS n_convs FROM dv),
pairs AS (
  SELECT a.role AS value_a, b.role AS value_b, count(*)::BIGINT AS n_both
  FROM dv a JOIN dv b ON a.conv_id = b.conv_id AND a.role < b.role
  GROUP BY 1, 2
)
SELECT p.value_a, p.value_b, p.n_both,
       round(ln(cast(p.n_both AS DOUBLE) * n.n_convs / (pa.n_one * pb.n_one)), 6) AS pmi
FROM pairs p
JOIN per pa ON pa.role = p.value_a
JOIN per pb ON pb.role = p.value_b
CROSS JOIN n
"""


AUDIT_QUERIES: dict[str, tuple] = {
    "conv_dedup": (q_conv_dedup, SQL_CONV_DEDUP),
    "embedding_drift": (q_embedding_drift, SQL_EMBEDDING_DRIFT),
    "skew_report": (q_skew_report, SQL_SKEW_REPORT),
    "benford": (q_benford, SQL_BENFORD),
    "funnel": (q_funnel, SQL_FUNNEL),
    "lang_mismatch": (q_lang_mismatch, SQL_LANG_MISMATCH),
    "role_pmi": (q_role_pmi, SQL_ROLE_PMI),
}
