"""Round-2 coverage queries: the reference semantics the round-1 verdict
flagged as missing or untested, each oracle-checked.

* iso639_lang        — the full 184-code ISO 639-1 vocabulary
                       (vocab/iso639.py; reference src/iso639.py:9-196,
                       case-insensitive membership iso639.py:199-223).
* iconclass_hierarchy— full Iconclass parts semantics: (+X) incremental
                       keys and (...) placeholders
                       (operators/iconclass.py; reference
                       src/iconclass.py:64-99, vocabularies.py:57-87).
* private_flags      — child→parent privacy propagation
                       (operators/referential.py:propagate_private_flag;
                       reference src/transformations.py:853-908).
* row_rules_extra    — the two round-1 dead rules wired and oracle-
                       checked: type_conformance (P1, reference
                       models.py:49-197) and not_contains placeholder
                       flag (P7, transformations.py:807-825).
* histogram          — fixed-width per-partition column histogram (A4
                       residual; reference profiling.py:57-83).
* json_cols          — from_json column extraction over the events
                       props JSON payload (F16 residual; reference JSON
                       handling api.py:228-257).

Same oracle-parity conventions as plans.driver_queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sgb_data_validator_spark.operators import rules as R
from sgb_data_validator_spark.operators.iconclass import iconclass_violations
from sgb_data_validator_spark.operators.referential import propagate_private_flag
from sgb_data_validator_spark.operators.stats import column_histogram
from sgb_data_validator_spark.plans.constants import _t, events_turns, sql_events_turns
from sgb_data_validator_spark.vocab import ISO_639_1_CODES


# --------------------------------------------------------- ISO 639-1 (J2)

def q_iso639_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive ISO 639-1 membership over documents.lang with
    deterministic dirt: every 5th doc upper-cased (valid), doc%5==1 an
    invalid 2-letter code, doc%5==2 a 3-letter code (ISO 639-2, invalid
    here). The 184-code set rides as a codegen'd InSet — no join."""
    docs = _t(spark, sf_dir, "documents")
    lang2 = (
        F.when(F.col("doc_id") % 5 == 0, F.upper(F.col("lang")))
        .when(F.col("doc_id") % 5 == 1, F.lit("xx"))
        .when(F.col("doc_id") % 5 == 2, F.lit("gsw"))
        .otherwise(F.col("lang"))
    )
    rules = R.RowRuleSet().add(
        R.in_vocabulary(
            "lang2", sorted(ISO_639_1_CODES), case_insensitive=True, rule_id="iso639.lang"
        )
    )
    return rules.violations(
        docs.withColumn("lang2", lang2), key_cols=("doc_id",), part_col=None
    )


_ISO_LIST = ", ".join(f"'{c}'" for c in sorted(ISO_639_1_CODES))

SQL_ISO639_LANG = f"""
WITH d AS (
  SELECT doc_id,
         CASE
           WHEN doc_id % 5 = 0 THEN upper(lang)
           WHEN doc_id % 5 = 1 THEN 'xx'
           WHEN doc_id % 5 = 2 THEN 'gsw'
           ELSE lang
         END AS lang2
  FROM documents
)
SELECT 'iso639.lang' AS rule_id, cast(doc_id AS varchar) AS conv_id,
       cast(NULL AS int) AS turn_idx, 'lang2' AS "column",
       substr(lang2, 1, 80) AS offending_value, 'error' AS severity,
       cast(NULL AS varchar) AS part
FROM d
WHERE lang2 IS NOT NULL AND lower(lang2) NOT IN ({_ISO_LIST})
"""


# ---------------------------------------------------- Iconclass (J3 full)

ICONCLASS_VOCAB = ["11H(...)", "25F23", "11H(+3)"]

#: doc_id % 8 → notation; classes 0/4 fail membership, 5/6 fail format,
#: 1 proves the (...) placeholder, 2 the incremental (+X) keys, 3 the
#: startswith fallback, 7 a literal placeholder notation.
_ICONCLASS_CASES = [
    "11H",            # 0: no vocab prefix, no specials  → member violation
    "11H(JEROME)",    # 1: special '11H(...)' ∈ vocab    → valid
    "11H(+31)",       # 2: special '11H(+3)' ∈ vocab     → valid
    "25F23(DOG)",     # 3: startswith '25F23'            → valid
    "11H(+4)",        # 4: no proper-prefix keys         → member violation
    "11H@",           # 5: invalid character             → format violation
    "11H(",           # 6: unbalanced paren              → format violation
    "11H(...)",       # 7: startswith '11H(...)'         → valid
]


def q_iconclass_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    code = F.element_at(
        F.array(*[F.lit(c) for c in _ICONCLASS_CASES]),
        (F.col("doc_id") % 8 + 1).cast("int"),
    )
    return iconclass_violations(
        docs.withColumn("code", code), "doc_id", "code", ICONCLASS_VOCAB
    )


_IC_VOCAB_SQL = "[" + ", ".join(f"'{v}'" for v in ICONCLASS_VOCAB) + "]"
_IC_CASES_SQL = "[" + ", ".join(f"'{c}'" for c in _ICONCLASS_CASES) + "]"

# DuckDB twin of operators.iconclass: sentinel-split the code into
# segments, expand placeholder/plus-key specials against the literal
# prefix before each parenthetical, then membership = startswith-any OR
# specials-overlap (see the operator docstring for why this equals the
# reference's parts semantics).
SQL_ICONCLASS_HIERARCHY = f"""
WITH d AS (
  SELECT doc_id, ({_IC_CASES_SQL})[cast(doc_id % 8 AS int) + 1] AS code
  FROM documents
),
seg AS (
  SELECT doc_id, code,
         list_filter(
           string_split(replace(replace(code, '(', chr(31) || '('),
                                ')', ')' || chr(31)), chr(31)),
           x -> x <> '') AS segs,
         (regexp_matches(code, '^[0-9A-Zq()+\\s.]+$')
          AND trim(code) <> ''
          AND regexp_matches(code, '^[^()]*(\\([^()]*\\)[^()]*)*$')) AS format_ok
  FROM d
),
sp AS (
  SELECT doc_id, code, format_ok,
         flatten(list_transform(range(1, len(segs) + 1), i ->
           CASE
             WHEN starts_with(list_extract(segs, i), '(+') THEN
               list_transform(range(1, length(list_extract(segs, i)) - 3), j ->
                 array_to_string(segs[1:i-1], '') || '(+' ||
                 substr(list_extract(segs, i), 3, j) || ')')
             WHEN starts_with(list_extract(segs, i), '(')
                  AND list_extract(segs, i) <> '(...)' THEN
               [array_to_string(segs[1:i-1], '') || '(...)']
             ELSE []
           END)) AS specials
  FROM seg
),
v AS (
  SELECT doc_id, code, format_ok,
         (len(list_filter({_IC_VOCAB_SQL}, vc -> starts_with(code, vc))) > 0
          OR len(list_filter(specials, s -> list_contains({_IC_VOCAB_SQL}, s))) > 0)
           AS member_ok
  FROM sp
)
SELECT CASE WHEN NOT format_ok THEN 'iconclass.format'
            ELSE 'iconclass.member' END AS rule_id,
       cast(doc_id AS varchar) AS doc_id, 'code' AS "column",
       substr(code, 1, 80) AS offending_value, 'error' AS severity
FROM v WHERE NOT format_ok OR NOT member_ok
"""


# -------------------------------------- private-flag propagation (J4 full)

def q_private_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders are 'public' unless status F; a lineitem child is private
    when returnflag R. Propagation: any private child ⇒ parent private
    (childless parents keep their own flag)."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", (F.col("o_orderstatus") != "F").alias("is_public")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", (F.col("l_returnflag") != "R").alias("is_public")
    )
    out = propagate_private_flag(orders, li, "o_orderkey", "l_orderkey")
    return out.select(
        F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
        "is_public",
        "effective_is_public",
    )


SQL_PRIVATE_FLAGS = """
WITH child AS (
  SELECT l_orderkey, min(coalesce(l_returnflag <> 'R', true)) AS children_public
  FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1
)
SELECT cast(o_orderkey AS bigint) AS o_orderkey,
       (o_orderstatus <> 'F') AS is_public,
       ((o_orderstatus <> 'F') AND coalesce(children_public, true))
         AS effective_is_public
FROM orders LEFT JOIN child ON o_orderkey = l_orderkey
"""


# --------------------------------------------- dead rules wired (P1 / P7)

def q_row_rules_extra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """type_conformance + not_contains over events: every 11th event's
    value is string-corrupted (not castable back to double ⇒ P1 error);
    props payloads containing the '"k": 9' fragment are flagged as
    placeholder-style content (P7 warning, gated on the type rule per
    the parse-ok short-circuit)."""
    ev = _t(spark, sf_dir, "events")
    value_str = F.when(
        F.col("event_id") % 11 == 0,
        F.concat(F.lit("v"), F.col("value").cast("string")),
    ).otherwise(F.col("value").cast("string"))
    rules = R.RowRuleSet().add(
        R.type_conformance("value_str", "double"),
        R.not_contains("props", '"k": 9'),
    )
    return rules.violations(
        ev.withColumn("value_str", value_str), key_cols=("event_id",), part_col=None
    )


SQL_ROW_RULES_EXTRA = """
WITH base AS (
  SELECT event_id, props,
         CASE WHEN event_id % 11 = 0 THEN 'v' || cast(value AS varchar)
              ELSE cast(value AS varchar) END AS value_str
  FROM events
),
b AS (
  SELECT *,
         (value_str IS NOT NULL AND try_cast(value_str AS double) IS NULL)
           AS type_bad
  FROM base
)
SELECT 'type.value_str' AS rule_id, cast(event_id AS varchar) AS conv_id,
       cast(NULL AS int) AS turn_idx, 'value_str' AS "column",
       substr(value_str, 1, 80) AS offending_value, 'error' AS severity,
       cast(NULL AS varchar) AS part
FROM b WHERE type_bad
UNION ALL
SELECT 'contains.props', cast(event_id AS varchar), cast(NULL AS int), 'props',
       substr(props, 1, 80), 'warning', cast(NULL AS varchar)
FROM b WHERE NOT type_bad AND props IS NOT NULL
  AND contains(lower(props), '"k": 9')
"""


# -------------------------------------------------------- histogram (A4)

def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-bin fixed-width histogram of l_quantity per returnflag."""
    li = _t(spark, sf_dir, "lineitem").withColumn("part", F.col("l_returnflag"))
    return column_histogram(li, "l_quantity", lo=0.0, hi=50.0, n_bins=10).select(
        "part", F.col("bin").cast("int").alias("bin"), "n"
    )


SQL_HISTOGRAM = """
SELECT l_returnflag AS part,
       cast(least(greatest(floor(cast(l_quantity AS double) / 5.0), 0), 9) AS int) AS bin,
       cast(count(*) AS bigint) AS n
FROM lineitem WHERE l_quantity IS NOT NULL
GROUP BY 1, 2
"""


# ------------------------------------------------- JSON column ops (F16)

def q_json_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json over the props payload (explicit schema — no inference
    pass), aggregate the extracted field, and prove to_json round-trips
    by counting re-serialized distinct payloads."""
    ev = _t(spark, sf_dir, "events")
    parsed = ev.withColumn("k", F.from_json(F.col("props"), "k int")["k"])
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("k").cast("bigint").alias("sum_k"),
        # null-guard: Spark's to_json omits null fields ('{}') while the
        # SQL twin's concat yields NULL — align on NULL for missing k
        F.countDistinct(
            F.when(F.col("k").isNotNull(), F.to_json(F.struct(F.col("k"))))
        ).cast("bigint").alias("n_payloads"),
    )


SQL_JSON_COLS = """
SELECT event_type, cast(count(*) AS bigint) AS n,
       cast(sum(cast(json_extract_string(props, '$.k') AS int)) AS bigint) AS sum_k,
       cast(count(DISTINCT '{"k":' || json_extract_string(props, '$.k') || '}')
            AS bigint) AS n_payloads
FROM events GROUP BY event_type
"""


# ------------------------------------------------ quantile stats (A4)

def q_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark ``percentile`` ==
    ANSI percentile_cont semantics). The scale path for 10^12 rows is
    ``percentile_approx`` (KLL-style sketch, mergeable map-side) — exact
    here so the DuckDB oracle can mirror it bit-for-bit after rounding."""
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("double")
    return li.groupBy(F.col("l_returnflag").alias("part")).agg(
        F.round(F.percentile(qty, F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile(qty, F.lit(0.95)), 4).alias("p95"),
        F.round(F.percentile(qty, F.lit(0.99)), 4).alias("p99"),
    )


SQL_QUANTILES = """
SELECT l_returnflag AS part,
       round(quantile_cont(cast(l_quantity AS double), 0.5), 4) AS p50,
       round(quantile_cont(cast(l_quantity AS double), 0.95), 4) AS p95,
       round(quantile_cont(cast(l_quantity AS double), 0.99), 4) AS p99
FROM lineitem GROUP BY 1
"""


# ------------------------------------------------ PSI drift (A5)

def q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per day vs the global event-type mix
    (operators/drift.py:psi — includes categories absent from a
    partition, ε-smoothed). Global total in-plan (window over the
    grouped per-value counts — a single-partition exchange of
    ~|distinct roles| rows), same single-scan shape as q_drift_kl."""
    from pyspark.sql import Window

    from sgb_data_validator_spark.operators.drift import psi

    ev = _t(spark, sf_dir, "events")
    t = ev.select(
        F.date_format("ts", "yyyy-MM-dd").alias("part"),
        F.col("event_type").alias("role"),
    )
    baseline = (
        t.groupBy(F.col("role").alias("value"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(
            F.lit("role").alias("dim"),
            "value",
            (F.col("_n") / F.sum("_n").over(Window.partitionBy())).alias("freq"),
        )
    )
    return psi(t, baseline, "role").select("part", F.round("psi", 6).alias("psi"))


SQL_DRIFT_PSI = """
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
SELECT part, round(sum((p - q) * ln(p / q)), 6) AS psi FROM j GROUP BY part
"""


def q_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov–Smirnov drift of the hour-of-day histogram per day vs
    the global mix (operators/drift.py:ks_statistic) — the max-CDF-gap
    member of the drift family (A5), sensitive to mass shifting along
    the ordered hour axis. Global baseline computed in-plan (window
    over grouped counts), single fact scan."""
    from pyspark.sql import Window

    from sgb_data_validator_spark.operators.drift import ks_statistic

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
    return ks_statistic(t, baseline).select("part", F.round("ks", 6).alias("ks"))


SQL_DRIFT_KS = """
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
  SELECT part,
         sum(p) OVER (PARTITION BY part ORDER BY cast(value AS int)) AS cp,
         sum(q) OVER (PARTITION BY part ORDER BY cast(value AS int)) AS cq
  FROM j
)
SELECT part, round(max(abs(cp - cq)), 6) AS ks FROM c GROUP BY part
"""


def q_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily ingest-volume control chart — the monitoring complement of
    the distribution-drift family (A5): per-day row counts, corpus mean
    and sample stddev, and the z-score flagging days whose VOLUME (not
    mix) is anomalous. Scale shape: the fact reduces to one row per day
    in a map-side-combined count; the mean/std window then runs over
    the ~O(days) frame, so the single-partition window exchange moves a
    few dozen rows, never the fact."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("part")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows")
    )
    w = Window.partitionBy()
    z = (F.col("n_rows") - F.avg("n_rows").over(w)) / F.stddev_samp("n_rows").over(w)
    return daily.select(
        "part",
        "n_rows",
        F.round(F.avg("n_rows").over(w), 4).alias("mean_rows"),
        F.round(F.stddev_samp("n_rows").over(w), 4).alias("std_rows"),
        # single-day corpora: stddev_samp is NULL ⇒ z undefined; surface
        # z=0 / not-anomalous (not NULL) so `is_anomalous = true` filters
        # and `IS NOT false` filters agree downstream
        F.coalesce(F.round(z, 4), F.lit(0.0)).alias("z_score"),
        F.coalesce(F.abs(z) > 3.0, F.lit(False)).alias("is_anomalous"),
    )


SQL_VOLUME_ANOMALY = """
WITH daily AS (
  SELECT strftime(ts, '%Y-%m-%d') AS part, cast(count(*) AS bigint) AS n_rows
  FROM events GROUP BY 1
)
SELECT part, n_rows,
       round(avg(n_rows) OVER (), 4) AS mean_rows,
       round(stddev_samp(n_rows) OVER (), 4) AS std_rows,
       coalesce(round((n_rows - avg(n_rows) OVER ()) / stddev_samp(n_rows) OVER (), 4), 0.0)
         AS z_score,
       coalesce(abs((n_rows - avg(n_rows) OVER ()) / stddev_samp(n_rows) OVER ()) > 3.0, false)
         AS is_anomalous
FROM daily
"""


# ------------------------------------------------ backup/restore (S10)

def q_backup_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full backup → explicit-schema restore → aggregate over the
    RESTORED frames (sources/backup.py; reference api.py:369-560).
    Parity with the direct-parquet oracle proves the round-trip — data,
    schema, and the parent/child join keys — is lossless."""
    import tempfile

    from sgb_data_validator_spark.sources.backup import backup_tables, restore_tables

    tmp = tempfile.mkdtemp(prefix="sgb_backup_")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_quantity").cast("double").alias("qty")
    )
    backup_tables({"orders": orders, "lineitem": li}, tmp)
    r = restore_tables(spark, tmp)
    return (
        r["lineitem"]
        .join(r["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.round(F.sum("qty"), 2).alias("sum_qty"),
        )
    )


SQL_BACKUP_RESTORE = """
SELECT o_orderstatus, cast(count(*) AS bigint) AS n_lines,
       round(sum(cast(l_quantity AS double)), 2) AS sum_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
"""


# ------------------------------------------------ sessionization (W3+)

SESSION_GAP_US = 6 * 3600 * 1_000_000  # 6 hours


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions over the transcript projection: a >6h pause
    starts a new session (operators/windows.py:sessionize — chunk-split
    windows + prefix offsets, same skew design as the sequence rules)."""
    from sgb_data_validator_spark.operators.windows import sessionize

    turns = events_turns(_t(spark, sf_dir, "events"), "ts")
    return sessionize(turns, gap_us=SESSION_GAP_US)


SQL_SESSIONIZE = f"""
WITH turns AS ({sql_events_turns("ts")}),
w AS (
  SELECT conv_id, turn_idx, ts,
         lag(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS pts
  FROM turns
),
f AS (
  SELECT conv_id, turn_idx,
         CASE WHEN pts IS NULL OR epoch_us(ts) - epoch_us(pts) > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS flag
  FROM w
)
SELECT conv_id, cast(turn_idx AS int) AS turn_idx,
       cast(sum(flag) OVER (PARTITION BY conv_id ORDER BY turn_idx
                            ROWS UNBOUNDED PRECEDING) - 1 AS bigint) AS session_idx
FROM f
"""


# ------------------------------------------- top-k frequent values (A4)

def q_top_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 languages per source — the value-distribution block of the
    profiling report (operators/stats.py:top_values)."""
    from sgb_data_validator_spark.operators.stats import top_values

    docs = _t(spark, sf_dir, "documents").withColumn("part", F.col("source"))
    return top_values(docs, "lang", k=3)


SQL_TOP_VALUES = """
WITH c AS (
  SELECT source AS part, lang AS value, cast(count(*) AS bigint) AS n
  FROM documents WHERE lang IS NOT NULL GROUP BY 1, 2
),
r AS (
  SELECT part, value, n,
         cast(row_number() OVER (PARTITION BY part ORDER BY n DESC, value ASC) AS int) AS rank
  FROM c
)
SELECT part, value, n, rank FROM r WHERE rank <= 3
"""


# --------------------------------------- stratified sampling (curation)

SAMPLE_RATES_BP = {"en": 5_000, "de": 2_500, "fr": 1_000, "es": 100, "zh": 0}


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language downsampling of documents
    (operators/sampling.py): md5 basis-point rule, replayed exactly by
    the SQL twin — same rows kept on both engines."""
    from sgb_data_validator_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(docs, "doc_id", "lang", SAMPLE_RATES_BP).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "lang"
    )


_RATE_CASE = "CASE lang " + " ".join(
    f"WHEN '{s}' THEN {bp}" for s, bp in sorted(SAMPLE_RATES_BP.items())
) + " ELSE 0 END"

SQL_STRATIFIED_SAMPLE = f"""
SELECT cast(doc_id AS bigint) AS doc_id, lang
FROM documents
WHERE (('0x' || substr(md5(lang || chr(31) || doc_id::VARCHAR), 1, 15))::BIGINT) % 10000
      < {_RATE_CASE}
"""


# ------------------------------------ Iconclass exact-parity parts (J3)

#: notations exercising the reference splitter's QUIET behaviors —
#: the ones the native codegen path gates out as format violations
#: (operators/iconclass.py:32-37): unclosed parens (consumed as base
#: characters), nested parens (non-greedy match eats '(X(Y'), empty
#: parens, bare '(+)', plus the well-formed shapes for overlap with the
#: native path. Reference: /root/reference/src/iconclass.py:64-99,
#: test/test_iconclass.py:8-154.
ICONCLASS_EXOTIC = [
    "11H",
    "25F23(DOG)",
    "11H(+31)",
    "11H(JEROME)(+3)",
    "11 H",
    "11.H",
    "11Hq",
    "25F23(DOG",       # unclosed paren → base characters
    "11H(+3",          # unclosed plus-qualifier → base characters
    "31A(X(Y))",       # nested: splitter matches '(X(Y)' non-greedily
    "11H()",           # empty parens → base characters
    "48C(+)",          # bare plus: no incremental keys emitted
    "25F23(DOG)(+ABC)",
    "q(...)",          # explicit placeholder in the input
]


def q_iconclass_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-parity Iconclass expansion over a FRAME (pandas UDF on the
    pure-Python splitter, functions/pytext.py:iconclass_parts): every
    doc gets a deterministic exotic notation, the UDF expands it, the
    oracle carries the expected parts as precomputed literals from the
    same golden-tested splitter. This makes the native path's documented
    format-gate divergence (operators/iconclass.py:32-37) an executable
    frame-level check, not just a unit golden."""
    from sgb_data_validator_spark.functions.vectorized import iconclass_parts_udf

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    notation = F.lit(None).cast("string")
    for i, n in enumerate(ICONCLASS_EXOTIC):
        notation = F.when(F.col("doc_id") % len(ICONCLASS_EXOTIC) == i, F.lit(n)).otherwise(
            notation
        )
    return docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        notation.alias("notation"),
        iconclass_parts_udf(notation).alias("parts"),
    )


def _sql_iconclass_parts() -> str:
    from sgb_data_validator_spark.functions.pytext import iconclass_parts

    n = len(ICONCLASS_EXOTIC)
    not_case = "CASE (doc_id % {n}) {w} END".format(
        n=n,
        w=" ".join(f"WHEN {i} THEN '{s}'" for i, s in enumerate(ICONCLASS_EXOTIC)),
    )
    parts_case = "CASE (doc_id % {n}) {w} END".format(
        n=n,
        w=" ".join(
            f"WHEN {i} THEN '{'|'.join(iconclass_parts(s))}'"
            for i, s in enumerate(ICONCLASS_EXOTIC)
        ),
    )
    return f"""
SELECT cast(doc_id AS bigint) AS doc_id, {not_case} AS notation, {parts_case} AS parts
FROM documents WHERE doc_id < 200
"""


SQL_ICONCLASS_PARTS = _sql_iconclass_parts()


def q_drift_js(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon drift per day vs the global event-type mix
    (operators/drift.py:js_divergence) — the symmetric, bounded-by-ln2
    member of the drift family: one alert threshold works across
    dimensions of any cardinality because a category the other side
    lacks contributes at most its own mass, never infinity. Same
    in-plan global baseline and single-scan shape as q_drift_psi."""
    from pyspark.sql import Window

    from sgb_data_validator_spark.operators.drift import js_divergence

    ev = _t(spark, sf_dir, "events")
    t = ev.select(
        F.date_format("ts", "yyyy-MM-dd").alias("part"),
        F.col("event_type").alias("role"),
    )
    baseline = (
        t.groupBy(F.col("role").alias("value"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(
            F.lit("role").alias("dim"),
            "value",
            (F.col("_n") / F.sum("_n").over(Window.partitionBy())).alias("freq"),
        )
    )
    return js_divergence(t, baseline, "role").select(
        "part", F.round("js", 6).alias("js")
    )


SQL_DRIFT_JS = """
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
FROM j GROUP BY part
"""


def q_length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust length outliers per source
    (operators/stats.py:robust_outliers): documents whose char length
    sits more than k robust-z units from their source's median — the
    per-record actionable form of the profiling row. k=2 splits the
    synthetic corpus (its lengths are tight; real corpora use 3-5)."""
    from sgb_data_validator_spark.operators.stats import robust_outliers

    docs = _t(spark, sf_dir, "documents")
    return robust_outliers(
        docs, "source", F.length("text"), "doc_id", k=2.0
    ).select(
        F.col("id").cast("bigint").alias("doc_id"),
        F.col("grp").alias("source"),
        F.col("x").alias("len"),
        "med",
        "mad",
        "robust_z",
    )


SQL_LENGTH_OUTLIERS = """
WITH base AS (
  SELECT doc_id, source, cast(length(text) AS double) AS x
  FROM documents WHERE text IS NOT NULL
),
med AS (SELECT source, quantile_cont(x, 0.5) AS med FROM base GROUP BY 1),
mad AS (
  SELECT b.source, quantile_cont(abs(b.x - m.med), 0.5) AS mad
  FROM base b JOIN med m USING (source) GROUP BY 1
),
scored AS (
  SELECT b.doc_id, b.source, b.x, m.med, d.mad,
         round((b.x - m.med) / greatest(d.mad, 0.5), 4) AS robust_z
  FROM base b JOIN med m USING (source) JOIN mad d ON d.source = b.source
)
SELECT cast(doc_id AS bigint) AS doc_id, source, x AS len, med, mad, robust_z
FROM scored WHERE abs(robust_z) > 2.0
"""


COVERAGE_QUERIES: dict[str, tuple] = {
    "iso639_lang": (q_iso639_lang, SQL_ISO639_LANG),
    "iconclass_hierarchy": (q_iconclass_hierarchy, SQL_ICONCLASS_HIERARCHY),
    "private_flags": (q_private_flags, SQL_PRIVATE_FLAGS),
    "row_rules_extra": (q_row_rules_extra, SQL_ROW_RULES_EXTRA),
    "histogram": (q_histogram, SQL_HISTOGRAM),
    "json_cols": (q_json_cols, SQL_JSON_COLS),
    "quantiles": (q_quantiles, SQL_QUANTILES),
    "drift_psi": (q_drift_psi, SQL_DRIFT_PSI),
    "drift_ks": (q_drift_ks, SQL_DRIFT_KS),
    "drift_js": (q_drift_js, SQL_DRIFT_JS),
    "length_outliers": (q_length_outliers, SQL_LENGTH_OUTLIERS),
    "volume_anomaly": (q_volume_anomaly, SQL_VOLUME_ANOMALY),
    "backup_restore": (q_backup_restore, SQL_BACKUP_RESTORE),
    "sessionize": (q_sessionize, SQL_SESSIONIZE),
    "top_values": (q_top_values, SQL_TOP_VALUES),
    "stratified_sample": (q_stratified_sample, SQL_STRATIFIED_SAMPLE),
    "iconclass_parts": (q_iconclass_parts, SQL_ICONCLASS_PARTS),
}
