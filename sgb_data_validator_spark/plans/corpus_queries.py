"""Corpus-statistics queries for training-data curation: cross-doc
boilerplate coverage, unigram-LM perplexity scoring, and the HLL-sketch
profiling variant the north rule names.

The reference validates item-at-a-time and has no corpus-level pass
(validate.py walks items independently); these are the corpus-wide
statistics a 100 TB curation pipeline runs between validation and
training. Portability contract matches training_queries.py: integer
basis points where exactness matters, ``round(…, 6)`` on ln-based
doubles (the drift-op convention, proven hash-stable vs DuckDB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sgb_data_validator_spark.operators import textanalysis as T
from sgb_data_validator_spark.plans.constants import _t

# trigram doc-frequency above which a gram counts as boilerplate, and
# the per-doc boilerplate-coverage drop threshold (basis points).
# Sized on the driver corpus: trigram doc-freq p50=1 / p99=4, so >2
# marks the genuinely shared tail; 3000 bp drops ~30% at sf0.01 —
# a real keep/drop mix for the oracle to check, not a constant column.
BOILER_DOC_FREQ = 2
BOILER_DROP_BP = 3000

# add-one smoothing over the observed vocabulary: p(w) = (c(w)+1)/(N+V)
NLL_ROUND = 6

# HLL relative standard deviation for the sketch-stats variant
HLL_RSD = 0.05


def q_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    r"""Cross-document boilerplate coverage (CCNet/Gopher-style): a
    word trigram whose document frequency exceeds BOILER_DOC_FREQ is
    boilerplate; each doc reports how much of its distinct-trigram mass
    is boilerplate and a keep/drop verdict.

    Scale shape: explode distinct trigrams → count-over-window on the
    gram (ONE narrow shuffle on the gram key; partial-agg absorbs hot
    grams the same way dedup_exact's fingerprint window does) →
    re-aggregate per doc (second narrow shuffle on doc_id). No join, no
    broadcast, text never enters an exchange — only (doc_id, gram)
    pairs move. At 100 TB the gram key-space is wide (V³) so neither
    shuffle is skewed; a pathological hot gram is absorbed by the
    map-side combine of the window count.
    """
    docs = _t(spark, sf_dir, "documents")
    grams = (
        # ≥3 words, gated on the RAW column (see word_trigrams doc):
        # two inner whitespace runs after trim ⇔ ≥ 3 tokens
        docs.where(
            F.col("text").isNotNull() & F.trim(F.col("text")).rlike(r"\s+\S+\s")
        ).select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.explode(F.array_distinct(T.word_trigrams(F.col("text")))).alias("gram"),
        )
    )
    w = Window.partitionBy("gram")
    flagged = grams.withColumn("doc_freq", F.count(F.lit(1)).over(w))
    per_doc = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams"),
        F.sum((F.col("doc_freq") > BOILER_DOC_FREQ).cast("bigint"))
        .cast("bigint")
        .alias("n_boiler"),
    )
    # floor + integer-div on the SQL side: DuckDB's double→bigint cast
    # ROUNDS while Spark's truncates (the repetition_score convention)
    boiler_bp = F.floor(F.lit(10_000) * F.col("n_boiler") / F.col("n_grams")).cast("bigint")
    return per_doc.select(
        "doc_id",
        "n_grams",
        "n_boiler",
        boiler_bp.alias("boiler_bp"),
        (boiler_bp < BOILER_DROP_BP).alias("keep"),
    )


SQL_BOILERPLATE_NGRAMS = f"""
WITH w AS (
  SELECT cast(doc_id AS bigint) AS doc_id,
         string_split_regex(lower(trim(text)), '\\s+') AS ws
  FROM documents
  WHERE text IS NOT NULL AND regexp_matches(trim(text), '\\s+\\S+\\s')
),
g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(ws) - 1),
                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS gram
  FROM w
),
d AS (
  SELECT doc_id, gram, count(*) OVER (PARTITION BY gram) AS doc_freq FROM g
),
per AS (
  SELECT doc_id,
         cast(count(*) AS bigint) AS n_grams,
         cast(sum(CASE WHEN doc_freq > {BOILER_DOC_FREQ} THEN 1 ELSE 0 END) AS bigint) AS n_boiler
  FROM d GROUP BY 1
)
SELECT doc_id, n_grams, n_boiler,
       cast((10000 * n_boiler) // n_grams AS bigint) AS boiler_bp,
       cast((10000 * n_boiler) // n_grams AS bigint) < {BOILER_DROP_BP} AS keep
FROM per
"""


def q_perplexity_unigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    r"""Unigram-LM negative log-likelihood per document — the classic
    corpus-LM quality signal (CCNet buckets docs by LM perplexity; the
    unigram variant is the deterministic, dependency-free stand-in
    with the identical Spark shape as a KenLM pandas-UDF scorer).

    p(w) = (c(w)+1) / (N+V) with add-one smoothing over the observed
    vocabulary; nll = mean over the doc's tokens of -ln p(w), rounded
    at 1e-6 (the drift-op float convention).

    Scale shape: one corpus pass builds the frequency table (narrow
    combinable shuffle on the token), a 1-row totals frame rides a
    broadcast crossJoin, and the scoring pass joins tokens→freq via
    BROADCAST (the vocabulary is corpus-bounded; at web scale the
    standard move is identical — broadcast the top-K vocabulary and
    give OOV tokens the smoothing floor, which add-one already
    defines: c=0 ⇒ p = 1/(N+V)). The token join never shuffles the
    fact side; per-doc re-agg is the only wide exchange.
    """
    docs = _t(spark, sf_dir, "documents")
    tokens = docs.where(
        F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    ).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("word"),
    )
    freq = tokens.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    totals = freq.agg(
        F.sum("c").alias("n_total"), F.count(F.lit(1)).alias("v_size")
    )
    p = F.col("c").cast("double") + F.lit(1.0)
    scored = (
        tokens.join(F.broadcast(freq), "word")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            (-F.log(p / (F.col("n_total") + F.col("v_size")).cast("double"))).alias(
                "nll_tok"
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.round(F.avg("nll_tok"), NLL_ROUND).alias("nll"),
    )


SQL_PERPLEXITY_UNIGRAM = f"""
WITH tok AS (
  SELECT cast(doc_id AS bigint) AS doc_id,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
freq AS (SELECT word, count(*) AS c FROM tok GROUP BY 1),
tot AS (SELECT sum(c) AS n_total, count(*) AS v_size FROM freq)
SELECT t.doc_id,
       cast(count(*) AS bigint) AS n_tokens,
       round(avg(-ln((f.c + 1.0) / cast(tot.n_total + tot.v_size AS double))), {NLL_ROUND}) AS nll
FROM tok t JOIN freq f USING (word) CROSS JOIN tot
GROUP BY t.doc_id
"""


def q_stats_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4's scale path: per-partition distinct counts via HyperLogLog
    sketches (``approx_count_distinct`` at rsd=HLL_RSD) — the north
    rule names HLL explicitly because exact countDistinct is a full
    extra shuffle of the key at 10^12 rows, while the sketch rides the
    existing partial aggregation (constant memory per group, mergeable
    across executors exactly like a real multi-node rollup).

    No SQL oracle BY DESIGN: the estimate is sketch-implementation-
    specific (DuckDB's HLL hashes differently), so the driver records
    the rows-only check; the accuracy contract |est−exact|/exact ≤
    3·rsd is asserted in tests/test_corpus_ops.py against the exact
    count on the same frame.
    """
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.col("l_returnflag").alias("part"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.approx_count_distinct("l_partkey", HLL_RSD)
            .cast("bigint")
            .alias("distinct_parts_est"),
            F.approx_count_distinct("l_suppkey", HLL_RSD)
            .cast("bigint")
            .alias("distinct_supps_est"),
        )
    )


# ------------------------------------------------- count-min sketch

# sketch geometry: depth 4 / width 512 bounds overestimation at
# e·N/512 per row with confidence 1 − e^−4; threshold = 0.2% of the
# token stream (integer DIV so both engines agree exactly)
CMS_DEPTH = 4
CMS_WIDTH = 512
CMS_THRESHOLD_DIV = 500


def q_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter tokens via a count-min sketch (Cormode &
    Muthukrishnan 2005) — the bounded-memory companion to the HLL
    distinct sketch: which tokens exceed 0.2% of the stream, with the
    sketch's estimate next to the exact count so the CMS guarantee
    (est ≥ exact, bounded overshoot) is visible and oracle-checked.

    Scale shape: the sketch build is ONE pass — each occurrence
    projects to CMS_DEPTH (row, bucket) pairs in-row and the groupBy's
    map-side combine collapses every task to ≤ d·w cells before a
    ~2048-row shuffle; the ≤ d·w-cell sketch then BROADCASTS back onto
    the candidate side. The exact-count groupBy here is the
    verification harness (and the candidate source); a 10^12-token
    production pass keeps only the sketch + a candidate stream (e.g.
    the previous day's heavy hitters) and never shuffles per-token
    rows. Threshold is computed in-plan from a broadcast one-row total
    (no driver-side count action)."""
    from sgb_data_validator_spark.operators.sketch import cms_build, cms_estimate

    docs = _t(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    )
    toks = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok")
    ).where(F.col("tok") != "")
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("exact_n"))
    sketch = cms_build(toks, "tok", CMS_DEPTH, CMS_WIDTH)
    est = cms_estimate(exact, sketch, "tok", CMS_DEPTH, CMS_WIDTH)
    total = F.broadcast(exact.agg(F.sum("exact_n").alias("__total")))
    return (
        est.crossJoin(total)
        .where(F.col("est_n") >= F.expr(f"__total DIV {CMS_THRESHOLD_DIV}"))
        .select(
            F.col("tok").alias("token"),
            "exact_n",
            "est_n",
            (F.col("est_n") - F.col("exact_n")).cast("bigint").alias("overcount"),
        )
    )


SQL_CMS_TOPK = f"""
WITH toks AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
t2 AS (SELECT tok FROM toks WHERE tok <> ''),
exact AS (SELECT tok, cast(count(*) AS bigint) AS exact_n FROM t2 GROUP BY tok),
cells AS (
  SELECT r.r AS row,
         (('0x' || substr(md5(r.r::VARCHAR || chr(31) || tok), 1, 15))::BIGINT
           % {CMS_WIDTH}) AS bucket
  FROM t2, range({CMS_DEPTH}) r(r)
),
sketch AS (SELECT row, bucket, cast(count(*) AS bigint) AS cell_n FROM cells GROUP BY 1, 2),
probes AS (
  SELECT tok, exact_n, r.r AS row,
         (('0x' || substr(md5(r.r::VARCHAR || chr(31) || tok), 1, 15))::BIGINT
           % {CMS_WIDTH}) AS bucket
  FROM exact, range({CMS_DEPTH}) r(r)
),
est AS (
  SELECT tok, exact_n, min(cell_n) AS est_n
  FROM probes JOIN sketch USING (row, bucket) GROUP BY 1, 2
),
tot AS (SELECT sum(exact_n) AS total FROM exact)
SELECT tok AS token, exact_n, est_n,
       cast(est_n - exact_n AS bigint) AS overcount
FROM est, tot WHERE est_n >= total // {CMS_THRESHOLD_DIV}
"""


# ------------------------------------------------- token entropy


def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Shannon entropy of the token distribution (nats) — the
    quality signal separating natural prose from low-entropy generated
    or boilerplate repetition, orthogonal to the n-gram
    repetition_score. See operators.textanalysis.token_entropy for the
    single-pass H = ln N − (Σ n·ln n)/N shape."""
    from sgb_data_validator_spark.operators.textanalysis import token_entropy

    docs = _t(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    )
    return token_entropy(
        docs.select(F.col("doc_id").cast("bigint").alias("doc_id"), "text"),
        "doc_id",
        "text",
    ).select(
        F.col("id").alias("doc_id"), "n_tokens", "n_distinct", "entropy", "norm_entropy"
    )


SQL_TOKEN_ENTROPY = """
WITH toks AS (
  SELECT cast(doc_id AS bigint) AS doc_id,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
counts AS (
  SELECT doc_id, tok, count(*) AS n FROM toks WHERE tok <> '' GROUP BY 1, 2
),
per_doc AS (
  SELECT doc_id,
         cast(sum(n) AS bigint) AS n_tokens,
         cast(count(*) AS bigint) AS n_distinct,
         sum(n * ln(n::DOUBLE)) AS sum_nlnn
  FROM counts GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_distinct,
       round(ln(n_tokens::DOUBLE) - sum_nlnn / n_tokens, 6) AS entropy,
       CASE WHEN n_distinct > 1
            THEN round((ln(n_tokens::DOUBLE) - sum_nlnn / n_tokens)
                       / ln(n_distinct::DOUBLE), 6)
            ELSE 0.0 END AS norm_entropy
FROM per_doc
"""


CORPUS_QUERIES: dict[str, tuple] = {
    "boilerplate_ngrams": (q_boilerplate_ngrams, SQL_BOILERPLATE_NGRAMS),
    "perplexity_unigram": (q_perplexity_unigram, SQL_PERPLEXITY_UNIGRAM),
    "stats_hll": (q_stats_hll, None),
    "cms_topk": (q_cms_topk, SQL_CMS_TOPK),
    "token_entropy": (q_token_entropy, SQL_TOKEN_ENTROPY),
}
