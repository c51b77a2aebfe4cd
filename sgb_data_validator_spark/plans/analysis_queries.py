"""Round-4 corpus-analysis + integrity queries, each with a DuckDB twin
under the established portability contract (portable md5 hashes, integer
arithmetic, ``round(…, 6)`` on ln-based doubles).

* token_chunks     — sliding token-window chunking of documents (the
                     RAG / long-context split; operators/packing.py:
                     token_window_chunks). Pure narrow codegen.
* group_topk       — deterministic per-language k-sample by smallest
                     portable hash, exact under skew via salted
                     two-phase top-k (operators/sampling.py:group_topk).
* tfidf_top_terms  — per-document top-k terms by tf·idf, the classic
                     corpus-characterization statistic (reference has
                     per-item profiling only, src/profiling.py; this is
                     its corpus-level analog).
* fd_check         — functional-dependency validation (determinant →
                     dependent must be single-valued), the aggregate-
                     level sibling of the reference's per-row type rules
                     (src/models.py:49-197); emits violating groups with
                     a two-example witness
                     (operators/referential.py:fd_violations).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sgb_data_validator_spark.operators import textanalysis as T
from sgb_data_validator_spark.operators.packing import token_window_chunks
from sgb_data_validator_spark.operators.referential import fd_violations
from sgb_data_validator_spark.operators.sampling import group_topk
from sgb_data_validator_spark.plans.constants import _t

# token-window chunking: 32-token windows advancing 24 tokens (8-token
# overlap) — sized so the sf fixtures' ~40-200-token docs emit several
# chunks each, exercising both full and clamped final windows.
CHUNK_WINDOW = 32
CHUNK_STRIDE = 24

# per-language deterministic sample size
TOPK_K = 5

# tf-idf terms kept per document; ln rounding matches corpus_queries
TFIDF_K = 3
LN_ROUND = 6


# ------------------------------------------------- token-window chunking


def q_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk every document into sliding token windows; emit the chunk
    manifest (doc_id, chunk_idx, chunk_tokens, chunk_hash). Scale shape:
    split + sequence + posexplode inside the scan stage — zero shuffle,
    zero UDF, text never enters an exchange."""
    docs = _t(spark, sf_dir, "documents")
    chunks = token_window_chunks(docs, "doc_id", "text", CHUNK_WINDOW, CHUNK_STRIDE)
    return chunks.select(
        F.col("id").cast("bigint").alias("doc_id"),
        "chunk_idx",
        "chunk_tokens",
        "chunk_hash",
    )


SQL_TOKEN_CHUNKS = f"""
WITH w AS (
  SELECT cast(doc_id AS bigint) AS doc_id,
         regexp_split_to_array(
           regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+') AS words
  FROM documents
  WHERE text IS NOT NULL
    AND regexp_replace(text, '^\\s+|\\s+$', '', 'g') <> ''
),
s AS (
  SELECT doc_id, words,
         unnest(range(0, len(words), {CHUNK_STRIDE})) AS start
  FROM w
)
SELECT doc_id,
       cast(start // {CHUNK_STRIDE} AS bigint) AS chunk_idx,
       cast(len(list_slice(words, start + 1, start + {CHUNK_WINDOW})) AS bigint)
         AS chunk_tokens,
       ('0x' || substr(md5(array_to_string(
            list_slice(words, start + 1, start + {CHUNK_WINDOW}), ' ')), 1, 15))::BIGINT
         AS chunk_hash
FROM s
"""


# -------------------------------------------- per-group deterministic k


def q_group_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language 5-doc sample (smallest portable hash
    wins); salted two-phase top-k so a hot language never lands in one
    task. The twin is the single-window form — identical rows."""
    docs = _t(spark, sf_dir, "documents")
    picked = group_topk(docs, "doc_id", "lang", TOPK_K)
    return picked.select(
        F.col("stratum").alias("lang"),
        F.col("key").cast("bigint").alias("doc_id"),
        "rank",
    )


SQL_GROUP_TOPK = f"""
WITH s AS (
  SELECT lang, cast(doc_id AS bigint) AS doc_id,
         ('0x' || substr(md5('topk' || chr(31) || doc_id::VARCHAR), 1, 15))::BIGINT
           AS ord
  FROM documents
)
SELECT lang, doc_id,
       cast(row_number() OVER (PARTITION BY lang ORDER BY ord, doc_id) AS bigint)
         AS rank
FROM s
QUALIFY rank <= {TOPK_K}
"""


# ------------------------------------------------------- tf-idf top terms


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 terms per document by tf·idf (idf = ln(N/df), rounded at 6
    like every ln in the corpus tier). Scale shape: (doc_id, term) tf
    agg, then document frequency as a groupBy(term) + equi-join back —
    NOT a term-partitioned window: a hot term (any stopword) would put
    its entire (doc, term) row set in one window task, and AQE cannot
    split window partitions, but it CAN skew-split a join and the df
    aggregation itself is map-side-combined. Corpus size N folds in as
    a broadcast one-row agg (never an eager count()); text leaves the
    scan only as exploded terms. Final per-doc rank window partitions
    are bounded by each doc's distinct-term count."""
    docs = _t(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    )
    terms = docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("term"),
    )
    tf = terms.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    with_df = tf.join(dfreq, "term")
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    scored = with_df.crossJoin(F.broadcast(n)).select(
        "doc_id",
        "term",
        "tf",
        F.round(
            F.col("tf") * F.round(F.log(F.col("__n") / F.col("df")), LN_ROUND),
            LN_ROUND,
        ).alias("score"),
    )
    w_doc = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return scored.withColumn(
        "rank", F.row_number().over(w_doc).cast("bigint")
    ).where(F.col("rank") <= TFIDF_K)


SQL_TFIDF_TOP_TERMS = f"""
WITH d AS (
  SELECT cast(doc_id AS bigint) AS doc_id, text
  FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''
),
t AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
  FROM d
),
tf AS (
  SELECT doc_id, term, cast(count(*) AS bigint) AS tf
  FROM t GROUP BY 1, 2
),
n AS (SELECT cast(count(*) AS double) AS n FROM d),
s AS (
  SELECT doc_id, term, tf,
         round(tf * round(ln(n.n / (count(*) OVER (PARTITION BY term))),
                          {LN_ROUND}), {LN_ROUND}) AS score
  FROM tf, n
)
SELECT doc_id, term, tf, score,
       cast(row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term ASC) AS bigint) AS rank
FROM s
QUALIFY rank <= {TFIDF_K}
"""


# --------------------------------------------- functional-dependency check


def q_fd_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FD o_custkey → o_orderstatus over orders: a customer whose orders
    carry more than one status violates (the fixtures mix held and
    violated groups, 8/1492 at sf0.01). One partial-agg groupBy, no
    join, no window."""
    orders = _t(spark, sf_dir, "orders")
    return fd_violations(orders, ["o_custkey"], "o_orderstatus").select(
        F.col("o_custkey").cast("bigint").alias("o_custkey"),
        "n_distinct",
        "n_rows",
        "lo_value",
        "hi_value",
    )


SQL_FD_CHECK = """
SELECT cast(o_custkey AS bigint) AS o_custkey,
       cast(count(DISTINCT o_orderstatus) AS bigint) AS n_distinct,
       cast(count(o_orderstatus) AS bigint) AS n_rows,
       min(o_orderstatus) AS lo_value,
       max(o_orderstatus) AS hi_value
FROM orders
GROUP BY 1
HAVING count(DISTINCT o_orderstatus) > 1
"""


ANALYSIS_QUERIES: dict[str, tuple] = {
    "token_chunks": (q_token_chunks, SQL_TOKEN_CHUNKS),
    "group_topk": (q_group_topk, SQL_GROUP_TOPK),
    "tfidf_top_terms": (q_tfidf_top_terms, SQL_TFIDF_TOP_TERMS),
    "fd_check": (q_fd_check, SQL_FD_CHECK),
}


# ----------------------------------------- chunk-level contamination

# disjoint 13-token blocks — the standard n-gram contamination unit
# (13-gram overlap), chunked without intra-doc fan-out (stride=window)
CONTAM_WINDOW = 13
CONTAM_STRIDE = 13


def q_chunk_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level cross-source contamination: a doc is contaminated to
    the degree its 13-token blocks also appear under ANOTHER source —
    the decontamination statistic that catches partial/embedded leaks
    exact fingerprints and even doc-level minhash miss. Emits docs with
    ≥1 leaked chunk: (doc_id, source, n_chunks, n_leaked, leak_bp).

    Scale shape: ONE scan — text reduces to (id, source, chunk_hash)
    inside the scan stage (narrow) and never re-reads (the naive
    "build a multi-source hash set, join back" shape scans + re-chunks
    the text twice; at 100 TB the scan IS the cost). "Hash appears
    under ≥2 distinct sources" collapses to min(source) ≠ max(source)
    over a chunk_hash window — two exchanges total (hash window, then
    per-doc agg), both moving only ~24-byte (id, source, hash) rows.
    A pathologically common boilerplate chunk makes one hot window
    partition of those tiny rows (same bounded-skew shape the verdict
    accepted for dedup_exact's fingerprint window); a pipeline that
    already materializes the token_chunks manifest can feed this from
    the manifest and skip the chunking entirely."""
    from sgb_data_validator_spark.operators.packing import token_window_chunks

    docs = _t(spark, sf_dir, "documents")
    chunks = token_window_chunks(
        docs, "doc_id", "text", CONTAM_WINDOW, CONTAM_STRIDE,
        carry_cols=("source",),
    ).select(F.col("id").cast("bigint").alias("doc_id"), "source", "chunk_hash")
    w = Window.partitionBy("chunk_hash")
    marked = chunks.withColumn(
        "__leak", F.min("source").over(w) != F.max("source").over(w)
    )
    return (
        marked.groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.count_if(F.col("__leak")).cast("bigint").alias("n_leaked"),
        )
        .where(F.col("n_leaked") > 0)
        .select(
            "doc_id",
            "source",
            "n_chunks",
            "n_leaked",
            F.floor((F.col("n_leaked") * 10_000) / F.col("n_chunks"))
            .cast("bigint")
            .alias("leak_bp"),
        )
    )


SQL_CHUNK_CONTAMINATION = f"""
WITH w AS (
  SELECT cast(doc_id AS bigint) AS doc_id, source,
         regexp_split_to_array(
           regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+') AS words
  FROM documents
  WHERE text IS NOT NULL
    AND regexp_replace(text, '^\\s+|\\s+$', '', 'g') <> ''
),
c AS (
  SELECT doc_id, source,
         ('0x' || substr(md5(array_to_string(
              list_slice(words, start + 1, start + {CONTAM_WINDOW}), ' ')), 1, 15))::BIGINT
           AS chunk_hash
  FROM (SELECT doc_id, source, words,
               unnest(range(0, len(words), {CONTAM_STRIDE})) AS start
        FROM w)
),
marked AS (
  SELECT doc_id, source,
         min(source) OVER (PARTITION BY chunk_hash)
           <> max(source) OVER (PARTITION BY chunk_hash) AS leak
  FROM c
),
agg AS (
  SELECT doc_id, source,
         cast(count(*) AS bigint) AS n_chunks,
         cast(count_if(leak) AS bigint) AS n_leaked
  FROM marked
  GROUP BY 1, 2
)
SELECT doc_id, source, n_chunks, n_leaked,
       cast((n_leaked * 10000) // n_chunks AS bigint) AS leak_bp
FROM agg WHERE n_leaked > 0
"""


# ------------------------------------------------- Gopher quality flags


def q_gopher_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-rule Gopher-style quality flags over documents — one boolean
    per published rule plus the composite keep, so the curation report
    can attribute every drop. Pure codegen projection in the scan
    stage, zero shuffle."""
    from sgb_data_validator_spark.operators.textanalysis import gopher_flags

    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    flags = gopher_flags(F.col("text"))
    return docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        *[c.alias(name) for name, c in flags.items()],
    )


_EN_MARKERS = ", ".join(f"'{w}'" for w in T.LANG_MARKERS["en"])

SQL_GOPHER_FLAGS = f"""
WITH f AS (
  SELECT cast(doc_id AS bigint) AS doc_id,
         cast(length(text) AS bigint) AS n_chars,
         cast(CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS bigint)
           AS n_words,
         cast(len(regexp_extract_all(text, '[^\\w\\s]')) AS bigint) AS n_punct,
         cast(len(list_filter(
             string_split_regex(lower(trim(text)), '\\s+'),
             w -> regexp_matches(w, '[a-z]'))) AS bigint) AS n_alpha_words,
         cast(len(list_intersect(
             list_distinct(string_split_regex(lower(trim(text)), '\\s+')),
             [{_EN_MARKERS}])) AS bigint) AS stop_hits
  FROM documents WHERE text IS NOT NULL
),
r AS (
  SELECT doc_id,
         n_words BETWEEN 50 AND 100000 AS word_count_ok,
         cast(floor((n_chars * 100) / cast(greatest(n_words, 1) AS double))
              AS bigint) BETWEEN 300 AND 1000 AS mean_word_len_ok,
         cast(floor((n_punct * 10000) / cast(greatest(n_chars, 1) AS double))
              AS bigint) <= 1000 AS symbol_ratio_ok,
         cast(floor((n_alpha_words * 10000) / cast(greatest(n_words, 1) AS double))
              AS bigint) >= 8000 AS alpha_word_ok,
         stop_hits >= 2 AS stopword_ok
  FROM f
)
SELECT doc_id, word_count_ok, mean_word_len_ok, symbol_ratio_ok,
       alpha_word_ok, stopword_ok,
       (word_count_ok AND mean_word_len_ok AND symbol_ratio_ok
        AND alpha_word_ok AND stopword_ok) AS keep
FROM r
"""


# ------------------------------------------------ epoch-order manifest

EPOCHS = 2
N_SHARDS = 8


def q_epoch_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 2-epoch × 8-shard training-order manifest over
    documents (epoch, shard, pos, doc_id) — independent permutation
    per epoch, order local to a shard so no global sort exists at any
    scale."""
    from sgb_data_validator_spark.operators.sampling import epoch_shuffle_manifest

    docs = _t(spark, sf_dir, "documents")
    m = epoch_shuffle_manifest(docs, "doc_id", EPOCHS, N_SHARDS)
    return m.select(
        "epoch", "shard", "pos", F.col("key").cast("bigint").alias("doc_id")
    )


SQL_EPOCH_ORDER = f"""
WITH fanned AS (
  SELECT cast(doc_id AS bigint) AS doc_id, unnest(range(0, {EPOCHS})) AS epoch
  FROM documents
),
h AS (
  SELECT epoch, doc_id,
         ('0x' || substr(md5('epoch' || chr(31) || epoch::VARCHAR
                          || chr(31) || doc_id::VARCHAR), 1, 15))::BIGINT AS ord
  FROM fanned
)
SELECT cast(epoch AS bigint) AS epoch,
       cast(ord % {N_SHARDS} AS bigint) AS shard,
       cast(row_number() OVER (PARTITION BY epoch, ord % {N_SHARDS}
                               ORDER BY ord, doc_id) AS bigint) AS pos,
       doc_id
FROM h
"""


# ---------------------------------------------------- PII redaction


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-then-redact over documents: per-pattern PII counts plus
    the portable hash of the redacted text — the release-pipeline
    transform (the synthetic corpus has no PII by construction, so
    counts are zero and redacted_hash equals the identity hash here;
    the pattern semantics are pinned by pytest on constructed rows,
    and this query pins the PLUMBING end-to-end against the twin).
    Pure codegen, zero shuffle."""
    from sgb_data_validator_spark.operators.dedup import portable_hash
    from sgb_data_validator_spark.operators.textanalysis import (
        pii_counts, redact_pii)

    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    counts = pii_counts(F.col("text"))
    return docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        *[c.alias(f"n_{name}") for name, c in counts.items()],
        portable_hash(redact_pii(F.col("text"))).alias("redacted_hash"),
    )


SQL_PII_REDACT = r"""
SELECT cast(doc_id AS bigint) AS doc_id,
       cast(len(regexp_extract_all(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS bigint)
         AS n_email,
       cast(len(regexp_extract_all(text,
           '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS bigint) AS n_ipv4,
       cast(len(regexp_extract_all(text, '\b\d{9,}\b')) AS bigint)
         AS n_id_number,
       ('0x' || substr(md5(
           regexp_replace(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IPV4>', 'g'),
             '\b\d{9,}\b', '<ID_NUMBER>', 'g')), 1, 15))::BIGINT
         AS redacted_hash
FROM documents WHERE text IS NOT NULL
"""


ANALYSIS_QUERIES.update(
    {
        "chunk_contamination": (q_chunk_contamination, SQL_CHUNK_CONTAMINATION),
        "gopher_flags": (q_gopher_flags, SQL_GOPHER_FLAGS),
        "epoch_order": (q_epoch_order, SQL_EPOCH_ORDER),
        "pii_redact": (q_pii_redact, SQL_PII_REDACT),
    }
)


# --------------------------------------------------- PageRank centrality

PR_ITERS = 5
PR_DAMPING = 0.85
# parts and suppliers share an id space only after offsetting parts
PR_PART_OFFSET = 1_000_000


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (5 iterations, d=0.85) over the symmetrized
    supplier↔part supply graph from lineitem — the corpus-shaped use is
    ranking documents/sources by similarity-graph centrality; the
    fixtures' supply graph exercises identical plumbing. Emits
    (node, rank_r6). Iterative loop with localCheckpoint per round and
    a persisted pre-partitioned edge frame (operators/graph.py). The
    twin unrolls the same 5 iterations as chained CTEs."""
    from sgb_data_validator_spark.operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").cast("bigint").alias("s"),
        (F.col("l_partkey") + PR_PART_OFFSET).cast("bigint").alias("p"),
    )
    edges = li.select(F.col("s").alias("src"), F.col("p").alias("dst")).unionByName(
        li.select(F.col("p").alias("src"), F.col("s").alias("dst"))
    )
    pr = pagerank(edges, PR_ITERS, PR_DAMPING)
    return pr.select("node", F.round("rank", 6).alias("rank_r6"))


def _sql_pagerank() -> str:
    prev = "r0"
    iters = []
    for k in range(1, PR_ITERS + 1):
        iters.append(f"""
r{k} AS (
  SELECT nd.node,
         (1 - {PR_DAMPING}) / n.n
           + {PR_DAMPING} * coalesce(c.s, 0.0) AS rank
  FROM nodes nd CROSS JOIN n
  LEFT JOIN (SELECT s.dst AS node, sum(r.rank * s.w) AS s
             FROM {prev} r JOIN shares s ON r.node = s.src
             GROUP BY 1) c ON nd.node = c.node
)""")
        prev = f"r{k}"
    return f"""
WITH e AS (
  SELECT DISTINCT cast(l_suppkey AS bigint) AS src,
         cast(l_partkey + {PR_PART_OFFSET} AS bigint) AS dst
  FROM lineitem
  UNION
  SELECT DISTINCT cast(l_partkey + {PR_PART_OFFSET} AS bigint),
         cast(l_suppkey AS bigint)
  FROM lineitem
),
nodes AS (SELECT DISTINCT src AS node FROM e
          UNION SELECT DISTINCT dst FROM e),
n AS (SELECT cast(count(*) AS double) AS n FROM nodes),
deg AS (SELECT src, cast(count(*) AS double) AS outdeg FROM e GROUP BY 1),
shares AS (SELECT e.src, e.dst, 1.0 / deg.outdeg AS w
           FROM e JOIN deg USING (src)),
r0 AS (SELECT node, 1.0 / n.n AS rank FROM nodes CROSS JOIN n),
{",".join(iters)}
SELECT node, round(rank, 6) AS rank_r6 FROM {prev}
"""


SQL_PAGERANK = _sql_pagerank()


# ------------------------------------------- ORC + CSV source round-trips


def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink parity (the columnar-format sibling of S4/S5's
    JSON round-trip): events written as ORC, read back with an explicit
    schema, aggregated — matching the parquet-side oracle proves the
    round-trip is lossless. ORC ships in Spark's core distribution, so
    unlike Avro this path needs no extra jar."""
    import tempfile

    tmp = tempfile.mkdtemp(prefix="sgb_orc_")
    _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    ).write.mode("overwrite").orc(tmp)
    back = spark.read.schema(
        "event_id bigint, user_id bigint, event_type string, value double"
    ).orc(tmp)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )


SQL_ORC_ROUNDTRIP = """
SELECT event_type, cast(count(*) AS bigint) AS n,
       cast(sum(cast(value AS decimal(18,6))) AS double) AS sum_value
FROM events GROUP BY event_type
"""


def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source/sink parity: integer/string columns only (integers
    round-trip text exactly; doubles would re-test float formatting,
    not the source). Explicit schema on read — no inference scan."""
    import tempfile

    tmp = tempfile.mkdtemp(prefix="sgb_csv_")
    _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    ).write.mode("overwrite").option("header", True).csv(tmp)
    back = spark.read.schema(
        "event_id bigint, user_id bigint, event_type string"
    ).option("header", True).csv(tmp)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count_distinct(F.col("user_id")).cast("bigint").alias("n_users"),
        F.sum("event_id").cast("bigint").alias("sum_ids"),
    )


SQL_CSV_ROUNDTRIP = """
SELECT event_type, cast(count(*) AS bigint) AS n,
       cast(count(DISTINCT user_id) AS bigint) AS n_users,
       cast(sum(event_id) AS bigint) AS sum_ids
FROM events GROUP BY event_type
"""


ANALYSIS_QUERIES.update(
    {
        "pagerank": (q_pagerank, SQL_PAGERANK),
        "orc_roundtrip": (q_orc_roundtrip, SQL_ORC_ROUNDTRIP),
        "csv_roundtrip": (q_csv_roundtrip, SQL_CSV_ROUNDTRIP),
    }
)


# -------------------------------------- streaming: stream-static join


def q_streaming_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast-join enrichment — the remaining
    Structured Streaming join shape (stateless stream ⋈ static dim):
    events streamed with availableNow, broadcast-joined to the customer
    dim on user_id, sunk exactly-once through the checkpoint, then the
    sink is aggregated per nation. Batch SQL over the same tables is
    the oracle, proving plan parity. At scale the static side is a
    broadcast (re-broadcast per micro-batch is the documented Spark
    cost model for stream-static joins; a dim too big to broadcast
    becomes a shuffled stream-static join by dropping the hint)."""
    import tempfile

    from sgb_data_validator_spark.streaming.incremental import run_available_now

    tmp = tempfile.mkdtemp(prefix="sgb_stream_enrich_")
    _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    ).write.mode("overwrite").parquet(f"{tmp}/in")
    stream = spark.readStream.schema(
        "event_id bigint, user_id bigint, value double"
    ).parquet(f"{tmp}/in")
    dim = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_nationkey").cast("bigint").alias("nationkey"),
    )
    enriched = stream.join(F.broadcast(dim), "user_id", "left").select(
        "event_id", F.coalesce("nationkey", F.lit(-1)).alias("nationkey"), "value"
    )
    query = run_available_now(
        enriched, out_path=f"{tmp}/out", checkpoint=f"{tmp}/ckpt"
    )
    query.awaitTermination()
    back = spark.read.schema(
        "event_id bigint, nationkey bigint, value double"
    ).parquet(f"{tmp}/out")
    return back.groupBy("nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )


SQL_STREAMING_ENRICHMENT = """
SELECT coalesce(c.c_nationkey, -1)::BIGINT AS nationkey,
       cast(count(*) AS bigint) AS n_events,
       cast(sum(cast(e.value AS decimal(18,6))) AS double) AS sum_value
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1
"""


ANALYSIS_QUERIES.update(
    {"streaming_enrichment": (q_streaming_enrichment, SQL_STREAMING_ENRICHMENT)}
)


# -------------------------------------- streaming: stream-stream join


def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM interval join — the last Structured Streaming join
    shape (two unbounded sides, event-time range condition): purchases
    attributed to a click by the same user within the preceding 30
    minutes. Both sides carry watermarks, the range condition bounds
    each side's join state to the watermark horizon + interval (Spark's
    state-cleanup contract for interval joins), and the inner join
    emits matches eagerly — no holdback, so draining static input with
    availableNow reproduces the batch join exactly. The horizon here
    spans the whole fixture (35 days) so the parity check is
    batching-order-independent; a production deployment sets it to the
    real out-of-orderness bound (minutes), which is what makes the
    state O(rate × horizon) instead of O(stream) — that behavior
    (multi-batch run, minutes-scale watermark, late-beyond-watermark
    match DROPPED while the batch join would emit it) is pinned by
    tests/test_streaming.py::
    test_interval_join_production_horizon_drops_late; do NOT copy this
    harness's 35-day horizon into production.

    The sink aggregation (per-user attribution counts) is the stable
    comparison surface; the batch SQL twin proves result parity."""
    import tempfile

    from sgb_data_validator_spark.streaming.incremental import run_available_now

    tmp = tempfile.mkdtemp(prefix="sgb_stream_ivj_")
    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "user_id", "event_type", "value")
    ev.where(F.col("event_type") == "click").write.mode("overwrite").parquet(f"{tmp}/clicks")
    ev.where(F.col("event_type") == "purchase").write.mode("overwrite").parquet(
        f"{tmp}/purchases"
    )
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
    clicks = (
        spark.readStream.schema(schema)
        .parquet(f"{tmp}/clicks")
        .withWatermark("ts", "35 days")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
            "user_id",
        )
    )
    purchases = (
        spark.readStream.schema(schema)
        .parquet(f"{tmp}/purchases")
        .withWatermark("ts", "35 days")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("user_id").alias("p_user_id"),
            F.col("value").alias("purchase_value"),
        )
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        "inner",
    ).select("user_id", "click_id", "purchase_id", "purchase_value")
    query = run_available_now(joined, out_path=f"{tmp}/out", checkpoint=f"{tmp}/ckpt")
    query.awaitTermination()
    back = spark.read.schema(
        "user_id bigint, click_id bigint, purchase_id bigint, purchase_value double"
    ).parquet(f"{tmp}/out")
    return back.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_attributed"),
        F.countDistinct("purchase_id").cast("bigint").alias("n_purchases"),
        F.sum(F.col("purchase_value").cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_value"),
    )


SQL_STREAMING_INTERVAL_JOIN = """
SELECT c.user_id,
       cast(count(*) AS bigint) AS n_attributed,
       cast(count(DISTINCT p.event_id) AS bigint) AS n_purchases,
       cast(sum(cast(p.value AS decimal(18,6))) AS double) AS sum_value
FROM events c JOIN events p
  ON c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.user_id = c.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
GROUP BY c.user_id
"""


ANALYSIS_QUERIES.update(
    {
        "streaming_interval_join": (
            q_streaming_interval_join,
            SQL_STREAMING_INTERVAL_JOIN,
        )
    }
)


# -------------------------------------- z-order layout keys

ZORDER_BITS = 8  # 8+8-bit interleave → 16-bit z-value, 256×256 tiles


def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton/Z-order layout keys over the events fact: user bucket ×
    epoch-day interleaved bit-by-bit (operators/zorder.py:z_value) —
    the multi-dimensional clustering key behind OPTIMIZE ZORDER-style
    layout rewrites, so min/max zone pruning bites on BOTH the user and
    the time predicate at once. Pure integer shift/mask/or codegen on
    an unshuffled scan; tests/test_zorder.py measures the actual
    file-pruning win of writing the table in this order (z-layout
    touches a fraction of the files a one-key sort layout touches for
    the same 2-D box predicate)."""
    from sgb_data_validator_spark.operators.zorder import z_value

    ev = _t(spark, sf_dir, "events")
    xb = F.col("user_id") % (1 << ZORDER_BITS)
    yb = F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")) % (
        1 << ZORDER_BITS
    )
    return ev.select(
        F.col("event_id").cast("bigint").alias("event_id"),
        xb.cast("bigint").alias("x_bucket"),
        yb.cast("bigint").alias("y_bucket"),
        z_value(xb, yb, ZORDER_BITS).alias("zval"),
    )


def _sql_interleave(xb: str, yb: str, bits: int) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((({xb} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({yb} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


SQL_ZORDER_KEY = f"""
WITH b AS (
  SELECT event_id,
         user_id % {1 << ZORDER_BITS} AS xb,
         date_diff('day', DATE '2024-01-01', ts) % {1 << ZORDER_BITS} AS yb
  FROM events
)
SELECT cast(event_id AS bigint) AS event_id,
       cast(xb AS bigint) AS x_bucket,
       cast(yb AS bigint) AS y_bucket,
       cast({_sql_interleave("xb", "yb", ZORDER_BITS)} AS bigint) AS zval
FROM b
"""


ANALYSIS_QUERIES.update({"zorder_key": (q_zorder_key, SQL_ZORDER_KEY)})
