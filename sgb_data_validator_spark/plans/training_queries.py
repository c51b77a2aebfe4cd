"""Training-data pipeline queries (dedup / similarity / text analysis /
multimodal) over the driver testdata, each with a DuckDB SQL oracle.

Portability contract shared by the Spark operators and the generated
SQL (see operators/dedup.py): shingle hash = bigint(hex(md5[:15])),
affine permutations mod the 31-bit Mersenne prime, integer-LCG
hyperplane weights, doubles folded left-to-right, floats rounded at a
fixed precision on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sgb_data_validator_spark.operators import dedup as D
from sgb_data_validator_spark.operators import multimodal as M
from sgb_data_validator_spark.operators import similarity as S
from sgb_data_validator_spark.operators import textanalysis as T
from sgb_data_validator_spark.plans.constants import _t

# MinHash runs on word-BIGRAM shingles (sequence-sensitive): this
# corpus's random-pair word-SET Jaccard is already ~0.6 (40-word
# vocabulary), so set-shingle LSH degenerates to ~all-pairs (measured:
# 85% of pairs at sf0.001 with the textbook k=16/r=2 parameters), while
# bigram Jaccard between random docs is ~0.01. Word-set reorder dups
# are exact_duplicates' job (canonical fingerprint). k=32/r=8/b=4 puts
# the s-curve threshold at (1/4)^(1/8) ≈ 0.84 with ~97% recall at
# s = 0.93 (the injected twins).
K_MINHASH = 32
BAND_ROWS = 8
N_PLANES = 8
DIM = 64
TWIN_MOD = 25       # every 25th embedding gets an injected scaled twin
TWIN_OFFSET = 1_000_000
KNN_QUERY_MOD = 50  # every 50th vector is a query


# ---- shared SQL fragments ------------------------------------------------

SQL_WORDSET = "list_distinct(string_split_regex(lower(trim(text)), '\\s+'))"
SQL_HASH60 = "(('0x' || substr(md5(g), 1, 15))::BIGINT)"
P31 = D.MERSENNE_31

TEXT_TWIN_MOD = 13      # every 13th doc gets an appended-suffix twin
TEXT_TWIN_OFFSET = 1_000_000

# word-BIGRAM shingles joined with unit separator \x1f — sequence-
# sensitive, well-spread for banding (word-set similarity is handled by
# the exact/canonical-fingerprint operator)
SQL_WORDS = "string_split_regex(lower(trim(text)), '\\s+')"
SQL_BIGRAMS = (
    f"SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w)), "
    f"i -> w[i] || chr(31) || w[i+1]))) AS g "
    f"FROM (SELECT doc_id, {SQL_WORDS} AS w FROM docs_twins)"
)

SQL_DOCS_TWINS = f"""
docs_twins AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {TEXT_TWIN_OFFSET}, text || ' near duplicate suffix'
  FROM documents WHERE doc_id % {TEXT_TWIN_MOD} = 0
)"""


def _docs_with_twins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents plus injected near-dup twins (appended suffix) — the
    deterministic ground truth for sequence-sensitive near-dup ops.

    The testdata is one small parquet file ⇒ one scan partition; the
    interpreted hashing work downstream needs all cores, so spread it
    (a real corpus arrives with natural scan parallelism)."""
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    twins = docs.where(F.col("doc_id") % TEXT_TWIN_MOD == 0).select(
        (F.col("doc_id") + TEXT_TWIN_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" near duplicate suffix")).alias("text"),
    )
    return docs.unionByName(twins)


def _sql_minhash_cte(k: int = K_MINHASH, band_rows: int = BAND_ROWS) -> str:
    """CTE chain grams → h → sig → bands, mirroring minhash_candidate_pairs."""
    coeffs = D.permutation_coeffs(k)
    sig_cols = ", ".join(
        f"min(({a} * hv + {b}) % {P31}) AS s{i}" for i, (a, b) in enumerate(coeffs)
    )
    n_bands = k // band_rows
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, '{bi}:' || {key} AS band_key FROM sig".format(
            bi=bi,
            key=" || ':' || ".join(
                f"s{bi * band_rows + r}::VARCHAR" for r in range(band_rows)
            ),
        )
        for bi in range(n_bands)
    )
    return f"""
{SQL_DOCS_TWINS},
grams AS ({SQL_BIGRAMS}),
h AS (SELECT doc_id, ({SQL_HASH60} % {P31}) AS hv FROM grams),
sig AS (SELECT doc_id, {sig_cols} FROM h GROUP BY doc_id),
bands AS ({band_selects}),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, cast(count(*) AS bigint) AS n_bands
  FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)"""


# ---- dedup: exact --------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").repartition(spark.sparkContext.defaultParallelism)
    return D.exact_duplicates(docs, "doc_id", "text")


SQL_DEDUP_EXACT = f"""
WITH f AS (
  SELECT doc_id, md5(array_to_string(list_sort({SQL_WORDSET}), ' ')) AS fingerprint
  FROM documents
),
g AS (
  SELECT fingerprint, cast(count(*) AS bigint) AS group_size, min(doc_id) AS keep
  FROM f GROUP BY 1 HAVING count(*) > 1
)
SELECT 'dedup.exact' AS rule_id, cast(f.doc_id AS varchar) AS doc_id,
       f.fingerprint, g.group_size, cast(g.keep AS varchar) AS keep_id,
       f.doc_id <> g.keep AS is_redundant
FROM f JOIN g USING (fingerprint)
"""


# ---- dedup: minhash LSH --------------------------------------------------

def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_candidate_pairs(
        _docs_with_twins(spark, sf_dir), "doc_id", "text",
        k=K_MINHASH, band_rows=BAND_ROWS, shingle_n=2,
    ).select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        "n_bands",
    )


SQL_DEDUP_MINHASH = f"""
WITH {_sql_minhash_cte()}
SELECT cast(id_a AS bigint) AS id_a, cast(id_b AS bigint) AS id_b, n_bands FROM cand
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the minhash candidate pairs: pair
    output → canonical cluster ids (operators/dedup.py:dedup_clusters,
    min-label propagation). The DuckDB twin computes the same components
    with a recursive transitive closure — clusters are shallow, so the
    recursion is small."""
    pairs = D.minhash_candidate_pairs(
        _docs_with_twins(spark, sf_dir), "doc_id", "text",
        k=K_MINHASH, band_rows=BAND_ROWS, shingle_n=2,
    )
    return D.dedup_clusters(pairs).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
    )


def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same components as q_dedup_clusters, computed with the
    diameter-independent small-star/large-star contraction
    (operators/dedup.py:dedup_clusters_star) — the 10^12-edge path.
    Identical output ⇒ shares the recursive-CTE oracle."""
    pairs = D.minhash_candidate_pairs(
        _docs_with_twins(spark, sf_dir), "doc_id", "text",
        k=K_MINHASH, band_rows=BAND_ROWS, shingle_n=2,
    )
    return D.dedup_clusters_star(pairs).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
    )


SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {_sql_minhash_cte()},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM cand
  UNION
  SELECT id_b AS src, id_a AS dst FROM cand
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT cast(src AS bigint) AS doc_id,
       cast(least(src, min(dst)) AS bigint) AS cluster_id
FROM reach GROUP BY src
"""


# ---- dedup: simhash ------------------------------------------------------

def _sql_simhash() -> str:
    nb = D.SIMHASH_BITS
    bb = D.SIMHASH_BAND_BITS
    mask = (1 << bb) - 1
    bit_sums = ", ".join(
        f"sum(CASE WHEN (hv >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS bs{b}" for b in range(nb)
    )
    sim_expr = " + ".join(f"(CASE WHEN bs{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(nb))
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, sim, '{bi}:' || (((sim >> {bi * bb}) & {mask})::VARCHAR) AS band_key FROM sim"
        for bi in range(D.SIMHASH_BANDS)
    )
    return f"""
{SQL_DOCS_TWINS},
grams AS ({SQL_BIGRAMS}),
h AS (SELECT doc_id, {SQL_HASH60} AS hv FROM grams),
bits AS (SELECT doc_id, {bit_sums} FROM h GROUP BY doc_id),
sim AS (SELECT doc_id, cast({sim_expr} AS bigint) AS sim FROM bits),
bands AS ({band_selects}),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         cast(bit_count(xor(a.sim, b.sim)) AS int) AS hamming
  FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
)"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash_near_duplicates(
        _docs_with_twins(spark, sf_dir), "doc_id", "text", max_hamming=3, shingle_n=2
    ).select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        F.col("hamming").cast("int").alias("hamming"),
    )


SQL_DEDUP_SIMHASH = f"""
WITH {_sql_simhash()}
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3
"""


# ---- dedup: n-gram Jaccard verification ----------------------------------

def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH-proposes / Jaccard-confirms pipeline: exact word-bigram
    Jaccard on the minhash candidates, threshold 0.8."""
    docs = _docs_with_twins(spark, sf_dir)
    cand = D.minhash_candidate_pairs(
        docs, "doc_id", "text", k=K_MINHASH, band_rows=BAND_ROWS, shingle_n=2
    )
    return D.verify_jaccard_pairs(cand, docs, "doc_id", "text", shingle_n=2, threshold=0.8).select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        "inter",
        "jaccard",
    )


SQL_DEDUP_NGRAM = f"""
WITH {_sql_minhash_cte()},
gsz AS (SELECT doc_id, count(*) AS n_grams FROM (SELECT DISTINCT doc_id, g FROM grams) GROUP BY 1),
gd AS (SELECT DISTINCT doc_id, g FROM grams),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS inter
  FROM cand c
  JOIN gd a ON a.doc_id = c.id_a
  JOIN gd b ON b.doc_id = c.id_b AND b.g = a.g
  GROUP BY 1, 2
)
SELECT cast(i.id_a AS bigint) AS id_a, cast(i.id_b AS bigint) AS id_b,
       cast(i.inter AS bigint) AS inter,
       round(i.inter / cast(sa.n_grams + sb.n_grams - i.inter AS double), 6) AS jaccard
FROM inter i
JOIN gsz sa ON sa.doc_id = i.id_a
JOIN gsz sb ON sb.doc_id = i.id_b
WHERE round(i.inter / cast(sa.n_grams + sb.n_grams - i.inter AS double), 6) >= 0.8
"""


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-proposes / CONTAINMENT-confirms: exact word-bigram containment
    |S(a)∩S(b)| / min(|S(a)|,|S(b)|) ≥ 0.9 on the minhash candidates —
    flags the engulfed-document direction symmetric Jaccard misses (a
    doc fully embedded in a longer doc). Candidates and the confirm
    join reuse the proven dedup_ngram plan shapes; the twin replays the
    identical portable-md5 band pipeline, so parity covers proposal AND
    confirmation."""
    docs = _docs_with_twins(spark, sf_dir)
    cand = D.minhash_candidate_pairs(
        docs, "doc_id", "text", k=K_MINHASH, band_rows=BAND_ROWS, shingle_n=2
    )
    return D.verify_containment_pairs(
        cand, docs, "doc_id", "text", shingle_n=2, threshold=0.9
    ).select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        "inter",
        "containment",
    )


SQL_DEDUP_CONTAINMENT = f"""
WITH {_sql_minhash_cte()},
gsz AS (SELECT doc_id, count(*) AS n_grams FROM (SELECT DISTINCT doc_id, g FROM grams) GROUP BY 1),
gd AS (SELECT DISTINCT doc_id, g FROM grams),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS inter
  FROM cand c
  JOIN gd a ON a.doc_id = c.id_a
  JOIN gd b ON b.doc_id = c.id_b AND b.g = a.g
  GROUP BY 1, 2
)
SELECT cast(i.id_a AS bigint) AS id_a, cast(i.id_b AS bigint) AS id_b,
       cast(i.inter AS bigint) AS inter,
       round(i.inter / cast(least(sa.n_grams, sb.n_grams) AS double), 6) AS containment
FROM inter i
JOIN gsz sa ON sa.doc_id = i.id_a
JOIN gsz sb ON sb.doc_id = i.id_b
WHERE round(i.inter / cast(least(sa.n_grams, sb.n_grams) AS double), 6) >= 0.9
"""


# ---- dedup: embedding cosine ---------------------------------------------

def _vectors_with_twins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings (as double arrays) plus injected scaled twins for every
    TWIN_MOD-th vector — scaling preserves direction, so each twin is an
    exact cosine-1.0 near-duplicate of its source."""
    base = (
        _t(spark, sf_dir, "embeddings")
        .repartition(spark.sparkContext.defaultParallelism)
        .select(
            F.col("vec_id").cast("bigint").alias("vec_id"),
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
    )
    twins = base.where(F.col("vec_id") % TWIN_MOD == 0).select(
        (F.col("vec_id") + TWIN_OFFSET).alias("vec_id"),
        F.transform("v", lambda x: x * F.lit(1.5)).alias("v"),
    )
    return base.unionByName(twins)


SQL_VECTORS_TWINS = f"""
base AS (SELECT vec_id::BIGINT AS vec_id, embedding::DOUBLE[] AS v FROM embeddings),
alle AS (
  SELECT * FROM base
  UNION ALL
  SELECT vec_id + {TWIN_OFFSET}, list_transform(v, x -> x * 1.5) FROM base WHERE vec_id % {TWIN_MOD} = 0
)"""

_SQL_PLANE_W = "((1103515245 * (j * 997 + i) + 12345) % 65536) - 32768"

SQL_BUCKETS = f"""
ex AS (SELECT vec_id, r.i AS i, v[r.i + 1] AS x FROM alle, range({DIM}) r(i)),
w AS (SELECT rj.j AS j, ri.i AS i, {_SQL_PLANE_W} AS wt
      FROM range({N_PLANES}) rj(j), range({DIM}) ri(i)),
dots AS (SELECT vec_id, j, sum(x * wt) AS s FROM ex JOIN w USING (i) GROUP BY 1, 2),
buck AS (SELECT vec_id, cast(sum(CASE WHEN s > 0 THEN 1 << j ELSE 0 END) AS bigint) AS bucket
         FROM dots GROUP BY 1)"""

SQL_COS = (
    "round(list_dot_product({a}, {b}) / "
    "sqrt(list_dot_product({a}, {a}) * list_dot_product({b}, {b})), 4)"
)


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = _vectors_with_twins(spark, sf_dir)
    return D.embedding_near_duplicates(vecs, "vec_id", "v", dim=DIM, threshold=0.9).select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        "cos",
    )


SQL_DEDUP_EMBEDDING = f"""
WITH {SQL_VECTORS_TWINS},
{SQL_BUCKETS},
eb AS (SELECT a.vec_id, a.v, b.bucket FROM alle a JOIN buck b USING (vec_id))
SELECT a.vec_id AS id_a, b.vec_id AS id_b, {SQL_COS.format(a="a.v", b="b.v")} AS cos
FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {SQL_COS.format(a="a.v", b="b.v")} >= 0.9
"""


# ---- similarity search ---------------------------------------------------

def _query_vectors(vecs: DataFrame) -> DataFrame:
    return vecs.where(F.col("vec_id") % KNN_QUERY_MOD == 0)


def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = _vectors_with_twins(spark, sf_dir)
    return S.knn_bruteforce(_query_vectors(vecs), vecs, "vec_id", "v", k=5)


SQL_KNN_BRUTEFORCE = f"""
WITH {SQL_VECTORS_TWINS},
q AS (SELECT vec_id AS query_id, v AS qv FROM alle WHERE vec_id % {KNN_QUERY_MOD} = 0),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, {SQL_COS.format(a="q.qv", b="c.v")} AS cos
  FROM q CROSS JOIN alle c WHERE q.query_id <> c.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cast(rank AS int) AS rank, cos FROM ranked WHERE rank <= 5
"""


def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = _vectors_with_twins(spark, sf_dir)
    return S.knn_lsh(_query_vectors(vecs), vecs, "vec_id", "v", dim=DIM, k=5)


SQL_KNN_LSH = f"""
WITH {SQL_VECTORS_TWINS},
{SQL_BUCKETS},
eb AS (SELECT a.vec_id, a.v, b.bucket FROM alle a JOIN buck b USING (vec_id)),
q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM eb WHERE vec_id % {KNN_QUERY_MOD} = 0),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, {SQL_COS.format(a="q.qv", b="c.v")} AS cos
  FROM q JOIN eb c USING (bucket) WHERE q.query_id <> c.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cast(rank AS int) AS rank, cos FROM ranked WHERE rank <= 5
"""


# ---- text analysis -------------------------------------------------------

def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lang_pred routes through the pluggable scorer slot
    (operators/scorers.py) — the default is the oracle-matched
    marker-set argmax; a model-backed scorer drops in via
    scorers.set_lang_scorer without touching this query."""
    from sgb_data_validator_spark.operators import scorers

    docs = _t(spark, sf_dir, "documents")
    scores = T.lang_scores(F.col("text"))
    return docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        scorers.lang_id(F.col("text")).alias("lang_pred"),
        *[scores[lang].cast("int").alias(f"s_{lang}") for lang in sorted(T.LANG_MARKERS)],
    )


def _sql_lang_id() -> str:
    score_cols = ", ".join(
        "cast(len(list_intersect(ws, [{m}])) AS int) AS s_{lang}".format(
            m=", ".join(f"'{w}'" for w in T.LANG_MARKERS[lang]), lang=lang
        )
        for lang in sorted(T.LANG_MARKERS)
    )
    # fold: later languages win only on strictly greater score
    best_lang, best_score = "'und'", "0"
    for lang in sorted(T.LANG_MARKERS):
        best_lang = f"CASE WHEN s_{lang} > {best_score} THEN '{lang}' ELSE {best_lang} END"
        best_score = f"(CASE WHEN s_{lang} > {best_score} THEN s_{lang} ELSE {best_score} END)"
    return f"""
WITH s AS (
  SELECT doc_id, {score_cols}
  FROM (SELECT doc_id, {SQL_WORDSET} AS ws FROM documents)
)
SELECT cast(doc_id AS bigint) AS doc_id, ({best_lang}) AS lang_pred,
       {", ".join(f"s_{lang}" for lang in sorted(T.LANG_MARKERS))}
FROM s
"""


SQL_LANG_ID = _sql_lang_id()


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """score routes through the pluggable scorer slot (see q_lang_id)."""
    from sgb_data_validator_spark.operators import scorers

    docs = _t(spark, sf_dir, "documents")
    f = T.quality_features(F.col("text"))
    return docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        f["n_chars"].alias("n_chars"),
        f["n_words"].alias("n_words"),
        f["mean_word_len_e2"].alias("mean_word_len_e2"),
        f["alpha_bp"].alias("alpha_bp"),
        f["punct_bp"].alias("punct_bp"),
        f["stopword_hits"].alias("stopword_hits"),
        scorers.quality_score(F.col("text")).alias("score"),
    )


_EN = ", ".join(f"'{w}'" for w in T.LANG_MARKERS["en"])

SQL_QUALITY_SCORE = f"""
WITH f AS (
  SELECT doc_id,
         cast(length(text) AS bigint) AS n_chars,
         cast(CASE WHEN trim(text) = '' THEN 0
                   ELSE len(string_split_regex(trim(text), '\\s+')) END AS bigint) AS n_words,
         cast(len(regexp_extract_all(text, '[A-Za-z]')) AS bigint) AS n_alpha,
         cast(len(regexp_extract_all(text, '[^\\w\\s]')) AS bigint) AS n_punct,
         cast(len(list_intersect({SQL_WORDSET}, [{_EN}])) AS bigint) AS stopword_hits
  FROM documents
),
bp AS (
  SELECT doc_id, n_chars, n_words, stopword_hits,
         cast(floor((n_chars * 100) / cast(greatest(n_words, 1) AS double)) AS bigint) AS mean_word_len_e2,
         cast(floor((n_alpha * 10000) / cast(greatest(n_chars, 1) AS double)) AS bigint) AS alpha_bp,
         cast(floor((n_punct * 10000) / cast(greatest(n_chars, 1) AS double)) AS bigint) AS punct_bp
  FROM f
)
SELECT cast(doc_id AS bigint) AS doc_id, n_chars, n_words, mean_word_len_e2,
       alpha_bp, punct_bp, stopword_hits,
       cast(
         (CASE WHEN n_words >= 5 AND n_words <= 10000 THEN 40000 ELSE 0 END)
         + alpha_bp * 3
         + (CASE WHEN stopword_hits > 0 THEN 20000 ELSE 0 END)
         + (CASE WHEN punct_bp < 2000 THEN 10000 ELSE 0 END) AS bigint) AS score
FROM bp
"""


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        T.token_count_ws(F.col("text")).alias("n_tokens_ws"),
        T.token_count_regex(F.col("text")).alias("n_tokens_regex"),
    )


SQL_TOKEN_COUNT = f"""
SELECT cast(doc_id AS bigint) AS doc_id,
       cast(CASE WHEN trim(text) = '' THEN 0
                 ELSE len(string_split_regex(trim(text), '\\s+')) END AS bigint) AS n_tokens_ws,
       cast(len(regexp_extract_all(text, '{T.TOKEN_PATTERN}')) AS bigint) AS n_tokens_regex
FROM documents
"""


def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-approximation token budgeting (operators/textanalysis.py:
    token_count_bpe): pre-tokenize with the GPT-2-shape regex, charge
    ceil(len/4) subword units per pre-token — the counter pack
    manifests should budget with (whitespace counts undercount long
    words vs a real tokenizer). Emits both counts side by side so the
    whitespace-vs-BPE gap is oracle-visible."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        T.token_count_ws(F.col("text")).alias("n_tokens_ws"),
        T.token_count_bpe(F.col("text")).alias("n_tokens_bpe"),
    )


SQL_TOKEN_COUNT_BPE = f"""
SELECT cast(doc_id AS bigint) AS doc_id,
       cast(CASE WHEN trim(text) = '' THEN 0
                 ELSE len(string_split_regex(trim(text), '\\s+')) END AS bigint) AS n_tokens_ws,
       cast(coalesce(list_sum(list_transform(
              regexp_extract_all(text, '{T.TOKEN_PATTERN}'),
              t -> cast(floor((length(t) + 3) / 4.0) AS bigint))), 0) AS bigint) AS n_tokens_bpe
FROM documents
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        T.doc_fingerprint(F.col("text")).alias("fp_md5"),
        T.min_word_hash(F.col("text")).alias("min_word_hash"),
    )


SQL_FINGERPRINT = f"""
WITH ws AS (SELECT doc_id, unnest({SQL_WORDSET}) AS g FROM documents),
mh AS (SELECT doc_id, min({SQL_HASH60}) AS min_word_hash FROM ws GROUP BY 1)
SELECT cast(d.doc_id AS bigint) AS doc_id,
       md5(regexp_replace(lower(trim(d.text)), '\\s+', ' ', 'g')) AS fp_md5,
       mh.min_word_hash
FROM documents d JOIN mh ON mh.doc_id = d.doc_id
"""


# ---- multimodal ----------------------------------------------------------

def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return M.extract_features(M.attach_binary_payload(docs, "text"))


SQL_MULTIMODAL_FEATURES = """
SELECT cast(doc_id AS bigint) AS doc_id, 'text/plain' AS media_type,
       cast(octet_length(encode(text)) AS bigint) AS n_bytes,
       md5(text) AS content_md5,
       cast(ascii(substr(text, 1, 1)) AS int) AS first_byte
FROM documents
"""


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over the binary payload (every 4th 64-byte frame).
    The oracle frames by characters — valid because this corpus is ASCII
    (the same assumption the text-pipeline oracle documents)."""
    docs = _t(spark, sf_dir, "documents")
    return M.sample_frames(M.attach_binary_payload(docs, "text"), frame_size=64, every=4)


SQL_FRAME_SAMPLE = """
WITH f AS (
  SELECT doc_id, text,
         unnest(range(0, cast(ceil(octet_length(encode(text)) / 64.0) AS bigint), 4)) AS i
  FROM documents WHERE text IS NOT NULL
)
SELECT cast(doc_id AS bigint) AS doc_id,
       cast(i AS int) AS frame_idx,
       cast(length(substr(text, cast(i * 64 + 1 AS bigint), 64)) AS int) AS frame_bytes,
       md5(substr(text, cast(i * 64 + 1 AS bigint), 64)) AS frame_md5
FROM f
"""


# ---- end-to-end curation pipeline ------------------------------------------

CURATION_MIN_SCORE = 60_000
CURATION_RATES_BP = {"en": 7_500, "de": 5_000, "fr": 2_500}


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data curation decision — the flagship
    demonstration that the pieces are one pipeline, not a drawer of
    parts: quality gate (pluggable scorer) → language gate (pluggable
    lang-ID) → exact-dedup keep-list (canonical doc per duplicate
    group) → deterministic per-language stratified sampling. Output is
    the kept-doc list with its audit columns.

    Scale shape: two scans of documents (score/lang projection + the
    dedup fingerprint pass), one narrow fingerprint shuffle, a left-anti
    join against the redundant-id set, and a WHERE-clause sample — text
    never enters an exchange."""
    from sgb_data_validator_spark.operators import scorers
    from sgb_data_validator_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    # persist() is load-bearing, not a cache nicety: the quality/lang
    # gates and the sampling hash all reference lang_pred/score, and
    # without a materialization barrier Catalyst substitutes the full
    # scorer CASE trees into the filter AND the md5 — an expression so
    # large it falls out of codegen (no subexpression elimination) and
    # re-evaluates the splits dozens of times per row (measured 25×:
    # 0.2 s scored vs 5.4 s fused at sf0.1). The persisted frame is
    # (id, lang, score) — tiny at any corpus size.
    scored = docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        scorers.lang_id(F.col("text")).alias("lang_pred"),
        scorers.quality_score(F.col("text")).alias("score"),
    ).persist()
    redundant = (
        D.exact_duplicates(docs, "doc_id", "text")
        .where(F.col("is_redundant"))
        .select(F.col("doc_id").cast("bigint").alias("doc_id"))
    )
    kept = (
        scored.where(
            (F.col("score") >= CURATION_MIN_SCORE)
            & F.col("lang_pred").isin(*CURATION_RATES_BP)
        )
        .join(redundant, "doc_id", "left_anti")
    )
    return stratified_sample(kept, "doc_id", "lang_pred", CURATION_RATES_BP)


_CUR_RATE_CASE = "CASE lang_pred " + " ".join(
    f"WHEN '{s}' THEN {bp}" for s, bp in sorted(CURATION_RATES_BP.items())
) + " ELSE 0 END"

SQL_CURATION_PIPELINE = f"""
WITH lp AS ({SQL_LANG_ID.strip()}),
q AS ({SQL_QUALITY_SCORE.strip()}),
f AS (
  SELECT doc_id, md5(array_to_string(list_sort({SQL_WORDSET}), ' ')) AS fp
  FROM documents
),
g AS (SELECT fp, min(doc_id) AS keep FROM f GROUP BY 1),
red AS (SELECT f.doc_id FROM f JOIN g USING (fp) WHERE f.doc_id <> g.keep),
kept AS (
  SELECT lp.doc_id, lp.lang_pred, q.score
  FROM lp JOIN q USING (doc_id)
  WHERE q.score >= {CURATION_MIN_SCORE}
    AND lp.lang_pred IN ({", ".join(f"'{s}'" for s in sorted(CURATION_RATES_BP))})
    AND lp.doc_id NOT IN (SELECT doc_id FROM red)
)
SELECT cast(doc_id AS bigint) AS doc_id, lang_pred, cast(score AS bigint) AS score
FROM kept
WHERE (('0x' || substr(md5(lang_pred || chr(31) || doc_id::VARCHAR), 1, 15))::BIGINT) % 10000
      < {_CUR_RATE_CASE}
"""


# ---- corpus n-gram frequency + repetition quality signal -------------------

NGRAM_TOP_K = 100


def q_ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-k word bigrams: the standard corpus-stats pass
    (vocabulary building, contamination spot-checks). Scale shape:
    explode → partial-agg-combined count on the gram → TakeOrdered
    top-k (each partition keeps k rows; only k×partitions rows reach
    the driver-side merge). Deterministic under count ties: total
    order (n DESC, gram ASC) before the limit."""
    docs = _t(spark, sf_dir, "documents")
    grams = (
        # raw-column precondition for ≥2 words (see word_bigrams doc)
        docs.where(F.col("text").isNotNull() & F.trim(F.col("text")).rlike(r"\s"))
        .select(F.explode(T.word_bigrams(F.col("text"))).alias("gram"))
    )
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.desc("n"), F.asc("gram"))
        .limit(NGRAM_TOP_K)
    )


SQL_NGRAM_FREQ = f"""
WITH w AS (
  SELECT string_split_regex(lower(trim(text)), '\\s+') AS ws
  FROM documents
  WHERE text IS NOT NULL AND regexp_matches(trim(text), '\\s')
),
g AS (
  SELECT ws[i] || ' ' || ws[i + 1] AS gram
  FROM w, unnest(range(1, len(ws))) AS t(i)
)
SELECT gram, count(*) AS n FROM g GROUP BY 1
ORDER BY n DESC, gram ASC LIMIT {NGRAM_TOP_K}
"""


def q_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc repeated-word ratio in basis points — pure projection,
    zero shuffle, composes with the curation pipeline's quality gate."""
    docs = _t(spark, sf_dir, "documents")
    feats = T.repetition_features(F.col("text"))
    return docs.where(F.col("text").isNotNull()).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        feats["n_words"].alias("n_words"),
        feats["n_distinct"].alias("n_distinct"),
        feats["rep_bp"].alias("rep_bp"),
    )


SQL_REPETITION_SCORE = """
SELECT cast(doc_id AS bigint) AS doc_id,
       cast(CASE WHEN trim(text) = '' THEN 0
                 ELSE len(string_split_regex(lower(trim(text)), '\\s+')) END AS bigint) AS n_words,
       cast(CASE WHEN trim(text) = '' THEN 0
                 ELSE len(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))) END AS bigint) AS n_distinct,
       cast(CASE WHEN trim(text) = '' THEN 0
                 ELSE (10000 * (len(string_split_regex(lower(trim(text)), '\\s+'))
                                - len(list_distinct(string_split_regex(lower(trim(text)), '\\s+')))))
                      // len(string_split_regex(lower(trim(text)), '\\s+')) END AS bigint) AS rep_bp
FROM documents WHERE text IS NOT NULL
"""


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplicate leak check — the train/test contamination
    detector: every doc whose canonical fingerprint also appears under
    a DIFFERENT source, with the distinct-source count. Same
    count-over-window shape as exact dedup (ONE narrow shuffle on the
    fingerprint, no join, no broadcast); collect_set over the window is
    bounded by the duplicate-group's source fan-out, not the corpus."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    fp = docs.where(F.col("text").isNotNull()).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("source"),
        D.canonical_fingerprint(F.col("text")).alias("fingerprint"),
    )
    w = Window.partitionBy("fingerprint")
    return fp.withColumn(
        "n_sources", F.size(F.collect_set("source").over(w)).cast("bigint")
    ).where(F.col("n_sources") > 1)


SQL_CONTAMINATION = f"""
WITH f AS (
  SELECT cast(doc_id AS bigint) AS doc_id, source,
         md5(array_to_string(list_sort({{WORDSET}}), ' ')) AS fingerprint
  FROM documents WHERE text IS NOT NULL
),
s AS (
  SELECT fingerprint, cast(count(DISTINCT source) AS bigint) AS n_sources
  FROM f GROUP BY 1
)
SELECT f.doc_id, f.source, f.fingerprint, s.n_sources
FROM f JOIN s USING (fingerprint) WHERE s.n_sources > 1
""".replace("{WORDSET}", SQL_WORDSET)


def _docs_twins_sourced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents (with source) plus injected eval-leak twins: every
    TEXT_TWIN_MOD-th doc re-appears with an appended suffix under the
    held-out source 'evalset' — deterministic ground truth for NEAR-dup
    cross-source contamination (the suffix defeats exact fingerprints,
    so only the n-gram-overlap path can catch it)."""
    docs = (
        _t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select(F.col("doc_id").cast("bigint").alias("doc_id"), "source", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    twins = docs.where(F.col("doc_id") % TEXT_TWIN_MOD == 0).select(
        (F.col("doc_id") + TEXT_TWIN_OFFSET).alias("doc_id"),
        F.lit("evalset").alias("source"),
        F.concat(F.col("text"), F.lit(" near duplicate suffix")).alias("text"),
    )
    return docs.unionByName(twins)


def q_contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-dup cross-source contamination — the n-gram-overlap
    decontamination pass that catches leaks exact fingerprints miss
    (q_contamination's window only sees identical canonical word sets;
    an eval answer pasted with a changed sentence slips through it).
    Pipeline: minhash LSH proposes candidate pairs over the sourced
    corpus (operators/dedup.py:minhash_candidate_pairs), exact bigram
    Jaccard confirms (verify_jaccard_pairs, count-gated broadcast), then
    pairs are kept only when the two sides live in DIFFERENT sources and
    emitted in both directions, so every contaminated doc gets a row
    (doc_id, source, leaked_from, leaked_from_source, jaccard).

    Scale shape: all heavy stages are the proven dedup_ngram plan; the
    source attach is a hash join of the tiny confirmed-pair frame
    against the narrow (doc_id, source) projection — the text payload
    never joins."""
    docs = _docs_twins_sourced(spark, sf_dir)
    cand = D.minhash_candidate_pairs(
        docs, "doc_id", "text", k=K_MINHASH, band_rows=BAND_ROWS, shingle_n=2
    )
    verified = D.verify_jaccard_pairs(
        cand, docs, "doc_id", "text", shingle_n=2, threshold=0.8
    )
    src = docs.select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("source_a"))
    sb = src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("source_b"))
    pairs = (
        verified.join(sa, "id_a")
        .join(sb, "id_b")
        .where(F.col("source_a") != F.col("source_b"))
    )
    fwd = pairs.select(
        F.col("id_a").cast("bigint").alias("doc_id"),
        F.col("source_a").alias("source"),
        F.col("id_b").cast("bigint").alias("leaked_from"),
        F.col("source_b").alias("leaked_from_source"),
        "jaccard",
    )
    rev = pairs.select(
        F.col("id_b").cast("bigint").alias("doc_id"),
        F.col("source_b").alias("source"),
        F.col("id_a").cast("bigint").alias("leaked_from"),
        F.col("source_a").alias("leaked_from_source"),
        "jaccard",
    )
    return fwd.unionByName(rev)


SQL_DOCS_TWINS_SOURCED = f"""
docs_twins AS (
  SELECT cast(doc_id AS bigint) AS doc_id, source, text
  FROM documents WHERE text IS NOT NULL
  UNION ALL
  SELECT cast(doc_id AS bigint) + {TEXT_TWIN_OFFSET}, 'evalset',
         text || ' near duplicate suffix'
  FROM documents WHERE text IS NOT NULL AND doc_id % {TEXT_TWIN_MOD} = 0
)"""


SQL_CONTAMINATION_NGRAM = f"""
WITH {_sql_minhash_cte().replace(SQL_DOCS_TWINS.strip(), SQL_DOCS_TWINS_SOURCED.strip())},
gd AS (SELECT DISTINCT doc_id, g FROM grams),
gsz AS (SELECT doc_id, count(*) AS n_grams FROM gd GROUP BY 1),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS inter
  FROM cand c
  JOIN gd a ON a.doc_id = c.id_a
  JOIN gd b ON b.doc_id = c.id_b AND b.g = a.g
  GROUP BY 1, 2
),
conf AS (
  SELECT i.id_a, i.id_b,
         round(i.inter / cast(sa.n_grams + sb.n_grams - i.inter AS double), 6) AS jaccard
  FROM inter i
  JOIN gsz sa ON sa.doc_id = i.id_a
  JOIN gsz sb ON sb.doc_id = i.id_b
  WHERE round(i.inter / cast(sa.n_grams + sb.n_grams - i.inter AS double), 6) >= 0.8
),
srcd AS (
  SELECT c.id_a, c.id_b, c.jaccard, da.source AS source_a, db.source AS source_b
  FROM conf c
  JOIN docs_twins da ON da.doc_id = c.id_a
  JOIN docs_twins db ON db.doc_id = c.id_b
  WHERE da.source <> db.source
)
SELECT cast(id_a AS bigint) AS doc_id, source_a AS source,
       cast(id_b AS bigint) AS leaked_from, source_b AS leaked_from_source, jaccard
FROM srcd
UNION ALL
SELECT cast(id_b AS bigint), source_b, cast(id_a AS bigint), source_a, jaccard
FROM srcd
"""


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-argmax canonical selection per duplicate group — the
    curation-grade upgrade over exact_duplicates' min-id keep: inside
    each fingerprint group, keep the HIGHEST-quality copy (min doc_id
    on score ties — a total order, so deterministic). One narrow
    shuffle: both window specs share the fingerprint partitioning, so
    Catalyst plans a single exchange feeding both Window ops; the
    ordered first_value is the argmax without a groupBy+join-back
    second pass."""
    from pyspark.sql import Window

    from sgb_data_validator_spark.operators import scorers

    docs = _t(spark, sf_dir, "documents")
    scored = docs.where(F.col("text").isNotNull()).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        D.canonical_fingerprint(F.col("text")).alias("fingerprint"),
        scorers.quality_score(F.col("text")).alias("score"),
    )
    wg = Window.partitionBy("fingerprint")
    wo = Window.partitionBy("fingerprint").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("group_size", F.count(F.lit(1)).over(wg).cast("bigint"))
        .withColumn("keep_id", F.first("doc_id").over(wo))
        .where(F.col("group_size") > 1)
        .select(
            "doc_id",
            "fingerprint",
            "score",
            "group_size",
            "keep_id",
            (F.col("doc_id") != F.col("keep_id")).alias("is_redundant"),
        )
    )


SQL_DEDUP_KEEP_BEST = f"""
WITH q AS ({SQL_QUALITY_SCORE.strip()}),
f AS (
  SELECT cast(doc_id AS bigint) AS doc_id,
         md5(array_to_string(list_sort({SQL_WORDSET}), ' ')) AS fingerprint
  FROM documents WHERE text IS NOT NULL
),
j AS (
  SELECT f.doc_id, f.fingerprint, q.score FROM f JOIN q USING (doc_id)
),
w AS (
  SELECT doc_id, fingerprint, score,
         cast(count(*) OVER (PARTITION BY fingerprint) AS bigint) AS group_size,
         first_value(doc_id) OVER (
           PARTITION BY fingerprint ORDER BY score DESC, doc_id ASC
         ) AS keep_id
  FROM j
)
SELECT doc_id, fingerprint, score, group_size, keep_id,
       doc_id <> keep_id AS is_redundant
FROM w WHERE group_size > 1
"""


def q_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end NEAR-dup dedup: minhash LSH candidate pairs →
    connected components (diameter-independent star contraction) →
    quality-argmax canonical per CLUSTER — the full "collapse each
    near-dup family to its best copy" pass a curation pipeline runs,
    composing three already-proven stages. Only clustered docs flow
    into the (small) cluster↔score join; the scoring projection never
    shuffles; the argmax is the same shared-partitioning single
    exchange as dedup_keep_best."""
    from pyspark.sql import Window

    from sgb_data_validator_spark.operators import scorers

    docs = _docs_with_twins(spark, sf_dir)
    pairs = D.minhash_candidate_pairs(
        docs, "doc_id", "text", k=K_MINHASH, band_rows=BAND_ROWS, shingle_n=2
    )
    clus = D.dedup_clusters_star(pairs).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
    )
    scored = docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        scorers.quality_score(F.col("text")).alias("score"),
    )
    j = clus.join(scored, "doc_id")
    wg = Window.partitionBy("cluster_id")
    wo = Window.partitionBy("cluster_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        j.withColumn("cluster_size", F.count(F.lit(1)).over(wg).cast("bigint"))
        .withColumn("keep_id", F.first("doc_id").over(wo))
        .select(
            "doc_id",
            "cluster_id",
            "score",
            "cluster_size",
            "keep_id",
            (F.col("doc_id") != F.col("keep_id")).alias("is_redundant"),
        )
    )


SQL_CLUSTER_KEEP_BEST = f"""
WITH RECURSIVE {_sql_minhash_cte()},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM cand
  UNION
  SELECT id_b AS src, id_a AS dst FROM cand
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
clus AS (
  SELECT cast(src AS bigint) AS doc_id,
         cast(least(src, min(dst)) AS bigint) AS cluster_id
  FROM reach GROUP BY src
),
q AS ({SQL_QUALITY_SCORE.strip().replace("FROM documents", "FROM docs_twins")}),
j AS (SELECT c.doc_id, c.cluster_id, q.score FROM clus c JOIN q USING (doc_id)),
w AS (
  SELECT doc_id, cluster_id, score,
         cast(count(*) OVER (PARTITION BY cluster_id) AS bigint) AS cluster_size,
         first_value(doc_id) OVER (
           PARTITION BY cluster_id ORDER BY score DESC, doc_id ASC
         ) AS keep_id
  FROM j
)
SELECT doc_id, cluster_id, score, cluster_size, cast(keep_id AS bigint) AS keep_id,
       doc_id <> keep_id AS is_redundant
FROM w
"""


# ---- dedup: canonical URL -------------------------------------------------

def q_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup — the standard crawl-pipeline first pass:
    canonicalize (functions/native.py:canonicalize_url — fragment,
    authority case, default port, utm params, duplicate/trailing
    slashes) and collapse exact canonical collisions. The corpus has no
    URL column, so dirty variants are synthesized IN-PLAN from
    doc_id: every aligned group of 4 doc_ids carries one clean + three
    differently-dirty spellings of the same page, all of which must
    collapse to one canonical key. The host derives from the GROUP id
    (not the row's own ``source``, which differs within a group and
    would make the hosts — hence the canonical keys — distinct,
    collapsing nothing).

    Scale shape: canonicalization is pure codegen'd regex column math
    on an unshuffled scan; the collapse is ONE hash exchange keyed by
    canonical_url (count + min doc-id argmin, map-side combined) —
    exactly the dedup_exact plan with a computed key."""
    from sgb_data_validator_spark.functions.native import canonicalize_url

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    gid = (F.col("doc_id") - F.col("doc_id") % 4).cast("string")
    variant = F.col("doc_id") % 4
    host = F.concat(
        F.lit("s"), ((F.col("doc_id") - F.col("doc_id") % 4) % 97).cast("string"),
        F.lit(".example.com"),
    )
    raw = (
        F.when(variant == 0, F.concat(F.lit("https://"), host, F.lit("/docs/"), gid))
        .when(
            variant == 1,
            F.concat(F.lit("HTTPS://"), F.upper(host), F.lit("/docs/"), gid, F.lit("#sec")),
        )
        .when(
            variant == 2,
            F.concat(F.lit("https://"), host, F.lit(":443/docs/"), gid, F.lit("/")),
        )
        .otherwise(
            F.concat(
                F.lit("https://"), host, F.lit("/docs//"), gid,
                F.lit("?utm_source=x&utm_medium=y"),
            )
        )
    )
    canon = docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        canonicalize_url(raw).alias("canonical_url"),
    )
    return (
        canon.groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_variants"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .where(F.col("n_variants") > 1)
    )


SQL_DEDUP_URL = """
WITH h AS (
  SELECT doc_id,
         's' || cast((doc_id - doc_id % 4) % 97 AS varchar) || '.example.com' AS host,
         cast(doc_id - doc_id % 4 AS varchar) AS gid
  FROM documents
), u AS (
  SELECT doc_id,
    CASE cast(doc_id % 4 AS int)
      WHEN 0 THEN 'https://' || host || '/docs/' || gid
      WHEN 1 THEN 'HTTPS://' || upper(host) || '/docs/' || gid || '#sec'
      WHEN 2 THEN 'https://' || host || ':443/docs/' || gid || '/'
      ELSE 'https://' || host || '/docs//' || gid || '?utm_source=x&utm_medium=y'
    END AS raw_url
  FROM h
), c0 AS (
  SELECT doc_id, regexp_replace(raw_url, '#.*$', '') AS u FROM u
), c1 AS (
  SELECT doc_id,
         lower(regexp_extract(u, '^([^:/?#]+://[^/?#]*)', 1))
           || regexp_replace(u, '^[^:/?#]+://[^/?#]*', '') AS u
  FROM c0
), c2 AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(u,
           '^(http://[^/:?#]+):80([/?]|$)', '\\1\\2'),
           '^(https://[^/:?#]+):443([/?]|$)', '\\1\\2') AS u
  FROM c1
), c3 AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(u, 'utm_[^&#]*&?', '', 'g'), '[?&]$', '') AS u
  FROM c2
), c4 AS (
  SELECT doc_id, regexp_replace(u, '([^:/])/{2,}', '\\1/', 'g') AS u FROM c3
), c5 AS (
  SELECT doc_id,
         regexp_replace(u, '(://[^/?#]+/[^?#]*?)/+(\\?|$)', '\\1\\2') AS canonical_url
  FROM c4
)
SELECT canonical_url, cast(count(*) AS bigint) AS n_variants,
       cast(min(doc_id) AS bigint) AS keep_doc_id
FROM c5 GROUP BY 1 HAVING count(*) > 1
"""


# ---- winnowing -------------------------------------------------------

WINNOW_N = 3        # word-gram length
WINNOW_W = 4        # hashes per selection window (density 2/(w+1))
WINNOW_MIN_SHARED = 2
WINNOW_MAX_DF = 50


def q_dedup_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-aware near-dup pairs via winnowing fingerprints
    (Schleimer, Wilkerson & Aiken, SIGMOD 2003): any shared run of
    WINNOW_W + WINNOW_N − 1 words is guaranteed to contribute a shared
    fingerprint — the local-similarity complement to set-minhash,
    which a reordered bag of the same words fools. See
    operators.dedup.winnow_fingerprints for the plan shape (one
    id-partitioned exchange for both window functions, boilerplate
    fingerprints capped before the self-join)."""
    docs = _docs_with_twins(spark, sf_dir)
    fps = D.winnow_fingerprints(docs, "doc_id", "text", n=WINNOW_N, w=WINNOW_W)
    pairs = D.winnow_candidate_pairs(
        fps, min_shared=WINNOW_MIN_SHARED, max_doc_freq=WINNOW_MAX_DF
    )
    return pairs.select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        "shared_fp",
    )


SQL_DEDUP_WINNOW = f"""
WITH {SQL_DOCS_TWINS},
w AS (
  SELECT doc_id, {SQL_WORDS} AS words FROM docs_twins
  WHERE text IS NOT NULL AND trim(text) <> ''
),
g AS (
  SELECT doc_id, start AS pos,
         (('0x' || substr(md5(array_to_string(
              list_slice(words, start + 1, start + {WINNOW_N}), chr(31))), 1, 15))::BIGINT
            % {P31}) AS h
  FROM (SELECT doc_id, words, unnest(range(0, len(words) - {WINNOW_N} + 1)) AS start
        FROM w WHERE len(words) >= {WINNOW_N})
),
win AS (
  SELECT doc_id, pos,
         count(*) OVER (PARTITION BY doc_id) AS m,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS wmin
  FROM g
),
fps AS (SELECT DISTINCT doc_id AS id, wmin AS fp FROM win WHERE pos <= m - {WINNOW_W}),
flt AS (
  SELECT id, fp FROM (
    SELECT id, fp, count(*) OVER (PARTITION BY fp) AS df FROM fps)
  WHERE df > 1 AND df <= {WINNOW_MAX_DF}
)
SELECT cast(a.id AS bigint) AS id_a, cast(b.id AS bigint) AS id_b,
       cast(count(*) AS bigint) AS shared_fp
FROM flt a JOIN flt b ON a.fp = b.fp AND a.id < b.id
GROUP BY 1, 2 HAVING count(*) >= {WINNOW_MIN_SHARED}
"""


# ---- int8-quantized similarity search --------------------------------

def q_knn_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k cosine neighbors scored in symmetric-int8-quantized space — the
    4×-smaller memory-bandwidth ANN path. Quantized dot products are
    exact integers, so unlike the float knn paths the score is
    engine-portable with no summation-order caveat. See
    operators.similarity.knn_sq8."""
    vecs = _vectors_with_twins(spark, sf_dir)
    return S.knn_sq8(_query_vectors(vecs), vecs, "vec_id", "v", k=5)


SQL_KNN_SQ8 = f"""
WITH {SQL_VECTORS_TWINS},
ex AS (SELECT vec_id, r.i AS i, v[r.i + 1] AS x FROM alle, range({DIM}) r(i)),
mm AS (SELECT i, max(abs(x)) AS ma FROM ex GROUP BY i),
params AS (SELECT list(ma ORDER BY i) AS scales FROM mm),
qv AS (
  SELECT vec_id,
         list_transform(range(1, {DIM} + 1), i ->
           CASE WHEN scales[i] > 0
                THEN cast(floor(v[i] / scales[i] * 127 + 0.5) AS BIGINT)
                ELSE 0 END) AS q
  FROM alle, params
),
nv AS (SELECT vec_id, q, list_dot_product(q, q) AS n2 FROM qv),
qs AS (SELECT vec_id AS query_id, q AS qq, n2 AS qn FROM nv WHERE vec_id % {KNN_QUERY_MOD} = 0),
scored AS (
  SELECT qs.query_id, c.vec_id AS neighbor_id,
         round(list_dot_product(qs.qq, c.q) / sqrt(qs.qn * c.n2), 4) AS qcos
  FROM qs CROSS JOIN nv c
  WHERE qs.query_id <> c.vec_id AND qs.qn > 0 AND c.n2 > 0
),
ranked AS (
  SELECT query_id, neighbor_id, qcos,
         row_number() OVER (PARTITION BY query_id ORDER BY qcos DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cast(rank AS int) AS rank, qcos FROM ranked WHERE rank <= 5
"""


# ---- exact similarity join: prefix filtering --------------------------

PREFIX_JACCARD_BP = 8000   # Jaccard threshold in basis points
PREFIX_SHINGLE_N = 4       # word 4-grams: the high-cardinality set space


def q_dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard ≥ 0.8 similarity join over distinct word-4-gram
    sets via prefix filtering (Chaudhuri et al. ICDE 2006 / PPJoin) —
    the no-false-negatives complement to the minhash/simhash LSH paths,
    which trade recall for speed. Twins (appended 3-word suffix) sit at
    J = (g−3)/g ≈ 0.94 for a g-gram doc, above the 0.8 gate. See
    operators/dedup.py:prefix_filter_pairs for the plan shape and the
    rare-tail pruning argument."""
    pairs = D.prefix_filter_pairs(
        _docs_with_twins(spark, sf_dir), "doc_id", "text",
        threshold_bp=PREFIX_JACCARD_BP, shingle_n=PREFIX_SHINGLE_N,
    )
    return pairs.select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        "shared_tokens",
        "union_tokens",
        "jaccard_bp",
    )


SQL_DEDUP_PREFIX = f"""
WITH {SQL_DOCS_TWINS},
w AS (
  SELECT doc_id AS id, {SQL_WORDS} AS words FROM docs_twins
  WHERE text IS NOT NULL AND trim(text) <> ''
),
tk AS (
  SELECT id, unnest(list_distinct(list_transform(
           range(1, len(words) - {PREFIX_SHINGLE_N} + 2),
           i -> array_to_string(list_slice(words, i, i + {PREFIX_SHINGLE_N} - 1), chr(31))
         ))) AS tok
  FROM w WHERE len(words) >= {PREFIX_SHINGLE_N}
),
dfreq AS (SELECT tok, count(*) AS df FROM tk GROUP BY tok),
st AS (
  SELECT id, tok,
         count(*) OVER (PARTITION BY id) AS sz,
         row_number() OVER (PARTITION BY id ORDER BY df, tok) AS rk
  FROM tk JOIN dfreq USING (tok)
),
pre AS (
  SELECT id, tok, sz FROM st
  WHERE rk <= sz - ({PREFIX_JACCARD_BP} * sz + 9999) // 10000 + 1
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM pre a JOIN pre b
    ON a.tok = b.tok AND a.id < b.id
   AND a.sz * {PREFIX_JACCARD_BP} <= b.sz * 10000
   AND b.sz * {PREFIX_JACCARD_BP} <= a.sz * 10000
),
sizes AS (SELECT id, count(*) AS sz FROM tk GROUP BY id),
sh AS (
  SELECT c.id_a, c.id_b, count(*) AS shared
  FROM cand c
  JOIN tk ta ON ta.id = c.id_a
  JOIN tk tb ON tb.id = c.id_b AND tb.tok = ta.tok
  GROUP BY 1, 2
)
SELECT cast(id_a AS bigint) AS id_a, cast(id_b AS bigint) AS id_b,
       cast(shared AS bigint) AS shared_tokens,
       cast(sa.sz + sb.sz - shared AS bigint) AS union_tokens,
       cast((10000 * shared) // (sa.sz + sb.sz - shared) AS bigint) AS jaccard_bp
FROM sh JOIN sizes sa ON sa.id = sh.id_a JOIN sizes sb ON sb.id = sh.id_b
WHERE shared * 10000 >= {PREFIX_JACCARD_BP} * (sa.sz + sb.sz - shared)
"""


# ---- incremental dedup: new batch vs base snapshot ---------------------

INC_NEW_MOD = 7      # doc_id % 7 == 3 → the "new batch"; twins also new
INC_NEW_REM = 3


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-ingest dedup: screen a NEW batch against an existing BASE
    corpus snapshot without reprocessing the base — the incremental
    production pattern (a crawl lands every day; the base's fingerprint
    and LSH band indexes are precomputed once and stored). Every new
    doc gets a verdict: 'exact_dup' (canonical fingerprint already in
    base), 'near_dup' (shares ≥1 minhash band with a base doc — same
    k=32/r=8 bigram-shingle geometry as dedup_minhash), or 'new', plus
    the smallest matching base doc_id.

    Batch split is deterministic: new = injected suffix-twins ∪ every
    7th-with-remainder-3 natural doc; base = the rest. Twins land as
    near_dup (their parents are mostly in base), natural cross-split
    exact duplicates as exact_dup.

    Scale shape: both probes are equi-joins of the SMALL new side
    against narrow base-side indexes — (fp, min_id) for exact,
    (band_key, id) for near — never against base text; at 10^12 base
    docs those indexes are the stored artifact and the join keys are
    already partitioned by fp/band_key from the previous run. Verdict
    assembly is two left joins on the new batch's ids (broadcastable:
    one row per new doc)."""
    docs = _docs_with_twins(spark, sf_dir)
    is_new = (F.col("doc_id") >= TEXT_TWIN_OFFSET) | (
        F.col("doc_id") % INC_NEW_MOD == INC_NEW_REM
    )
    base = docs.where(~is_new)
    new = docs.where(is_new)

    base_fp = (
        base.select(D.canonical_fingerprint(F.col("text")).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("exact_base_id"))
    )
    new_fp = new.select(
        "doc_id", D.canonical_fingerprint(F.col("text")).alias("fp")
    )
    exact = new_fp.join(base_fp, "fp").select("doc_id", "exact_base_id")

    base_bands = D.minhash_band_keys(
        base, "doc_id", "text", k=K_MINHASH, band_rows=BAND_ROWS, shingle_n=2
    ).select(F.col("id").alias("base_id"), "band_key")
    new_bands = D.minhash_band_keys(
        new, "doc_id", "text", k=K_MINHASH, band_rows=BAND_ROWS, shingle_n=2
    ).select(F.col("id").alias("doc_id"), "band_key")
    near = (
        new_bands.join(base_bands, "band_key")
        .groupBy("doc_id")
        .agg(F.min("base_id").alias("near_base_id"))
    )

    return (
        new.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.when(F.col("exact_base_id").isNotNull(), F.lit("exact_dup"))
            .when(F.col("near_base_id").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("new"))
            .alias("verdict"),
            F.coalesce("exact_base_id", "near_base_id")
            .cast("bigint")
            .alias("matched_base_id"),
        )
    )


SQL_INCREMENTAL_DEDUP = f"""
WITH {_sql_minhash_cte()},
newdocs AS (
  SELECT doc_id, text FROM docs_twins
  WHERE doc_id >= {TEXT_TWIN_OFFSET} OR doc_id % {INC_NEW_MOD} = {INC_NEW_REM}
),
basedocs AS (
  SELECT doc_id, text FROM docs_twins
  WHERE NOT (doc_id >= {TEXT_TWIN_OFFSET} OR doc_id % {INC_NEW_MOD} = {INC_NEW_REM})
),
bfp AS (
  SELECT md5(array_to_string(list_sort({SQL_WORDSET}), ' ')) AS fp,
         min(doc_id) AS exact_base_id
  FROM basedocs GROUP BY 1
),
nfp AS (
  SELECT doc_id, md5(array_to_string(list_sort({SQL_WORDSET}), ' ')) AS fp
  FROM newdocs
),
ex AS (SELECT doc_id, exact_base_id FROM nfp JOIN bfp USING (fp)),
nb AS (SELECT b.doc_id, b.band_key FROM bands b JOIN newdocs USING (doc_id)),
bb AS (SELECT b.doc_id AS base_id, b.band_key FROM bands b JOIN basedocs USING (doc_id)),
nr AS (
  SELECT nb.doc_id, min(bb.base_id) AS near_base_id
  FROM nb JOIN bb USING (band_key) GROUP BY 1
)
SELECT cast(n.doc_id AS bigint) AS doc_id,
       CASE WHEN ex.exact_base_id IS NOT NULL THEN 'exact_dup'
            WHEN nr.near_base_id IS NOT NULL THEN 'near_dup'
            ELSE 'new' END AS verdict,
       cast(coalesce(ex.exact_base_id, nr.near_base_id) AS bigint) AS matched_base_id
FROM newdocs n
LEFT JOIN ex ON ex.doc_id = n.doc_id
LEFT JOIN nr ON nr.doc_id = n.doc_id
"""


# ---- bloom-filter decontamination ---------------------------------------

BLOOM_K = 3
BLOOM_M = 4096
_BLOOM_EVAL_MOD = 11   # doc_id % 11 == 5 → the held-out eval set
_BLOOM_EVAL_REM = 5


def q_bloom_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination via a broadcast Bloom filter: build an m-bit
    filter over the EVAL set's canonical fingerprints, probe every
    train doc with O(1) bit tests, then confirm the (small) candidate
    set with an exact fingerprint join — emitting each bloom-hit train
    doc with its confirmed flag and matched eval doc.

    Why this exists next to `contamination`: the exact-join form
    shuffles the train side's fingerprints; the Bloom form broadcasts
    a CONSTANT m/32-word array no matter how large the eval set grows,
    and the train fact never shuffles — only confirmed-candidate rows
    (bloom FP rate ≈ set-fraction^k) reach the exact join. That is the
    standard 10^12-row decontamination shape. See
    operators/sketch.py:bloom_build / bloom_probe."""
    from sgb_data_validator_spark.operators.sketch import bloom_build, bloom_probe

    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    with_fp = docs.select(
        "doc_id", D.canonical_fingerprint(F.col("text")).alias("fp")
    )
    is_eval = F.col("doc_id") % _BLOOM_EVAL_MOD == _BLOOM_EVAL_REM
    test = with_fp.where(is_eval)
    train = with_fp.where(~is_eval)
    bloom = bloom_build(test, "fp", k=BLOOM_K, m=BLOOM_M)
    candidates = bloom_probe(train, "fp", bloom, k=BLOOM_K, m=BLOOM_M).where(
        F.col("bloom_hit")
    )
    test_min = test.groupBy("fp").agg(F.min("doc_id").alias("matched_test_id"))
    return (
        candidates.join(test_min, "fp", "left")
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.col("matched_test_id").isNotNull().alias("confirmed"),
            F.col("matched_test_id").cast("bigint").alias("matched_test_id"),
        )
    )


SQL_BLOOM_CONTAMINATION = f"""
WITH d AS (
  SELECT doc_id, md5(array_to_string(list_sort({SQL_WORDSET}), ' ')) AS fp
  FROM documents WHERE text IS NOT NULL
),
test AS (SELECT doc_id, fp FROM d WHERE doc_id % {_BLOOM_EVAL_MOD} = {_BLOOM_EVAL_REM}),
train AS (SELECT doc_id, fp FROM d WHERE doc_id % {_BLOOM_EVAL_MOD} <> {_BLOOM_EVAL_REM}),
bk AS (
  SELECT (('0x' || substr(md5(r.r::VARCHAR || chr(31) || fp), 1, 15))::BIGINT
            % {BLOOM_M}) AS bucket
  FROM test, range({BLOOM_K}) r(r)
),
bw AS (
  SELECT bucket // 32 AS w, bit_or(1::BIGINT << cast(bucket % 32 AS int)) AS bits
  FROM bk GROUP BY 1
),
bloom AS (
  SELECT list(coalesce(bw.bits, 0) ORDER BY r.i) AS words
  FROM range({BLOOM_M // 32}) r(i) LEFT JOIN bw ON bw.w = r.i
),
pb AS (
  SELECT t.doc_id, t.fp,
         (('0x' || substr(md5(r.r::VARCHAR || chr(31) || t.fp), 1, 15))::BIGINT
            % {BLOOM_M}) AS bucket
  FROM train t, range({BLOOM_K}) r(r)
),
hits AS (
  SELECT doc_id, fp FROM pb, bloom
  GROUP BY doc_id, fp
  HAVING bool_and(((words[(bucket // 32) + 1] >> cast(bucket % 32 AS int)) & 1) = 1)
),
tmin AS (SELECT fp, min(doc_id) AS matched_test_id FROM test GROUP BY fp)
SELECT cast(h.doc_id AS bigint) AS doc_id,
       tm.matched_test_id IS NOT NULL AS confirmed,
       cast(tm.matched_test_id AS bigint) AS matched_test_id
FROM hits h LEFT JOIN tmin tm USING (fp)
"""


# ---- domain mix report -------------------------------------------------

DOMAIN_BLOCKLIST = ("sample.net",)
_TLDS = ("example.com", "example.org", "sample.net")


def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registrable-domain corpus mix: doc count, distinct hosts,
    corpus share in basis points, and a blocklist flag — the crawl-
    curation report that decides domain-level inclusion before any
    text-level work. The corpus has no URL column, so hosts are
    synthesized in-plan from doc_id (same convention as dedup_url):
    host = s<doc_id mod 97>.<tld picked by doc_id mod 3>; the
    registrable domain is the last two labels.

    Scale shape: host/domain derivation is pure codegen on the
    unshuffled scan; ONE map-side-combined agg on the (tiny-cardinality)
    domain key; the corpus total joins back from a broadcast one-row
    agg (the temperature_sample pattern), so the fact is scanned
    once and never shuffled. Share is integer basis points (DIV), so
    any engine replays it exactly."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    tld = (
        F.when(F.col("doc_id") % 3 == 0, F.lit(_TLDS[0]))
        .when(F.col("doc_id") % 3 == 1, F.lit(_TLDS[1]))
        .otherwise(F.lit(_TLDS[2]))
    )
    host = F.concat(F.lit("s"), (F.col("doc_id") % 97).cast("string"), F.lit("."), tld)
    domain = F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)
    per_domain = (
        docs.select(host.alias("host"), domain.alias("domain"))
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("host").cast("bigint").alias("n_hosts"),
        )
    )
    total = F.broadcast(per_domain.agg(F.sum("n_docs").alias("__total")))
    return per_domain.crossJoin(total).select(
        "domain",
        "n_docs",
        "n_hosts",
        F.expr("(10000 * n_docs) DIV __total").cast("bigint").alias("share_bp"),
        F.col("domain").isin(*DOMAIN_BLOCKLIST).alias("blocked"),
    )


SQL_DOMAIN_MIX = f"""
WITH h AS (
  SELECT 's' || cast(doc_id % 97 AS varchar) || '.' ||
         CASE cast(doc_id % 3 AS int)
           WHEN 0 THEN '{_TLDS[0]}' WHEN 1 THEN '{_TLDS[1]}' ELSE '{_TLDS[2]}'
         END AS host
  FROM documents
),
d AS (SELECT host, regexp_extract(host, '([^.]+\\.[^.]+)$', 1) AS domain FROM h),
per AS (
  SELECT domain, cast(count(*) AS bigint) AS n_docs,
         cast(count(DISTINCT host) AS bigint) AS n_hosts
  FROM d GROUP BY domain
),
tot AS (SELECT sum(n_docs) AS total FROM per)
SELECT domain, n_docs, n_hosts,
       cast((10000 * n_docs) // total AS bigint) AS share_bp,
       domain IN ('{DOMAIN_BLOCKLIST[0]}') AS blocked
FROM per, tot
"""


TRAINING_QUERIES: dict[str, tuple] = {
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_minhash": (q_dedup_minhash, SQL_DEDUP_MINHASH),
    "dedup_clusters": (q_dedup_clusters, SQL_DEDUP_CLUSTERS),
    "dedup_clusters_star": (q_dedup_clusters_star, SQL_DEDUP_CLUSTERS),
    "dedup_simhash": (q_dedup_simhash, SQL_DEDUP_SIMHASH),
    "dedup_ngram": (q_dedup_ngram, SQL_DEDUP_NGRAM),
    "dedup_containment": (q_dedup_containment, SQL_DEDUP_CONTAINMENT),
    "dedup_embedding": (q_dedup_embedding, SQL_DEDUP_EMBEDDING),
    "knn_bruteforce": (q_knn_bruteforce, SQL_KNN_BRUTEFORCE),
    "knn_lsh": (q_knn_lsh, SQL_KNN_LSH),
    "lang_id": (q_lang_id, SQL_LANG_ID),
    "quality_score": (q_quality_score, SQL_QUALITY_SCORE),
    "token_count": (q_token_count, SQL_TOKEN_COUNT),
    "token_count_bpe": (q_token_count_bpe, SQL_TOKEN_COUNT_BPE),
    "fingerprint": (q_fingerprint, SQL_FINGERPRINT),
    "multimodal_features": (q_multimodal_features, SQL_MULTIMODAL_FEATURES),
    "frame_sample": (q_frame_sample, SQL_FRAME_SAMPLE),
    "curation_pipeline": (q_curation_pipeline, SQL_CURATION_PIPELINE),
    "ngram_freq": (q_ngram_freq, SQL_NGRAM_FREQ),
    "repetition_score": (q_repetition_score, SQL_REPETITION_SCORE),
    "contamination": (q_contamination, SQL_CONTAMINATION),
    "contamination_ngram": (q_contamination_ngram, SQL_CONTAMINATION_NGRAM),
    "dedup_keep_best": (q_dedup_keep_best, SQL_DEDUP_KEEP_BEST),
    "cluster_keep_best": (q_cluster_keep_best, SQL_CLUSTER_KEEP_BEST),
    "dedup_url": (q_dedup_url, SQL_DEDUP_URL),
    "dedup_winnow": (q_dedup_winnow, SQL_DEDUP_WINNOW),
    "knn_sq8": (q_knn_sq8, SQL_KNN_SQ8),
    "dedup_prefix": (q_dedup_prefix, SQL_DEDUP_PREFIX),
    "incremental_dedup": (q_incremental_dedup, SQL_INCREMENTAL_DEDUP),
    "domain_mix": (q_domain_mix, SQL_DOMAIN_MIX),
    "bloom_contamination": (q_bloom_contamination, SQL_BLOOM_CONTAMINATION),
}
