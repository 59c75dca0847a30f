"""LLM-training-data-pipeline queries (north star, SURVEY.md §7 step 6):
dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard), similarity
search over embeddings, text analysis, multimodal columns.

The md5-based cross-engine hash (operators/textops.py) makes even the
hash-based operators (MinHash, SimHash, SRP-LSH) fully DuckDB-oracle-
checkable; only the Arrow-batched multimodal decode is rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lab04_spark_streaming_spark.operators import dedup as dd
from lab04_spark_streaming_spark.operators import multimodal as mm
from lab04_spark_streaming_spark.operators import similarity as sim
from lab04_spark_streaming_spark.operators.pinning import pin
from lab04_spark_streaming_spark.operators.splits import restore_splits
from lab04_spark_streaming_spark.operators.textops import (
    SPARK_NORM_H,
    SPARK_TOKS,
    SQL_NORM_H,
    SQL_TOKS,
    expr_shingles,
    sql_hash_int,
    sql_shingles,
)
from lab04_spark_streaming_spark.sources.files import load_table


# --- exact dedup -----------------------------------------------------------
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.exact_dedup(load_table(spark, sf_dir, "documents"))


SQL_DEDUP_EXACT = """
SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
"""


# --- MinHash signatures ----------------------------------------------------
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form serializes the array<long> signature to a CSV
    string: the driver's pandas canonicalizer can't hash list cells.
    Null slots (docs with <3 tokens have an empty shingle set, so every
    array_min is NULL) print as 'null' in both engines."""
    sigs = dd.minhash_signatures(load_table(spark, sf_dir, "documents"))
    return sigs.select(
        "doc_id",
        F.expr(
            "array_join(transform(sig, x -> coalesce(cast(x as string), 'null')), ',')"
        ).alias("sig"),
    )


def _sql_minhash_mins() -> str:
    return ", ".join(
        f"list_aggregate(list_transform(t.hs, "
        f"h -> ({a} * h + {b}) % {dd.MINHASH_P}), 'min')"
        for a, b in dd.MINHASH_COEFFS
    )


# List-typed signature CTE — reused by the LSH-pairs oracle (which
# subscripts sig[i] for banding); the registered signatures oracle
# below serializes it for the canonicalizer.
_SQL_MINHASH_SIG_LIST = f"""
WITH tok AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, {sql_shingles('toks')} AS shingles FROM tok t(doc_id, toks)),
hs AS (SELECT doc_id, list_transform(t.shingles, s -> {sql_hash_int('s')}) AS hs
       FROM sh t(doc_id, shingles))
SELECT doc_id, [{_sql_minhash_mins()}] AS sig
FROM hs t(doc_id, hs)
"""

SQL_MINHASH_SIGNATURES = f"""
WITH sigs AS ({_SQL_MINHASH_SIG_LIST.strip()})
SELECT doc_id,
       array_to_string(list_transform(sig,
         x -> coalesce(CAST(x AS VARCHAR), 'null')), ',') AS sig
FROM sigs
"""


# --- MinHash-LSH candidate pairs ------------------------------------------
def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.minhash_candidate_pairs(load_table(spark, sf_dir, "documents"))


def _sql_bands() -> str:
    rows = dd.MINHASH_K // dd.LSH_BANDS
    entries = ", ".join(
        "{{'band': {b}, 'band_hash': md5(concat_ws(',', {cols}))}}".format(
            b=b,
            cols=", ".join(f"sig[{b * rows + r + 1}]" for r in range(rows)),
        )
        for b in range(dd.LSH_BANDS)
    )
    return f"[{entries}]"


SQL_MINHASH_LSH_PAIRS = f"""
WITH sigs AS ({_SQL_MINHASH_SIG_LIST.strip()}),
bands AS (
  SELECT doc_id, bd.band AS band, bd.band_hash AS band_hash
  FROM sigs, unnest({_sql_bands()}) u(bd)
  WHERE sig[1] IS NOT NULL
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a
JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
            AND a.doc_id < b.doc_id
"""


# --- SimHash ---------------------------------------------------------------
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the per-doc 32-bit fold is the whole cost: spread it over the cores
    return dd.simhash(
        restore_splits(load_table(spark, sf_dir, "documents"), "doc_id")
    )


def _sql_simhash() -> str:
    th = sql_hash_int("t")
    bit_sum = (
        f"list_sum(list_transform(toks, t -> "
        f"CASE WHEN ({th} >> j) % 2 = 1 THEN 1 ELSE -1 END))"
    )
    return (
        f"list_sum(list_transform(generate_series(0, 31), j -> "
        f"CASE WHEN {bit_sum} > 0 THEN (CAST(1 AS BIGINT) << j) "
        f"ELSE CAST(0 AS BIGINT) END))"
    )


SQL_SIMHASH = f"""
WITH tok AS (SELECT doc_id, list_distinct({SQL_TOKS}) AS toks FROM documents)
SELECT doc_id, CAST({_sql_simhash()} AS BIGINT) AS simhash
FROM tok
"""


# --- n-gram Jaccard pairs --------------------------------------------------
def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.jaccard_pairs(load_table(spark, sf_dir, "documents"))


# max_df mirrors dedup.jaccard_pairs' stop-shingle cap (default 1000):
# shingles in more docs are dropped before the self-join in BOTH engines.
SQL_JACCARD_PAIRS = f"""
WITH tok AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
sh0 AS (
  SELECT doc_id, unnest(list_distinct({sql_shingles('toks')})) AS shingle
  FROM tok t(doc_id, toks)
),
sh AS (
  SELECT doc_id, shingle FROM sh0
  WHERE shingle IN (
    SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= 1000)
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_inter,
       n_inter / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= 0.4
"""


# --- embedding cosine top-k ------------------------------------------------
def q_knn_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.exact_cosine_topk_vs_id(
        load_table(spark, sf_dir, "embeddings"), query_id=0, k=10
    )


def q_knn_fold_topk_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION top-k path (zero-shuffle zip_with fold,
    bench-measured) registered under its own oracle: the fold quantizes
    components exactly like the posexplode anchor (floor(x*1e7+0.5) →
    int64 moments), so its ranking is bit-identical to the oracle's by
    construction — robust to any testdata regen, not just the current
    fixtures (tests/test_plans.py additionally asserts id-order
    equality vs the anchor). Emits (vec_id, rank)."""
    from pyspark.sql import Window

    top = sim.cosine_topk_vs_id_fold(
        load_table(spark, sf_dir, "embeddings"), query_id=0, k=10
    )
    w = Window.orderBy(F.desc("cosine"), "vec_id")
    return top.select("vec_id", F.row_number().over(w).alias("rank"))


SQL_KNN_FOLD_TOPK_IDS = """
WITH pos0 AS (
  SELECT vec_id, unnest(generate_series(1, len(embedding))) AS pos, embedding
  FROM embeddings
),
pos AS (
  SELECT vec_id, pos,
         CAST(floor(CAST(embedding[pos] AS DOUBLE) * 10000000.0 + 0.5)
              AS BIGINT) AS x
  FROM pos0
),
q AS (SELECT pos, x AS qx FROM pos WHERE vec_id = 0),
moments AS (
  SELECT p.vec_id,
         SUM(p.x * q.qx) AS dot,
         SUM(p.x * p.x) AS n2
  FROM pos p JOIN q ON p.pos = q.pos
  GROUP BY p.vec_id
),
qn AS (SELECT n2 AS qn2 FROM moments WHERE vec_id = 0)
SELECT vec_id,
       CAST(row_number() OVER (
         ORDER BY dot / (sqrt(n2) * sqrt(qn2)) DESC, vec_id) AS INTEGER)
         AS rank
FROM moments, qn
WHERE vec_id <> 0
ORDER BY rank
LIMIT 10
"""


SQL_KNN_COSINE_TOPK = """
WITH pos0 AS (
  SELECT vec_id, unnest(generate_series(1, len(embedding))) AS pos, embedding
  FROM embeddings
),
pos AS (
  SELECT vec_id, pos,
         CAST(floor(CAST(embedding[pos] AS DOUBLE) * 10000000.0 + 0.5)
              AS BIGINT) AS x
  FROM pos0
),
q AS (SELECT pos, x AS qx FROM pos WHERE vec_id = 0),
moments AS (
  SELECT p.vec_id,
         SUM(p.x * q.qx) AS dot,
         SUM(p.x * p.x) AS n2
  FROM pos p JOIN q ON p.pos = q.pos
  GROUP BY p.vec_id
),
qn AS (SELECT n2 AS qn2 FROM moments WHERE vec_id = 0)
SELECT vec_id, dot / (sqrt(n2) * sqrt(qn2)) AS cosine
FROM moments, qn
WHERE vec_id <> 0
ORDER BY cosine DESC, vec_id
LIMIT 10
"""


# --- embedding cosine near-dup pairs ---------------------------------------
def q_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-safe pipeline: banded-SRP-LSH candidates → exact verify on
    candidates only (never all-pairs). The all-pairs form
    (sim.embedding_near_dup_pairs) survives as the test-only recall
    oracle; on the fixture corpus the two emit identical output
    (deterministic 100% recall, asserted in tests/test_plans.py::
    test_embedding_pairs_lsh_shape_and_recall)."""
    return sim.embedding_near_dup_pairs_lsh(
        load_table(spark, sf_dir, "embeddings"), threshold=0.4
    )


def _sql_banded_srp(planes_per_band: int = 3, bands: int = 24, dim: int = 64):
    """DuckDB twin of similarity.srp_banded_buckets: same md5-seeded ±1
    literals, same int64 arithmetic → identical band keys."""

    def key(t: int) -> str:
        bits = []
        for p in range(planes_per_band):
            signs = sim.srp_plane_signs(t, p, dim)
            lit = "[" + ", ".join(str(s) for s in signs) + "]"
            dot = (
                f"CAST(list_sum(list_transform(generate_series(1, {dim}), "
                f"i -> qv[i] * ({lit})[i])) AS BIGINT)"
            )
            bits.append(f"CASE WHEN {dot} > 0 THEN {1 << p} ELSE 0 END")
        return "CAST(" + " + ".join(bits) + " AS INTEGER)"

    return ", ".join(
        f"struct_pack(band := {t}, band_key := {key(t)})" for t in range(bands)
    )


SQL_EMBEDDING_PAIRS = f"""
WITH quant AS (
  SELECT vec_id,
         list_transform(embedding, x ->
           CAST(floor(CAST(x AS DOUBLE) * 10000000.0 + 0.5) AS BIGINT)) AS qv
  FROM embeddings
),
norms AS (
  SELECT vec_id,
         CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS n2
  FROM quant
),
keys AS (
  SELECT vec_id, [{_sql_banded_srp()}] AS bds FROM quant
),
bands AS (
  SELECT vec_id, bd.band AS band, bd.band_key AS band_key
  FROM keys, unnest(bds) u(bd)
),
cands AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
              AND a.vec_id < b.vec_id
),
pairvecs AS (
  SELECT id_a, id_b, qa.qv AS va, qb.qv AS vb
  FROM cands
  JOIN quant qa ON qa.vec_id = id_a
  JOIN quant qb ON qb.vec_id = id_b
),
dots AS (
  SELECT id_a, id_b,
         CAST(list_sum(list_transform(generate_series(1, 64),
           i -> va[i] * vb[i])) AS BIGINT) AS dot
  FROM pairvecs
)
SELECT id_a, id_b, dot / (sqrt(na.n2) * sqrt(nb.n2)) AS cosine
FROM dots
JOIN norms na ON na.vec_id = id_a
JOIN norms nb ON nb.vec_id = id_b
WHERE dot / (sqrt(na.n2) * sqrt(nb.n2)) >= 0.4
"""


# --- SRP-LSH ANN buckets ---------------------------------------------------
def q_srp_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.srp_buckets(load_table(spark, sf_dir, "embeddings"), planes=8)


def _sql_srp() -> str:
    def plane_dot(p: int) -> str:
        h = sql_hash_int("CAST(i - 1 AS VARCHAR)", seed=f"plane{p}")
        return (
            f"list_sum(list_transform(generate_series(1, len(embedding)), "
            f"i -> CASE WHEN {h} % 2 = 1 THEN CAST(embedding[i] AS DOUBLE) "
            f"ELSE -CAST(embedding[i] AS DOUBLE) END))"
        )

    return " + ".join(
        f"CASE WHEN {plane_dot(p)} > 0 THEN {1 << p} ELSE 0 END" for p in range(8)
    )


SQL_SRP_BUCKETS = f"""
SELECT vec_id, CAST({_sql_srp()} AS INTEGER) AS bucket
FROM embeddings
"""


# --- near-dup clusters (connected components) ------------------------------
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clusters over the verified Jaccard pairs (threshold 0.4): only
    docs that participate in ≥1 pair are clustered (singletons are
    trivially their own cluster — excluded to keep the result focused)."""
    # The verified-pair pipeline feeds FOUR references (two in the edge
    # symmetrization, two in the id union) before dedup_clusters' own
    # edge checkpoint — pin it once (the jaccard_prefix_join lesson;
    # also serves every composer: cluster_sizes / keep_best / golden).
    pairs = pin(
        dd.jaccard_pairs(load_table(spark, sf_dir, "documents"))
        .select("id_a", "id_b")
    )
    ids = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .union(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    return dd.dedup_clusters(pairs, ids)


# DuckDB twin: undirected transitive closure via recursive CTE, label =
# min reachable id (same semantics as min-label propagation).
SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE
tok AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct({sql_shingles('toks')})) AS shingle
  FROM tok t(doc_id, toks)
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= 0.4
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(src, dst) AS (
  SELECT src, src FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id, MIN(dst) AS cluster_id
FROM reach
GROUP BY src
"""


# --- document chunking ------------------------------------------------------
_CHUNK, _STRIDE = 50, 40  # 50-token chunks, 10-token overlap


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking (50-token chunks, stride 40) — the
    standard context-window preparation step. Pure per-row expressions:
    tokenize once, explode chunk starts, slice. Output size ≈
    tokens/stride, the expansion a chunker inherently produces."""
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.expr(SPARK_TOKS).alias("_toks"))
        .select(
            "doc_id",
            F.col("_toks"),
            F.posexplode(
                F.expr(f"sequence(0, greatest(size(_toks) - 1, 0), {_STRIDE})")
            ).alias("chunk_id", "_start"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.expr(f"concat_ws(' ', slice(_toks, _start + 1, {_CHUNK}))").alias(
                "chunk_text"
            ),
            F.expr(f"cast(size(slice(_toks, _start + 1, {_CHUNK})) as bigint)").alias("n_tokens"),
        )
    )


SQL_DOC_CHUNKS = f"""
WITH tok AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
starts AS (
  SELECT doc_id, toks,
         unnest(generate_series(0, greatest(len(toks) - 1, 0), {_STRIDE}))
           AS start
  FROM tok
)
SELECT doc_id, start // {_STRIDE} AS chunk_id,
       coalesce(array_to_string(toks[start + 1 : start + {_CHUNK}], ' '), '')
         AS chunk_text,
       len(toks[start + 1 : start + {_CHUNK}]) AS n_tokens
FROM starts
"""


# --- text metrics / quality ------------------------------------------------
def q_text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model data-quality battery: token counts, length stats,
    stopword/digit ratios — all JVM-side expressions."""
    toks = "array_remove(split(lower(text), '[^a-z0-9]+'), '')"
    stop = "array('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it')"
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(f"cast(size({toks}) as bigint)").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_actual"),
        F.expr(
            f"CASE WHEN size({toks}) = 0 THEN 0.0 ELSE "
            f"aggregate({toks}, 0, (a, t) -> a + length(t)) / size({toks}) END"
        ).alias("avg_word_len"),
        F.expr(
            f"CASE WHEN size({toks}) = 0 THEN 0.0 ELSE "
            f"size(filter({toks}, t -> array_contains({stop}, t))) / size({toks}) END"
        ).alias("stopword_ratio"),
        F.expr(
            "length(regexp_replace(text, '[^0-9]', '')) / greatest(length(text), 1)"
        ).alias("digit_ratio"),
    )


SQL_TEXT_METRICS = f"""
WITH tok AS (SELECT doc_id, text, {SQL_TOKS} AS toks FROM documents)
SELECT doc_id, len(toks) AS n_tokens, length(text) AS n_chars_actual,
       CASE WHEN len(toks) = 0 THEN 0.0 ELSE
         list_sum(list_transform(toks, t -> length(t))) / len(toks) END
         AS avg_word_len,
       CASE WHEN len(toks) = 0 THEN 0.0 ELSE
         len(list_filter(toks, t -> list_contains(
           ['the', 'a', 'of', 'and', 'to', 'in', 'is', 'it'], t))) / len(toks) END
         AS stopword_ratio,
       length(regexp_replace(text, '[^0-9]', '', 'g')) / greatest(length(text), 1)
         AS digit_ratio
FROM tok
"""


# --- language-ID heuristic -------------------------------------------------
_LANG_MARKERS = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "est"),
    "es": ("el", "los", "y", "es", "una"),
}


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID: score = #tokens in each language's
    function-word list; argmax with a fixed precedence (en>de>fr>es,
    'und' = unknown when all scores are 0). On this synthetic corpus
    everything scores 'en' — the operator semantics, not accuracy, are
    under test."""
    toks = "array_remove(split(lower(text), '[^a-z0-9]+'), '')"

    def score(lang: str) -> str:
        arr = ", ".join(f"'{w}'" for w in _LANG_MARKERS[lang])
        return f"size(filter({toks}, t -> array_contains(array({arr}), t)))"

    scores = {lang: score(lang) for lang in _LANG_MARKERS}
    whens = " ".join(
        "WHEN {cond} THEN '{lang}'".format(
            cond=" AND ".join(
                f"{scores[lang]} >= {scores[o]}" for o in _LANG_MARKERS if o != lang
            ),
            lang=lang,
        )
        for lang in _LANG_MARKERS
    )
    total = " + ".join(scores.values())
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(f"cast({scores['en']} as bigint)").alias("score_en"),
        F.expr(f"CASE WHEN {total} = 0 THEN 'und' {whens} ELSE 'und' END").alias(
            "pred_lang"
        ),
        "lang",
    )


def _sql_lang_score(lang: str) -> str:
    arr = ", ".join(f"'{w}'" for w in _LANG_MARKERS[lang])
    return f"len(list_filter(toks, t -> list_contains([{arr}], t)))"


def _sql_lang_case() -> str:
    scores = {lang: _sql_lang_score(lang) for lang in _LANG_MARKERS}
    whens = " ".join(
        "WHEN {cond} THEN '{lang}'".format(
            cond=" AND ".join(
                f"{scores[lang]} >= {scores[o]}" for o in _LANG_MARKERS if o != lang
            ),
            lang=lang,
        )
        for lang in _LANG_MARKERS
    )
    total = " + ".join(scores.values())
    return f"CASE WHEN {total} = 0 THEN 'und' {whens} ELSE 'und' END"


SQL_LANG_ID = f"""
WITH tok AS (SELECT doc_id, lang, {SQL_TOKS} AS toks FROM documents)
SELECT doc_id, {_sql_lang_score('en')} AS score_en,
       {_sql_lang_case()} AS pred_lang, lang
FROM tok
"""


# --- document fingerprint --------------------------------------------------
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two fingerprints per doc: md5 of the sorted distinct token set
    (bag-of-words identity) and the minimum shingle hash (winnowing-
    style content anchor)."""
    from lab04_spark_streaming_spark.operators.textops import (
        expr_hash_int,
        expr_shingles,
    )

    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.expr(SPARK_TOKS).alias("_toks"))
        .select(
            "doc_id",
            F.expr(
                "md5(concat_ws(' ', array_sort(array_distinct(_toks))))"
            ).alias("bow_fingerprint"),
            F.expr(
                f"array_min(transform({expr_shingles('_toks')}, "
                f"s -> {expr_hash_int('s')}))"
            ).alias("min_shingle_hash"),
        )
    )


SQL_FINGERPRINT = f"""
WITH tok AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents)
SELECT doc_id,
       md5(coalesce(array_to_string(list_sort(list_distinct(toks)), ' '), ''))
         AS bow_fingerprint,
       list_aggregate(list_transform({sql_shingles('toks')},
         s -> {sql_hash_int('s')}), 'min') AS min_shingle_hash
FROM tok t(doc_id, toks)
"""


# --- term frequency / document frequency ----------------------------------
def q_tf_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(token, doc) term frequencies joined to corpus document
    frequencies — the integer core of tf-idf (the idf log is libm-
    dependent, so the oracle checks the exact integer moments)."""
    toks = "array_remove(split(lower(text), '[^a-z0-9]+'), '')"
    tf = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.expr(toks)).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    return tf.join(df_, "token").filter(F.col("tf") >= 3).select(
        "doc_id", "token", "tf", "df"
    )


SQL_TF_DF = f"""
WITH tok AS (SELECT doc_id, unnest({SQL_TOKS}) AS token FROM documents),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1)
SELECT tf.doc_id, tf.token, tf.tf, dfreq.df
FROM tf JOIN dfreq ON tf.token = dfreq.token
WHERE tf.tf >= 3
"""


# --- quality filter pipeline ------------------------------------------------
def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed keep/drop decision — the final stage of a data-quality
    pipeline: length bounds + stopword floor + digit ceiling, with the
    per-language keep-rate summarized. Shows operator composition (the
    metrics query feeding a filter + aggregate) rather than a new
    primitive."""
    m = q_text_metrics(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    keep = (
        (F.col("n_tokens") >= 10)
        & (F.col("avg_word_len") >= 3.0)
        & (F.col("stopword_ratio") >= 0.01)
        & (F.col("digit_ratio") <= 0.2)
    )
    return (
        m.join(d, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(keep, 1)).alias("n_keep"),
            (F.count(F.when(keep, 1)) / F.count(F.lit(1))).alias("keep_rate"),
        )
    )


SQL_QUALITY_FILTER = f"""
WITH tok AS (SELECT doc_id, lang, text, {SQL_TOKS} AS toks FROM documents),
m AS (
  SELECT doc_id, lang, len(toks) AS n_tokens,
         CASE WHEN len(toks) = 0 THEN 0.0 ELSE
           list_sum(list_transform(toks, t -> length(t))) / len(toks) END
           AS avg_word_len,
         CASE WHEN len(toks) = 0 THEN 0.0 ELSE
           len(list_filter(toks, t -> list_contains(
             ['the', 'a', 'of', 'and', 'to', 'in', 'is', 'it'], t))) / len(toks)
           END AS stopword_ratio,
         length(regexp_replace(text, '[^0-9]', '', 'g'))
           / greatest(length(text), 1) AS digit_ratio
  FROM tok
)
SELECT lang, COUNT(*) AS n_docs,
       COUNT(*) FILTER (n_tokens >= 10 AND avg_word_len >= 3.0
                        AND stopword_ratio >= 0.01 AND digit_ratio <= 0.2)
         AS n_keep,
       COUNT(*) FILTER (n_tokens >= 10 AND avg_word_len >= 3.0
                        AND stopword_ratio >= 0.01 AND digit_ratio <= 0.2)
         / COUNT(*) AS keep_rate
FROM m
GROUP BY lang
"""


# --- multimodal ------------------------------------------------------------
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-metadata projection over the media table (binary column
    untouched — column pruning drops it from the scan)."""
    media = mm.media_from_documents(load_table(spark, sf_dir, "documents"))
    return media.select(
        "media_id",
        "kind",
        F.col("meta.mime").alias("mime"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.length("payload").alias("payload_bytes"),
    )


SQL_MULTIMODAL_META = """
SELECT doc_id AS media_id,
       ['image', 'audio', 'video'][CAST(doc_id % 3 AS INTEGER) + 1] AS kind,
       'application/x-fake-' || ['image', 'audio', 'video'][CAST(doc_id % 3 AS INTEGER) + 1]
         AS mime,
       octet_length(CAST(text AS BLOB)) AS n_bytes,
       CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS payload_bytes
FROM documents
"""


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched decode stub (mapInPandas) → scalar feature columns.
    The fake features (payload length / mean byte / first / last byte)
    are pure byte arithmetic over the UTF-8 payload, so the whole
    Python stage is DuckDB-oracle-checkable once the ``array<double>``
    is unpacked into scalars (raw arrays crash the driver's
    canonicalizer). The mean is an exact integer byte-sum followed by
    one double division — bit-identical across engines."""
    media = mm.media_from_documents(load_table(spark, sf_dir, "documents"))
    feats = mm.decode_stub(media)
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        F.element_at("features", 1).alias("f_len"),
        F.element_at("features", 2).alias("f_mean"),
        F.element_at("features", 3).alias("f_first"),
        F.element_at("features", 4).alias("f_last"),
    )


# documents.text is ASCII in this testdata (asserted by
# tests/test_oracle_parity.py driving this very oracle), so DuckDB can
# recover the UTF-8 payload bytes with ascii() per character — the same
# byte stream the Python decoder sees.
SQL_MULTIMODAL_DECODE = """
SELECT doc_id AS media_id,
       ['image', 'audio', 'video'][CAST(doc_id % 3 AS INTEGER) + 1] AS kind,
       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
       CASE WHEN length(text) = 0 THEN 0.0
            ELSE CAST(octet_length(CAST(text AS BLOB)) AS DOUBLE) END AS f_len,
       CASE WHEN length(text) = 0 THEN 0.0
            ELSE CAST(list_sum(list_transform(string_split_regex(text, ''),
                                              c -> ascii(c))) AS DOUBLE)
                 / length(text) END AS f_mean,
       CASE WHEN length(text) = 0 THEN 0.0
            ELSE CAST(ascii(text[1]) AS DOUBLE) END AS f_first,
       CASE WHEN length(text) = 0 THEN 0.0
            ELSE CAST(ascii(text[-1]) AS DOUBLE) END AS f_last
FROM documents
"""


def q_multimodal_feature_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end multimodal chain: Arrow-batched decode (stub) →
    feature vectors → cosine against one query item → top-20. The 1-row
    query relation is broadcast-cross-joined and the cosine computed by
    a zip_with/aggregate fold on COLUMNS — no driver .collect(), so the
    whole chain is one job. Rows-only check (decode is Python-side by
    design); demonstrates the decode→embed→search composition."""
    media = mm.media_from_documents(load_table(spark, sf_dir, "documents"))
    feats = mm.decode_stub(media).filter(
        F.col("n_bytes") > 0  # zero-vectors have no cosine (oracle mirrors)
    )
    qf = feats.filter(F.col("media_id") == 0).select(
        F.col("features").alias("_qf")
    )
    # Fixed-order scalar expansion of the 4-feature dot/norms (instead
    # of an aggregate() fold) so the float evaluation order is written
    # down once and reproduced verbatim in the DuckDB oracle — every
    # op (mul, left-assoc add, sqrt, div) is IEEE bit-identical.
    dot = " + ".join(
        f"features[{i}] * _qf[{i}]" for i in range(4)
    )
    n1 = " + ".join(f"features[{i}] * features[{i}]" for i in range(4))
    n2 = " + ".join(f"_qf[{i}] * _qf[{i}]" for i in range(4))
    return (
        feats.crossJoin(F.broadcast(qf))
        .withColumn("cosine", F.expr(f"({dot}) / (sqrt({n1}) * sqrt({n2}))"))
        .filter(F.col("media_id") != 0)
        .orderBy(F.desc("cosine"), "media_id")
        .select("media_id", "kind", "cosine")
        .limit(20)
    )


def _sql_feature_knn() -> str:
    feat = """
SELECT doc_id AS media_id,
       ['image', 'audio', 'video'][CAST(doc_id % 3 AS INTEGER) + 1] AS kind,
       [CAST(octet_length(CAST(text AS BLOB)) AS DOUBLE),
        CAST(list_sum(list_transform(string_split_regex(text, ''),
                                     c -> ascii(c))) AS DOUBLE) / length(text),
        CAST(ascii(text[1]) AS DOUBLE),
        CAST(ascii(text[-1]) AS DOUBLE)] AS f
FROM documents WHERE length(text) > 0
"""
    dot = " + ".join(f"a.f[{i}] * q.f[{i}]" for i in range(1, 5))
    n1 = " + ".join(f"a.f[{i}] * a.f[{i}]" for i in range(1, 5))
    n2 = " + ".join(f"q.f[{i}] * q.f[{i}]" for i in range(1, 5))
    return f"""
WITH feat AS ({feat}),
q AS (SELECT f FROM feat WHERE media_id = 0)
SELECT a.media_id, a.kind,
       ({dot}) / (sqrt({n1}) * sqrt({n2})) AS cosine
FROM feat a, q
WHERE a.media_id <> 0
ORDER BY cosine DESC, a.media_id
LIMIT 20
"""


SQL_MULTIMODAL_FEATURE_KNN = _sql_feature_knn()


# --- tf-idf top terms per document ------------------------------------------
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 most characteristic tokens per document — the per-group
    top-k ranking stage of a tf-idf pipeline. The relevance score is
    the rational idf surrogate tf·(N−df)/df instead of tf·ln(N/df):
    ln is libm-dependent (last-ulp drift across engines flips ranks at
    ties), while integer products + one double division are
    bit-identical — same determinism stance as q_tf_df. Rank ties
    break on token, so the window is fully deterministic."""
    from pyspark.sql import Window

    toks = "array_remove(split(lower(text), '[^a-z0-9]+'), '')"
    tf = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.expr(toks)).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = load_table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    scored = (
        tf.join(df_, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            (F.col("tf") * (F.col("n_docs") - F.col("df"))).cast("double")
            / F.col("df"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.col("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "token", "tf", "df", "rank", "score")
    )


SQL_TFIDF_TOP_TERMS = f"""
WITH tok AS (SELECT doc_id, unnest({SQL_TOKS}) AS token FROM documents),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
         CAST(tf.tf * (n.n_docs - dfreq.df) AS DOUBLE) / dfreq.df AS score
  FROM tf JOIN dfreq ON tf.token = dfreq.token, n)
SELECT doc_id, token, tf, df,
       row_number() OVER (PARTITION BY doc_id
                          ORDER BY score DESC, token) AS rank,
       score
FROM scored
QUALIFY rank <= 3
"""


# --- multimodal resize / frame-sample stages --------------------------------
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize mapInPandas stage over the synthetic media table.
    The fake resampler's outputs are pure functions of the input, so
    the Arrow round-trip + kind pushdown are oracle-checked (unlike the
    rows-only decode stub)."""
    from lab04_spark_streaming_spark.operators.multimodal import (
        media_from_documents,
        resize_stub,
    )

    docs = load_table(spark, sf_dir, "documents")
    return resize_stub(media_from_documents(docs), width=32, height=32)


SQL_MULTIMODAL_RESIZE = """
SELECT doc_id AS media_id, 'image' AS kind,
       CAST(32 AS BIGINT) AS width, CAST(32 AS BIGINT) AS height,
       CAST(1024 AS BIGINT) AS n_bytes_out
FROM documents
WHERE doc_id % 3 = 0
"""


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling mapInPandas stage — the row-EXPANDING
    Python stage (one output row per sampled frame). The fake duration
    rule (duration_ms := payload bytes) makes the expansion arithmetic,
    so the oracle checks the Python-side batch rebuild exactly."""
    from lab04_spark_streaming_spark.operators.multimodal import (
        frame_sample_stub,
        media_from_documents,
    )

    docs = load_table(spark, sf_dir, "documents")
    return frame_sample_stub(media_from_documents(docs), every_ms=40)


SQL_MULTIMODAL_FRAMES = """
WITH vids AS (
  SELECT doc_id AS media_id,
         octet_length(encode(text)) AS dur,
         CAST(ceil(octet_length(encode(text)) / 40.0) AS BIGINT) AS nf
  FROM documents
  WHERE doc_id % 3 = 2
)
SELECT media_id,
       unnest(generate_series(0, nf - 1)) AS frame_idx,
       unnest(generate_series(0, nf - 1)) * CAST(40 AS BIGINT) AS frame_ts_ms,
       nf AS n_frames
FROM vids
WHERE nf > 0
"""


# --- IVF approximate nearest neighbor --------------------------------------
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search, oracle-checked end to end (including the coarse
    quantizer): assign every vector to its nearest of 16 deterministic
    centroids, probe the 4 cells nearest the query, exact-rank their
    members. The scale path next to the brute-force recall oracle
    `knn_cosine_topk` (operators/similarity.ivf_topk for plan notes)."""
    return sim.ivf_topk(
        load_table(spark, sf_dir, "embeddings"), query_id=0, k=10, n_cells=16, n_probe=4
    )


SQL_ANN_IVF_TOPK = """
WITH pos0 AS (
  SELECT vec_id, unnest(generate_series(1, len(embedding))) AS pos, embedding
  FROM embeddings
),
pos AS (
  SELECT vec_id, pos,
         CAST(floor(CAST(embedding[pos] AS DOUBLE) * 10000000.0 + 0.5)
              AS BIGINT) AS x
  FROM pos0
),
norms AS (SELECT vec_id, SUM(x * x) AS n2 FROM pos GROUP BY vec_id),
cpos AS (SELECT vec_id AS cid, pos, x AS cx FROM pos WHERE vec_id < 16),
cnorms AS (SELECT vec_id AS cid, n2 AS c2 FROM norms WHERE vec_id < 16),
assign AS (
  SELECT vec_id, cid AS cell
  FROM (
    SELECT p.vec_id, c.cid,
           SUM(p.x * c.cx) / (sqrt(n.n2) * sqrt(cn.c2)) AS cell_cosine
    FROM pos p
    JOIN cpos c ON p.pos = c.pos
    JOIN norms n ON p.vec_id = n.vec_id
    JOIN cnorms cn ON c.cid = cn.cid
    GROUP BY p.vec_id, c.cid, n.n2, cn.c2)
  QUALIFY row_number() OVER (PARTITION BY vec_id
                             ORDER BY cell_cosine DESC, cid) = 1
),
qpos AS (SELECT pos, x AS qx FROM pos WHERE vec_id = 0),
qn AS (SELECT n2 AS qn2 FROM norms WHERE vec_id = 0),
probe AS (
  SELECT c.cid AS cell
  FROM cpos c
  JOIN qpos q ON c.pos = q.pos
  JOIN cnorms cn ON c.cid = cn.cid, qn
  GROUP BY c.cid, cn.c2, qn.qn2
  ORDER BY SUM(c.cx * q.qx) / (sqrt(cn.c2) * sqrt(qn.qn2)) DESC, c.cid
  LIMIT 4
),
cands AS (
  SELECT vec_id, cell FROM assign
  WHERE cell IN (SELECT cell FROM probe) AND vec_id <> 0
)
SELECT p.vec_id, cd.cell,
       SUM(p.x * q.qx) / (sqrt(n.n2) * sqrt(qn.qn2)) AS cosine
FROM pos p
JOIN cands cd ON p.vec_id = cd.vec_id
JOIN qpos q ON p.pos = q.pos
JOIN norms n ON p.vec_id = n.vec_id, qn
GROUP BY p.vec_id, cd.cell, n.n2, qn.qn2
ORDER BY cosine DESC, p.vec_id
LIMIT 10
"""


# --- SimHash hamming near-dup pairs ----------------------------------------
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.simhash_pairs(load_table(spark, sf_dir, "documents"), max_hamming=3)


SQL_SIMHASH_PAIRS = f"""
WITH tok AS (SELECT doc_id, list_distinct({SQL_TOKS}) AS toks FROM documents
             WHERE len(list_distinct({SQL_TOKS})) > 0),
sh AS (SELECT doc_id, CAST({_sql_simhash()} AS BIGINT) AS simhash FROM tok),
bands AS (
  SELECT doc_id, simhash, b AS band,
         CAST((simhash >> (b * 8)) % 256 AS INTEGER) AS band_val
  FROM sh, unnest([0, 1, 2, 3]) u(b)
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.simhash AS sa, b.simhash AS sb
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_val = b.band_val
              AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
FROM cands
WHERE bit_count(xor(sa, sb)) <= 3
"""


# --- cross-source decontamination ------------------------------------------
def q_decontamination_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.cross_source_overlap(
        load_table(spark, sf_dir, "documents"), group_col="source", n=5, min_shared=3
    )


def q_dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-insensitive exact dedup: case-fold, collapse every
    non-alphanumeric run to one space, trim, THEN hash — catches the
    re-encoded/re-whitespaced copies byte-exact dedup misses (the
    standard first normalization step of a curation pipeline). Same
    plan shape as dedup_exact: per-row projection into one md5-keyed
    shuffle; only the 32-char digest moves, never the text."""
    return (
        load_table(spark, sf_dir, "documents")
        .groupBy(F.expr(SPARK_NORM_H).alias("_h"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("doc_id", "n_copies")
    )


SQL_DEDUP_EXACT_NORMALIZED = f"""
SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
FROM documents
GROUP BY {SQL_NORM_H}
"""


def q_decontamination_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment-based decontamination (the GPT-3-style check, public:
    Brown et al. 2020 use 13-gram containment; same plan at n=5 here):
    a document is contaminated when MOST of its distinct n-grams appear
    in a document of another source — n_shared / min(|A|, |B|) ≥ 0.5.
    Asymmetric containment catches eval sets embedded in larger train
    docs, which symmetric Jaccard dilutes away. Same inverted-index +
    stop-shingle-cap shape as jaccard_pairs; the division is one exact
    int ratio — bit-identical cross-engine."""
    # The shingle relation feeds FIVE consumers (df cap, sizes, both
    # join sides via the capped relation) — restore split parallelism
    # off the single-row-group fixture scan and pin ONE
    # tokenize→shingle pass (the jaccard_prefix_join lesson,
    # plans/mining.py: measured 6x single-threaded replays before).
    sh0 = pin(
        restore_splits(load_table(spark, sf_dir, "documents"), "doc_id")
        .select(
            "doc_id",
            "source",
            F.explode(
                F.array_distinct(F.expr(expr_shingles(SPARK_TOKS, 5)))
            ).alias("shingle"),
        )
    )
    keep = (
        sh0.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= 1000)
        .select("shingle")
    )
    sh = pin(sh0.join(keep, "shingle", "left_semi"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.source") != F.col("b.source")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    na = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("_na"))
    nb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("_nb"))
    cont = F.col("n_shared") / F.least(F.col("_na"), F.col("_nb"))
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .filter(cont >= 0.5)
        .select("id_a", "id_b", "n_shared", cont.alias("containment"))
    )


SQL_DECONTAMINATION_CONTAINMENT = f"""
WITH tok AS (SELECT doc_id, source, {SQL_TOKS} AS toks FROM documents),
sh0 AS (
  SELECT doc_id, source,
         unnest(list_distinct({sql_shingles('toks', 5)})) AS shingle
  FROM tok t(doc_id, source, toks)
),
sh AS (
  SELECT doc_id, source, shingle FROM sh0
  WHERE shingle IN (
    SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= 1000)
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
  FROM sh a
  JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           AND a.source <> b.source
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_shared,
       n_shared / least(sa.n_sh, sb.n_sh) AS containment
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE n_shared / least(sa.n_sh, sb.n_sh) >= 0.5
"""


SQL_DECONTAMINATION_PAIRS = f"""
WITH tok AS (SELECT doc_id, source, {SQL_TOKS} AS toks FROM documents),
sh0 AS (
  SELECT doc_id, source,
         unnest(list_distinct({sql_shingles('toks', 5)})) AS shingle
  FROM tok t(doc_id, source, toks)
),
sh AS (
  SELECT doc_id, source, shingle FROM sh0
  WHERE shingle IN (
    SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= 1000)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
FROM sh a
JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         AND a.source <> b.source
GROUP BY 1, 2
HAVING COUNT(*) >= 3
"""


# --- PII scrub --------------------------------------------------------------
# Conservative patterns that parse identically under Java regex (Spark)
# and RE2 (DuckDB): URLs first (an email inside a URL is the URL's),
# then emails, then phone-shaped digit runs.
_PII_URL = r"https?://[^ \t\n]+"
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+?[0-9][0-9()\- ]{6,}[0-9]"


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact URLs / emails / phone-shaped spans and count what was
    removed — the standard pre-training scrub pass. Pure JVM regex
    per row; at 100 TB this pipelines into the scan with zero shuffle."""
    d = load_table(spark, sf_dir, "documents")
    n = lambda p: F.size(F.regexp_extract_all(F.col("text"), F.lit(p), F.lit(0)))  # noqa: E731
    return d.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace("text", _PII_URL, "<URL>"),
                _PII_EMAIL,
                "<EMAIL>",
            ),
            _PII_PHONE,
            "<PHONE>",
        ).alias("clean_text"),
        n(_PII_URL).cast("int").alias("n_urls"),
        n(_PII_EMAIL).cast("int").alias("n_emails"),
        n(_PII_PHONE).cast("int").alias("n_phones"),
    )


def _duck_re(p: str) -> str:
    return p.replace("'", "''")


SQL_PII_SCRUB = f"""
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(text,
         '{_duck_re(_PII_URL)}', '<URL>', 'g'),
         '{_duck_re(_PII_EMAIL)}', '<EMAIL>', 'g'),
         '{_duck_re(_PII_PHONE)}', '<PHONE>', 'g') AS clean_text,
       CAST(len(regexp_extract_all(text, '{_duck_re(_PII_URL)}')) AS INTEGER)
         AS n_urls,
       CAST(len(regexp_extract_all(text, '{_duck_re(_PII_EMAIL)}')) AS INTEGER)
         AS n_emails,
       CAST(len(regexp_extract_all(text, '{_duck_re(_PII_PHONE)}')) AS INTEGER)
         AS n_phones
FROM documents
"""


# --- BPE-ish token counting --------------------------------------------------
# GPT-2-style pre-tokenizer shape: contraction suffixes, space-prefixed
# letter runs, digit runs, punctuation runs. Same match semantics in
# Java regex and RE2 (verified on mixed text).
_BPE_PAT = r"'[a-z]+| ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"


def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(_BPE_PAT), F.lit(0))
        )
        .cast("long")
        .alias("n_bpe_tokens"),
        F.expr(f"cast(size({SPARK_TOKS}) as bigint)").alias("n_ws_tokens"),
    )


SQL_TOKEN_COUNT_BPE = f"""
SELECT doc_id,
       len(regexp_extract_all(lower(text), '{_duck_re(_BPE_PAT)}'))
         AS n_bpe_tokens,
       len({SQL_TOKS}) AS n_ws_tokens
FROM documents
"""


# --- stratified deterministic sampling --------------------------------------
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source deterministic sampling — the mixture-weighting
    primitive of a training-data pipeline. The keep decision is a pure
    row hash (md5 of 'source|doc_id' mod 100 < per-source rate), so the
    sample is reproducible, engine-independent, and needs no shuffle or
    driver coordination; the per-source rate (20–79%) is itself derived
    from the source name, standing in for a mixture-weights table that
    would be broadcast in production."""
    from lab04_spark_streaming_spark.operators.textops import expr_hash_int

    row_key = "concat(source, '|', cast(doc_id as string))"
    rate = f"20 + pmod({expr_hash_int('source')}, 60)"
    keep = f"pmod({expr_hash_int(row_key)}, 100)"
    return (
        load_table(spark, sf_dir, "documents")
        .filter(F.expr(f"{keep} < {rate}"))
        .select("doc_id", "source")
    )


SQL_STRATIFIED_SAMPLE = f"""
SELECT doc_id, source
FROM documents
WHERE {sql_hash_int("source || '|' || CAST(doc_id AS VARCHAR)")} % 100
      < 20 + ({sql_hash_int('source')} % 60)
"""


# --- vocabulary coverage / OOV rate ----------------------------------------
def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus top-100
    vocabulary — the coverage check run before committing to a fixed
    tokenizer vocab. Two-pass shape that scales: (1) global token
    counts → top-k with a total-order tie-break (count desc, token
    asc), (2) the tiny vocab broadcast back for a map-side membership
    probe; OOV fraction is an exact int ratio."""
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.expr(SPARK_TOKS)).alias("tok")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("_c"))
        .orderBy(F.desc("_c"), "tok")
        .limit(100)
        .select("tok", F.lit(1).alias("_in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum(
                F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
        )
        .withColumn(
            "oov_frac", F.col("n_oov").cast("double") / F.col("n_tok")
        )
    )


SQL_OOV_RATE = f"""
WITH tok AS (
  SELECT doc_id, unnest({SQL_TOKS}) AS tok FROM documents
),
vocab AS (
  SELECT tok FROM (
    SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok
  ) ORDER BY c DESC, tok LIMIT 100
)
SELECT t.doc_id, COUNT(*) AS n_tok,
       CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS oov_frac
FROM tok t LEFT JOIN vocab v ON t.tok = v.tok
GROUP BY t.doc_id
"""


def specs():
    from lab04_spark_streaming_spark.registry import QuerySpec

    return [
        QuerySpec("dedup_exact", q_dedup_exact, SQL_DEDUP_EXACT),
        QuerySpec("dedup_minhash_signatures", q_minhash_signatures, SQL_MINHASH_SIGNATURES),
        QuerySpec("dedup_minhash_lsh_pairs", q_minhash_lsh_pairs, SQL_MINHASH_LSH_PAIRS),
        QuerySpec("dedup_simhash", q_simhash, SQL_SIMHASH),
        QuerySpec("dedup_jaccard_pairs", q_jaccard_pairs, SQL_JACCARD_PAIRS),
        QuerySpec("dedup_clusters", q_dedup_clusters, SQL_DEDUP_CLUSTERS),
        QuerySpec("doc_chunking", q_doc_chunks, SQL_DOC_CHUNKS),
        QuerySpec("knn_cosine_topk", q_knn_cosine_topk, SQL_KNN_COSINE_TOPK),
        QuerySpec("knn_fold_topk_ids", q_knn_fold_topk_ids, SQL_KNN_FOLD_TOPK_IDS),
        QuerySpec("dedup_embedding_pairs", q_embedding_pairs, SQL_EMBEDDING_PAIRS),
        QuerySpec("ann_srp_buckets", q_srp_buckets, SQL_SRP_BUCKETS),
        QuerySpec("ann_ivf_topk", q_ann_ivf_topk, SQL_ANN_IVF_TOPK),
        QuerySpec("text_metrics", q_text_metrics, SQL_TEXT_METRICS),
        QuerySpec("lang_id_heuristic", q_lang_id, SQL_LANG_ID),
        QuerySpec("doc_fingerprint", q_fingerprint, SQL_FINGERPRINT),
        QuerySpec("tf_df_terms", q_tf_df, SQL_TF_DF),
        QuerySpec("tfidf_top_terms", q_tfidf_top_terms, SQL_TFIDF_TOP_TERMS),
        QuerySpec("multimodal_meta", q_multimodal_meta, SQL_MULTIMODAL_META),
        QuerySpec("multimodal_decode_stub", q_multimodal_decode, SQL_MULTIMODAL_DECODE),
        QuerySpec("multimodal_resize", q_multimodal_resize, SQL_MULTIMODAL_RESIZE),
        QuerySpec("multimodal_frame_sample", q_multimodal_frames, SQL_MULTIMODAL_FRAMES),
        QuerySpec("quality_filter_pipeline", q_quality_filter, SQL_QUALITY_FILTER),
        QuerySpec("multimodal_feature_knn", q_multimodal_feature_knn, SQL_MULTIMODAL_FEATURE_KNN),
        QuerySpec("dedup_simhash_pairs", q_simhash_pairs, SQL_SIMHASH_PAIRS),
        QuerySpec(
            "dedup_exact_normalized",
            q_dedup_exact_normalized,
            SQL_DEDUP_EXACT_NORMALIZED,
        ),
        QuerySpec(
            "decontamination_containment",
            q_decontamination_containment,
            SQL_DECONTAMINATION_CONTAINMENT,
        ),
        QuerySpec(
            "decontamination_pairs",
            q_decontamination_pairs,
            SQL_DECONTAMINATION_PAIRS,
        ),
        QuerySpec("pii_scrub", q_pii_scrub, SQL_PII_SCRUB),
        QuerySpec("token_count_bpe", q_token_count_bpe, SQL_TOKEN_COUNT_BPE),
        QuerySpec("stratified_sample", q_stratified_sample, SQL_STRATIFIED_SAMPLE),
        QuerySpec("oov_rate_vocab", q_oov_rate, SQL_OOV_RATE),
    ]
