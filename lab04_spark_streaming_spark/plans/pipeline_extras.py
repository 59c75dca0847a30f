"""Training-data-pipeline extras (round 3): the sampling / packing /
quality-signal operators a 100 TB curation run needs around the core
dedup + similarity stack in plans/llm.py.

Every query is DuckDB-oracle-paired via the md5 cross-engine hash
(operators/textops.py) and exact integer arithmetic — no float folds
whose summation order could differ between engines.

Scale shapes (audited per query in the docstrings):
  * zero-shuffle per-row expressions where possible (split, repetition,
    normalize);
  * one bounded shuffle where grouping is inherent (quota = shuffle on
    source; packing = window cumsum per source);
  * the cluster-representative query composes the existing bucketed
    dedup pipeline — no new join shapes.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lab04_spark_streaming_spark.operators.pinning import pin
from lab04_spark_streaming_spark.operators.splits import restore_splits
from lab04_spark_streaming_spark.operators.similarity import _expr_quantize
from lab04_spark_streaming_spark.operators.textops import (
    SPARK_TOKS,
    SQL_TOKS,
    expr_hash_int,
    expr_shingles,
    sql_hash_int,
    sql_shingles,
)
from lab04_spark_streaming_spark.sources.files import load_table


# --- deterministic train/valid/test split ----------------------------------
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 split by md5 hash bucket of doc_id — the standard
    deterministic split (stable under re-runs, insensitive to row
    order or partitioning, no state to persist). Pure per-row
    expression: zero shuffle, scales embarrassingly."""
    h = expr_hash_int("cast(doc_id as string)", seed="split")
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(f"cast(pmod({h}, 100) as int)").alias("bucket"),
        F.expr(
            f"CASE WHEN pmod({h}, 100) < 80 THEN 'train' "
            f"WHEN pmod({h}, 100) < 90 THEN 'valid' ELSE 'test' END"
        ).alias("split"),
    )


_SQL_SPLIT_H = sql_hash_int("CAST(doc_id AS VARCHAR)", seed="split")
SQL_TRAIN_TEST_SPLIT = f"""
SELECT doc_id,
       CAST({_SQL_SPLIT_H} % 100 AS INTEGER) AS bucket,
       CASE WHEN {_SQL_SPLIT_H} % 100 < 80 THEN 'train'
            WHEN {_SQL_SPLIT_H} % 100 < 90 THEN 'valid'
            ELSE 'test' END AS split
FROM documents
"""


# --- per-domain quota sampling ---------------------------------------------
def q_domain_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap every source/domain at k=10 documents, chosen by
    deterministic hash order (md5(doc_id), tie-broken by doc_id) — the
    domain-rebalancing step of a curation pipeline, as a uniform random
    (but reproducible) draw per domain.

    Scale: one shuffle on source + a per-group top-k sort. At 100 TB a
    hot domain's sort is bounded by pre-filtering on the hash (keep
    only hashes under an approximate per-domain threshold from a
    count-sketch) before the exact window — same output, and the
    window then sees ~k rows per domain instead of all of them."""
    h = expr_hash_int("cast(doc_id as string)", seed="quota")
    w = Window.partitionBy("source").orderBy(F.expr(h), F.col("doc_id"))
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 10)
    )


_SQL_QUOTA_H = sql_hash_int("CAST(doc_id AS VARCHAR)", seed="quota")
SQL_DOMAIN_QUOTA_SAMPLE = f"""
SELECT doc_id, source, rk FROM (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY {_SQL_QUOTA_H}, doc_id) AS rk
  FROM documents
) WHERE rk <= 10
"""


# --- sequence packing -------------------------------------------------------
_PACK_BUDGET = 512


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into fixed token-budget training sequences
    (budget 512): contiguous fill in doc_id order per source — each doc
    lands in bin floor(tokens_before / budget). This is the
    deterministic, relational variant of first-fit packing (docs may
    straddle a boundary; the trainer splits them — the common
    concat-then-chunk regime for LLM pretraining).

    Exact integer arithmetic end-to-end (token counts, cumulative sum),
    so the oracle matches bit-for-bit. Scale: one shuffle on source +
    a per-source ordered cumsum. At 100 TB the cumsum is the same
    two-level chunked scan used in moving_stats_fast.cumulative_moments
    (chunk by doc_id range, per-chunk totals, tiny carry relation), so
    parallelism follows corpus position, not the source count."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.expr(f"size({SPARK_TOKS})").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return d.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor(before / _PACK_BUDGET).alias("seq_bin"),
        (before % _PACK_BUDGET).alias("bin_offset"),
    )


SQL_SEQUENCE_PACKING = f"""
WITH t AS (
  SELECT doc_id, source, len({SQL_TOKS}) AS n_tokens FROM documents
),
c AS (
  SELECT doc_id, source, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
  FROM t
)
SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(floor(before / {_PACK_BUDGET}) AS BIGINT) AS seq_bin,
       CAST(before % {_PACK_BUDGET} AS BIGINT) AS bin_offset
FROM c
"""


# --- n-gram repetition (quality signal) ------------------------------------
def q_ngram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: duplicate 2-gram
    and 3-gram fractions plus the max single-3-gram count. Pure per-row
    array expressions — zero shuffle; work is O(len²) in the worst case
    for the max-count scan, bounded in practice by the doc-length cap
    applied upstream (quality_filter_pipeline).

    The duplicate fraction is a single double division of exact ints —
    bit-identical cross-engine; no rounding needed."""
    sh2 = expr_shingles("_toks", 2)
    sh3 = expr_shingles("_toks", 3)
    dup = (
        lambda n, u: F.when(
            F.col(n) > 0,
            (F.col(n) - F.col(u)) / F.col(n),
        ).otherwise(F.lit(None).cast("double"))
    )
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.expr(SPARK_TOKS).alias("_toks"))
        .select(
            "doc_id",
            F.expr(f"size({sh2})").alias("n2"),
            F.expr(f"size(array_distinct({sh2}))").alias("u2"),
            F.expr(f"size({sh3})").alias("n3"),
            F.expr(f"size(array_distinct({sh3}))").alias("u3"),
            F.expr(
                f"CASE WHEN size({sh3}) = 0 THEN NULL ELSE "
                f"array_max(transform(array_distinct({sh3}), "
                f"g -> size(filter({sh3}, y -> y = g)))) END"
            ).alias("max_rep3"),
        )
        .select(
            "doc_id",
            "n2",
            "u2",
            "n3",
            "u3",
            "max_rep3",
            dup("n2", "u2").alias("dup2_frac"),
            dup("n3", "u3").alias("dup3_frac"),
        )
    )


_D2 = sql_shingles("toks", 2)
_D3 = sql_shingles("toks", 3)
SQL_NGRAM_REPETITION = f"""
WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
s AS (
  SELECT doc_id,
         CASE WHEN len(toks) < 2 THEN [] ELSE {_D2} END AS s2,
         CASE WHEN len(toks) < 3 THEN [] ELSE {_D3} END AS s3
  FROM t
)
SELECT doc_id,
       CAST(len(s2) AS INTEGER) AS n2,
       CAST(len(list_distinct(s2)) AS INTEGER) AS u2,
       CAST(len(s3) AS INTEGER) AS n3,
       CAST(len(list_distinct(s3)) AS INTEGER) AS u3,
       CASE WHEN len(s3) = 0 THEN NULL ELSE CAST(
         list_max(list_transform(list_distinct(s3),
                  g -> len(list_filter(s3, y -> y = g)))) AS INTEGER)
       END AS max_rep3,
       CASE WHEN len(s2) > 0
            THEN (len(s2) - len(list_distinct(s2))) / CAST(len(s2) AS DOUBLE)
       END AS dup2_frac,
       CASE WHEN len(s3) > 0
            THEN (len(s3) - len(list_distinct(s3))) / CAST(len(s3) AS DOUBLE)
       END AS dup3_frac
FROM s
"""


# --- embedding L2-normalize -------------------------------------------------
def q_embedding_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-normalize embeddings; emit the first 8 normalized components
    in EXPLODED form (vec_id, i, comp) — array cells can't be hashed by
    the driver canonicalizer, and the exploded relation is the shape a
    downstream column-store write wants anyway.

    Determinism: the squared norm is an exact int64 fold over 1e-7
    quantized components (summation-order-free, like the SRP keys);
    the final comp = q_i / sqrt(norm2) is one double divide + sqrt per
    cell — identical IEEE in both engines. Zero-vector guard emits 0.0
    instead of inf. Zero shuffle, pure per-row."""
    qv = _expr_quantize("embedding")
    norm2 = "aggregate(qv, cast(0 as bigint), (acc, x) -> acc + x * x)"
    comp = (
        "transform(slice(qv, 1, 8), x -> "
        "CASE WHEN _n2 = 0 THEN 0.0D "
        "ELSE cast(x as double) / sqrt(cast(_n2 as double)) END)"
    )
    return (
        load_table(spark, sf_dir, "embeddings")
        .select(F.col("vec_id"), F.expr(qv).alias("qv"))
        .select("vec_id", "qv", F.expr(norm2).alias("_n2"))
        .select(
            "vec_id",
            F.col("_n2").alias("norm2_q"),
            F.posexplode(F.expr(comp)).alias("i", "comp"),
        )
    )


SQL_EMBEDDING_NORMALIZE = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x ->
           CAST(floor(CAST(x AS DOUBLE) * 10000000.0 + 0.5) AS BIGINT)) AS qv
  FROM embeddings
),
n AS (
  SELECT vec_id, qv,
         CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS norm2
  FROM q
)
SELECT vec_id, norm2 AS norm2_q, CAST(i - 1 AS INTEGER) AS i,
       CASE WHEN norm2 = 0 THEN 0.0
            ELSE CAST(qv[i] AS DOUBLE) / sqrt(CAST(norm2 AS DOUBLE))
       END AS comp
FROM n, generate_series(1, 8) g(i)
"""


# --- ANN recall evaluation --------------------------------------------------
def q_ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality evaluation as a first-class query — the
    measure-don't-guess step of any ANN deployment: recall@10 of the
    trained-codebook IVF search against the exact brute-force top-10.
    Both sides are already-oracled operators (ann_ivf_trained_topk,
    knn_cosine_topk); their id sets join on vec_id and the global
    count is one row. Because every cosine on both engines is derived
    from the same integer moments, the two engines rank — and
    therefore intersect — identically, so even this meta-metric is
    hash-exact. At scale the join is top-k × top-k per query: free."""
    from lab04_spark_streaming_spark.operators.similarity import (
        cosine_topk_vs_id_fold,
        ivf_topk,
        kmeans_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cent = kmeans_centroids(emb, k=8, updates=1)
    ivf = ivf_topk(
        emb, query_id=0, k=10, n_cells=8, n_probe=2, centroids=cent
    ).select("vec_id")
    exact = cosine_topk_vs_id_fold(emb, query_id=0, k=10).select("vec_id")
    return ivf.join(exact, "vec_id").agg(
        F.lit(10).alias("k"),
        F.count(F.lit(1)).alias("n_hits"),
        (F.count(F.lit(1)) / 10.0).alias("recall_at_k"),
    )


def _sql_ann_recall() -> str:
    from lab04_spark_streaming_spark.plans.llm import SQL_KNN_COSINE_TOPK

    return f"""
WITH ivf AS (SELECT vec_id FROM ({SQL_ANN_IVF_TRAINED_TOPK}) t),
ex AS (SELECT vec_id FROM ({SQL_KNN_COSINE_TOPK}) t)
SELECT 10 AS k, COUNT(*) AS n_hits, COUNT(*) / 10.0 AS recall_at_k
FROM ivf JOIN ex USING (vec_id)
"""


# --- int8 scalar quantization ----------------------------------------------
def q_embedding_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization — the 4× memory
    compression every production vector store applies before ANN:
    code_i = round(x_i·127/amax), plus the exact squared
    reconstruction error. Runs entirely on the 1e-7 quantized integer
    base (shared with embedding_normalize/SRP), so EVERY output is
    exact integer arithmetic: q_i·127 ≤ 1.27e9 is exactly
    double-representable, the one division q_i·127/amax is a single
    identical IEEE op per cell, and the error Σ(q_i·127 − c_i·amax)²
    stays < 2^53 for 64-dim unit-scale vectors. Zero shuffle, pure
    per-row projection; first 8 codes exploded (array cells can't be
    driver-hashed)."""
    qv = _expr_quantize("embedding")
    amax = "aggregate(_qv, cast(0 as bigint), (acc, x) -> greatest(acc, abs(x)))"
    codes = (
        "transform(_qv, x -> CASE WHEN _amax = 0 THEN 0 ELSE "
        "cast(floor(cast(x * 127 as double) / cast(_amax as double) + 0.5) "
        "as int) END)"
    )
    err2 = (
        "aggregate(zip_with(_qv, _codes, (q, c) -> "
        "(q * 127 - cast(c as bigint) * _amax) "
        "* (q * 127 - cast(c as bigint) * _amax)), "
        "cast(0 as bigint), (acc, x) -> acc + x)"
    )
    return (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", F.expr(qv).alias("_qv"))
        .withColumn("_amax", F.expr(amax))
        .withColumn("_codes", F.expr(codes))
        .select(
            "vec_id",
            F.col("_amax").alias("amax_q"),
            F.expr(err2).alias("err2_q"),
            F.posexplode(F.expr("slice(_codes, 1, 8)")).alias("i", "code"),
        )
    )


SQL_EMBEDDING_INT8 = """
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x ->
           CAST(floor(CAST(x AS DOUBLE) * 10000000.0 + 0.5) AS BIGINT)) AS qv
  FROM embeddings
),
a AS (
  SELECT vec_id, qv,
         CAST(COALESCE(list_max(list_transform(qv, x -> abs(x))), 0)
              AS BIGINT) AS amax
  FROM q
),
c AS (
  SELECT vec_id, qv, amax,
         list_transform(qv, x -> CASE WHEN amax = 0 THEN 0 ELSE
           CAST(floor(CAST(x * 127 AS DOUBLE) / CAST(amax AS DOUBLE) + 0.5)
                AS INTEGER) END) AS codes
  FROM a
),
e AS (
  SELECT vec_id, amax, codes,
         CAST(COALESCE(list_sum(list_transform(
           range(1, len(qv) + 1),
           i -> (qv[i] * 127 - CAST(codes[i] AS BIGINT) * amax)
                * (qv[i] * 127 - CAST(codes[i] AS BIGINT) * amax))), 0)
           AS BIGINT) AS err2
  FROM c
)
SELECT vec_id, amax AS amax_q, err2 AS err2_q,
       CAST(i - 1 AS INTEGER) AS i, codes[i] AS code
FROM e, generate_series(1, 8) g(i)
"""


# --- dedup cluster representative selection --------------------------------
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End of the dedup pipeline: candidates → verify → connected
    components → pick ONE representative per cluster (longest document
    by n_chars, tie-broken by smallest doc_id — 'keep best' in C4/
    RefinedWeb terms). Composes the bucketed jaccard pipeline and the
    min-label clusters; the selection itself is one window over the
    (tiny relative to corpus) clustered subset."""
    from lab04_spark_streaming_spark.plans.llm import q_dedup_clusters

    clusters = q_dedup_clusters(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    joined = clusters.join(docs, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        joined.select(
            "cluster_id",
            "doc_id",
            "n_chars",
            F.row_number().over(w).alias("_rk"),
            F.count("*").over(Window.partitionBy("cluster_id")).alias("n_members"),
        )
        .filter(F.col("_rk") == 1)
        .select("cluster_id", "doc_id", "n_chars", "n_members")
    )


def _sql_keep_best() -> str:
    from lab04_spark_streaming_spark.plans.llm import SQL_DEDUP_CLUSTERS

    return f"""
WITH c AS ({SQL_DEDUP_CLUSTERS}),
j AS (
  SELECT c.cluster_id, c.doc_id, d.n_chars,
         ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                            ORDER BY d.n_chars DESC, c.doc_id ASC) AS rk,
         COUNT(*) OVER (PARTITION BY c.cluster_id) AS n_members
  FROM c JOIN documents d ON d.doc_id = c.doc_id
)
SELECT cluster_id, doc_id, n_chars, n_members FROM j WHERE rk = 1
"""


# --- corpus boilerplate n-grams --------------------------------------------
def q_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection: the 5-gram shingles present in the most
    documents (headers/footers/license blurbs recur verbatim across a
    crawl; removing top document-frequency n-grams is the standard
    pre-training cleanup). Per-doc DISTINCT shingles (presence, not
    multiplicity), one map-side-combined shuffle on the shingle, and a
    TakeOrdered top-k — no global sort, no text column past the scan
    stage. Ties are broken on the shingle string so the top-k is fully
    deterministic cross-engine."""
    docs = load_table(spark, sf_dir, "documents")
    # Split restoration only (the jaccard_prefix_join rationale): the
    # fixture corpus is one parquet row-group, so the heavy
    # tokenize→shingle pass would otherwise run on a single thread
    # (~19 s at sf0.1); a production corpus arrives pre-split and this
    # exchange disappears from the critical path.
    sh = (
        restore_splits(docs, "doc_id")
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(F.expr(expr_shingles(SPARK_TOKS, 5)))
            ).alias("shingle"),
        )
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    # Top-k FIRST via orderBy+limit (TakeOrderedAndProject: per-partition
    # heaps, no global sort of the shingle vocabulary), THEN rank over
    # the 50 surviving rows — never a one-partition window over the
    # full vocabulary.
    top = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .withColumn("df_ratio", F.col("df").cast("double") / F.col("n_docs"))
        .orderBy(F.desc("df"), F.col("shingle"))
        .limit(50)
    )
    w = Window.orderBy(F.desc("df"), F.col("shingle"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "shingle", "df", "df_ratio", "rank"
    )


SQL_BOILERPLATE_NGRAMS = f"""
WITH tok AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct({sql_shingles('toks', 5)})) AS shingle
  FROM tok t(doc_id, toks)
),
c AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT shingle, df, CAST(df AS DOUBLE) / n_docs AS df_ratio,
       row_number() OVER (ORDER BY df DESC, shingle) AS rank
FROM c, n
QUALIFY rank <= 50
"""


# --- distributed k-means (IVF codebook trainer) -----------------------------
def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd k-means (k=8, 2 assignment rounds) over the embeddings —
    the iterative-algorithm twin of dedup_clusters, and the trainer
    that produces a real IVF codebook. Integer-grid centroids keep the
    whole computation exact, so even an iterative float algorithm is
    hash-checked against DuckDB (2 unrolled iterations in the oracle
    SQL). r13: served by the PACKED evaluation (kmeans_assign_packed —
    bit-identical seeds/distances/tie-breaks by construction, the
    oracle keeps its positional unroll): n rows move per round instead
    of n·d·k, the row-volume lesson the 100x probes keep re-teaching
    (kmeans_clusters positional probed 0.59 at 100x; the packed
    SemDeDup assignment probes 0.30-0.62 on 25x the work)."""
    from lab04_spark_streaming_spark.operators.similarity import (
        kmeans_assign_packed,
    )

    return kmeans_assign_packed(load_table(spark, sf_dir, "embeddings"), k=8, iters=2)


# Shared CTE prefix: quantized positions → seed c0 → one Lloyd round →
# trained centroids c1. Reused verbatim by the trained-IVF oracle below.
# The quantized positional relation on its own — composed into the
# kmeans chain below and imported by plans/mining._sql_pca (no string
# surgery; NOTE its positions are 1-based).
_SQL_KMEANS_POS = """
pos AS (
  SELECT vec_id, pos,
         CAST(floor(CAST(embedding[pos] AS DOUBLE) * 10000000.0 + 0.5)
              AS BIGINT) AS x
  FROM (SELECT vec_id, unnest(generate_series(1, len(embedding))) AS pos,
               embedding
        FROM embeddings)
)"""

def _sql_kmeans_c1(k_sql: str = "8") -> str:
    """The unrolled-Lloyd oracle fragment (seed → d1/a1 assignment →
    c1 centroid update), parameterized by the seed/cell count as a SQL
    scalar expression so data-dependent k (SemDeDup's k = ceil(√n))
    stays cross-engine exact. The default keeps the verified pinned
    k=8 every other composed oracle (kmeans/IVF/PQ/cospairs) uses."""
    return _SQL_KMEANS_POS + f""",
c0 AS (SELECT vec_id AS cid, pos, x AS c FROM pos WHERE vec_id < {k_sql}),
d1 AS (
  SELECT p.vec_id, c.cid, SUM((p.x - c.c) * (p.x - c.c)) AS dist
  FROM pos p JOIN c0 c ON p.pos = c.pos
  GROUP BY 1, 2
),
a1 AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d1) WHERE rn = 1
),
c1 AS (
  SELECT a1.cid, p.pos,
         CAST(floor(CAST(SUM(p.x) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT) AS c
  FROM pos p JOIN a1 ON p.vec_id = a1.vec_id
  GROUP BY 1, 2
)"""


_SQL_KMEANS_C1 = _sql_kmeans_c1()

# SemDeDup's scaled cell count, as exact integer SQL: the smallest k
# with k*k >= n (= ceil(sqrt(n)) computed without float sqrt, whose
# perfect-square behavior could differ between engines). The bounded
# range scan covers n up to 4e12 and costs DuckDB milliseconds.
_SQL_K_SCALED = (
    "(SELECT MIN(i) FROM range(1, 2000000) t(i) "
    "WHERE i * i >= (SELECT COUNT(*) FROM embeddings))"
)

# Shared continuation: assign every vector to its 2-round cell (d2/a2),
# then exact integer-grid cosines for every within-cell pair — the ONE
# SQL mirror of operators/similarity.cell_pair_cosines, composed by the
# contrastive-pairs (plans/mining.py) and hard-negative (plans/wave8.py)
# oracles so the verified fragment cannot drift between them.
_SQL_CELL_COSPAIRS = _SQL_KMEANS_C1 + """,
d2 AS (
  SELECT p.vec_id, c.cid, SUM((p.x - c.c) * (p.x - c.c)) AS dist
  FROM pos p JOIN c1 c ON p.pos = c.pos
  GROUP BY 1, 2
),
a2 AS (
  SELECT vec_id, cid AS kcluster FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d2) WHERE rn = 1
),
norms AS (SELECT vec_id, SUM(x * x) AS n2 FROM pos GROUP BY vec_id),
dots AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, SUM(a.x * b.x) AS dot
  FROM (SELECT p.*, s.kcluster FROM pos p JOIN a2 s ON p.vec_id = s.vec_id) a
  JOIN (SELECT p.*, s.kcluster FROM pos p JOIN a2 s ON p.vec_id = s.vec_id) b
    ON a.pos = b.pos AND a.kcluster = b.kcluster AND a.vec_id < b.vec_id
  GROUP BY 1, 2
),
cospairs AS (
  SELECT id_a, id_b,
         dot / (sqrt(x.n2) * sqrt(y.n2)) AS cos
  FROM dots
  JOIN norms x ON x.vec_id = id_a
  JOIN norms y ON y.vec_id = id_b
)"""

SQL_KMEANS_CLUSTERS = f"""
WITH {_SQL_KMEANS_C1},
d2 AS (
  SELECT p.vec_id, c.cid, SUM((p.x - c.c) * (p.x - c.c)) AS dist
  FROM pos p JOIN c1 c ON p.pos = c.pos
  GROUP BY 1, 2
)
SELECT vec_id, cid AS cluster, CAST(dist AS BIGINT) AS sqdist FROM (
  SELECT vec_id, cid, dist,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
  FROM d2) WHERE rn = 1
"""


# --- trained IVF: k-means codebook + probe search ---------------------------
def q_ann_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production ANN composition end to end: train the codebook
    (one Lloyd round over the deterministic seed), assign every vector
    to its nearest trained centroid by cosine, probe the 2 cells
    nearest the query, exact-rank only their members. Training,
    assignment, probing and ranking are all integer-quantized, so the
    ENTIRE pipeline — including the iterative trainer — hash-matches
    the unrolled DuckDB oracle."""
    from lab04_spark_streaming_spark.operators.similarity import (
        ivf_topk,
        kmeans_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cent = kmeans_centroids(emb, k=8, updates=1)
    return ivf_topk(
        emb, query_id=0, k=10, n_cells=8, n_probe=2, centroids=cent
    )


SQL_ANN_IVF_TRAINED_TOPK = f"""
WITH {_SQL_KMEANS_C1},
norms AS (SELECT vec_id, SUM(x * x) AS n2 FROM pos GROUP BY vec_id),
cnorms AS (SELECT cid, SUM(c * c) AS c2 FROM c1 GROUP BY cid),
assign AS (
  SELECT vec_id, cid AS cell
  FROM (
    SELECT p.vec_id, c.cid,
           SUM(p.x * c.c) / (sqrt(n.n2) * sqrt(cn.c2)) AS cell_cosine
    FROM pos p
    JOIN c1 c ON p.pos = c.pos
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
  FROM c1 c
  JOIN qpos q ON c.pos = q.pos
  JOIN cnorms cn ON c.cid = cn.cid, qn
  GROUP BY c.cid, cn.c2, qn.qn2
  ORDER BY SUM(c.c * q.qx) / (sqrt(cn.c2) * sqrt(qn.qn2)) DESC, c.cid
  LIMIT 2
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


# --- duplicated-substring coverage (exact substring dedup signal) -----------
def q_substring_dedup_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-substring coverage — the signal behind
    exact substring deduplication (remove long token runs that appear
    verbatim elsewhere in the corpus): fraction of each doc's tokens
    covered by a 5-token shingle that also occurs in ANOTHER document.

    Fully relational, no pair join anywhere: positional shingles →
    corpus-shared shingle set (one map-side-combined shuffle on the
    shingle; cross-doc sharing means df ≥ 2 over DISTINCT docs) →
    semi-join back (hash keys only, never text) → interval union as
    distinct covered token positions. Work is O(total shingles), not
    O(pairs) — boilerplate-heavy corpora fan into the same per-doc
    aggregation instead of a hot self-join."""
    n = 5
    docs = load_table(spark, sf_dir, "documents")
    # sh feeds THREE consumers (shared-set agg, the semi-join probe,
    # per-doc sizes) — restore split parallelism off the
    # single-row-group fixture scan and pin ONE tokenize→shingle pass
    # (the jaccard_prefix_join lesson; was ~40 s of single-threaded
    # replays at sf0.1).
    sh = pin(
        restore_splits(docs, "doc_id")
        .select(
            "doc_id",
            F.expr(f"size({SPARK_TOKS})").alias("n_tokens"),
            F.posexplode_outer(
                F.expr(expr_shingles(SPARK_TOKS, n))
            ).alias("pos", "shingle"),
        )
    )
    shared = (
        sh.groupBy("shingle")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") >= 2)
        .select("shingle")
    )
    hits = sh.join(shared, "shingle")
    covered = (
        hits.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (n - 1))
            ).alias("tokpos"),
        )
        .groupBy("doc_id")
        .agg(F.count_distinct("tokpos").alias("covered_tokens"))
    )
    base = sh.groupBy("doc_id").agg(F.max("n_tokens").alias("n_tokens"))
    return (
        base.join(covered, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
            (
                F.coalesce("covered_tokens", F.lit(0)).cast("double")
                / F.greatest(F.col("n_tokens"), F.lit(1))
            ).alias("coverage_ratio"),
        )
    )


SQL_SUBSTRING_DEDUP_COVERAGE = f"""
WITH tok AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
sh AS (
  SELECT doc_id, len(toks) AS n_tokens,
         unnest({sql_shingles('toks', 5)}) AS shingle,
         unnest(generate_series(0, len(toks) - 5)) AS pos
  FROM tok t(doc_id, toks)
),
shared AS (
  SELECT shingle FROM sh GROUP BY shingle
  HAVING COUNT(DISTINCT doc_id) >= 2
),
covered AS (
  SELECT doc_id, COUNT(DISTINCT tokpos) AS covered_tokens
  FROM (SELECT s.doc_id, s.pos + u.i AS tokpos
        FROM sh s JOIN shared USING (shingle),
             unnest([0, 1, 2, 3, 4]) u(i))
  GROUP BY doc_id
),
base AS (SELECT doc_id, len({SQL_TOKS}) AS n_tokens FROM documents)
SELECT b.doc_id, b.n_tokens,
       COALESCE(c.covered_tokens, 0) AS covered_tokens,
       CAST(COALESCE(c.covered_tokens, 0) AS DOUBLE)
         / greatest(b.n_tokens, 1) AS coverage_ratio
FROM base b LEFT JOIN covered c ON b.doc_id = c.doc_id
"""


# --- SemDeDup: semantic dedup via k-means clusters --------------------------
def q_semdedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, public): embedding-space semantic
    dedup made tractable by clustering first — exact pairwise cosine
    runs only WITHIN a k-means cell, so pair work is Σ|cell|²·d instead
    of n²·d. The cell count SCALES WITH THE CORPUS — k = ceil(√n), read
    from the parquet footer (no Spark job; sources/files.py
    parquet_row_count) and mirrored exactly in the oracle by an integer
    smallest-k-with-k²≥n subquery. √n balances the two stages
    (assignment n·k·d and within-cell pairs ~n²/k are both n^1.5); a
    PINNED k makes pair work quadratic in data size — measured 10×
    exponent 1.09 at k=8 vs 0.73 with scaled cells, SCALE_PROBE_r10 —
    which is the SemDeDup paper's own scaling rule, not a tuning knob.
    Pipeline: trained k-means assignment (exact oracle)
    → within-cell quantized-cosine pairs ≥ 0.4 → connected components
    (min-label propagation ≡ the oracle's recursive closure) → keep the
    min-id representative per component. Every stage reuses an
    already-oracled operator; the composition is hash-checked end to
    end."""
    from lab04_spark_streaming_spark.operators.dedup import dedup_clusters
    from lab04_spark_streaming_spark.operators.similarity import (
        kmeans_assign_packed,
    )

    from lab04_spark_streaming_spark.sources.files import parquet_row_count

    emb = load_table(spark, sf_dir, "embeddings")
    # k = smallest integer with k² ≥ n (exact-integer ceil(√n), no
    # float sqrt whose perfect-square rounding could differ from the
    # oracle's subquery).
    n = parquet_row_count(sf_dir, "embeddings")
    k = math.isqrt(max(n - 1, 0)) + 1
    # Materialize the trained assignment once: it feeds both sides of
    # the within-cell self-join AND the final keep-join, and without the
    # lineage cut each consumer replays the full Lloyd iteration DAG.
    # n×(id, cluster) rows — cheap to checkpoint at any scale.
    # Packed-codebook assignment: bit-identical to kmeans_assign (the
    # oracle is unchanged) but the argmin is one codegen fold per
    # vector instead of an n·d·k-row positional join — with k = √n the
    # join form's ROW volume is n^1.5·d, which the 10x probe measured
    # as 50 s of a 57 s run.
    assign = pin(
        kmeans_assign_packed(emb, k=k, iters=2)
        .select("vec_id", F.col("cluster").alias("kcluster"))
    )
    # Within-cell pairs via a cell-bucketed join of WHOLE vectors with a
    # quantized zip_with fold per pair — the same int64 moments as a
    # positional explode (bit-identical cosine, the oracle is unchanged)
    # but the shuffle moves n rows instead of n×dim cells and the 16M-row
    # (pair × position) aggregation disappears: measured 7.3 s → ~3 s at
    # sf0.1. One shuffle on the cell key; per-pair work is a 64-wide JVM
    # fold inside codegen.
    # Within-cell pairs via the shared quantized fold
    # (operators/similarity.cell_pair_cosines — one body for SemDeDup
    # and contrastive mining): same int64 moments as a positional
    # explode (bit-identical cosine, the oracle is unchanged) but the
    # shuffle moves n rows instead of n×dim cells; vectors quantize
    # once per row and the cell relation is checkpointed for the two
    # join sides.
    from lab04_spark_streaming_spark.operators.similarity import (
        cell_pair_cosines,
    )

    # The component stage symmetrizes pairs via a 2-branch union; cut
    # lineage here so the within-cell self-join runs once.
    pairs = pin(
        cell_pair_cosines(emb, assign)
        .filter(F.col("cos") >= 0.4)
        .select("id_a", "id_b")
    )
    comp = dedup_clusters(pairs, emb.select("vec_id"), id_col="vec_id")
    return (
        assign.join(comp, "vec_id")
        .select(
            "vec_id",
            "kcluster",
            F.col("cluster_id").alias("component"),
            (F.col("cluster_id") == F.col("vec_id")).alias("keep"),
        )
    )


SQL_SEMDEDUP_KEEP_BEST = f"""
WITH RECURSIVE {_sql_kmeans_c1(_SQL_K_SCALED)},
d2 AS (
  SELECT p.vec_id, c.cid, SUM((p.x - c.c) * (p.x - c.c)) AS dist
  FROM pos p JOIN c1 c ON p.pos = c.pos
  GROUP BY 1, 2
),
a2 AS (
  SELECT vec_id, cid AS kcluster FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d2) WHERE rn = 1
),
norms AS (SELECT vec_id, SUM(x * x) AS n2 FROM pos GROUP BY vec_id),
dots AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, SUM(a.x * b.x) AS dot
  FROM (SELECT p.*, s.kcluster FROM pos p JOIN a2 s ON p.vec_id = s.vec_id) a
  JOIN (SELECT p.*, s.kcluster FROM pos p JOIN a2 s ON p.vec_id = s.vec_id) b
    ON a.pos = b.pos AND a.kcluster = b.kcluster AND a.vec_id < b.vec_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b FROM dots
  JOIN norms x ON x.vec_id = id_a
  JOIN norms y ON y.vec_id = id_b
  WHERE dot / (sqrt(x.n2) * sqrt(y.n2)) >= 0.4
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(src, dst) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS (SELECT src AS vec_id, MIN(dst) AS component FROM reach GROUP BY src)
SELECT a2.vec_id, a2.kcluster, comp.component,
       comp.component = a2.vec_id AS keep
FROM a2 JOIN comp ON a2.vec_id = comp.vec_id
"""


# --- product quantization: codes + ADC search -------------------------------
def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ compression of the embedding table: 4 subspaces × 16 codes,
    one Lloyd update per codebook, all m trainings fused into one
    distributed run (operators/similarity.pq_codebooks — the subspace
    id is just another grouping key). Output is the compressed
    representation itself: 4 small ints per vector replacing 64 floats.
    Integer-grid arithmetic end to end → the iterative trainer AND the
    encoding hash-match the unrolled DuckDB twin."""
    from lab04_spark_streaming_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_codebooks(emb, m=4, k=16, updates=1)
    return pq_encode(emb, books, sub_dim=16)


def q_ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ's scoring stage end to end: train codebooks → encode →
    asymmetric-distance top-10 for query vector 0. The ADC scan reads
    4 ints per candidate (codes) plus a broadcast 64-entry lookup
    table — the memory-bandwidth shape that makes PQ the standard
    billion-vector index (Jégou et al. 2011)."""
    from lab04_spark_streaming_spark.operators.similarity import (
        ann_pq_adc_topk,
    )

    return ann_pq_adc_topk(load_table(spark, sf_dir, "embeddings"), query_id=0, k=10)


# Shared unrolled PQ SQL: per-subspace quantized positions → seeds →
# one Lloyd round (d1/a1/c1) → final assignment (d2/a2 = the codes).
_SQL_PQ_PREFIX = """
pos AS (
  SELECT vec_id, pos, CAST((pos - 1) // 16 AS INTEGER) AS sub,
         CAST(floor(CAST(embedding[pos] AS DOUBLE) * 10000000.0 + 0.5)
              AS BIGINT) AS x
  FROM (SELECT vec_id, unnest(generate_series(1, len(embedding))) AS pos,
               embedding
        FROM embeddings)
),
c0 AS (SELECT sub, vec_id AS cid, pos, x AS c FROM pos WHERE vec_id < 16),
d1 AS (
  SELECT p.vec_id, c.sub, c.cid, SUM((p.x - c.c) * (p.x - c.c)) AS dist
  FROM pos p JOIN c0 c ON p.pos = c.pos
  GROUP BY 1, 2, 3
),
a1 AS (
  SELECT vec_id, sub, cid FROM (
    SELECT vec_id, sub, cid,
           row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn
    FROM d1) WHERE rn = 1
),
c1 AS (
  SELECT a1.sub, a1.cid, p.pos,
         CAST(floor(CAST(SUM(p.x) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT) AS c
  FROM pos p JOIN a1 ON p.vec_id = a1.vec_id AND p.sub = a1.sub
  GROUP BY 1, 2, 3
),
d2 AS (
  SELECT p.vec_id, c.sub, c.cid, SUM((p.x - c.c) * (p.x - c.c)) AS dist
  FROM pos p JOIN c1 c ON p.pos = c.pos
  GROUP BY 1, 2, 3
),
a2 AS (
  SELECT vec_id, sub, cid, dist FROM (
    SELECT vec_id, sub, cid, dist,
           row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn
    FROM d2) WHERE rn = 1
)"""

SQL_PQ_CODES = f"""
WITH {_SQL_PQ_PREFIX}
SELECT vec_id, sub, cid AS code, CAST(dist AS BIGINT) AS sqdist FROM a2
"""

SQL_ANN_PQ_ADC_TOPK = f"""
WITH {_SQL_PQ_PREFIX},
lut AS (
  SELECT c.sub, c.cid, SUM((q.x - c.c) * (q.x - c.c)) AS d2q
  FROM pos q JOIN c1 c ON q.pos = c.pos
  WHERE q.vec_id = 0
  GROUP BY 1, 2
)
SELECT a2.vec_id, CAST(SUM(l.d2q) AS BIGINT) AS adc
FROM a2 JOIN lut l ON a2.sub = l.sub AND a2.cid = l.cid
WHERE a2.vec_id <> 0
GROUP BY a2.vec_id
ORDER BY adc, a2.vec_id
LIMIT 10
"""


# --- residual IVF-PQ --------------------------------------------------------
def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ end to end (operators/similarity.ann_ivfpq_topk):
    8 L2 k-means cells → integer residuals → 4×16 PQ codebooks trained
    on the residuals → probe the 2 cells nearest the query → ADC over
    the probed cells' codes. Integer grid throughout — coarse trainer,
    residuals, PQ trainer, encode, LUT and ranking all hash-match the
    unrolled DuckDB twin."""
    from lab04_spark_streaming_spark.operators.similarity import ann_ivfpq_topk

    return ann_ivfpq_topk(load_table(spark, sf_dir, "embeddings"), query_id=0, k=10)


SQL_ANN_IVFPQ_TOPK = f"""
WITH {_SQL_KMEANS_C1},
cd2 AS (
  SELECT p.vec_id, c.cid, SUM((p.x - c.c) * (p.x - c.c)) AS dist
  FROM pos p JOIN c1 c ON p.pos = c.pos
  GROUP BY 1, 2
),
ca2 AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM cd2) WHERE rn = 1
),
rpos AS (
  SELECT p.vec_id, a.cell, p.pos,
         CAST((p.pos - 1) // 16 AS INTEGER) AS sub,
         p.x - c.c AS rx
  FROM pos p
  JOIN ca2 a ON p.vec_id = a.vec_id
  JOIN c1 c ON c.cid = a.cell AND c.pos = p.pos
),
rc0 AS (SELECT sub, vec_id AS cid, pos, rx AS c FROM rpos WHERE vec_id < 16),
rd1 AS (
  SELECT p.vec_id, c.sub, c.cid, SUM((p.rx - c.c) * (p.rx - c.c)) AS dist
  FROM rpos p JOIN rc0 c ON p.pos = c.pos
  GROUP BY 1, 2, 3
),
ra1 AS (
  SELECT vec_id, sub, cid FROM (
    SELECT vec_id, sub, cid,
           row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn
    FROM rd1) WHERE rn = 1
),
rc1 AS (
  SELECT ra1.sub, ra1.cid, p.pos,
         CAST(floor(CAST(SUM(p.rx) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT) AS c
  FROM rpos p JOIN ra1 ON p.vec_id = ra1.vec_id AND p.sub = ra1.sub
  GROUP BY 1, 2, 3
),
rd2 AS (
  SELECT p.vec_id, c.sub, c.cid, SUM((p.rx - c.c) * (p.rx - c.c)) AS dist
  FROM rpos p JOIN rc1 c ON p.pos = c.pos
  GROUP BY 1, 2, 3
),
ra2 AS (
  SELECT vec_id, sub, cid AS code FROM (
    SELECT vec_id, sub, cid,
           row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn
    FROM rd2) WHERE rn = 1
),
qd AS (
  SELECT c.cid, SUM((q.x - c.c) * (q.x - c.c)) AS qdist
  FROM pos q JOIN c1 c ON q.pos = c.pos
  WHERE q.vec_id = 0
  GROUP BY 1
),
probe AS (SELECT cid AS cell FROM qd ORDER BY qdist, cid LIMIT 2),
qr AS (
  SELECT c.cid AS cell, q.pos,
         CAST((q.pos - 1) // 16 AS INTEGER) AS sub,
         q.x - c.c AS rx
  FROM pos q
  JOIN c1 c ON c.pos = q.pos
  JOIN probe pr ON pr.cell = c.cid
  WHERE q.vec_id = 0
),
lut AS (
  SELECT qr.cell, b.sub, b.cid AS code,
         SUM((qr.rx - b.c) * (qr.rx - b.c)) AS d2
  FROM qr JOIN rc1 b ON b.sub = qr.sub AND b.pos = qr.pos
  GROUP BY 1, 2, 3
)
SELECT a.vec_id, CAST(SUM(l.d2) AS BIGINT) AS adc
FROM ca2 a
JOIN probe pr ON pr.cell = a.cell
JOIN ra2 e ON e.vec_id = a.vec_id
JOIN lut l ON l.cell = a.cell AND l.sub = e.sub AND l.code = e.code
WHERE a.vec_id <> 0
GROUP BY a.vec_id
ORDER BY adc, a.vec_id
LIMIT 10
"""


def specs():
    from lab04_spark_streaming_spark.registry import QuerySpec

    return [
        QuerySpec(
            "boilerplate_ngrams", q_boilerplate_ngrams, SQL_BOILERPLATE_NGRAMS
        ),
        QuerySpec("pq_codes", q_pq_codes, SQL_PQ_CODES),
        QuerySpec("ann_pq_adc_topk", q_ann_pq_adc_topk, SQL_ANN_PQ_ADC_TOPK),
        QuerySpec("ann_ivfpq_topk", q_ann_ivfpq_topk, SQL_ANN_IVFPQ_TOPK),
        QuerySpec("kmeans_clusters", q_kmeans_clusters, SQL_KMEANS_CLUSTERS),
        QuerySpec(
            "semdedup_keep_best", q_semdedup_keep_best, SQL_SEMDEDUP_KEEP_BEST
        ),
        QuerySpec(
            "substring_dedup_coverage",
            q_substring_dedup_coverage,
            SQL_SUBSTRING_DEDUP_COVERAGE,
        ),
        QuerySpec(
            "ann_ivf_trained_topk",
            q_ann_ivf_trained_topk,
            SQL_ANN_IVF_TRAINED_TOPK,
        ),
        QuerySpec("train_test_split", q_train_test_split, SQL_TRAIN_TEST_SPLIT),
        QuerySpec(
            "domain_quota_sample", q_domain_quota_sample, SQL_DOMAIN_QUOTA_SAMPLE
        ),
        QuerySpec("sequence_packing", q_sequence_packing, SQL_SEQUENCE_PACKING),
        QuerySpec("ngram_repetition", q_ngram_repetition, SQL_NGRAM_REPETITION),
        QuerySpec(
            "embedding_normalize", q_embedding_normalize, SQL_EMBEDDING_NORMALIZE
        ),
        QuerySpec("dedup_keep_best", q_dedup_keep_best, _sql_keep_best()),
        QuerySpec("embedding_int8", q_embedding_int8, SQL_EMBEDDING_INT8),
        QuerySpec("ann_recall_at_k", q_ann_recall_at_k, _sql_ann_recall()),
    ]
