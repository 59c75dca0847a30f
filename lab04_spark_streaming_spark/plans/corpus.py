"""Corpus-curation extras (round-6 second wave): incremental snapshot
dedup, character-entropy quality scoring, word co-occurrence mining,
and Gopher-style word-repetition signals — operations a training-data
pipeline runs between the dedup families (operators/dedup.py) and the
quality filters (plans/llm.py), each a declarative Spark plan with a
DuckDB oracle twin.

Cross-engine determinism (registry.py rules):
  * fractions of exact integers are single double divisions —
    bit-identical, no rounding;
  * the one log-bearing query (char entropy) rounds to 4 decimals:
    log2 may differ by ~1 ulp between libm and java.lang.Math, far
    below the rounding grain;
  * top-k orders carry explicit lexicographic tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lab04_spark_streaming_spark.operators.pinning import pin
from lab04_spark_streaming_spark.operators.splits import restore_splits
from lab04_spark_streaming_spark.operators.textops import (
    SPARK_NORM_H,
    SPARK_TOKS,
    SQL_NORM_H,
    SQL_TOKS,
    expr_hash_int,
)
from lab04_spark_streaming_spark.sources.files import load_table


# --- incremental snapshot dedup --------------------------------------------
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot incremental dedup — the shape of every recurring
    crawl ingest: an 'incoming' batch is admitted only where its
    normalized digest is absent from the already-curated 'base'
    corpus (here split deterministically by doc_id parity so the
    oracle sees the same halves). A digest-keyed LEFT ANTI join: only
    32-char digests shuffle, never text, and at 100 TB the base side
    is a pre-bucketed digest index so the probe is a co-located join.
    Kept rows are deduplicated within the incoming batch too (min
    doc_id wins), exactly like a real admission pass."""
    docs = load_table(spark, sf_dir, "documents")
    base = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(F.expr(SPARK_NORM_H).alias("digest"))
        .distinct()
    )
    incoming = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", F.expr(SPARK_NORM_H).alias("digest")
    )
    return (
        incoming.join(base, "digest", "left_anti")
        .groupBy("digest")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "digest")
    )


SQL_DEDUP_INCREMENTAL = f"""
WITH base AS (
  SELECT DISTINCT {SQL_NORM_H} AS digest
  FROM documents WHERE doc_id % 2 = 0
),
incoming AS (
  SELECT doc_id, {SQL_NORM_H} AS digest
  FROM documents WHERE doc_id % 2 = 1
)
SELECT MIN(doc_id) AS doc_id, digest
FROM incoming
WHERE digest NOT IN (SELECT digest FROM base)
GROUP BY digest
"""


# --- character entropy -----------------------------------------------------
_ALPHABET = [chr(c) for c in range(ord("a"), ord("z") + 1)] + [
    chr(c) for c in range(ord("0"), ord("9") + 1)
] + [" "]


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the per-document character distribution — a
    cheap gibberish/boilerplate signal (near-zero entropy = repeated
    filler, max ≈ log2(37) = uniform noise). Counted JVM-side by
    length-difference over a literal alphabet (no explode: the plan
    stays one narrow projection, zero shuffle, O(|alphabet|·len) per
    row). Entropy sums ≤37 log2 terms of identical doubles → rounded
    to 4 decimals with the floor-based stable_round formula (F.round's
    HALF_UP diverges from DuckDB's binary round on exact halves); the
    ``+ 0.0`` collapses IEEE -0.0 to +0.0 for the
    single-repeated-character edge."""
    chars = ", ".join(f"'{c}'" for c in _ALPHABET)
    cnts = (
        f"transform(array({chars}), "
        f"c -> length(text) - length(replace(text, c, '')))"
    )
    raw = (
        f"-aggregate(filter({cnts}, c -> c > 0), CAST(0.0 AS DOUBLE), "
        f"(acc, c) -> acc + (c / CAST(length(text) AS DOUBLE)) "
        f"* log2(c / CAST(length(text) AS DOUBLE))) + 0.0"
    )
    ent = (
        f"CASE WHEN length(text) = 0 THEN CAST(NULL AS DOUBLE) ELSE "
        f"floor(({raw}) * 10000.0 + 0.5) / 10000.0 END"
    )
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_actual"),
        F.expr(ent).alias("char_entropy"),
    )


def _sql_char_entropy() -> str:
    chars = ", ".join(f"'{c}'" for c in _ALPHABET)
    cnts = (
        f"list_transform([{chars}], "
        f"c -> length(text) - length(replace(text, c, '')))"
    )
    return f"""
WITH c AS (SELECT doc_id, text, {cnts} AS cnts FROM documents)
SELECT doc_id, length(text) AS n_chars_actual,
       CASE WHEN length(text) = 0 THEN NULL ELSE
         floor((-COALESCE(list_sum(list_transform(list_filter(cnts, x -> x > 0),
               x -> (x / CAST(length(text) AS DOUBLE))
                    * log2(x / CAST(length(text) AS DOUBLE)))), 0.0) + 0.0)
               * 10000.0 + 0.5) / 10000.0
       END AS char_entropy
FROM c
"""


# --- word co-occurrence ----------------------------------------------------
_COOC_TOPK = 20


def q_word_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 word pairs by document co-occurrence — the association
    backbone under PMI/collocation mining. Distinct words per doc
    self-join on doc_id with w1 < w2 (an inverted-index pair walk:
    output is bounded by Σ d_i²). The observed-pair relation is huge on
    a web corpus, so the top-k is taken with orderBy+limit FIRST
    (TakeOrderedAndProject: per-partition heaps, no single-partition
    sort of the pair relation), and only the 20 survivors see a rank
    window. Deterministic rank order (n_docs DESC, w1, w2)."""
    # Split restoration + pin: the tokenize→explode pass feeds BOTH
    # self-join sides, and the fixture corpus is one parquet row-group
    # (the jaccard_prefix_join lesson; measured 8.3 → ~2 s at sf0.1).
    t = pin(
        restore_splits(load_table(spark, sf_dir, "documents"), "doc_id")
        .select(
            "doc_id",
            F.explode(F.expr(f"array_distinct({SPARK_TOKS})")).alias("w"),
        )
    )
    top = (
        t.alias("a")
        .join(t.alias("b"), "doc_id")
        .filter(F.col("a.w") < F.col("b.w"))
        .groupBy(F.col("a.w").alias("w1"), F.col("b.w").alias("w2"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.col("n_docs").desc(), "w1", "w2")
        .limit(_COOC_TOPK)
    )
    rk = F.row_number().over(
        Window.orderBy(F.col("n_docs").desc(), "w1", "w2")
    )
    return top.withColumn("rank", rk.cast("int")).select(
        "w1", "w2", "n_docs", "rank"
    )


SQL_WORD_COOCCURRENCE = f"""
WITH t AS (
  SELECT DISTINCT doc_id, w
  FROM (SELECT doc_id, unnest({SQL_TOKS}) AS w FROM documents)
),
p AS (
  SELECT a.w AS w1, b.w AS w2, COUNT(*) AS n_docs
  FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.w < b.w
  GROUP BY 1, 2
)
SELECT w1, w2, n_docs, rank FROM (
  SELECT w1, w2, n_docs,
         CAST(row_number() OVER (ORDER BY n_docs DESC, w1, w2) AS INTEGER)
           AS rank
  FROM p
) WHERE rank <= {_COOC_TOPK}
"""


# --- word-repetition signals -----------------------------------------------
def q_word_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style word-level repetition signals (public: Rae et al.
    2021 §A1.1 filter on the fraction of duplicated words/chars; the
    2/3-gram variants live in ngram_repetition): per document, the
    duplicate-word fraction, the top word's token share, and the top
    word's character share. One explode → (doc, word) count → per-doc
    aggregate; both groupBys hash on the doc key so the second reuses
    the first's partitioning. Top word ties break lexicographically
    via min_by on a (count DESC, word ASC) struct. All outputs are
    single divisions of exact integers — bit-identical, no rounding."""
    wc = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.expr(SPARK_TOKS)).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    per_doc = wc.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct_words"),
        F.max("cnt").alias("_maxcnt"),
        F.expr("min_by(w, struct(-cnt, w))").alias("top_word"),
        F.sum(F.col("cnt") * F.length("w")).alias("_word_chars"),
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_distinct_words",
        (
            (F.col("n_tokens") - F.col("n_distinct_words"))
            / F.col("n_tokens")
        ).alias("dup_word_frac"),
        "top_word",
        (F.col("_maxcnt") / F.col("n_tokens")).alias("top_word_frac"),
        (
            (F.col("_maxcnt") * F.length("top_word")) / F.col("_word_chars")
        ).alias("top_word_char_frac"),
    )


SQL_WORD_REPETITION = f"""
WITH wc AS (
  SELECT doc_id, w, COUNT(*) AS cnt
  FROM (SELECT doc_id, unnest({SQL_TOKS}) AS w FROM documents)
  GROUP BY 1, 2
),
ranked AS (
  SELECT doc_id, w, cnt,
         row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, w) AS rn
  FROM wc
),
agg AS (
  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
         COUNT(*) AS n_distinct_words,
         MAX(cnt) AS maxcnt,
         CAST(SUM(cnt * length(w)) AS BIGINT) AS word_chars
  FROM wc GROUP BY 1
)
SELECT a.doc_id, a.n_tokens, a.n_distinct_words,
       (a.n_tokens - a.n_distinct_words) / CAST(a.n_tokens AS DOUBLE)
         AS dup_word_frac,
       r.w AS top_word,
       a.maxcnt / CAST(a.n_tokens AS DOUBLE) AS top_word_frac,
       (a.maxcnt * length(r.w)) / CAST(a.word_chars AS DOUBLE)
         AS top_word_char_frac
FROM agg a JOIN ranked r ON a.doc_id = r.doc_id AND r.rn = 1
"""


# --- BM25 ranking ----------------------------------------------------------
_BM25_TERMS = ["spark", "join", "merge"]
_BM25_K1 = 1.2
_BM25_B = 0.75


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 documents for a fixed keyword query (public:
    Robertson & Zaragoza 2009) — the retrieval primitive behind
    dataset search and quality-weighted sampling. Stages: per-doc term
    frequencies for the query terms only (explode filtered BEFORE the
    shuffle, so the grouped relation is |matching docs|·|terms|, not
    the token stream), per-doc length from a per-row size(), corpus
    N/avgdl as a broadcast 1-row relation, df per term as a broadcast
    ≤|terms|-row relation. The idf ln() is the one libm call —
    summed over ≤3 terms then stable_round-ed to 4 decimals; ranking
    happens on the ROUNDED score (ties → doc_id) so a sub-grain float
    wobble can never flip the rank; the global top-20 is an
    orderBy+limit → TakeOrderedAndProject, no single-partition window
    over data."""
    k1, b = _BM25_K1, _BM25_B
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(SPARK_TOKS).alias("_toks")
    )
    dl = docs.select(
        "doc_id", F.expr("cast(size(_toks) as bigint)").alias("dl")
    )
    corpus_stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        docs.select(
            "doc_id",
            F.explode(
                F.expr(f"filter(_toks, t -> array_contains(array({terms}), t))")
            ).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    scored = (
        tf.join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus_stats))
        .join(F.broadcast(df), "term")
        .withColumn(
            "_idf",
            F.log(
                1.0
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "_s",
            F.col("_idf")
            * (F.col("tf") * (k1 + 1))
            / (
                F.col("tf")
                + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.floor(F.sum("_s") * 10000.0 + 0.5).cast("bigint").alias("_bq")
        )
        .select("doc_id", (F.col("_bq") / 10000.0).alias("bm25"))
    )
    top = scored.orderBy(F.desc("bm25"), "doc_id").limit(20)
    rk = F.row_number().over(Window.orderBy(F.desc("bm25"), "doc_id"))
    return top.withColumn("rank", rk.cast("int"))


def _sql_bm25() -> str:
    k1, b = _BM25_K1, _BM25_B
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""
WITH toks AS (
  SELECT doc_id, {SQL_TOKS} AS t FROM documents
),
dl AS (SELECT doc_id, len(t) AS dl FROM toks),
corpus AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
  FROM dl
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(list_filter(t,
          x -> list_contains([{terms}], x))) AS term
        FROM toks)
  GROUP BY 1, 2
),
df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT tf.doc_id,
         floor(SUM(
           ln(1.0 + (c.n_docs - df.df + 0.5) / (df.df + 0.5))
           * (tf.tf * ({k1} + 1))
           / (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / c.avgdl))
         ) * 10000.0 + 0.5) / 10000.0 AS bm25
  FROM tf
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN corpus c
  JOIN df ON tf.term = df.term
  GROUP BY 1
)
SELECT doc_id, bm25, rank FROM (
  SELECT doc_id, bm25,
         CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER)
           AS rank
  FROM scored
) WHERE rank <= 20
"""


# --- dedup observability: cluster-size distribution ------------------------
def q_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability for the dedup stage: the distribution of
    near-dup component sizes (how much mass the dedup pass removes and
    how it clusters). Composes the already-oracled connected components
    (llm.q_dedup_clusters) with two tiny counting aggregates — the
    second groups a relation bounded by the distinct size count. Exact
    integers."""
    from lab04_spark_streaming_spark.plans.llm import q_dedup_clusters

    comp = q_dedup_clusters(spark, sf_dir)
    sizes = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1))).alias("n_docs"),
    )


def _sql_cluster_sizes() -> str:
    from lab04_spark_streaming_spark.plans.llm import SQL_DEDUP_CLUSTERS

    return f"""
WITH comp AS (SELECT * FROM ({SQL_DEDUP_CLUSTERS}) t),
s AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY 1)
SELECT cluster_size, COUNT(*) AS n_clusters,
       CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
FROM s GROUP BY 1
"""


# --- decontamination observability: per-source contamination rate ----------
def q_contamination_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source contamination rate — the report a decontamination
    pass ships with: the fraction of each source's documents that
    share ≥3 distinct 5-grams with a document of ANOTHER source.
    Composes the oracled cross-source pair query; the contaminated-id
    set is a distinct union of the pair columns, then one broadcastable
    membership join back to (doc_id, source). Rate is a single exact
    integer division."""
    from lab04_spark_streaming_spark.plans.llm import q_decontamination_pairs

    pairs = q_decontamination_pairs(spark, sf_dir)
    contaminated = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .union(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        d.join(contaminated, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("_hit").alias("n_contaminated"),
            (F.count("_hit") / F.count(F.lit(1)).cast("double")).alias(
                "contamination_rate"
            ),
        )
    )


def _sql_contamination_rate() -> str:
    from lab04_spark_streaming_spark.plans.llm import SQL_DECONTAMINATION_PAIRS

    return f"""
WITH p AS (SELECT * FROM ({SQL_DECONTAMINATION_PAIRS}) t),
c AS (
  SELECT id_a AS doc_id FROM p
  UNION
  SELECT id_b AS doc_id FROM p
)
SELECT d.source, COUNT(*) AS n_docs, COUNT(c.doc_id) AS n_contaminated,
       COUNT(c.doc_id) / CAST(COUNT(*) AS DOUBLE) AS contamination_rate
FROM documents d LEFT JOIN c ON d.doc_id = c.doc_id
GROUP BY 1
"""


# --- token-budget packing ---------------------------------------------------
_TOKEN_BUDGET = 5000


def q_token_budget_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget allocation per source — the sampling step that
    fills each domain's slice of a pretraining mix: documents are
    admitted longest-first (deterministic (n_tokens DESC, doc_id)
    order) until the source's running token total exceeds the budget.
    One window shuffle on the source key; the cumulative sum is exact
    integers, so the cut is reproducible under any partitioning."""
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.expr(f"cast(size({SPARK_TOKS}) as bigint)").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("n_tokens"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        t.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= _TOKEN_BUDGET)
        .select("source", "doc_id", "n_tokens", "cum_tokens")
    )


SQL_TOKEN_BUDGET_PACK = f"""
WITH t AS (
  SELECT doc_id, source, CAST(len({SQL_TOKS}) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT source, doc_id, n_tokens,
       CAST(SUM(n_tokens) OVER (PARTITION BY source
                           ORDER BY n_tokens DESC, doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT) AS cum_tokens
FROM t
QUALIFY cum_tokens <= {_TOKEN_BUDGET}
"""


# --- incremental NEAR-dup novelty ------------------------------------------
def q_dedup_incremental_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-duplicate leg of the incremental admission pass
    (dedup_incremental catches byte/normalized copies; this catches
    paraphrased re-crawls): an incoming document is flagged when ANY
    of its MinHash-LSH bands collides with a band bucket of the
    already-curated base corpus. At scale the base's distinct (band,
    band_hash) relation IS the persisted index — the probe is one
    equi join on the band key; only 32-char band hashes move. Short
    docs are excluded before the signature pipeline exactly as in
    minhash_candidate_pairs (same hot-bucket rationale). Output:
    flagged incoming ids with the colliding-band count (exact
    ints)."""
    from lab04_spark_streaming_spark.operators import dedup as dd

    docs = load_table(spark, sf_dir, "documents").filter(
        F.expr(f"size({SPARK_TOKS}) >= 3")
    )
    bands = dd.lsh_bands(dd.minhash_signatures(docs))
    base = (
        bands.filter(F.col("doc_id") % 2 == 0)
        .select("band", "band_hash")
        .distinct()
    )
    inc = bands.filter(F.col("doc_id") % 2 == 1)
    return (
        inc.join(base, ["band", "band_hash"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit_bands"))
    )


def _sql_incremental_near() -> str:
    from lab04_spark_streaming_spark.plans.llm import (
        _SQL_MINHASH_SIG_LIST,
        _sql_bands,
    )

    return f"""
WITH sigs AS ({_SQL_MINHASH_SIG_LIST.strip()}),
bands AS (
  SELECT doc_id, bd.band AS band, bd.band_hash AS band_hash
  FROM sigs, unnest({_sql_bands()}) u(bd)
  WHERE sig[1] IS NOT NULL
),
base AS (
  SELECT DISTINCT band, band_hash FROM bands WHERE doc_id % 2 = 0
),
inc AS (SELECT * FROM bands WHERE doc_id % 2 = 1)
SELECT i.doc_id, COUNT(*) AS n_hit_bands
FROM inc i JOIN base b ON i.band = b.band AND i.band_hash = b.band_hash
GROUP BY 1
"""


# --- unigram log-probability quality ---------------------------------------
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram cross-entropy per document — the SQL-able analog of the
    CCNet perplexity filter (Wenzek et al. 2020, public): avg −log2 of
    each token's corpus frequency; low = stereotyped/boilerplate, high
    = rare-token gibberish. Corpus tf and N are exact integers, each
    p = tf/N is one exact division (identical doubles), the per-doc
    mean over ~doc-length log2 terms is summation-order dependent at
    ~1e-15 → stable_round(4). The token→frequency join broadcasts the
    vocabulary relation (vocab-bounded, corpus-size-independent)."""
    from lab04_spark_streaming_spark.functions.guards import stable_round

    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.expr(SPARK_TOKS)).alias("w")
    )
    freq = toks.groupBy("w").agg(F.count(F.lit(1)).alias("tf"))
    total = freq.agg(F.sum("tf").alias("n_total"))
    return (
        toks.join(F.broadcast(freq), "w")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            stable_round(
                -F.avg(F.log2(F.col("tf") / F.col("n_total").cast("double"))),
                4,
            ).alias("avg_neg_log2p"),
        )
    )


SQL_UNIGRAM_LOGPROB = f"""
WITH toks AS (
  SELECT doc_id, unnest({SQL_TOKS}) AS w FROM documents
),
freq AS (SELECT w, COUNT(*) AS tf FROM toks GROUP BY 1),
total AS (SELECT CAST(SUM(tf) AS BIGINT) AS n_total FROM freq)
SELECT t.doc_id, COUNT(*) AS n_tokens,
       floor(-AVG(log2(f.tf / CAST(tt.n_total AS DOUBLE))) * 10000.0 + 0.5)
         / 10000.0 AS avg_neg_log2p
FROM toks t
JOIN freq f ON t.w = f.w
CROSS JOIN total tt
GROUP BY 1
"""


# --- BPE-style adjacent-pair counts ----------------------------------------
def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first step of byte-pair-encoding vocabulary induction
    (public: Sennrich et al. 2016): adjacent character-pair
    frequencies over the corpus, weighted by word frequency — the
    top-ranked pair is BPE's first merge. Works on the word-count
    relation (vocab-bounded), fanning each word out to its len−1
    pairs; the pair aggregate is alphabet²-bounded. Exact integers,
    deterministic rank (count DESC, pair)."""
    wc = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.expr(SPARK_TOKS)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pairs = (
        wc.filter(F.length("w") >= 2)
        .select(
            "cnt",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w) - 1), "
                    "i -> substring(w, i, 2))"
                )
            ).alias("pair"),
        )
        .groupBy("pair")
        .agg(F.sum("cnt").alias("n_occurrences"))
    )
    rk = F.row_number().over(
        Window.orderBy(F.desc("n_occurrences"), "pair")
    )
    return (
        pairs.withColumn("rank", rk.cast("int"))
        .filter(F.col("rank") <= 20)
        .select("pair", "n_occurrences", "rank")
    )


SQL_BPE_PAIR_COUNTS = f"""
WITH wc AS (
  SELECT w, COUNT(*) AS cnt
  FROM (SELECT unnest({SQL_TOKS}) AS w FROM documents)
  GROUP BY 1
),
p AS (
  SELECT substring(w, i, 2) AS pair, CAST(SUM(cnt) AS BIGINT)
           AS n_occurrences
  FROM wc, unnest(range(1, length(w))) u(i)
  WHERE length(w) >= 2
  GROUP BY 1
)
SELECT pair, n_occurrences, rank FROM (
  SELECT pair, n_occurrences,
         CAST(row_number() OVER (ORDER BY n_occurrences DESC, pair)
              AS INTEGER) AS rank
  FROM p
) WHERE rank <= 20
"""


# --- Bloom-filter membership -----------------------------------------------
_BLOOM_BITS = 4096
_BLOOM_K = 3


def q_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership probe for the incremental admission
    pass — the constant-size alternative to shipping the full base
    digest index to every ingest worker (public: Bloom 1970). The
    4096-bit filter lives as 64 one-long words built with bit_or over
    the base digests' k=3 md5-derived positions; incoming digests test
    all k bits via a broadcast join of the word relation. Every bit
    position derives from the same md5 hex in both engines, so the
    filter — including WHICH probes come back as false positives — is
    deterministic and hash-checked (the exact membership and the
    false-positive flag are both emitted). At scale the filter is the
    broadcast side (bits/8 bytes, corpus-size-independent); only the
    filter build touches the base."""
    m, k = _BLOOM_BITS, _BLOOM_K
    docs = load_table(spark, sf_dir, "documents")
    base = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(F.expr(SPARK_NORM_H).alias("digest"))
        .distinct()
    )
    inc = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", F.expr(SPARK_NORM_H).alias("digest")
    )
    pos = ", ".join(
        f"{expr_hash_int('digest', seed=j)} % {m}" for j in range(k)
    )
    words = (
        base.select(F.explode(F.expr(f"array({pos})")).alias("_p"))
        .select(
            F.expr("_p div 32").alias("word_ix"),
            F.expr(
                "shiftleft(cast(1 as bigint), cast(_p % 32 as int))"
            ).alias("_bit"),
        )
        .groupBy("word_ix")
        .agg(F.expr("bit_or(_bit)").alias("word"))
    )
    probes = inc.select(
        "doc_id",
        "digest",
        F.explode(F.expr(f"array({pos})")).alias("_p"),
    ).select(
        "doc_id",
        "digest",
        F.expr("_p div 32").alias("word_ix"),
        F.expr("shiftleft(cast(1 as bigint), cast(_p % 32 as int))").alias(
            "_mask"
        ),
    )
    hit = (
        probes.join(F.broadcast(words), "word_ix", "left")
        .withColumn(
            "_bit_set",
            (
                F.coalesce(F.col("word"), F.lit(0)).bitwiseAND(F.col("_mask"))
                != 0
            ),
        )
        .groupBy("doc_id", "digest")
        .agg(F.expr("bool_and(_bit_set)").alias("bloom_hit"))
    )
    in_base = base.withColumn("_in", F.lit(True))
    return (
        hit.join(in_base, "digest", "left")
        .select(
            "doc_id",
            "bloom_hit",
            F.coalesce(F.col("_in"), F.lit(False)).alias("in_base"),
            (
                F.col("bloom_hit")
                & ~F.coalesce(F.col("_in"), F.lit(False))
            ).alias("is_false_positive"),
        )
    )


def _sql_bloom() -> str:
    m, k = _BLOOM_BITS, _BLOOM_K
    def h(j):
        return (
            f"CAST(('0x' || substring(md5(concat('{j}|', digest)), 1, 8)) "
            f"AS BIGINT) % {m}"
        )

    pos = ", ".join(h(j) for j in range(k))
    return f"""
WITH base AS (
  SELECT DISTINCT {SQL_NORM_H} AS digest
  FROM documents WHERE doc_id % 2 = 0
),
inc AS (
  SELECT doc_id, {SQL_NORM_H} AS digest
  FROM documents WHERE doc_id % 2 = 1
),
bpos AS (
  SELECT unnest([{pos}]) AS p FROM base
),
words AS (
  SELECT p // 32 AS word_ix,
         bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INTEGER)) AS word
  FROM bpos GROUP BY 1
),
probes AS (
  SELECT doc_id, digest, unnest([{pos}]) AS p FROM inc
),
hits AS (
  SELECT pr.doc_id, pr.digest,
         bool_and((COALESCE(w.word, 0)
                   & (CAST(1 AS BIGINT) << CAST(pr.p % 32 AS INTEGER)))
                  <> 0) AS bloom_hit
  FROM probes pr LEFT JOIN words w ON pr.p // 32 = w.word_ix
  GROUP BY 1, 2
)
SELECT h.doc_id, h.bloom_hit,
       (b.digest IS NOT NULL) AS in_base,
       (h.bloom_hit AND b.digest IS NULL) AS is_false_positive
FROM hits h LEFT JOIN base b ON h.digest = b.digest
"""


# --- curation master report -------------------------------------------------
def q_curation_master(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE curation pipeline as one declarative plan — the
    end-to-end showcase a pipeline owner actually reviews: per
    (language, semantic cluster), how many documents exist, how many
    pass the quality gate, how many survive exact dedup, and how many
    are admitted (quality ∧ unique). Composes three already-oracled
    stages on the shared doc_id==vec_id key: Lloyd k-means semantic
    assignment (embeddings), the text-metrics quality thresholds
    (quality_filter_pipeline's exact gates), and normalized-digest
    representative selection. Catalyst fuses it into one DAG: the
    digest window and the metric projection share the documents scan,
    the cluster join broadcasts nothing heavier than the n×(id, cell)
    assignment, and the output is |langs|×k rows of exact integers."""
    from lab04_spark_streaming_spark.operators.similarity import (
        kmeans_assign_packed,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    assign = kmeans_assign_packed(emb, k=8, iters=2).select(
        F.col("vec_id").alias("doc_id"), F.col("cluster").alias("kcluster")
    )
    toks = SPARK_TOKS
    stop = "array('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it')"
    keep = (
        f"size({toks}) >= 10 "
        f"AND (CASE WHEN size({toks}) = 0 THEN 0.0 ELSE "
        f"aggregate({toks}, 0, (a, t) -> a + length(t)) / size({toks}) END)"
        f" >= 3.0 "
        f"AND (CASE WHEN size({toks}) = 0 THEN 0.0 ELSE "
        f"size(filter({toks}, t -> array_contains({stop}, t))) / size({toks})"
        f" END) >= 0.01 "
        f"AND length(regexp_replace(text, '[^0-9]', '')) "
        f"/ greatest(length(text), 1) <= 0.2"
    )
    w = Window.partitionBy("_digest")
    flags = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "lang",
            F.expr(keep).alias("_keep"),
            F.expr(SPARK_NORM_H).alias("_digest"),
        )
        .withColumn("_rep", F.col("doc_id") == F.min("doc_id").over(w))
    )
    return (
        flags.join(assign, "doc_id")
        .groupBy("lang", "kcluster")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("_keep"), 1).otherwise(0)).alias("n_quality"),
            F.sum(F.when(F.col("_rep"), 1).otherwise(0)).alias("n_unique"),
            F.sum(
                F.when(F.col("_keep") & F.col("_rep"), 1).otherwise(0)
            ).alias("n_admitted"),
        )
    )


def _sql_curation_master() -> str:
    from lab04_spark_streaming_spark.plans.pipeline_extras import (
        _SQL_KMEANS_C1,
    )

    return f"""
WITH {_SQL_KMEANS_C1},
d2 AS (
  SELECT p.vec_id, c.cid, SUM((p.x - c.c) * (p.x - c.c)) AS dist
  FROM pos p JOIN c1 c ON p.pos = c.pos
  GROUP BY 1, 2
),
a2 AS (
  SELECT vec_id AS doc_id, cid AS kcluster FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d2) WHERE rn = 1
),
tok AS (
  SELECT doc_id, lang, text, {SQL_TOKS} AS toks, {SQL_NORM_H} AS digest
  FROM documents
),
flags AS (
  SELECT doc_id, lang,
         (len(toks) >= 10
          AND (CASE WHEN len(toks) = 0 THEN 0.0 ELSE
               list_sum(list_transform(toks, t -> length(t))) / len(toks) END)
              >= 3.0
          AND (CASE WHEN len(toks) = 0 THEN 0.0 ELSE
               len(list_filter(toks, t -> list_contains(
                 ['the', 'a', 'of', 'and', 'to', 'in', 'is', 'it'], t)))
               / len(toks) END) >= 0.01
          AND length(regexp_replace(text, '[^0-9]', '', 'g'))
              / greatest(length(text), 1) <= 0.2) AS keep,
         (doc_id = MIN(doc_id) OVER (PARTITION BY digest)) AS rep
  FROM tok
)
SELECT f.lang, a2.kcluster,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN f.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       CAST(SUM(CASE WHEN f.rep THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       CAST(SUM(CASE WHEN f.keep AND f.rep THEN 1 ELSE 0 END) AS BIGINT)
         AS n_admitted
FROM flags f JOIN a2 ON f.doc_id = a2.doc_id
GROUP BY 1, 2
"""


# --- TextRank keywords ------------------------------------------------------
_TR_SCALE = 10**12
_TR_ITERS = 3
_TR_TOPK = 10


def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (public: Mihalcea & Tarau 2004) —
    damped PageRank over the word co-occurrence graph, and the repo's
    iterative-graph-algorithm exemplar alongside connected components
    and Lloyd k-means. The power iteration runs ENTIRELY in scaled
    integers (pr in 1e-12 units; contribution = pr div deg, update =
    (15·SCALE) div (100·N) + (85·Σcontrib) div 100 — floor divisions
    are identical in both engines), so THREE chained iterations stay
    bit-exact where a double power method would compound
    summation-order error. Graph relations are vocab-bounded: nodes,
    degrees and per-iteration rank vectors are tiny at any corpus
    size; each iteration is one join + one aggregate on the word
    key."""
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(F.expr(f"array_distinct({SPARK_TOKS})")).alias("w"),
    )
    und = (
        t.alias("a")
        .join(t.alias("b"), "doc_id")
        .filter(F.col("a.w") != F.col("b.w"))
        .select(F.col("a.w").alias("src"), F.col("b.w").alias("dst"))
        .distinct()
    )
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nodes = deg.select(F.col("src").alias("w"), "deg")
    # Graph size as a broadcast 1-row relation — never a driver-side
    # count(); the whole iteration stays one lazy plan.
    nn = nodes.agg(F.count(F.lit(1)).alias("n_nodes"))
    pr = nodes.crossJoin(F.broadcast(nn)).select(
        "w",
        "deg",
        "n_nodes",
        F.expr(f"cast({_TR_SCALE} as bigint) div n_nodes").alias("pr"),
    )
    for _ in range(_TR_ITERS):
        contrib = pr.select(
            F.col("w").alias("src"),
            F.expr("pr div deg").alias("_c"),
        )
        agg = (
            und.join(contrib, "src")
            .groupBy("dst")
            .agg(F.sum("_c").alias("_s"))
        )
        pr = (
            nodes.crossJoin(F.broadcast(nn))
            .join(agg.select(F.col("dst").alias("w"), "_s"), "w", "left")
            .select(
                "w",
                "deg",
                "n_nodes",
                F.expr(
                    f"cast(15 * {_TR_SCALE} as bigint) div (100 * n_nodes) "
                    f"+ (85 * coalesce(_s, cast(0 as bigint))) div 100"
                ).alias("pr"),
            )
        )
    # Top-k FIRST via orderBy+limit (TakeOrderedAndProject heaps — the
    # PageRank relation is vocab-sized, so never a one-partition window
    # over it), THEN rank the k survivors.
    top = pr.select("w", "pr").orderBy(F.desc("pr"), "w").limit(_TR_TOPK)
    rk = F.row_number().over(Window.orderBy(F.desc("pr"), "w"))
    return top.withColumn("rank", rk.cast("int")).select(
        F.col("w").alias("word"), F.col("pr").alias("textrank_q"), "rank"
    )


def _sql_textrank() -> str:
    iters = "".join(
        f""",
c{i} AS (
  SELECT e.dst AS w, CAST(SUM(p.pr // p.deg) AS BIGINT) AS s
  FROM edges e JOIN p{i - 1} p ON e.src = p.w
  GROUP BY 1
),
p{i} AS (
  SELECT n.w, n.deg,
         CAST((15 * {_TR_SCALE}) // (100 * (SELECT n FROM nn))
              + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS pr
  FROM nodes n LEFT JOIN c{i} c ON n.w = c.w
)"""
        for i in range(1, _TR_ITERS + 1)
    )
    return f"""
WITH t AS (
  SELECT DISTINCT doc_id, w
  FROM (SELECT doc_id, unnest({SQL_TOKS}) AS w FROM documents)
),
edges AS (
  SELECT DISTINCT a.w AS src, b.w AS dst
  FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.w <> b.w
),
nodes AS (SELECT src AS w, COUNT(*) AS deg FROM edges GROUP BY 1),
nn AS (SELECT COUNT(*) AS n FROM nodes),
p0 AS (
  SELECT w, deg,
         CAST({_TR_SCALE} // (SELECT n FROM nn) AS BIGINT) AS pr
  FROM nodes
){iters}
SELECT word, textrank_q, rank FROM (
  SELECT w AS word, pr AS textrank_q,
         CAST(row_number() OVER (ORDER BY pr DESC, w) AS INTEGER) AS rank
  FROM p{_TR_ITERS}
) WHERE rank <= {_TR_TOPK}
"""


# --- triangle counting / clustering coefficient ----------------------------
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the word
    co-occurrence graph — the canonical distributed-graph benchmark op
    (node-iterator join form): oriented edges (src < dst) self-join on
    the shared low endpoint to enumerate wedges, then a semi-check
    against the edge set closes triangles; wedges come from the exact
    degree moments. All counts are exact integers; the coefficient
    3T/W is one double division. Edge/degree relations are
    vocab²-bounded — tiny at any corpus scale."""
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(F.expr(f"array_distinct({SPARK_TOKS})")).alias("w"),
    )
    edges = (
        t.alias("a")
        .join(t.alias("b"), "doc_id")
        .filter(F.col("a.w") < F.col("b.w"))
        .select(F.col("a.w").alias("src"), F.col("b.w").alias("dst"))
        .distinct()
    )
    e1 = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = edges.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    wedges_abc = e1.join(e2, "a").filter(F.col("b") < F.col("c"))
    tri = wedges_abc.join(
        edges,
        (F.col("b") == F.col("src")) & (F.col("c") == F.col("dst")),
        "left_semi",
    ).agg(F.count(F.lit(1)).alias("n_triangles"))
    deg = (
        edges.select(F.col("src").alias("w"))
        .union(edges.select(F.col("dst").alias("w")))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum(F.col("deg") * (F.col("deg") - 1)) / 2)
        .cast("bigint")
        .alias("n_wedges"),
    )
    ecnt = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        stats.crossJoin(F.broadcast(ecnt))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            "n_wedges",
            F.when(
                F.col("n_wedges") > 0,
                (3 * F.col("n_triangles"))
                / F.col("n_wedges").cast("double"),
            ).alias("clustering_coeff"),
        )
    )


SQL_GRAPH_TRIANGLES = f"""
WITH t AS (
  SELECT DISTINCT doc_id, w
  FROM (SELECT doc_id, unnest({SQL_TOKS}) AS w FROM documents)
),
edges AS (
  SELECT DISTINCT a.w AS src, b.w AS dst
  FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.w < b.w
),
tri AS (
  SELECT COUNT(*) AS n_triangles FROM (
    SELECT e1.a, e1.b, e2.c
    FROM (SELECT src AS a, dst AS b FROM edges) e1
    JOIN (SELECT src AS a, dst AS c FROM edges) e2
      ON e1.a = e2.a AND e1.b < e2.c
    WHERE EXISTS (SELECT 1 FROM edges e
                  WHERE e.src = e1.b AND e.dst = e2.c)
  )
),
deg AS (
  SELECT w, COUNT(*) AS deg FROM (
    SELECT src AS w FROM edges UNION ALL SELECT dst FROM edges
  ) GROUP BY 1
),
stats AS (
  SELECT COUNT(*) AS n_nodes,
         CAST(SUM(deg * (deg - 1)) / 2 AS BIGINT) AS n_wedges
  FROM deg
),
ec AS (SELECT COUNT(*) AS n_edges FROM edges)
SELECT s.n_nodes, ec.n_edges, tri.n_triangles, s.n_wedges,
       CASE WHEN s.n_wedges > 0
            THEN (3 * tri.n_triangles) / CAST(s.n_wedges AS DOUBLE) END
         AS clustering_coeff
FROM stats s, ec, tri
"""


# --- HyperLogLog distinct estimate ------------------------------------------
_HLL_M = 64  # buckets (b = 6 index bits); std error ≈ 1.04/√64 ≈ 13%


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manual HyperLogLog (public: Flajolet et al. 2007) with the
    estimate itself hash-checked — completing the deterministic sketch
    family (CMS, Bloom, MinHash, SimHash, SRP, PQ): 64 registers of
    max-rank over md5-derived 32-bit hashes of the normalized document
    digests. The raw-estimate indicator Σ2^−reg is computed as an
    EXACT integer rational (Σ2^(maxreg−reg) / 2^maxreg — numerator
    < 2^53), so the harmonic mean is one deterministic double
    division, not an order-dependent float sum; the small-range
    linear-counting correction's ln() lands under stable_round(4).
    The register build is one 64-group aggregate with map-side
    max-combine — the mergeable-sketch shape that makes HLL the
    distributed count-distinct at 100 TB. Exact count emitted
    alongside for the error-bound read-off."""
    m = _HLL_M
    docs = load_table(spark, sf_dir, "documents").select(
        F.expr(SPARK_NORM_H).alias("digest")
    )
    h = "cast(conv(substring(md5(concat('hll|', digest)), 1, 8), 16, 10) as bigint)"
    regs = (
        docs.select(
            F.expr(f"{h} % {m}").alias("bucket"),
            F.expr(
                f"CASE WHEN ({h} div {m}) = 0 THEN 27 "
                f"ELSE 27 - length(bin({h} div {m})) END"
            ).alias("rho"),
        )
        .groupBy("bucket")
        .agg(F.max("rho").alias("reg"))
    )
    # Buckets never hit keep register 0 — left join a literal grid.
    grid = regs.sparkSession.range(m).select(
        F.col("id").cast("bigint").alias("bucket")
    )
    full = grid.join(regs, "bucket", "left").select(
        "bucket", F.coalesce("reg", F.lit(0)).alias("reg")
    )
    mx = full.agg(F.max("reg").alias("_maxreg"))
    num = full.crossJoin(F.broadcast(mx)).agg(
        F.sum(
            F.expr(
                "shiftleft(cast(1 as bigint), cast(_maxreg - reg as int))"
            )
        ).alias("_num"),
        F.first("_maxreg").alias("_maxreg"),
        F.count(F.when(F.col("reg") == 0, 1)).alias("_zeros"),
    )
    exact = docs.agg(F.count_distinct("digest").alias("n_exact"))
    # D-suffixed literals: Spark SQL parses bare decimal literals as
    # DecimalType, which would silently turn the whole estimate (and
    # floor-round) into decimal arithmetic the oracle's doubles can't
    # match.
    alpha_m2 = 0.709 * m * m  # alpha_64 = 0.709 (Flajolet et al.)
    est_raw = (
        f"cast({alpha_m2} as double) * cast(shiftleft(cast(1 as bigint), "
        f"cast(_maxreg as int)) as double) / cast(_num as double)"
    )
    est = (
        f"CASE WHEN ({est_raw}) <= cast(2.5 as double) * {m} AND _zeros > 0 "
        f"THEN cast({m} as double) * ln(cast({m} as double) / _zeros) "
        f"ELSE ({est_raw}) END"
    )
    return (
        num.crossJoin(F.broadcast(exact))
        .select(
            F.lit(m).alias("m"),
            "n_exact",
            F.expr(
                f"floor(({est}) * cast(10000.0 as double) "
                f"+ cast(0.5 as double)) / cast(10000.0 as double)"
            ).alias("hll_est"),
        )
        .select(
            "m",
            "n_exact",
            "hll_est",
            (
                F.abs(F.col("hll_est") - F.col("n_exact"))
                / F.col("n_exact").cast("double")
                <= 0.35
            ).alias("within_bound"),
        )
    )


def _sql_hll() -> str:
    m = _HLL_M
    h = (
        "CAST(('0x' || substring(md5(concat('hll|', digest)), 1, 8)) "
        "AS BIGINT)"
    )
    alpha_m2 = 0.709 * m * m
    est_raw = (
        f"{alpha_m2} * CAST((1::BIGINT << CAST(maxreg AS INTEGER)) AS DOUBLE)"
        f" / CAST(num AS DOUBLE)"
    )
    est = (
        f"CASE WHEN ({est_raw}) <= 2.5 * {m} AND zeros > 0 "
        f"THEN {m}.0 * ln({m}.0 / zeros) ELSE ({est_raw}) END"
    )
    return f"""
WITH d AS (SELECT {SQL_NORM_H} AS digest FROM documents),
hashes AS (
  SELECT {h} % {m} AS bucket,
         CASE WHEN ({h} // {m}) = 0 THEN 27
              ELSE 27 - length(bin({h} // {m})) END AS rho
  FROM d
),
regs AS (SELECT bucket, MAX(rho) AS reg FROM hashes GROUP BY 1),
grid AS (SELECT unnest(range(0, {m})) AS bucket),
full_regs AS (
  SELECT g.bucket, COALESCE(r.reg, 0) AS reg
  FROM grid g LEFT JOIN regs r ON g.bucket = r.bucket
),
mm AS (SELECT MAX(reg) AS maxreg FROM full_regs),
agg AS (
  SELECT CAST(SUM(1::BIGINT << CAST(mm.maxreg - reg AS INTEGER)) AS BIGINT)
           AS num,
         ANY_VALUE(mm.maxreg) AS maxreg,
         COUNT(*) FILTER (reg = 0) AS zeros
  FROM full_regs, mm
),
exact AS (SELECT COUNT(DISTINCT digest) AS n_exact FROM d)
SELECT {m} AS m, e.n_exact,
       floor(({est}) * 10000.0 + 0.5) / 10000.0 AS hll_est,
       (abs(floor(({est}) * 10000.0 + 0.5) / 10000.0 - e.n_exact)
        / CAST(e.n_exact AS DOUBLE) <= 0.35) AS within_bound
FROM agg, exact e
"""


# --- count-min-sketch heavy hitters ----------------------------------------
_CMS_DEPTH = 4
_CMS_WIDTH = 256
_CMS_TOPK = 20


def q_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters (public: Cormode & Muthukrishnan
    2005) with the estimate itself hash-checked: 4 rows × 256 buckets
    of md5-derived universal hashes (the cross-engine expr_hash_int
    base), counters built by bucketing the PRE-AGGREGATED word counts
    (map-side combine: the ×depth stack expands the vocab-sized
    relation, never the token stream), estimates = min over rows of
    the hit counters, reported for the exact top-20 words next to
    their true counts. Every value is exact integer arithmetic on
    identical md5 hex — the sketch's overestimate is deterministic, so
    the oracle matches it bit for bit (same pattern as the
    error-bound sketch oracles in plans/analytics.py)."""
    w_, d_ = _CMS_WIDTH, _CMS_DEPTH
    wc = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.expr(SPARK_TOKS)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    stack_args = ", ".join(
        f"{j}, {expr_hash_int('w', seed=j)} % {w_}" for j in range(d_)
    )
    hashes = wc.select(
        "w",
        "cnt",
        F.expr(f"stack({d_}, {stack_args}) as (j, bucket)"),
    )
    counters = hashes.groupBy("j", "bucket").agg(F.sum("cnt").alias("c"))
    top = (
        wc.orderBy(F.desc("cnt"), "w")
        .limit(_CMS_TOPK)
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.desc("cnt"), "w"))
            .cast("int"),
        )
    )
    est = (
        top.join(hashes.select("w", "j", "bucket"), "w")
        .join(counters, ["j", "bucket"])
        .groupBy("w", "cnt", "rank")
        .agg(F.min("c").alias("cms_est"))
    )
    return est.select(
        F.col("w").alias("word"),
        F.col("cnt").alias("true_cnt"),
        "cms_est",
        "rank",
    )


def _sql_cms() -> str:
    w_, d_, k_ = _CMS_WIDTH, _CMS_DEPTH, _CMS_TOPK
    # sql_hash_int's twin with the seed spliced per-row from the
    # generate_series j (the helper only takes literal seeds):
    # concat(CAST(j AS VARCHAR), '|', w) == the Spark side's
    # concat('<j>|', w) for each unrolled literal j.
    h = (
        "CAST(('0x' || substring(md5(concat(CAST(j AS VARCHAR), '|', w)), "
        "1, 8)) AS BIGINT)"
    )
    return f"""
WITH wc AS (
  SELECT w, COUNT(*) AS cnt
  FROM (SELECT unnest({SQL_TOKS}) AS w FROM documents)
  GROUP BY 1
),
hashes AS (
  SELECT w, cnt, j, {h} % {w_} AS bucket
  FROM wc, generate_series(0, {d_ - 1}) g(j)
),
counters AS (
  SELECT j, bucket, CAST(SUM(cnt) AS BIGINT) AS c
  FROM hashes GROUP BY 1, 2
),
top AS (
  SELECT w, cnt, rank FROM (
    SELECT w, cnt,
           CAST(row_number() OVER (ORDER BY cnt DESC, w) AS INTEGER) AS rank
    FROM wc
  ) WHERE rank <= {k_}
)
SELECT t.w AS word, t.cnt AS true_cnt, MIN(c.c) AS cms_est, t.rank
FROM top t
JOIN hashes h ON h.w = t.w
JOIN counters c ON c.j = h.j AND c.bucket = h.bucket
GROUP BY 1, 2, 4
"""


def specs():
    from lab04_spark_streaming_spark.registry import QuerySpec

    return [
        QuerySpec("dedup_incremental", q_dedup_incremental, SQL_DEDUP_INCREMENTAL),
        QuerySpec("char_entropy", q_char_entropy, _sql_char_entropy()),
        QuerySpec("word_cooccurrence", q_word_cooccurrence, SQL_WORD_COOCCURRENCE),
        QuerySpec("word_repetition", q_word_repetition, SQL_WORD_REPETITION),
        QuerySpec("bm25_topk", q_bm25_topk, _sql_bm25()),
        QuerySpec("heavy_hitters_cms", q_heavy_hitters_cms, _sql_cms()),
        QuerySpec(
            "dedup_cluster_sizes", q_dedup_cluster_sizes, _sql_cluster_sizes()
        ),
        QuerySpec(
            "contamination_rate", q_contamination_rate, _sql_contamination_rate()
        ),
        QuerySpec(
            "token_budget_pack", q_token_budget_pack, SQL_TOKEN_BUDGET_PACK
        ),
        QuerySpec(
            "dedup_incremental_near",
            q_dedup_incremental_near,
            _sql_incremental_near(),
        ),
        QuerySpec("unigram_logprob", q_unigram_logprob, SQL_UNIGRAM_LOGPROB),
        QuerySpec("bpe_pair_counts", q_bpe_pair_counts, SQL_BPE_PAIR_COUNTS),
        QuerySpec("bloom_membership", q_bloom_membership, _sql_bloom()),
        QuerySpec(
            "textrank_keywords", q_textrank_keywords, _sql_textrank()
        ),
        QuerySpec(
            "curation_master", q_curation_master, _sql_curation_master()
        ),
        QuerySpec("graph_triangles", q_graph_triangles, SQL_GRAPH_TRIANGLES),
        QuerySpec("hll_distinct", q_hll_distinct, _sql_hll()),
    ]
