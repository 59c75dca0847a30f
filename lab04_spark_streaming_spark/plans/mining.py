"""Corpus-mining waves (round 6): C4-style repeated-span removal,
prefix-filtered exact set-similarity join (AllPairs/PPJoin family),
MinHash-estimate-vs-exact error oracle, hashing-trick quality
classifier, interpolated bigram LM cross-entropy, one-pass column
profiling, Deequ-style data-quality checks, k-core decomposition and
label-propagation communities of the document-similarity graph,
SCD-2 interval history + point-in-time lookup, mergeable per-source
HLL, blocked sorted-neighborhood candidates + Levenshtein fuzzy
matching, last-touch attribution, full-outer reconciliation,
hour-of-day seasonal factors, contrastive pair mining, and the BPE
second-merge iteration.

These extend the reference's data-processing surface (the reference is
a Kafka moving-stats lab — `moving_statistic.py` end to end) with the
curation operations a 100 TB training-data pipeline needs; each is a
declarative Spark plan with a DuckDB oracle twin per registry.py's
cross-engine determinism rules:

  * every ranking carries an explicit total-order tie-break;
  * fractions are exact-integer numerators/denominators with one
    double division at the end (bit-identical cross-engine);
  * the log-bearing queries (bigram LM) round the per-doc mean with
    stable_round(4) — libm-vs-java.lang.Math log2 differs ~1 ulp and
    double summation order ~1e-15, both far below the grain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lab04_spark_streaming_spark.operators.pinning import pin
from lab04_spark_streaming_spark.operators.splits import restore_splits
from lab04_spark_streaming_spark.functions.guards import (
    exact_avg,
    sql_exact_avg,
    stable_round,
    sql_stable_round,
)
from lab04_spark_streaming_spark.operators import dedup as dd
from lab04_spark_streaming_spark.operators.textops import (
    SPARK_NORM_H,
    SPARK_TOKS,
    SQL_NORM_H,
    SQL_TOKS,
    expr_hash_int,
    expr_norm_text,
    expr_shingles,
    sql_hash_int,
    sql_norm_text,
    sql_shingles,
)
from lab04_spark_streaming_spark.sources.files import load_table


# --- C4-style repeated-span removal ----------------------------------------
# C4 (Raffel et al. 2020, public) dropped any LINE occurring >= 3 times
# in the corpus. The synthetic documents are single-line token streams,
# so the unit here is the consecutive non-overlapping 4-token span —
# same shape: partition each doc into spans, ban spans whose corpus
# frequency reaches the threshold, rebuild the doc from surviving
# spans in order.
_SPAN_N = 4
_SPAN_BAN_AT = 3


def _expr_spans(toks: str) -> str:
    """Spark SQL: consecutive non-overlapping _SPAN_N-token spans; the
    trailing partial span is kept (slice clamps at the array end).
    size=0 guarded: sequence(0,-1) would be descending."""
    return (
        f"CASE WHEN size({toks}) = 0 THEN cast(array() as array<string>) "
        f"ELSE transform(sequence(0, cast(ceil(size({toks}) / {_SPAN_N}.0) as int) - 1), "
        f"g -> concat_ws(' ', slice({toks}, g * {_SPAN_N} + 1, {_SPAN_N}))) END"
    )


def _sql_spans(toks: str) -> str:
    return (
        f"CASE WHEN len({toks}) = 0 THEN CAST([] AS VARCHAR[]) "
        f"ELSE list_transform(generate_series(1, CAST(ceil(len({toks}) / {_SPAN_N}.0) AS BIGINT)), "
        f"g -> array_to_string({toks}[(g-1)*{_SPAN_N}+1 : (g-1)*{_SPAN_N}+{_SPAN_N}], ' ')) END"
    )


def q_span_dedup_c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency span removal. Scale shape: the banned-span set
    (frequency >= threshold) is tiny by construction — spans repeated
    across >= 3 documents of a deduplicated crawl are boilerplate — so
    it broadcasts as a one-row collect_set and the documents side is a
    ZERO-shuffle projection (filter inside a lambda against the
    broadcast array). Only 32-char span digests ever shuffle (the
    frequency groupBy); document text never moves."""
    # span relation feeds the banned-frequency branch AND the rebuild
    # branch: split-restore + checkpoint = one tokenize/span pass.
    docs = pin(
        restore_splits(load_table(spark, sf_dir, "documents"), "doc_id")
        .select("doc_id", F.expr(_expr_spans(SPARK_TOKS)).alias("spans"))
    )
    banned = (
        docs.select(F.explode("spans").alias("span"))
        .select(F.md5("span").alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= _SPAN_BAN_AT)
        .agg(F.coalesce(F.collect_set("d"), F.expr("array()")).alias("banned"))
    )
    return (
        docs.crossJoin(F.broadcast(banned))
        .select(
            "doc_id",
            F.size("spans").alias("n_spans"),
            F.expr(
                "filter(spans, s -> NOT array_contains(banned, md5(s)))"
            ).alias("kept"),
        )
        .select(
            "doc_id",
            "n_spans",
            (F.col("n_spans") - F.size("kept")).alias("n_removed"),
            F.md5(F.concat_ws(" ", F.col("kept"))).alias("kept_digest"),
        )
    )


SQL_SPAN_DEDUP_C4 = f"""
WITH sp AS (
  SELECT doc_id, {_sql_spans(SQL_TOKS)} AS spans FROM documents
),
banned AS (
  SELECT coalesce(list(d), []) AS banned FROM (
    SELECT md5(s.span) AS d, COUNT(*) AS n
    FROM sp, unnest(spans) s(span)
    GROUP BY 1 HAVING COUNT(*) >= {_SPAN_BAN_AT}
  )
),
kept AS (
  SELECT doc_id, len(spans) AS n_spans,
         list_filter(spans, s -> NOT list_contains(banned, md5(s))) AS kept
  FROM sp CROSS JOIN banned
)
SELECT doc_id, n_spans,
       n_spans - len(kept) AS n_removed,
       md5(coalesce(array_to_string(kept, ' '), '')) AS kept_digest
FROM kept
"""


# --- prefix-filtered exact similarity join ---------------------------------
# AllPairs / PPJoin candidate generation (Bayardo et al. 2007; Xiao et
# al. 2008 — public): order each doc's shingle set by ascending global
# document frequency, index only the first L - ceil(t*L) + 1 elements
# (two docs with Jaccard >= t MUST share a prefix element), then
# verify exact Jaccard on fetched records. Unlike MinHash-LSH this is
# EXACT — zero false negatives — at the cost of the df-ranking pass.
_JACC_T_NUM, _JACC_T_DEN = 8, 10  # threshold 0.8 as an exact rational


def q_jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard >= 0.8 pairs over distinct 3-token shingle sets.

    Scale notes: NO global rank is ever materialized — the prefix rule
    only observes each doc's shingles in the global rarity ORDER, and
    (df, sh) is that total order, so the per-doc position window sorts
    by (df, sh) after a df join (the vocab is unbounded, so no
    broadcast hint on the df side — AQE broadcasts it when actually
    small; when a true global rank NUMBER is required, use
    operators/ranks.global_row_number); the candidate join's bucket
    key is
    a PREFIX shingle — by construction the rarest elements of each set
    (df-ascending order), so bucket sizes are the small-df tail, not
    the stop-shingle head (df max 7 on the test corpus). ceil(t*L) is
    computed in exact integer arithmetic ((8L+9) div 10) so the prefix
    boundary and both length filters are float-free. Verification
    fetches the two shingle arrays by doc_id (candidate-bounded) and
    intersects JVM-side; the Jaccard is one double division of exact
    integers.

    The shingle-set relation feeds FIVE consumers (df rank, the prefix
    index, both sides of the candidate self-join, both verify fetches)
    — it is repartitioned off the scan (the fixture corpus is a single
    parquet row-group, i.e. one input split; a production corpus
    arrives pre-split, so this shuffle of raw ids+arrays exists only to
    restore split parallelism) and localCheckpointed so the
    tokenize→shingle→distinct pass runs ONCE (measured 45 s → ~3 s at
    sf0.1, which was six single-threaded recomputations)."""
    docs = pin(
        restore_splits(load_table(spark, sf_dir, "documents"), "doc_id")
        .select("doc_id", F.expr(SPARK_TOKS).alias("toks"))
        .filter(F.expr("size(toks) >= 3"))
        .select(
            "doc_id",
            F.expr(f"array_distinct({expr_shingles('toks')})").alias("s"),
        )
    )
    ex = docs.select(
        "doc_id", F.size("s").alias("L"), F.explode("s").alias("sh")
    )
    # The prefix rule needs each doc's shingles in a CONSISTENT global
    # rarity order — not a materialized global rank number. (df, sh) IS
    # that total order, so join each posting to its df and sort the
    # per-doc window by (df, sh) directly: no global-rank pass at all
    # (a bare row_number() window over the vocabulary would funnel
    # billions of shingles through one task at 100 TB; even the
    # distributed two-pass rank — operators/ranks.global_row_number —
    # is pure overhead here since only the ORDER is observable).
    dfrel = ex.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    pref = (
        # no broadcast hint: the df relation is vocab-sized (billions
        # of rows at 100 TB) — shuffle join on sh; AQE still broadcasts
        # it automatically when the corpus is small.
        ex.join(dfrel, "sh")
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "sh")
            ),
        )
        .filter(
            F.col("pos")
            <= F.col("L")
            - F.expr(f"({_JACC_T_NUM} * L + {_JACC_T_DEN - 1}) div {_JACC_T_DEN}")
            + 1
        )
        .select("doc_id", "L", "sh")
    )
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # |B| >= t|A| and |A| >= t|B|, in integers
            & (_JACC_T_DEN * F.col("b.L") >= _JACC_T_NUM * F.col("a.L"))
            & (_JACC_T_DEN * F.col("a.L") >= _JACC_T_NUM * F.col("b.L")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sa = docs.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"))
    sb = docs.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr("size(array_intersect(sa, sb))").alias("inter_sz"),
            (
                F.expr("size(sa) + size(sb) - size(array_intersect(sa, sb))")
            ).alias("union_sz"),
        )
        .filter(
            _JACC_T_DEN * F.col("inter_sz") >= _JACC_T_NUM * F.col("union_sz")
        )
        .withColumn(
            "jaccard", F.col("inter_sz") / F.col("union_sz").cast("double")
        )
        .select("doc_a", "doc_b", "inter_sz", "union_sz", "jaccard")
    )


SQL_JACCARD_PREFIX_JOIN = f"""
WITH sets AS (
  SELECT doc_id, list_distinct({sql_shingles('toks')}) AS s
  FROM (SELECT doc_id, {SQL_TOKS} AS toks FROM documents) t(doc_id, toks)
  WHERE len(toks) >= 3
),
ex AS (SELECT doc_id, len(s) AS L, u.sh FROM sets, unnest(s) u(sh)),
rk AS (
  SELECT sh, row_number() OVER (ORDER BY COUNT(*), sh) AS rk
  FROM ex GROUP BY sh
),
pref AS (
  SELECT doc_id, L, sh FROM (
    SELECT e.doc_id, e.L, e.sh,
           row_number() OVER (PARTITION BY e.doc_id ORDER BY r.rk) AS pos
    FROM ex e JOIN rk r ON e.sh = r.sh
  ) WHERE pos <= L - (({_JACC_T_NUM} * L + {_JACC_T_DEN - 1}) // {_JACC_T_DEN}) + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM pref a JOIN pref b
    ON a.sh = b.sh AND a.doc_id < b.doc_id
   AND {_JACC_T_DEN} * b.L >= {_JACC_T_NUM} * a.L
   AND {_JACC_T_DEN} * a.L >= {_JACC_T_NUM} * b.L
),
verified AS (
  SELECT c.doc_a, c.doc_b,
         len(list_intersect(x.s, y.s)) AS inter_sz,
         len(x.s) + len(y.s) - len(list_intersect(x.s, y.s)) AS union_sz
  FROM cand c
  JOIN sets x ON x.doc_id = c.doc_a
  JOIN sets y ON y.doc_id = c.doc_b
)
SELECT doc_a, doc_b, inter_sz, union_sz,
       inter_sz / CAST(union_sz AS DOUBLE) AS jaccard
FROM verified
WHERE {_JACC_T_DEN} * inter_sz >= {_JACC_T_NUM} * union_sz
"""


# --- MinHash estimate vs exact Jaccard -------------------------------------
def q_minhash_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy evaluation for the MinHash family (the
    measure-don't-guess gate the ANN recall@10 query provides for the
    IVF index): for every LSH candidate pair, the signature-agreement
    estimate (matching slots / k) beside the exact Jaccard of the
    3-shingle sets, plus the absolute error. Everything is exact
    integer counts with single double divisions, so even the ERROR of
    the approximation is hash-checked cross-engine. Candidate-bounded:
    the exact verify touches only LSH survivors, never all pairs."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.minhash_candidate_pairs(docs)
    eligible = docs.filter(F.expr(f"size({SPARK_TOKS}) >= 3"))
    # sigs and sets each feed BOTH sides of the pair join — checkpoint
    # so the signature/shingle passes run once per relation.
    sigs = pin(dd.minhash_signatures(eligible))
    # staged projections (tokens, then shingles) — inlining the token
    # split into the shingle lambda re-splits per element (see the
    # minhash_signatures docstring, operators/dedup.py).
    sets = pin(
        eligible.select("doc_id", F.expr(SPARK_TOKS).alias("toks"))
        .select(
            "doc_id",
            F.expr(f"array_distinct({expr_shingles('toks')})").alias("s"),
        )
    )
    a = sigs.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"))
    b = sigs.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"))
    xa = sets.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa"))
    xb = sets.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb"))
    k = dd.MINHASH_K
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .join(xa, "id_a")
        .join(xb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.expr(
                f"size(filter(sequence(1, {k}), "
                "i -> element_at(sig_a, i) = element_at(sig_b, i)))"
            ).alias("match_slots"),
            F.expr("size(array_intersect(sa, sb))").alias("inter_sz"),
            F.expr(
                "size(sa) + size(sb) - size(array_intersect(sa, sb))"
            ).alias("union_sz"),
        )
        .select(
            "id_a",
            "id_b",
            (F.col("match_slots") / F.lit(float(k))).alias("est_jaccard"),
            (F.col("inter_sz") / F.col("union_sz").cast("double")).alias(
                "exact_jaccard"
            ),
            F.abs(
                F.col("match_slots") / F.lit(float(k))
                - F.col("inter_sz") / F.col("union_sz").cast("double")
            ).alias("abs_err"),
        )
    )


def _sql_minhash_error() -> str:
    # Rebuild the signature/band CTE chain from the same shared
    # helpers the dedup_minhash_* oracles use (plans/llm.py), so the
    # two stay in lock-step if MINHASH_K/LSH_BANDS ever change.
    from lab04_spark_streaming_spark.plans.llm import (
        _sql_bands,
        _sql_minhash_mins,
    )

    k = dd.MINHASH_K
    return f"""
WITH tok AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, {sql_shingles('toks')} AS shingles FROM tok t(doc_id, toks)),
hs AS (SELECT doc_id, list_transform(t.shingles, s -> {sql_hash_int('s')}) AS hs
       FROM sh t(doc_id, shingles)),
sigs AS (SELECT doc_id, [{_sql_minhash_mins()}] AS sig FROM hs t(doc_id, hs)),
bands AS (
  SELECT doc_id, bd.band AS band, bd.band_hash AS band_hash
  FROM sigs, unnest({_sql_bands()}) u(bd)
  WHERE sig[1] IS NOT NULL
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
              AND a.doc_id < b.doc_id
),
sets AS (
  SELECT doc_id, list_distinct({sql_shingles('toks')}) AS s
  FROM tok t(doc_id, toks)
  WHERE len(toks) >= 3
)
SELECT p.id_a, p.id_b,
       len(list_filter(generate_series(1, {k}),
           i -> sa.sig[i] = sb.sig[i])) / {float(k)} AS est_jaccard,
       len(list_intersect(x.s, y.s))
         / CAST(len(x.s) + len(y.s) - len(list_intersect(x.s, y.s)) AS DOUBLE)
         AS exact_jaccard,
       abs(len(list_filter(generate_series(1, {k}),
               i -> sa.sig[i] = sb.sig[i])) / {float(k)}
           - len(list_intersect(x.s, y.s))
             / CAST(len(x.s) + len(y.s) - len(list_intersect(x.s, y.s)) AS DOUBLE))
         AS abs_err
FROM pairs p
JOIN sigs sa ON sa.doc_id = p.id_a
JOIN sigs sb ON sb.doc_id = p.id_b
JOIN sets x ON x.doc_id = p.id_a
JOIN sets y ON y.doc_id = p.id_b
"""


# --- hashing-trick linear quality classifier -------------------------------
# The SQL-able analog of fastText-style model-based quality filtering
# (Joulin et al. 2016 public; hashing trick per Weinberger et al.
# 2009): tokens hash into B buckets, each bucket carries a fixed
# integer weight (deterministically derived from the bucket id — a
# stand-in for trained weights, same plumbing), a doc's score is the
# mean bucket weight of its tokens. Pure per-row projection: ZERO
# shuffle, no vocabulary relation at all — the "model" is an
# expression, which is exactly how a broadcast weight table degenerates
# when weights are derivable.
_QC_BUCKETS = 256
_QC_WRANGE = 2001  # weights in [-1000, 1000]


def _weight_expr_spark() -> str:
    bucket = f"pmod({expr_hash_int('w', 'qb')}, {_QC_BUCKETS})"
    return (
        f"{expr_hash_int(f'cast({bucket} as string)', 'qw')} % {_QC_WRANGE} - 1000"
    )


def _weight_expr_sql() -> str:
    bucket = f"({sql_hash_int('w', 'qb')} % {_QC_BUCKETS})"
    return (
        f"{sql_hash_int(f'CAST({bucket} AS VARCHAR)', 'qw')} % {_QC_WRANGE} - 1000"
    )


def score_documents(docs: DataFrame) -> DataFrame:
    """The classifier as a frame-in/frame-out builder: works unchanged
    on a batch relation or a document stream (zero-shuffle per-row
    projection — asserted batch==stream in tests/test_streaming.py)."""
    return docs.select(
        "doc_id",
        F.expr(f"size({SPARK_TOKS})").alias("n_tokens"),
        F.expr(
            f"aggregate(transform({SPARK_TOKS}, w -> {_weight_expr_spark()}), "
            "0L, (acc, x) -> acc + x)"
        ).alias("score_num"),
    ).select(
        "doc_id",
        "n_tokens",
        "score_num",
        F.when(
            F.col("n_tokens") > 0,
            F.col("score_num") / F.col("n_tokens").cast("double"),
        ).otherwise(F.lit(0.0)).alias("score"),
        (
            F.when(
                F.col("n_tokens") > 0,
                F.col("score_num") / F.col("n_tokens").cast("double"),
            ).otherwise(F.lit(0.0))
            >= 0
        ).alias("passes"),
    )


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return score_documents(load_table(spark, sf_dir, "documents"))


SQL_QUALITY_CLASSIFIER = f"""
WITH scored AS (
  SELECT doc_id, len(toks) AS n_tokens,
         coalesce(list_sum(list_transform(toks, w -> {_weight_expr_sql()})), 0) AS score_num
  FROM (SELECT doc_id, {SQL_TOKS} AS toks FROM documents) t(doc_id, toks)
)
SELECT doc_id, n_tokens, CAST(score_num AS BIGINT) AS score_num,
       CASE WHEN n_tokens > 0 THEN score_num / CAST(n_tokens AS DOUBLE) ELSE 0.0 END AS score,
       (CASE WHEN n_tokens > 0 THEN score_num / CAST(n_tokens AS DOUBLE) ELSE 0.0 END) >= 0 AS passes
FROM scored
"""


# --- interpolated bigram LM cross-entropy ----------------------------------
# Extends the unigram CCNet analog (plans/corpus.q_unigram_logprob)
# one Markov order up, with fixed-weight Jelinek-Mercer interpolation
# (0.75 bigram + 0.25 unigram — Chen & Goodman 1999, public):
# p(w2|w1) = 0.75*C(w1 w2)/C(w1) + 0.25*C(w2)/N. Both terms are exact
# integer divisions; the per-doc mean of -log2 p is stable_round(4)
# per the module determinism note.
def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count relations are bigram-vocab-bounded -> broadcast; the doc
    side is one explode + three broadcast joins + one doc_id groupBy
    (single shuffle on the pre-aggregated doc key)."""
    # token relation feeds the bigram explode AND the unigram counts:
    # split-restore + checkpoint = one tokenize pass (same lineage-cut
    # rationale as q_jaccard_prefix_join).
    toks = pin(
        restore_splits(load_table(spark, sf_dir, "documents"), "doc_id")
        .select("doc_id", F.expr(SPARK_TOKS).alias("toks"))
    )
    bg = toks.select(
        "doc_id",
        F.explode(F.expr(expr_shingles("toks", 2))).alias("bg"),
    ).select(
        "doc_id",
        "bg",
        F.expr("split(bg, ' ')[0]").alias("w1"),
        F.expr("split(bg, ' ')[1]").alias("w2"),
    )
    uni = (
        toks.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    n_total = uni.agg(F.sum("c1").alias("n_total"))
    big = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("c2"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c1").alias("c_w1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c1").alias("c_w2"))
    p = (
        F.lit(0.75) * (F.col("c2") / F.col("c_w1").cast("double"))
        + F.lit(0.25) * (F.col("c_w2") / F.col("n_total").cast("double"))
    )
    return (
        bg.join(F.broadcast(big), "bg")
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(n_total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            stable_round(-F.avg(F.log2(p)), 4).alias("avg_neg_log2p"),
        )
    )


SQL_BIGRAM_LOGPROB = f"""
WITH tok AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
bg AS (
  SELECT doc_id, u.bg,
         string_split(u.bg, ' ')[1] AS w1,
         string_split(u.bg, ' ')[2] AS w2
  FROM tok t(doc_id, toks), unnest({sql_shingles('toks', 2)}) u(bg)
),
uni AS (
  SELECT w, COUNT(*) AS c1
  FROM (SELECT unnest(toks) AS w FROM tok t(doc_id, toks)) GROUP BY 1
),
tot AS (SELECT SUM(c1) AS n_total FROM uni),
big AS (SELECT bg, COUNT(*) AS c2 FROM bg GROUP BY 1)
SELECT b.doc_id, COUNT(*) AS n_bigrams,
       {sql_stable_round(
           "-avg(log2(0.75 * (c.c2 / CAST(a.c1 AS DOUBLE)) "
           "+ 0.25 * (d.c1 / CAST(t.n_total AS DOUBLE))))", 4)} AS avg_neg_log2p
FROM bg b
JOIN big c ON c.bg = b.bg
JOIN uni a ON a.w = b.w1
JOIN uni d ON d.w = b.w2
CROSS JOIN tot t
GROUP BY b.doc_id
"""


# --- one-pass column profiler ----------------------------------------------
# ANALYZE-style table profiling (the stats a cost-based planner or a
# data-quality monitor collects): per column — rows, nulls, distincts,
# numeric min/max (timestamps as epoch seconds), and exact-decimal
# average string length. ONE scan: all 6x5 aggregates land in a single
# hash-aggregate row, then unpivot to long form driver-side-free via
# an inline array explode.
_PROFILE_COLS: list[tuple[str, str]] = [
    ("l_orderkey", "num"),
    ("l_quantity", "num"),
    ("l_extendedprice", "num"),
    ("l_returnflag", "str"),
    ("l_linestatus", "str"),
    ("l_shipdate", "ts"),
]


def q_data_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c, kind in _PROFILE_COLS:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"))
        aggs.append(F.countDistinct(c).alias(f"{c}__distinct"))
        if kind == "num":
            aggs.append(F.min(c).cast("double").alias(f"{c}__min"))
            aggs.append(F.max(c).cast("double").alias(f"{c}__max"))
        elif kind == "ts":
            aggs.append(
                F.min(F.unix_timestamp(c)).cast("double").alias(f"{c}__min")
            )
            aggs.append(
                F.max(F.unix_timestamp(c)).cast("double").alias(f"{c}__max")
            )
        else:
            aggs.append(F.lit(None).cast("double").alias(f"{c}__min"))
            aggs.append(F.lit(None).cast("double").alias(f"{c}__max"))
        if kind == "str":
            aggs.append(exact_avg(F.length(F.col(c))).alias(f"{c}__avglen"))
        else:
            aggs.append(F.lit(None).cast("double").alias(f"{c}__avglen"))
    one = li.agg(*aggs)
    entries = ", ".join(
        f"struct('{c}' as col_name, n_rows, `{c}__nulls` as n_nulls, "
        f"`{c}__distinct` as n_distinct, `{c}__min` as min_num, "
        f"`{c}__max` as max_num, `{c}__avglen` as avg_len)"
        for c, _ in _PROFILE_COLS
    )
    return one.select(
        F.explode(F.expr(f"array({entries})")).alias("p")
    ).select("p.*")


def _sql_data_profile() -> str:
    parts = []
    for c, kind in _PROFILE_COLS:
        if kind == "num":
            mn, mx = f"CAST(MIN({c}) AS DOUBLE)", f"CAST(MAX({c}) AS DOUBLE)"
        elif kind == "ts":
            # floor to whole seconds: the Spark side's unix_timestamp
            # truncates, and DuckDB's epoch() keeps the fraction —
            # floor is monotone, so floor(min(epoch)) == min(floor).
            mn = f"CAST(floor(epoch(MIN({c}))) AS DOUBLE)"
            mx = f"CAST(floor(epoch(MAX({c}))) AS DOUBLE)"
        else:
            mn = mx = "CAST(NULL AS DOUBLE)"
        avg_len = (
            sql_exact_avg(f"length({c})")
            if kind == "str"
            else "CAST(NULL AS DOUBLE)"
        )
        parts.append(
            f"SELECT '{c}' AS col_name, COUNT(*) AS n_rows, "
            f"CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS n_nulls, "
            f"COUNT(DISTINCT {c}) AS n_distinct, {mn} AS min_num, "
            f"{mx} AS max_num, {avg_len} AS avg_len FROM lineitem"
        )
    return "\nUNION ALL\n".join(parts)


# --- Deequ-style data-quality checks ---------------------------------------
# Declarative constraint validation (the shape of AWS Deequ /
# dbt-tests, both public): each check emits one row with the exact
# violation count and a pass flag; the report is the union. Checks on
# one table share its scan; the referential check is a broadcast
# anti-join on the dim keys.
def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")

    def row(name: str, agg: DataFrame) -> DataFrame:
        return agg.select(
            F.lit(name).alias("check_name"),
            "n_rows",
            "n_bad",
            F.when(
                F.col("n_rows") > 0,
                1.0 - F.col("n_bad") / F.col("n_rows").cast("double"),
            ).otherwise(F.lit(1.0)).alias("metric"),
            (F.col("n_bad") == 0).alias("passed"),
        )

    completeness = row(
        "completeness:o_custkey",
        orders.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("o_custkey").isNull().cast("long")).alias("n_bad"),
        ),
    )
    uniq = row(
        "uniqueness:o_orderkey",
        orders.agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("n_bad"),
        ),
    )
    ref = row(
        "referential:o_custkey->customer",
        orders.join(
            F.broadcast(cust.select(F.col("c_custkey").alias("o_custkey"))),
            "o_custkey",
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("n_bad"))
        .crossJoin(
            F.broadcast(orders.agg(F.count(F.lit(1)).alias("n_rows")))
        ),
    )
    rng = row(
        "range:l_quantity[1,50]",
        li.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                (
                    F.col("l_quantity").isNull()
                    | (F.col("l_quantity") < 1)
                    | (F.col("l_quantity") > 50)
                ).cast("long")
            ).alias("n_bad"),
        ),
    )
    accepted = row(
        "accepted_values:l_returnflag{A,N,R}",
        li.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                (~F.col("l_returnflag").isin("A", "N", "R")).cast("long")
            ).alias("n_bad"),
        ),
    )
    return (
        completeness.unionByName(uniq)
        .unionByName(ref.select("check_name", "n_rows", "n_bad", "metric", "passed"))
        .unionByName(rng)
        .unionByName(accepted)
    )


SQL_DQ_CHECKS = """
WITH checks AS (
  SELECT 'completeness:o_custkey' AS check_name, COUNT(*) AS n_rows,
         SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS n_bad
  FROM orders
  UNION ALL
  SELECT 'uniqueness:o_orderkey', COUNT(*),
         COUNT(*) - COUNT(DISTINCT o_orderkey)
  FROM orders
  UNION ALL
  SELECT 'referential:o_custkey->customer',
         (SELECT COUNT(*) FROM orders),
         (SELECT COUNT(*) FROM orders o
          WHERE NOT EXISTS (SELECT 1 FROM customer c
                            WHERE c.c_custkey = o.o_custkey))
  UNION ALL
  SELECT 'range:l_quantity[1,50]', COUNT(*),
         SUM(CASE WHEN l_quantity IS NULL OR l_quantity < 1
                       OR l_quantity > 50 THEN 1 ELSE 0 END)
  FROM lineitem
  UNION ALL
  SELECT 'accepted_values:l_returnflag{A,N,R}', COUNT(*),
         SUM(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END)
  FROM lineitem
)
SELECT check_name, n_rows, CAST(n_bad AS BIGINT) AS n_bad,
       CASE WHEN n_rows > 0
            THEN 1.0 - n_bad / CAST(n_rows AS DOUBLE) ELSE 1.0 END AS metric,
       n_bad = 0 AS passed
FROM checks
"""


# --- k-core decomposition of the doc-similarity graph ----------------------
# Batagelj & Zaversnik 2003 (public) peeling, parallel-variant: each
# round simultaneously removes every node with alive-degree < k — a
# deterministic fixpoint (no tie-break needed, unlike sequential
# peeling). The graph: documents are nodes, edges join docs sharing
# >= 2 distinct 3-shingles (the same inverted-index + pair-count build
# as the n-gram Jaccard verifier). k=3 converges in <= 3 rounds at
# every test SF (measured); 5 unrolled rounds leave >= 2 fixpoint
# confirmations, and tests assert round-5 == round-4.
_KCORE_K = 3
_KCORE_ROUNDS = 5
_KCORE_MIN_SHARED = 2
# df window for the co-occurrence edge build: a shingle with df = 1
# cannot witness a pair, and a shingle shared by THOUSANDS of documents
# is boilerplate, not similarity signal — and each such shingle costs
# df^2 candidate rows in the self-join (Sigma df^2 total, ~quadratic in
# corpus scale: the un-capped build shuffled > 53 GB at the 100x tier
# before this cap, the same failure class as the pre-PPJoin jaccard
# walk, r12). Same fixed cap as operators/dedup's jaccard index
# (max_df = 1000) and mirrored EXACTLY in the DuckDB oracle base CTE,
# so both engines compute the same capped graph and the hash check
# stays exact. At the driver-gate scales (<= 5k documents) no shingle
# reaches the cap, so the graph is identical to the un-capped one.
_KCORE_DF_CAP = 1000


def _kcore_edges(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    # Split restoration + one-pass shingling, as in
    # q_jaccard_prefix_join: the exploded relation feeds both sides of
    # the pair self-join, so the tokenize→shingle pass is checkpointed
    # rather than recomputed per side.  ``docs`` lets the deduped
    # variants build the graph over a representative subset, which may
    # arrive shuffled: no footer describes its splits.
    ex = pin(
        (docs if docs is not None else load_table(spark, sf_dir, "documents"))
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", F.expr(SPARK_TOKS).alias("toks"))
        .filter(F.expr("size(toks) >= 3"))
        .select(
            "doc_id",
            F.explode(
                F.expr(f"array_distinct({expr_shingles('toks')})")
            ).alias("sh"),
        )
    )
    keep = (
        ex.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter((F.col("_df") >= 2) & (F.col("_df") <= _KCORE_DF_CAP))
        .select("sh")
    )
    exf = ex.join(keep, "sh", "left_semi")
    a, b = exf.alias("a"), exf.alias("b")
    return (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= _KCORE_MIN_SHARED)
        .select("src", "dst")
    )


def _kcore_peel(edges: DataFrame) -> DataFrame:
    """The k-core peel loop over a prebuilt edge list — shared by the
    exact-graph and dedup-before-graph variants (r14)."""
    adj = pin(
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .union(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
    )
    alive = adj.select(F.col("u").alias("node")).distinct()
    deg = None
    for _ in range(_KCORE_ROUNDS):
        deg = (
            adj.join(alive.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(alive.withColumnRenamed("node", "v"), "v", "left_semi")
            .groupBy("u")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        alive = (
            deg.filter(F.col("deg") >= _KCORE_K)
            .select(F.col("u").alias("node"))
        )
    # report the surviving nodes with their degree inside the core
    final = (
        adj.join(alive.withColumnRenamed("node", "u"), "u", "left_semi")
        .join(alive.withColumnRenamed("node", "v"), "v", "left_semi")
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("core_deg"))
    )
    return final.select(
        F.col("u").alias("doc_id"), F.lit(_KCORE_K).alias("k"), "core_deg"
    )


def q_kcore_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the inverted-index edge build is the dedup
    verifier's (shingle-keyed, df-bounded buckets); the peel loop is
    {rounds} x (one semi-join + one count agg) over the symmetrized
    edge relation, which is localCheckpointed ONCE so the five rounds
    replay neither the scan nor the self-join (same lineage-cut
    pattern as operators/dedup.dedup_clusters)."""
    return _kcore_peel(_kcore_edges(spark, sf_dir))


def _rep_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-before-graph representative selection (r14, the r13
    verdict's one `weak` item): collapse every near-dup cluster
    (connected components over the verified Jaccard-0.4 pairs,
    plans/llm.q_dedup_clusters) to its keep-best representative
    (longest by n_chars, doc_id tie-break — the q_dedup_keep_best
    rule), keep all singletons.  The exact co-occurrence graph is
    output-quadratic on dup-heavy corpora (measured x22.2 edges per
    x10 docs at the 100x tier, SCALE_PROBE_r13 kcore_docs_history);
    deduplicating first is the semantic lever — replica families
    become one node, so the graph the peel/LPA loops see grows with
    CONTENT, not with replication."""
    docs = load_table(spark, sf_dir, "documents")
    from lab04_spark_streaming_spark.plans.llm import q_dedup_clusters

    # (doc_id, cluster_id) for docs in >= 1 verified pair; the labels
    # relation is already pinned inside dedup_clusters' relax loop, so
    # its two consumers below do not replay the pair pipeline.
    clusters = q_dedup_clusters(spark, sf_dir)
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    best = (
        clusters.join(docs.select("doc_id", "n_chars"), "doc_id")
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("doc_id")
    )
    keep = (
        docs.select("doc_id")
        .join(clusters.select("doc_id"), "doc_id", "left_anti")
        .union(best)
    )
    return docs.join(keep, "doc_id", "left_semi")


def q_kcore_docs_deduped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core over the DEDUPED doc-similarity graph: near-dup families
    collapse to their keep-best representative before the edge build,
    then the same df-capped inverted-index join and peel loop as
    q_kcore_docs.  This is the 100-TB-shaped variant — the exact graph
    stays registered for parity, but on replica-heavy corpora its edge
    count is quadratic in the duplication factor while this one's
    grows with distinct content."""
    return _kcore_peel(
        _kcore_edges(spark, sf_dir, docs=_rep_docs(spark, sf_dir))
    )


# Shared doc-similarity-graph base CTEs (k-core + LPA oracles): the
# inverted-index edge build over distinct 3-shingles with the
# >= _KCORE_MIN_SHARED pair-count threshold, symmetrized, plus the
# node set. One definition so the two graph oracles cannot drift.
# MATERIALIZED: each CTE is read more than once, and DuckDB otherwise
# inlines it, redoing the edge build per reference.
def _sql_doc_graph_base(src: str = "documents") -> str:
    return f"""
ex AS MATERIALIZED (
  SELECT doc_id, u.sh
  FROM (SELECT doc_id, list_distinct({sql_shingles('toks')}) AS s
        FROM (SELECT doc_id, {SQL_TOKS} AS toks FROM {src}) t(doc_id, toks)
        WHERE len(toks) >= 3) q, unnest(s) u(sh)
),
shf AS MATERIALIZED (
  SELECT sh FROM ex GROUP BY sh
  HAVING COUNT(*) BETWEEN 2 AND {_KCORE_DF_CAP}
),
exf AS MATERIALIZED (SELECT ex.doc_id, ex.sh FROM ex JOIN shf USING (sh)),
e0 AS MATERIALIZED (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM exf a JOIN exf b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING COUNT(*) >= {_KCORE_MIN_SHARED}
),
adj AS MATERIALIZED (SELECT src AS u, dst AS v FROM e0
        UNION ALL SELECT dst, src FROM e0)"""


# Representative-docs CTEs for the deduped graph oracles: the full
# near-dup-clusters query (plans/llm.SQL_DEDUP_CLUSTERS, nested with
# its own WITH RECURSIVE) + the keep-best window + singletons — the
# exact SQL twin of _rep_docs.
def _sql_rep_ctes() -> str:
    from lab04_spark_streaming_spark.plans.llm import SQL_DEDUP_CLUSTERS

    # MATERIALIZED: clus is referenced twice in repdocs (and once in
    # best) — without it DuckDB re-runs the whole recursive-closure
    # subquery per reference (the Holt-oracle lesson, 14x).
    return f"""clus AS MATERIALIZED ({SQL_DEDUP_CLUSTERS}),
best AS (
  SELECT doc_id FROM (
    SELECT c.doc_id,
           row_number() OVER (PARTITION BY c.cluster_id
                              ORDER BY d.n_chars DESC, c.doc_id ASC) AS rk
    FROM clus c JOIN documents d ON d.doc_id = c.doc_id
  ) WHERE rk = 1
),
repdocs AS MATERIALIZED (
  SELECT * FROM documents
  WHERE doc_id NOT IN (SELECT doc_id FROM clus)
     OR doc_id IN (SELECT doc_id FROM best)
),
"""


def _sql_kcore(prefix: str = "", src: str = "documents") -> str:
    # Each peel round reads the previous one twice; inlined, every round
    # would redo all the rounds before it (DuckDB ran out of memory).
    rounds = []
    prev = "a0"
    base = prefix + _sql_doc_graph_base(src) + """,
a0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM adj)"""
    for i in range(1, _KCORE_ROUNDS + 1):
        rounds.append(
            f"""a{i} AS MATERIALIZED (
  SELECT u AS node FROM adj
  WHERE u IN (SELECT node FROM {prev}) AND v IN (SELECT node FROM {prev})
  GROUP BY u HAVING COUNT(*) >= {_KCORE_K}
)"""
        )
        prev = f"a{i}"
    return (
        "WITH "
        + base
        + ",\n"
        + ",\n".join(rounds)
        + f"""
SELECT u AS doc_id, {_KCORE_K} AS k, COUNT(*) AS core_deg
FROM adj
WHERE u IN (SELECT node FROM {prev}) AND v IN (SELECT node FROM {prev})
GROUP BY u
"""
    )


def specs():
    from lab04_spark_streaming_spark.registry import QuerySpec

    return [
        QuerySpec("span_dedup_c4", q_span_dedup_c4, SQL_SPAN_DEDUP_C4),
        QuerySpec(
            "jaccard_prefix_join", q_jaccard_prefix_join, SQL_JACCARD_PREFIX_JOIN
        ),
        QuerySpec("minhash_error", q_minhash_error, _sql_minhash_error()),
        QuerySpec(
            "quality_classifier", q_quality_classifier, SQL_QUALITY_CLASSIFIER
        ),
        QuerySpec("bigram_logprob", q_bigram_logprob, SQL_BIGRAM_LOGPROB),
        QuerySpec("data_profile", q_data_profile, _sql_data_profile()),
        QuerySpec("dq_checks", q_dq_checks, SQL_DQ_CHECKS),
        QuerySpec("kcore_docs", q_kcore_docs, _sql_kcore()),
        QuerySpec(
            "kcore_docs_deduped",
            q_kcore_docs_deduped,
            _sql_kcore(prefix=_sql_rep_ctes(), src="repdocs"),
        ),
        QuerySpec(
            "lpa_communities_deduped",
            q_lpa_communities_deduped,
            _sql_lpa(prefix=_sql_rep_ctes(), src="repdocs"),
        ),
        QuerySpec("scd2_intervals", q_scd2_intervals, SQL_SCD2_INTERVALS),
        QuerySpec("hll_by_source", q_hll_by_source, _sql_hll_by_source()),
        QuerySpec("snm_candidates", q_snm_candidates, SQL_SNM_CANDIDATES),
        QuerySpec("lpa_communities", q_lpa_communities, _sql_lpa()),
        QuerySpec(
            "attribution_last_touch",
            q_attribution_last_touch,
            SQL_ATTRIBUTION_LAST_TOUCH,
        ),
        QuerySpec(
            "reconcile_orders_lineitem",
            q_reconcile_orders_lineitem,
            SQL_RECONCILE_ORDERS_LINEITEM,
        ),
        QuerySpec("seasonal_factors", q_seasonal_factors, _sql_seasonal()),
        QuerySpec("snm_fuzzy_matches", q_snm_fuzzy_matches, _sql_snm_fuzzy()),
        QuerySpec("contrastive_pairs", q_contrastive_pairs, _sql_contrastive()),
        QuerySpec(
            "scd2_point_in_time", q_scd2_point_in_time, _sql_scd2_pit()
        ),
        QuerySpec("bpe_second_merge", q_bpe_second_merge, _sql_bpe_second()),
        QuerySpec(
            "path_transitions", q_path_transitions, SQL_PATH_TRANSITIONS
        ),
        QuerySpec("golden_records", q_golden_records, _sql_golden_records()),
        QuerySpec("hll_dau_hourly", q_hll_dau_hourly, _sql_hll_dau()),
        QuerySpec(
            "scd2_incremental", q_scd2_incremental, SQL_SCD2_INCREMENTAL
        ),
        QuerySpec("pca_power_top", q_pca_power_top, _sql_pca()),
    ]


# ===========================================================================
# Wave 4: SCD-2 intervals, mergeable per-source HLL, blocked
# sorted-neighborhood candidates, label-propagation communities.
# ===========================================================================


# --- SCD Type-2 interval build ---------------------------------------------
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) history build from the event
    stream — the standard warehouse op: per user, collapse consecutive
    runs of the same event_type into [valid_from, valid_to) intervals,
    open-ended (NULL valid_to + is_current) on the latest run.

    Gaps-and-islands: a change flag via lag over the per-user (ts,
    event_id) total order, a running integer sum for the run id, one
    groupBy (user, run), then lead(valid_from) for the exclusive upper
    bound (tie-broken by run id — see _scd2_build). Every window and
    the aggregate share the user_id hash partitioning — Catalyst plans
    ONE exchange for the whole query. Body shared with the incremental
    maintainer (q_scd2_incremental) via _scd2_build."""
    return _scd2_build(
        load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type"
        )
    )


SQL_SCD2_INTERVALS = """
WITH flagged AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(event_type) OVER w IS NULL
                   OR lag(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
  SELECT user_id, event_type, ts,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS run
  FROM flagged
),
grouped AS (
  SELECT user_id, run, MIN(event_type) AS event_type,
         MIN(ts) AS valid_from, COUNT(*) AS n_events
  FROM runs GROUP BY user_id, run
)
SELECT user_id, event_type, valid_from,
       lead(valid_from) OVER w2 AS valid_to,
       n_events,
       lead(valid_from) OVER w2 IS NULL AS is_current
FROM grouped
WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from, run)
"""


# --- mergeable HLL: per-source sketches + register-max merge ---------------
# The property that makes HLL the 100 TB count-distinct: sketches
# built on PARTITIONS of the data merge by register-wise max into
# exactly the sketch of the union. Demonstrated relationally: one
# (source, bucket) aggregate, per-source estimates, then a merged
# estimate from max-combined registers — which the tests assert equals
# the direct whole-corpus estimate bit-for-bit. Estimate arithmetic
# mirrors plans/corpus.q_hll_distinct (same exact-integer-rational
# harmonic mean; see its docstring for the determinism argument).
_HLLM = 64
_HLL_ALPHA_M2 = 0.709 * _HLLM * _HLLM


def _hll_rows(prefix_expr_spark: str, salt: str = "hll"):
    """Shared (bucket, rho) projection for every HLL in this module —
    one definition of the md5 hash, register index, and leading-zero
    rank (see corpus.q_hll_distinct for the estimator notes)."""
    h = (
        f"cast(conv(substring(md5(concat('{salt}|', {prefix_expr_spark})), 1, 8), "
        "16, 10) as bigint)"
    )
    return (
        F.expr(f"{h} % {_HLLM}").alias("bucket"),
        F.expr(
            f"CASE WHEN ({h} div {_HLLM}) = 0 THEN 27 "
            f"ELSE 27 - length(bin({h} div {_HLLM})) END"
        ).alias("rho"),
    )


def _hll_estimate(full: DataFrame, key: str) -> DataFrame:
    """(key, hll_est) from a complete (key, bucket, reg) register grid."""
    mx = full.groupBy(key).agg(F.max("reg").alias("_maxreg"))
    num = (
        full.join(F.broadcast(mx), key)
        .groupBy(key)
        .agg(
            F.sum(
                F.expr(
                    "shiftleft(cast(1 as bigint), cast(_maxreg - reg as int))"
                )
            ).alias("_num"),
            F.first("_maxreg").alias("_maxreg"),
            F.count(F.when(F.col("reg") == 0, 1)).alias("_zeros"),
        )
    )
    est_raw = (
        f"cast({_HLL_ALPHA_M2} as double) * cast(shiftleft(cast(1 as bigint), "
        f"cast(_maxreg as int)) as double) / cast(_num as double)"
    )
    est = (
        f"CASE WHEN ({est_raw}) <= cast(2.5 as double) * {_HLLM} AND _zeros > 0 "
        f"THEN cast({_HLLM} as double) * ln(cast({_HLLM} as double) / _zeros) "
        f"ELSE ({est_raw}) END"
    )
    return num.select(
        key,
        F.expr(
            f"floor(({est}) * cast(10000.0 as double) "
            "+ cast(0.5 as double)) / cast(10000.0 as double)"
        ).alias("hll_est"),
    )


def q_hll_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "source", F.expr(SPARK_NORM_H).alias("digest")
    )
    regs = (
        docs.select("source", *_hll_rows("digest"))
        .groupBy("source", "bucket")
        .agg(F.max("rho").alias("reg"))
    )
    srcs = docs.select("source").distinct()
    grid = srcs.crossJoin(
        F.broadcast(
            spark.range(_HLLM).select(F.col("id").cast("bigint").alias("bucket"))
        )
    )
    full = grid.join(regs, ["source", "bucket"], "left").select(
        "source", "bucket", F.coalesce("reg", F.lit(0)).alias("reg")
    )
    # merged sketch: register-wise max across sources on the SAME grid
    merged_full = full.groupBy("bucket").agg(F.max("reg").alias("reg")).select(
        F.lit("__merged__").alias("source"), "bucket", "reg"
    )
    est = _hll_estimate(full.unionByName(merged_full), "source")
    exact_src = docs.groupBy("source").agg(
        F.count_distinct("digest").alias("n_exact")
    )
    exact_all = docs.agg(F.count_distinct("digest").alias("n_exact")).select(
        F.lit("__merged__").alias("source"), "n_exact"
    )
    exact = exact_src.unionByName(exact_all)
    return est.join(exact, "source").select(
        "source",
        "n_exact",
        "hll_est",
        (
            F.abs(F.col("hll_est") - F.col("n_exact"))
            / F.col("n_exact").cast("double")
            <= 0.35
        ).alias("within_bound"),
    )


def _sql_hll_by_source() -> str:
    m = _HLLM
    h = "CAST(('0x' || substring(md5('hll|' || digest), 1, 8)) AS BIGINT)"
    est_raw = (
        f"{_HLL_ALPHA_M2} * CAST(2 ** _maxreg AS DOUBLE) / CAST(_num AS DOUBLE)"
    )
    est = (
        f"CASE WHEN ({est_raw}) <= 2.5 * {m} AND _zeros > 0 "
        f"THEN CAST({m} AS DOUBLE) * ln(CAST({m} AS DOUBLE) / _zeros) "
        f"ELSE ({est_raw}) END"
    )
    return f"""
WITH d AS (SELECT source, {SQL_NORM_H} AS digest FROM documents),
regs AS (
  SELECT source, {h} % {m} AS bucket,
         MAX(CASE WHEN ({h} // {m}) = 0 THEN 27
                  ELSE 27 - length(bin({h} // {m})) END) AS reg
  FROM d GROUP BY 1, 2
),
grid AS (
  SELECT s.source, g.bucket
  FROM (SELECT DISTINCT source FROM d) s,
       generate_series(0, {m - 1}) g(bucket)
),
full_regs AS (
  SELECT g.source, g.bucket, coalesce(r.reg, 0) AS reg
  FROM grid g LEFT JOIN regs r
    ON r.source = g.source AND r.bucket = g.bucket
),
all_regs AS (
  SELECT source, bucket, reg FROM full_regs
  UNION ALL
  SELECT '__merged__', bucket, MAX(reg) FROM full_regs GROUP BY 2
),
moments AS (
  SELECT source,
         CAST(SUM(2 ** (mx - reg)) AS BIGINT) AS _num,
         ANY_VALUE(mx) AS _maxreg,
         COUNT(CASE WHEN reg = 0 THEN 1 END) AS _zeros
  FROM (SELECT source, reg, MAX(reg) OVER (PARTITION BY source) AS mx
        FROM all_regs)
  GROUP BY source
),
est AS (
  SELECT source,
         floor(({est}) * 10000.0 + 0.5) / 10000.0 AS hll_est
  FROM moments
),
exact AS (
  SELECT source, COUNT(DISTINCT digest) AS n_exact FROM d GROUP BY 1
  UNION ALL
  SELECT '__merged__', COUNT(DISTINCT digest) FROM d
)
SELECT e.source, x.n_exact, e.hll_est,
       abs(e.hll_est - x.n_exact) / CAST(x.n_exact AS DOUBLE) <= 0.35
         AS within_bound
FROM est e JOIN exact x ON x.source = e.source
"""


# --- blocked sorted-neighborhood candidates --------------------------------
# Sorted-neighborhood method (Hernandez & Stolfo 1995, public) with
# blocking — the entity-resolution classic: sort records by a
# normalized key WITHIN blocks, compare each record to its next w
# neighbors only. Candidate volume is n*w instead of n^2; blocks sort
# independently (parallel, no global order). Complements the
# containment/LSH/prefix families with the "clerical" candidate
# generator real MDM pipelines still run.
_SNM_WINDOW = 3


def q_snm_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidates with exact Jaccard attached (no threshold — SNM is a
    candidate generator; downstream match rules consume the score).
    Block = first normalized token; sort key = the full normalized
    text with doc_id tie-break (total order -> deterministic
    positions). One exchange on the block key serves both the sort
    window and the neighbor self-join."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.expr(SPARK_TOKS).alias("toks"))
        .filter(F.expr("size(toks) >= 3"))
        .select(
            "doc_id",
            F.expr("element_at(toks, 1)").alias("blk"),
            F.expr("concat_ws(' ', toks)").alias("skey"),
            F.expr(f"array_distinct({expr_shingles('toks')})").alias("s"),
        )
    )
    # pos feeds both sides of the neighbor self-join: checkpoint so the
    # tokenize/shingle/sort pipeline runs once.
    pos = pin(
        docs.withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("blk").orderBy("skey", "doc_id")
            ),
        )
    )
    a, b = pos.alias("a"), pos.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("b.pos") > F.col("a.pos"))
            & (F.col("b.pos") <= F.col("a.pos") + _SNM_WINDOW),
        )
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
            F.expr(
                "size(array_intersect(a.s, b.s))"
            ).alias("inter_sz"),
            F.expr(
                "size(a.s) + size(b.s) - size(array_intersect(a.s, b.s))"
            ).alias("union_sz"),
        )
        .withColumn(
            "jaccard", F.col("inter_sz") / F.col("union_sz").cast("double")
        )
    )


SQL_SNM_CANDIDATES = f"""
WITH d AS (
  SELECT doc_id, toks[1] AS blk, array_to_string(toks, ' ') AS skey,
         list_distinct({sql_shingles('toks')}) AS s
  FROM (SELECT doc_id, {SQL_TOKS} AS toks FROM documents) t(doc_id, toks)
  WHERE len(toks) >= 3
),
pos AS (
  SELECT doc_id, blk, s,
         row_number() OVER (PARTITION BY blk ORDER BY skey, doc_id) AS pos
  FROM d
)
SELECT least(a.doc_id, b.doc_id) AS doc_a,
       greatest(a.doc_id, b.doc_id) AS doc_b,
       len(list_intersect(a.s, b.s)) AS inter_sz,
       len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS union_sz,
       len(list_intersect(a.s, b.s))
         / CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE)
         AS jaccard
FROM pos a JOIN pos b
  ON a.blk = b.blk AND b.pos > a.pos AND b.pos <= a.pos + {_SNM_WINDOW}
"""


# --- label-propagation communities -----------------------------------------
# Synchronous LPA (Raghavan et al. 2007, public) with a deterministic
# (count DESC, label ASC) tie-break, 4 unrolled rounds over the same
# shared-shingle doc graph as k-core. Unlike min-label connected
# components (operators/dedup.dedup_clusters) LPA splits a connected
# blob into DENSE communities; sync updates + total-order tie-break
# make every round bit-reproducible cross-engine (async LPA is not).
_LPA_ROUNDS = 4


def _lpa_label(edges: DataFrame) -> DataFrame:
    """The synchronous LPA rounds over a prebuilt edge list — shared
    by the exact-graph and dedup-before-graph variants (r14)."""
    adj = pin(
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .union(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
    )
    labels = adj.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    for _ in range(_LPA_ROUNDS):
        neigh = (
            adj.join(
                labels.select(
                    F.col("node").alias("v"), F.col("lbl").alias("nl")
                ),
                "v",
            )
            .groupBy("u", "nl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        w = Window.partitionBy("u").orderBy(F.col("c").desc(), F.col("nl"))
        labels = (
            neigh.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("u").alias("node"), F.col("nl").alias("lbl"))
        )
    sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("community_size"))
    return labels.join(F.broadcast(sizes), "lbl").select(
        F.col("node").alias("doc_id"),
        F.col("lbl").alias("community"),
        "community_size",
    )


def q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lpa_label(_kcore_edges(spark, sf_dir))


def q_lpa_communities_deduped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LPA over the DEDUPED doc-similarity graph (see
    q_kcore_docs_deduped): keep-best representatives replace replica
    families before the edge build, so community structure reflects
    distinct content rather than replication multiplicity."""
    return _lpa_label(
        _kcore_edges(spark, sf_dir, docs=_rep_docs(spark, sf_dir))
    )


def _sql_lpa(prefix: str = "", src: str = "documents") -> str:
    base = prefix + _sql_doc_graph_base(src) + """,
l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM adj)"""
    rounds = []
    prev = "l0"
    for i in range(1, _LPA_ROUNDS + 1):
        rounds.append(
            f"""l{i} AS (
  SELECT node, lbl FROM (
    SELECT a.u AS node, p.lbl,
           row_number() OVER (PARTITION BY a.u
                              ORDER BY COUNT(*) DESC, p.lbl) AS rn
    FROM adj a JOIN {prev} p ON p.node = a.v
    GROUP BY a.u, p.lbl
  ) WHERE rn = 1
)"""
        )
        prev = f"l{i}"
    return (
        "WITH "
        + base
        + ",\n"
        + ",\n".join(rounds)
        + f""",
sizes AS (SELECT lbl, COUNT(*) AS community_size FROM {prev} GROUP BY 1)
SELECT p.node AS doc_id, p.lbl AS community, s.community_size
FROM {prev} p JOIN sizes s ON s.lbl = p.lbl
"""
    )


# ===========================================================================
# Wave 5: marketing attribution, full-outer reconciliation, seasonal
# factors.
# ===========================================================================


# --- last-touch attribution -------------------------------------------------
def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution — the canonical productized
    as-of lookup: every purchase is credited to the user's most recent
    click within a 1-hour lookback, NULL-credited (organic) otherwise.
    Composes operators/asof.asof_join (chunk-parallel union-fill scan —
    see its module docstring for why this beats a range join at
    100 TB); clicks pre-aggregate to one row per (user, ts) with a max
    event_id tie-break so the as-of payload is deterministic."""
    from lab04_spark_streaming_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    out = asof_join(
        purchases,
        clicks,
        ts_col="ts",
        by=["user_id"],
        value_cols=["click_id"],
        tolerance_s=3600,
        suffix="_click",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.col("ts_click").alias("click_ts"),
        F.col("click_id_click").alias("click_id"),
        F.col("ts_click").isNotNull().alias("attributed"),
    )


SQL_ATTRIBUTION_LAST_TOUCH = """
WITH purchases AS (
  SELECT event_id, user_id, ts, value FROM events
  WHERE event_type = 'purchase'
),
clicks AS (
  SELECT user_id, ts, MAX(event_id) AS click_id FROM events
  WHERE event_type = 'click' GROUP BY 1, 2
)
SELECT p.event_id, p.user_id, p.ts, p.value,
       CASE WHEN c.ts >= p.ts - INTERVAL 3600 SECOND THEN c.ts END AS click_ts,
       CASE WHEN c.ts >= p.ts - INTERVAL 3600 SECOND THEN c.click_id END
         AS click_id,
       (CASE WHEN c.ts >= p.ts - INTERVAL 3600 SECOND THEN c.ts END)
         IS NOT NULL AS attributed
FROM purchases p
ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


# --- full-outer reconciliation ----------------------------------------------
def q_reconcile_orders_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-system reconciliation — the audit query every warehouse
    runs: per order, the header total (orders.o_totalprice) FULL OUTER
    joined against the lineitem-derived gross sum; rows classify as
    both / header_only / lines_only. Sums are exact decimals (cents),
    so presence and the difference are hash-stable; the diff itself is
    reported in cents as an exact integer. The full outer join is the
    one outer-join flavor the rest of the registry doesn't exercise.
    Output bounded to non-matching or mismatching rows plus a per-class
    rollup key — the reconciliation report, not a table dump."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("orderkey"),
        F.expr(
            "cast(floor(cast(o_totalprice as decimal(30,4)) * 100) as bigint)"
        ).alias("header_cents"),
    )
    lines = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("orderkey"))
        .agg(
            F.expr(
                "cast(floor(sum(cast(l_extendedprice as decimal(30,4))) * 100) "
                "as bigint)"
            ).alias("lines_cents")
        )
    )
    joined = orders.join(lines, "orderkey", "full_outer").select(
        "orderkey",
        "header_cents",
        "lines_cents",
        F.when(
            F.col("header_cents").isNotNull()
            & F.col("lines_cents").isNotNull(),
            F.lit("both"),
        )
        .when(F.col("header_cents").isNotNull(), F.lit("header_only"))
        .otherwise(F.lit("lines_only"))
        .alias("presence"),
    )
    return joined.groupBy("presence").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.coalesce("header_cents", F.lit(0))).alias("sum_header_cents"),
        F.sum(F.coalesce("lines_cents", F.lit(0))).alias("sum_lines_cents"),
    )


SQL_RECONCILE_ORDERS_LINEITEM = """
WITH o AS (
  SELECT o_orderkey AS orderkey,
         CAST(floor(CAST(o_totalprice AS DECIMAL(30,4)) * 100) AS BIGINT)
           AS header_cents
  FROM orders
),
l AS (
  SELECT l_orderkey AS orderkey,
         CAST(floor(SUM(CAST(l_extendedprice AS DECIMAL(30,4))) * 100)
              AS BIGINT) AS lines_cents
  FROM lineitem GROUP BY 1
),
j AS (
  SELECT coalesce(o.orderkey, l.orderkey) AS orderkey,
         o.header_cents, l.lines_cents,
         CASE WHEN o.orderkey IS NOT NULL AND l.orderkey IS NOT NULL
              THEN 'both'
              WHEN o.orderkey IS NOT NULL THEN 'header_only'
              ELSE 'lines_only' END AS presence
  FROM o FULL OUTER JOIN l ON o.orderkey = l.orderkey
)
SELECT presence, COUNT(*) AS n_orders,
       CAST(SUM(coalesce(header_cents, 0)) AS BIGINT) AS sum_header_cents,
       CAST(SUM(coalesce(lines_cents, 0)) AS BIGINT) AS sum_lines_cents
FROM j GROUP BY presence
"""


# --- hour-of-day seasonal factors -------------------------------------------
def q_seasonal_factors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-index extraction (classical decomposition step 1): per
    event_type, each hour-of-day's mean value over the overall mean —
    the multiplicative seasonal profile used for seasonal adjustment
    and capacity planning. ONE scan: the (type, hod) grain's exact
    decimal sum + count are the sufficient moments; the per-type
    overall mean is derived by re-aggregating those ≤ types×24 rows
    (decimal addition is associative, so the rollup mean equals a
    direct whole-partition mean bit-for-bit). Means use a count(*)
    denominator in BOTH engines — on a (hypothetical) NULL-bearing
    value column this is the count-all mean, not exact_avg's
    non-null-denominator mean. Both means are one double conversion +
    one division each."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.hour("ts").alias("hod"),
        "value",
    )
    hourly_m = ev.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(30,4)")).alias("_s"),
    )
    overall = hourly_m.groupBy("event_type").agg(
        (
            F.sum("_s").cast("double") / F.sum("n_events")
        ).alias("overall_mean")
    )
    return (
        hourly_m.join(F.broadcast(overall), "event_type")
        .select(
            "event_type",
            "hod",
            "n_events",
            (F.col("_s").cast("double") / F.col("n_events")).alias(
                "hourly_mean"
            ),
            (
                (F.col("_s").cast("double") / F.col("n_events"))
                / F.col("overall_mean")
            ).alias("seasonal_factor"),
        )
    )


def _sql_seasonal() -> str:
    return """
WITH base AS (
  SELECT event_type, EXTRACT(hour FROM ts) AS hod, value FROM events
),
hourly AS (
  SELECT event_type, hod, COUNT(*) AS n_events,
         SUM(CAST(value AS DECIMAL(30,4))) AS s
  FROM base GROUP BY 1, 2
),
overall AS (
  SELECT event_type,
         CAST(SUM(s) AS DOUBLE) / SUM(n_events) AS overall_mean
  FROM hourly GROUP BY 1
)
SELECT h.event_type, h.hod, h.n_events,
       CAST(h.s AS DOUBLE) / h.n_events AS hourly_mean,
       (CAST(h.s AS DOUBLE) / h.n_events) / o.overall_mean
         AS seasonal_factor
FROM hourly h JOIN overall o ON o.event_type = h.event_type
"""


# --- edit-distance fuzzy match verify ---------------------------------------
# The SNM candidate generator's downstream match rule: classic
# Levenshtein on a normalized prefix. Both engines implement the
# textbook DP (Spark's levenshtein == DuckDB's levenshtein, integer
# edit counts), so the distance — and the match decision — is
# hash-exact. Distance runs on the first _FUZZY_PREFIX chars: edit
# distance is O(len²) per pair, and a bounded prefix is how fuzzy
# matchers cap per-pair cost at scale (candidates are already
# blocking-bounded to n×w by SNM).
_FUZZY_PREFIX = 120
_FUZZY_NUM, _FUZZY_DEN = 2, 10  # match when dist <= 0.2 * max prefix len


def q_snm_fuzzy_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    norm = f"substring({expr_norm_text('text')}, 1, {_FUZZY_PREFIX})"
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.expr(norm).alias("k"))
        .filter(F.length("k") > 0)
    )
    pairs = q_snm_candidates(spark, sf_dir).select("doc_a", "doc_b")
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("k").alias("ka"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("k").alias("kb"))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("ka", "kb").alias("edit_dist"),
            F.greatest(F.length("ka"), F.length("kb")).alias("max_len"),
        )
        .withColumn(
            "is_match",
            _FUZZY_DEN * F.col("edit_dist")
            <= _FUZZY_NUM * F.col("max_len"),
        )
    )


def _sql_snm_fuzzy() -> str:
    norm = f"substring({sql_norm_text('text')}, 1, {_FUZZY_PREFIX})"
    return f"""
WITH cand AS ({SQL_SNM_CANDIDATES.strip()}),
d AS (
  SELECT doc_id, {norm} AS k FROM documents
  WHERE length({norm}) > 0
)
SELECT c.doc_a, c.doc_b,
       levenshtein(x.k, y.k) AS edit_dist,
       greatest(length(x.k), length(y.k)) AS max_len,
       {_FUZZY_DEN} * levenshtein(x.k, y.k)
         <= {_FUZZY_NUM} * greatest(length(x.k), length(y.k)) AS is_match
FROM cand c
JOIN d x ON x.doc_id = c.doc_a
JOIN d y ON y.doc_id = c.doc_b
"""


# --- contrastive pair mining ------------------------------------------------
# Training-pair extraction for contrastive embedding training
# (SimCSE/E5-style, public): per anchor vector, the most similar
# within-cell partner ABOVE the duplicate threshold is the positive
# and the most similar partner BELOW it is the hard negative — the
# "hardest non-duplicate" that makes contrastive batches informative.
# Candidate space is the SemDeDup cell bucketing (Σ|cell|²·d, never
# n²·d); cosines are the same quantized integer folds, so the pairs
# are hash-checked against the unrolled DuckDB twin.
_CONTRAST_TAU = 0.4


def q_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking note: partners are ordered by the raw double cosine
    (exact-integer moments, one double division → bit-identical
    cross-engine) with an id tie-break; as with knn_fold_topk_ids, two
    distinct cosines within double-comparison noise cannot occur
    because both engines compare the same bit patterns."""
    from lab04_spark_streaming_spark.operators.similarity import (
        kmeans_assign_packed,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    assign = pin(
        kmeans_assign_packed(emb, k=8, iters=2)
        .select("vec_id", F.col("cluster").alias("kcluster"))
    )
    from lab04_spark_streaming_spark.operators.similarity import (
        cell_pair_cosines,
    )

    # feeds both direction branches of the symmetrization
    pairs = pin(cell_pair_cosines(emb, assign))
    sym = pairs.select(
        F.col("id_a").alias("anchor"), F.col("id_b").alias("other"), "cos"
    ).unionByName(
        pairs.select(
            F.col("id_b").alias("anchor"), F.col("id_a").alias("other"), "cos"
        )
    )
    w = Window.partitionBy("anchor").orderBy(F.col("cos").desc(), "other")
    pos = (
        sym.filter(F.col("cos") >= _CONTRAST_TAU)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "anchor",
            F.col("other").alias("pos_id"),
            F.col("cos").alias("pos_cos"),
        )
    )
    neg = (
        sym.filter(F.col("cos") < _CONTRAST_TAU)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "anchor",
            F.col("other").alias("neg_id"),
            F.col("cos").alias("neg_cos"),
        )
    )
    anchors = assign.select(F.col("vec_id").alias("anchor"))
    return (
        anchors.join(pos, "anchor", "left")
        .join(neg, "anchor", "left")
        .select("anchor", "pos_id", "pos_cos", "neg_id", "neg_cos")
    )


def _sql_contrastive() -> str:
    from lab04_spark_streaming_spark.plans.pipeline_extras import (
        _SQL_CELL_COSPAIRS,
    )

    return f"""
WITH {_SQL_CELL_COSPAIRS},
sym AS (
  SELECT id_a AS anchor, id_b AS other, cos FROM cospairs
  UNION ALL
  SELECT id_b, id_a, cos FROM cospairs
),
p AS (
  SELECT anchor, other AS pos_id, cos AS pos_cos FROM (
    SELECT anchor, other, cos,
           row_number() OVER (PARTITION BY anchor
                              ORDER BY cos DESC, other) AS rn
    FROM sym WHERE cos >= {_CONTRAST_TAU}) WHERE rn = 1
),
n AS (
  SELECT anchor, other AS neg_id, cos AS neg_cos FROM (
    SELECT anchor, other, cos,
           row_number() OVER (PARTITION BY anchor
                              ORDER BY cos DESC, other) AS rn
    FROM sym WHERE cos < {_CONTRAST_TAU}) WHERE rn = 1
)
SELECT a2.vec_id AS anchor, p.pos_id, p.pos_cos, n.neg_id, n.neg_cos
FROM a2
LEFT JOIN p ON p.anchor = a2.vec_id
LEFT JOIN n ON n.anchor = a2.vec_id
"""


# --- point-in-time (temporal) dimension lookup ------------------------------
def q_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time correctness — the query SCD-2 tables exist FOR:
    as-of a probe timestamp grid (6-hour marks), which interval of the
    user's type-2 history was in effect. A backward as-of on
    valid_from followed by the valid_to containment check (an interval
    is in effect iff valid_from <= t AND (valid_to IS NULL OR
    t < valid_to)); because intervals tile per user, the as-of
    candidate is the ONLY candidate — no range join needed. The probe
    grid is a broadcast literal cross join (users × 4 probes/day is a
    fan-out of the small user relation, never the events)."""
    hist = pin(q_scd2_intervals(spark, sf_dir))
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.expr("min(date_trunc('day', ts))").alias("d0"),
        F.expr("max(ts)").alias("d1"),
    )
    users = hist.select("user_id").distinct()
    probes = (
        users.crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.explode(
                F.expr(
                    "sequence(d0, d1, interval 6 hours)"
                )
            ).alias("probe_ts"),
        )
    )
    from lab04_spark_streaming_spark.operators.asof import asof_join

    # asof_join requires right rows unique per (by, ts). Runs sharing
    # a valid_from (identical-timestamp alternating types) are all
    # zero-length [T, T) except the last — keep the one row that can
    # actually contain a probe (valid_to NULL, else the max).
    wv = Window.partitionBy("user_id", "valid_from").orderBy(
        F.col("valid_to").isNull().cast("int").desc(), F.col("valid_to").desc()
    )
    hist_r = (
        hist.withColumn("_rn", F.row_number().over(wv))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            F.col("valid_from").alias("ts"),
            "event_type",
            "valid_to",
        )
    )
    out = asof_join(
        probes.withColumn("ts", F.col("probe_ts")),
        hist_r,
        ts_col="ts",
        by=["user_id"],
        value_cols=["event_type", "valid_to"],
    )
    return out.select(
        "user_id",
        "probe_ts",
        F.when(
            F.col("ts_asof").isNotNull()
            & (
                F.col("valid_to_asof").isNull()
                | (F.col("probe_ts") < F.col("valid_to_asof"))
            ),
            F.col("event_type_asof"),
        ).alias("state_at_probe"),
    )


def _sql_scd2_pit() -> str:
    return f"""
WITH hist0 AS ({SQL_SCD2_INTERVALS.strip()}),
hist AS (
  SELECT user_id, event_type, valid_from, valid_to FROM (
    SELECT user_id, event_type, valid_from, valid_to,
           row_number() OVER (
             PARTITION BY user_id, valid_from
             ORDER BY CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END DESC,
                      valid_to DESC) AS rn
    FROM hist0
  ) WHERE rn = 1
),
bounds AS (
  SELECT date_trunc('day', MIN(ts)) AS d0, MAX(ts) AS d1 FROM events
),
probes AS (
  SELECT u.user_id, g.probe_ts
  FROM (SELECT DISTINCT user_id FROM hist) u
  CROSS JOIN (
    SELECT unnest(generate_series(d0, d1, INTERVAL 6 HOUR)) AS probe_ts
    FROM bounds
  ) g
)
SELECT p.user_id, p.probe_ts,
       CASE WHEN h.valid_from IS NOT NULL
                 AND (h.valid_to IS NULL OR p.probe_ts < h.valid_to)
            THEN h.event_type END AS state_at_probe
FROM probes p
ASOF LEFT JOIN hist h
  ON p.user_id = h.user_id AND p.probe_ts >= h.valid_from
"""


# --- BPE second merge iteration ---------------------------------------------
# Step 2 of byte-pair-encoding induction (Sennrich et al. 2016): APPLY
# the learned top-1 merge and recount adjacent-symbol pairs — the loop
# body a tokenizer trainer iterates to a full vocabulary. The greedy
# leftmost non-overlapping merge is exactly string replace() in both
# engines (a merged symbol is marked with chr(1), impossible in
# [a-z0-9] tokens), so the symbol sequences — and the second
# iteration's ranked pair counts — stay hash-exact.
def q_bpe_second_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    wc = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.expr(SPARK_TOKS)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    first = (
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
        .agg(F.sum("cnt").alias("n"))
        .withColumn(
            "rn", F.row_number().over(Window.orderBy(F.desc("n"), "pair"))
        )
        .filter(F.col("rn") == 1)
        .select(F.col("pair").alias("merge1"))
    )
    merged = wc.crossJoin(F.broadcast(first)).select(
        "cnt", "merge1", F.expr("replace(w, merge1, chr(1))").alias("w2")
    )
    return (
        merged.filter(F.length("w2") >= 2)
        .select(
            "cnt",
            "merge1",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w2) - 1), "
                    "i -> replace(substring(w2, i, 2), chr(1), merge1))"
                )
            ).alias("pair"),
        )
        .groupBy("merge1", "pair")
        .agg(F.sum("cnt").alias("n_occurrences"))
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.desc("n_occurrences"), "pair"))
            .cast("int"),
        )
        .filter(F.col("rank") <= 20)
        .select("merge1", "pair", "n_occurrences", "rank")
    )


def _sql_bpe_second() -> str:
    return f"""
WITH wc AS (
  SELECT w, COUNT(*) AS cnt
  FROM (SELECT unnest({SQL_TOKS}) AS w FROM documents)
  GROUP BY 1
),
first AS (
  SELECT pair AS merge1 FROM (
    SELECT u.pair, SUM(cnt) AS n,
           row_number() OVER (ORDER BY SUM(cnt) DESC, u.pair) AS rn
    FROM wc, unnest(list_transform(generate_series(1, length(w) - 1),
                    i -> substring(w, i, 2))) u(pair)
    WHERE length(w) >= 2
    GROUP BY u.pair
  ) WHERE rn = 1
),
merged AS (
  SELECT cnt, merge1, replace(w, merge1, chr(1)) AS w2
  FROM wc CROSS JOIN first
),
second AS (
  SELECT merge1, u.pair, CAST(SUM(cnt) AS BIGINT) AS n_occurrences
  FROM (SELECT cnt, merge1,
               list_transform(generate_series(1, length(w2) - 1),
                 i -> replace(substring(w2, i, 2), chr(1), merge1)) AS ps
        FROM merged WHERE length(w2) >= 2) m, unnest(ps) u(pair)
  GROUP BY 1, 2
)
SELECT merge1, pair, n_occurrences,
       CAST(row_number() OVER (ORDER BY n_occurrences DESC, pair) AS INTEGER)
         AS rank
FROM second
QUALIFY rank <= 20
"""


# --- session path transitions -----------------------------------------------
def q_path_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey transition matrix: within each 30-minute-gap
    session (same construction as sessionize_gap30m), count each
    consecutive event_type pair and report P(next | current) as an
    exact rational — the first-order Markov model behind funnel/journey
    analysis. One window shuffle on the user key builds sessions AND
    the lag pairs; the transition aggregate is |types|²-bounded. The
    probability is exact-int n_pair over exact-int n_from with one
    double division — hash-exact."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sess = (
        ev.withColumn(
            "new_s",
            F.when(
                F.lag("ts").over(w).isNull()
                | (
                    F.col("ts").cast("long")
                    - F.lag("ts").over(w).cast("long")
                    > 1800
                ),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "sid",
            F.sum("new_s").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    w2 = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    pairs = sess.select(
        F.lag("event_type").over(w2).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).filter(F.col("from_type").isNotNull())
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_pair")
    )
    froms = counts.groupBy("from_type").agg(F.sum("n_pair").alias("n_from"))
    return counts.join(F.broadcast(froms), "from_type").select(
        "from_type",
        "to_type",
        "n_pair",
        "n_from",
        (F.col("n_pair") / F.col("n_from").cast("double")).alias("p_next"),
    )


SQL_PATH_TRANSITIONS = """
WITH s AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(CASE WHEN prev_ts IS NULL
                       OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(prev_ts)) AS BIGINT) > 1800
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS sid
  FROM (
    SELECT user_id, ts, event_id, event_type,
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS prev_ts
    FROM events
  )
),
pairs AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id, sid
                               ORDER BY ts, event_id) AS from_type,
         event_type AS to_type
  FROM s
),
counts AS (
  SELECT from_type, to_type, COUNT(*) AS n_pair
  FROM pairs WHERE from_type IS NOT NULL
  GROUP BY 1, 2
),
froms AS (
  SELECT from_type, CAST(SUM(n_pair) AS BIGINT) AS n_from
  FROM counts GROUP BY 1
)
SELECT c.from_type, c.to_type, c.n_pair, f.n_from,
       c.n_pair / CAST(f.n_from AS DOUBLE) AS p_next
FROM counts c JOIN froms f ON f.from_type = c.from_type
"""


# --- golden-record survivorship merge ---------------------------------------
def q_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MDM-style survivorship: merge every near-dup cluster into ONE
    canonical record with explicit field-wise rules — the step after
    dedup clustering that master-data pipelines ship. Rules (each a
    deterministic aggregate over the cluster): surviving doc_id = the
    longest text's id (ties → min id, via min_by on an (-len, id)
    struct), canonical text digest = that survivor's md5, provenance =
    sorted distinct sources and langs, n_members. Composes the
    already-oracled connected components; per-cluster work is one
    groupBy over cluster-bounded rows. Domain note: dedup_clusters
    covers only documents that appear in a verified near-dup pair, so
    this emits one golden record per MERGED cluster; untouched
    singletons need no merge — a full pass unions them back as
    identity records (one anti-join)."""
    from lab04_spark_streaming_spark.plans.llm import q_dedup_clusters

    comp = q_dedup_clusters(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", F.length("text").alias("_len"),
        F.md5("text").alias("_digest"),
    )
    return (
        comp.join(docs, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.expr(
                "min_by(doc_id, struct(-_len as a, doc_id as b))"
            ).alias("survivor_id"),
            F.expr(
                "min_by(_digest, struct(-_len as a, doc_id as b))"
            ).alias("survivor_digest"),
            F.max("_len").alias("max_len"),
            F.array_join(
                F.array_sort(F.collect_set("source")), ","
            ).alias("sources"),
            F.array_join(F.array_sort(F.collect_set("lang")), ",").alias(
                "langs"
            ),
        )
    )


def _sql_golden_records() -> str:
    from lab04_spark_streaming_spark.plans.llm import SQL_DEDUP_CLUSTERS

    return f"""
WITH comp AS (SELECT * FROM ({SQL_DEDUP_CLUSTERS}) t),
d AS (
  SELECT doc_id, source, lang, length(text) AS len, md5(text) AS digest
  FROM documents
),
j AS (
  SELECT c.cluster_id, d.doc_id, d.source, d.lang, d.len, d.digest
  FROM comp c JOIN d ON d.doc_id = c.doc_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY cluster_id
                               ORDER BY len DESC, doc_id) AS rn
  FROM j
)
SELECT r.cluster_id,
       agg.n_members,
       r.doc_id AS survivor_id,
       r.digest AS survivor_digest,
       agg.max_len,
       agg.sources,
       agg.langs
FROM ranked r
JOIN (
  SELECT cluster_id, COUNT(*) AS n_members, MAX(len) AS max_len,
         array_to_string(list_sort(list_distinct(list(source))), ',')
           AS sources,
         array_to_string(list_sort(list_distinct(list(lang))), ',') AS langs
  FROM j GROUP BY 1
) agg ON agg.cluster_id = r.cluster_id
WHERE r.rn = 1
"""


# --- hourly HLL distinct users (streaming-maintainable form) ----------------
# The per-window sketch rollup: 64-register HyperLogLog of distinct
# users per hour, built as 64 CONDITIONAL MAX AGGREGATES — the form
# that matters because max-per-register is algebraic/incremental, so
# the EXACT same body runs as a single stateful streaming aggregation
# (streaming/pipeline.hll_dau_stream) with constant per-window state;
# count_distinct cannot do that. Register hashes are md5-derived (same
# family as plans/corpus.q_hll_distinct), so registers — and the
# estimate — are hash-exact cross-engine AND batch==stream.
_DAU_M = 64


def hll_dau_agg_columns() -> list:
    """The 64 conditional max aggregates over (_bucket, _rho) rows."""
    return [
        F.coalesce(
            F.max(F.when(F.col("_bucket") == i, F.col("_rho"))), F.lit(0)
        ).alias(f"_r{i}")
        for i in range(_DAU_M)
    ]


def hll_dau_prepare(df: DataFrame, user_expr: str) -> DataFrame:
    """Per-row (bucket, rho) projection for the register maxes —
    delegates to the module's one _hll_rows definition (salt 'hllu')."""
    b, r = _hll_rows(user_expr, salt="hllu")
    return df.withColumn("_bucket", b).withColumn("_rho", r)


def hll_dau_estimate_cols() -> list:
    """Estimate projection over the 64 register columns: the exact
    integer-rational harmonic mean (see corpus.q_hll_distinct for the
    determinism argument), emitted as stable-rounded hll_est."""
    m = _DAU_M
    regs = "array(" + ", ".join(f"_r{i}" for i in range(m)) + ")"
    alpha_m2 = 0.709 * m * m
    num = (
        f"aggregate({regs}, cast(0 as bigint), (acc, r) -> acc + "
        f"shiftleft(cast(1 as bigint), cast(array_max({regs}) - r as int)))"
    )
    zeros = f"size(filter({regs}, r -> r = 0))"
    est_raw = (
        f"cast({alpha_m2} as double) * cast(shiftleft(cast(1 as bigint), "
        f"cast(array_max({regs}) as int)) as double) / cast({num} as double)"
    )
    est = (
        f"CASE WHEN ({est_raw}) <= cast(2.5 as double) * {m} AND {zeros} > 0 "
        f"THEN cast({m} as double) * ln(cast({m} as double) / {zeros}) "
        f"ELSE ({est_raw}) END"
    )
    return [
        F.expr(
            f"floor(({est}) * cast(10000.0 as double) + cast(0.5 as double)) "
            "/ cast(10000.0 as double)"
        ).alias("hll_est")
    ]


def q_hll_dau_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("hour", F.col("ts")).alias("hour_start"),
        "user_id",
    )
    regs = (
        hll_dau_prepare(ev, "cast(user_id as string)")
        .groupBy("hour_start")
        .agg(*hll_dau_agg_columns())
    )
    exact = ev.groupBy("hour_start").agg(
        F.count_distinct("user_id").alias("n_exact")
    )
    return (
        regs.select("hour_start", *hll_dau_estimate_cols())
        .join(exact, "hour_start")
        .select(
            "hour_start",
            "n_exact",
            "hll_est",
            (
                F.abs(F.col("hll_est") - F.col("n_exact"))
                / F.col("n_exact").cast("double")
                <= 0.35
            ).alias("within_bound"),
        )
    )


def _sql_hll_dau() -> str:
    m = _DAU_M
    h = "CAST(('0x' || substring(md5('hllu|' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)"
    maxes = ", ".join(
        f"coalesce(MAX(CASE WHEN bucket = {i} THEN rho END), 0) AS r{i}"
        for i in range(m)
    )
    regs = "[" + ", ".join(f"r{i}" for i in range(m)) + "]"
    alpha_m2 = 0.709 * m * m
    return f"""
WITH base AS (
  SELECT date_trunc('hour', ts) AS hour_start, user_id,
         {h} % {m} AS bucket,
         CASE WHEN ({h} // {m}) = 0 THEN 27
              ELSE 27 - length(bin({h} // {m})) END AS rho
  FROM events
),
regs AS (
  SELECT hour_start, {maxes} FROM base GROUP BY hour_start
),
est AS (
  SELECT hour_start,
         list_max({regs}) AS mx,
         CAST(list_sum(list_transform({regs}, r -> 2 ** (list_max({regs}) - r)))
              AS BIGINT) AS num,
         len(list_filter({regs}, r -> r = 0)) AS zeros
  FROM regs
),
vals AS (
  SELECT hour_start,
         CASE WHEN ({alpha_m2} * CAST(2 ** mx AS DOUBLE) / CAST(num AS DOUBLE))
                   <= 2.5 * {m} AND zeros > 0
              THEN CAST({m} AS DOUBLE) * ln(CAST({m} AS DOUBLE) / zeros)
              ELSE {alpha_m2} * CAST(2 ** mx AS DOUBLE) / CAST(num AS DOUBLE)
         END AS est
  FROM est
),
exact AS (
  SELECT date_trunc('hour', ts) AS hour_start,
         COUNT(DISTINCT user_id) AS n_exact
  FROM events GROUP BY 1
)
SELECT v.hour_start, x.n_exact,
       floor(v.est * 10000.0 + 0.5) / 10000.0 AS hll_est,
       abs(floor(v.est * 10000.0 + 0.5) / 10000.0 - x.n_exact)
         / CAST(x.n_exact AS DOUBLE) <= 0.35 AS within_bound
FROM vals v JOIN exact x ON x.hour_start = v.hour_start
"""


# --- incremental SCD-2 maintenance ------------------------------------------
# Incremental view maintenance for the type-2 dimension: given the
# COMPACTED existing dimension (closed intervals + the open current
# row per user — never the raw history events) and a delta of new
# events strictly after the snapshot cutoff, produce the updated
# dimension. The open row is re-seeded into the same gaps-and-islands
# machinery as ONE weighted pseudo-event (weight = its n_events,
# event_id = -1 so it sorts before any real event at the same ts), so
# a leading same-type delta run extends it and a differing delta run
# closes it — and the merged output must equal the FULL recompute
# bit-for-bit, which is exactly what the DuckDB oracle computes.
_SCD2_CUTOFF = "2024-01-16 00:00:00"


def q_scd2_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    cutoff = F.lit(_SCD2_CUTOFF).cast("timestamp")
    # The "existing dimension": SCD-2 over the pre-cutoff events only.
    # (In production this is a stored table; deriving it here keeps the
    # query self-contained without changing the shape being tested.)
    old_dim = pin(_scd2_build(ev.filter(F.col("ts") < cutoff)))
    closed = old_dim.filter(~F.col("is_current"))
    seeds = old_dim.filter(F.col("is_current")).select(
        "user_id",
        F.col("valid_from").alias("ts"),
        F.lit(-1).cast("long").alias("event_id"),
        "event_type",
        F.col("n_events").alias("w"),
    )
    delta = ev.filter(F.col("ts") >= cutoff).select(
        "user_id", "ts", "event_id", "event_type", F.lit(1).alias("w")
    )
    merged = seeds.unionByName(delta)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    runs = (
        merged.withColumn(
            "chg",
            F.when(
                F.lag("event_type").over(w).isNull()
                | (F.lag("event_type").over(w) != F.col("event_type")),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "run",
            F.sum("chg").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "run")
        .agg(
            F.first("event_type").alias("event_type"),
            F.min("ts").alias("valid_from"),
            F.sum("w").alias("n_events"),
        )
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "run")
    updated_tail = runs.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        "n_events",
        F.lead("valid_from").over(w2).isNull().alias("is_current"),
    )
    return closed.unionByName(updated_tail)


def _scd2_build(ev: DataFrame) -> DataFrame:
    """The q_scd2_intervals body over an arbitrary event relation."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    runs = (
        ev.withColumn(
            "chg",
            F.when(
                F.lag("event_type").over(w).isNull()
                | (F.lag("event_type").over(w) != F.col("event_type")),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "run",
            F.sum("chg").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "run")
        .agg(
            F.first("event_type").alias("event_type"),
            F.min("ts").alias("valid_from"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "run")
    return runs.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        "n_events",
        F.lead("valid_from").over(w2).isNull().alias("is_current"),
    )


# Oracle: the FULL recompute — equality IS the incremental-maintenance
# correctness statement.
SQL_SCD2_INCREMENTAL = SQL_SCD2_INTERVALS


# --- PCA top component via power iteration ----------------------------------
# Distributed PCA on the embedding table: the centered covariance
# NUMERATOR matrix G = n·Σxᵢxⱼ − SᵢSⱼ is exact-integer on the 1e-7
# quantization grid (computed in decimal(38,0) — the products exceed
# int64), and three power-iteration steps run with the iterate
# re-quantized to a 1e6 grid between rounds (the kmeans trick: chained
# float iterations would drift cross-engine; quantized iterates make
# every round bit-reproducible). The only data-sized work is the one
# Gram-matrix aggregation (d² output, map-side combine); iterations
# touch d²-row relations with a broadcast d-row iterate. Completes the
# iterative-algorithm family (Lloyd, label propagation, peeling,
# PageRank) with linear algebra.
_PCA_ITERS = 3
_PCA_VSCALE = 1_000_000


def q_pca_power_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lab04_spark_streaming_spark.operators.similarity import _kmeans_pos

    emb = load_table(spark, sf_dir, "embeddings")
    pos = _kmeans_pos(emb, "vec_id", "embedding")
    stats = pos.groupBy("pos").agg(F.sum("x").alias("s"))
    n_rel = pos.agg(
        (F.count(F.lit(1)) / F.count_distinct("pos")).cast("bigint").alias("n")
    )
    a, b = pos.alias("a"), pos.alias("b")
    sumxy = (
        a.join(b, F.col("a.vec_id") == F.col("b.vec_id"))
        .groupBy(F.col("a.pos").alias("i"), F.col("b.pos").alias("j"))
        # per-row product fits int64 (x <= ~1e7) but the SUM does not at
        # ~1e5+ rows; DuckDB's SUM(BIGINT) widens to HUGEINT, Spark's
        # would wrap silently — accumulate in decimal on this side too.
        .agg(
            F.sum(
                F.col("a.x").cast("decimal(38,0)") * F.col("b.x")
            ).alias("sxy")
        )
    )
    gram = pin(
        sumxy.join(
            F.broadcast(stats.select(F.col("pos").alias("i"), F.col("s").alias("si"))),
            "i",
        )
        .join(
            F.broadcast(stats.select(F.col("pos").alias("j"), F.col("s").alias("sj"))),
            "j",
        )
        .crossJoin(F.broadcast(n_rel))
        .select(
            "i",
            "j",
            (
                F.col("n").cast("decimal(38,0)") * F.col("sxy").cast("decimal(38,0)")
                - F.col("si").cast("decimal(38,0)") * F.col("sj").cast("decimal(38,0)")
            ).alias("g"),
        )
    )
    dims = gram.select(F.col("i").alias("pos")).distinct()
    v = dims.select("pos", F.lit(_PCA_VSCALE).cast("long").alias("v"))
    for _ in range(_PCA_ITERS):
        u = (
            gram.join(
                F.broadcast(v.select(F.col("pos").alias("j"), "v")), "j"
            )
            .groupBy("i")
            .agg(F.sum(F.col("g") * F.col("v").cast("decimal(38,0)")).alias("u"))
        )
        mx = u.agg(F.max(F.abs(F.col("u"))).alias("mabs"))
        v = (
            u.crossJoin(F.broadcast(mx))
            .select(
                F.col("i").alias("pos"),
                F.expr(
                    f"cast(floor(cast(u as double) / cast(mabs as double) "
                    f"* {_PCA_VSCALE}.0 + 0.5) as bigint)"
                ).alias("v"),
            )
        )
    return v.select("pos", F.col("v").alias("component_q"))


def _sql_pca() -> str:
    from lab04_spark_streaming_spark.plans.pipeline_extras import (
        _SQL_KMEANS_POS,
    )

    # the shared quantized `pos` CTE (also the first CTE of the kmeans
    # chain). Its positions are 1-based (generate_series) vs
    # _kmeans_pos's 0-based; each engine is internally consistent, so
    # only the final SELECT re-bases.
    pos_cte = _SQL_KMEANS_POS
    rounds = []
    prev = "v0"
    for t in range(1, _PCA_ITERS + 1):
        rounds.append(
            f"""u{t} AS (
  SELECT g.i, SUM(g.g * CAST(p.v AS HUGEINT)) AS u
  FROM gram g JOIN {prev} p ON p.pos = g.j
  GROUP BY g.i
),
v{t} AS (
  SELECT u.i AS pos,
         CAST(floor(CAST(u.u AS DOUBLE)
              / CAST((SELECT MAX(abs(u)) FROM u{t}) AS DOUBLE)
              * {_PCA_VSCALE}.0 + 0.5) AS BIGINT) AS v
  FROM u{t} u
)"""
        )
        prev = f"v{t}"
    return (
        "WITH "
        + pos_cte.strip()
        + f""",
stats AS (SELECT pos, SUM(x) AS s FROM pos GROUP BY pos),
nrel AS (SELECT CAST(COUNT(*) / COUNT(DISTINCT pos) AS BIGINT) AS n FROM pos),
sumxy AS (
  SELECT a.pos AS i, b.pos AS j, SUM(a.x * b.x) AS sxy
  FROM pos a JOIN pos b ON a.vec_id = b.vec_id
  GROUP BY 1, 2
),
gram AS (
  SELECT s.i, s.j,
         CAST(n.n AS HUGEINT) * CAST(s.sxy AS HUGEINT)
           - CAST(x.s AS HUGEINT) * CAST(y.s AS HUGEINT) AS g
  FROM sumxy s
  JOIN stats x ON x.pos = s.i
  JOIN stats y ON y.pos = s.j
  CROSS JOIN nrel n
),
v0 AS (SELECT DISTINCT i AS pos, CAST({_PCA_VSCALE} AS BIGINT) AS v FROM gram),
"""
        + ",\n".join(rounds)
        + f"""
SELECT pos - 1 AS pos, v AS component_q FROM {prev}
"""
    )
