"""Round-7 wave: distribution-drift and composition queries — the
monitoring layer a large training-data pipeline runs ON TOP of the
curation operators (dedup, quality, sampling): per-source unigram KL
drift, behavioral entropy, length-inequality (Theil), embedding
centroid shift per label, market-basket lift, BPE tokenizer APPLY
(the trainer queries' consumer), and a chunk-scanned Pareto skyline.

Cross-engine determinism (registry.py rules):
  * exact integer counts everywhere; fractions of exact integers are
    single double divisions;
  * log-bearing aggregates end in stable_round(4): per-row IEEE terms
    are bit-identical, only the summation-order error (~1e-12
    relative) differs — far below the rounding grain;
  * every rank carries an explicit lexicographic tie-break and ranks
    only orderBy().limit(k) survivors (tests/test_plans.py allowlist).

Scale notes are per-query; the common rules: candidate relations are
key-bounded (vocab, label, chunk, pair-of-basket), scalar totals are
broadcast 1-row relations, and no unpartitioned window ever sees an
unbounded input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lab04_spark_streaming_spark.operators.pinning import pin
from lab04_spark_streaming_spark.functions.guards import (
    sql_stable_round,
    stable_round,
)
from lab04_spark_streaming_spark.operators.textops import (
    SPARK_NORM_H,
    SPARK_TOKS,
    SQL_NORM_H,
    SQL_TOKS,
)
from lab04_spark_streaming_spark.sources.files import load_table


# --- per-source unigram KL drift -------------------------------------------
def q_source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL(P_source || P_corpus) over word unigrams per source — the
    standard domain-drift / contamination monitor for corpus mixes
    (cf. the domain-reweighting literature, e.g. DoReMi, Xie 2023):
    a source whose token distribution diverges from the mix is over-
    or under-represented. Both distributions are exact integer count
    rationals; each term p_s*(log2 p_s − log2 p_c) is one IEEE
    expression per (source, word); the sum is stable_round(4).

    Scale: the (source, word) and (word) relations are vocab-bounded;
    the join key is the word; sources are the output (tiny). Two
    aggregations, no window, nothing unbounded in one task."""
    toks = load_table(spark, sf_dir, "documents").select(
        "source", F.explode(F.expr(SPARK_TOKS)).alias("w")
    )
    # ns / cw / n are all derivable from sw — one tokenize+explode pass,
    # pinned with a lazy checkpoint so the three consumers don't replay
    # it (the jaccard_prefix_join lesson, mining.py).
    sw = pin(
        toks.groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("cs"))
    )
    ns = sw.groupBy("source").agg(F.sum("cs").alias("ns"))
    cw = sw.groupBy("w").agg(F.sum("cs").alias("c"))
    n = cw.agg(F.sum("c").alias("n"))
    ps = F.col("cs").cast("double") / F.col("ns")
    pc = F.col("c").cast("double") / F.col("n")
    return (
        sw.join(ns, "source")
        .join(cw, "w")
        .crossJoin(F.broadcast(n))
        .groupBy("source")
        .agg(
            F.max("ns").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct_words"),
            stable_round(F.sum(ps * (F.log2(ps) - F.log2(pc))), 4).alias(
                "kl_bits"
            ),
        )
    )


SQL_SOURCE_KL = f"""
WITH toks AS (
  SELECT source, unnest({SQL_TOKS}) AS w FROM documents
),
sw AS (SELECT source, w, COUNT(*) AS cs FROM toks GROUP BY 1, 2),
ns AS (SELECT source, CAST(SUM(cs) AS BIGINT) AS ns FROM sw GROUP BY 1),
cw AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY 1),
n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cw)
SELECT sw.source, MAX(ns.ns) AS n_tokens,
       COUNT(*) AS n_distinct_words,
       {sql_stable_round(
           "SUM((CAST(cs AS DOUBLE) / ns) * (log2(CAST(cs AS DOUBLE) / ns)"
           " - log2(CAST(c AS DOUBLE) / n)))", 4)} AS kl_bits
FROM sw
JOIN ns ON sw.source = ns.source
JOIN cw ON sw.w = cw.w
CROSS JOIN n
GROUP BY 1
"""


# --- per-user behavioral entropy -------------------------------------------
def q_user_event_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type distribution — the
    bot/monoculture detector (a user who only ever fires one event
    type has entropy 0). Counts are exact; each −p·log2 p term is one
    IEEE expression over an exact rational; |event_type|-bounded term
    count per user, stable_round(4). One shuffle on (user, type), one
    on user."""
    ev = load_table(spark, sf_dir, "events")
    ut = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    p = F.col("c").cast("double") / F.col("n")
    return (
        ut.withColumn(
            "n", F.sum("c").over(Window.partitionBy("user_id"))
        )
        .groupBy("user_id")
        .agg(
            F.max("n").alias("n_events"),
            F.count(F.lit(1)).alias("n_types"),
            stable_round(-F.sum(p * F.log2(p)), 4).alias("entropy_bits"),
        )
    )


SQL_USER_EVENT_ENTROPY = f"""
WITH ut AS (
  SELECT user_id, event_type, COUNT(*) AS c FROM events GROUP BY 1, 2
),
w AS (
  SELECT user_id, c,
         CAST(SUM(c) OVER (PARTITION BY user_id) AS BIGINT) AS n
  FROM ut
)
SELECT user_id, MAX(n) AS n_events, COUNT(*) AS n_types,
       {sql_stable_round(
           "-SUM((CAST(c AS DOUBLE) / n) * log2(CAST(c AS DOUBLE) / n))", 4
       )} AS entropy_bits
FROM w GROUP BY 1
"""


# --- length inequality (Theil index) per source ----------------------------
def q_length_theil_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of document lengths per source — the
    decomposable inequality measure (Theil 1967): T = (1/n) Σ
    (x_i/μ)·ln(x_i/μ). Unlike Gini it needs NO within-group rank —
    it is a plain per-row term + group aggregate, so it parallelizes
    with zero windows (the reason it beats Gini at 100 TB). μ is the
    exact rational sum/n; each term is one IEEE expression; an empty
    document contributes the limit term 0 explicitly — x·ln(x) → 0 —
    because DuckDB's ln(0) is a hard error while Spark's returns NULL
    (silently dropping the row); stable_round(4)."""
    d = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    tot = d.groupBy("source").agg(
        F.sum("n_chars").alias("s"), F.count(F.lit(1)).alias("n")
    )
    ratio = (F.col("n_chars").cast("double") * F.col("n")) / F.col("s")
    term = F.when(F.col("n_chars") == 0, F.lit(0.0)).otherwise(
        ratio * F.log(ratio)
    )
    return (
        d.join(tot, "source")
        .groupBy("source")
        .agg(
            F.max("n").alias("n_docs"),
            F.max("s").alias("total_chars"),
            stable_round(F.sum(term) / F.max("n"), 4).alias("theil_t"),
        )
    )


SQL_LENGTH_THEIL = f"""
WITH tot AS (
  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS s, COUNT(*) AS n
  FROM documents GROUP BY 1
)
SELECT d.source, MAX(t.n) AS n_docs, MAX(t.s) AS total_chars,
       {sql_stable_round(
           "SUM(CASE WHEN n_chars = 0 THEN 0.0"
           " ELSE ((CAST(n_chars AS DOUBLE) * n) / s)"
           " * ln((CAST(n_chars AS DOUBLE) * n) / s) END) / MAX(n)", 4
       )} AS theil_t
FROM documents d JOIN tot t ON d.source = t.source
GROUP BY 1
"""


# --- market-basket lift over orders ----------------------------------------
_LIFT_TOPK = 20


def q_copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 co-purchased part pairs by support, with lift — classic
    market-basket association over the order/lineitem star (Agrawal &
    Srikant 1994). Basket = distinct parts of one order (TPC-H basket
    size ≤ ~13, so the within-order pair fan-out is ≤ C(13,2)·orders —
    row-bounded, never vocab²). lift = (n_pair·n_orders)/(n_a·n_b) as
    a single division of exact integers. Marginals join back by part
    key (part-bounded relation, no broadcast hint — AQE decides); the
    global top-k is orderBy+limit (TakeOrderedAndProject), rank only
    over the 20 survivors."""
    # r14 opt round (guide §2.4 — remove shuffles outright): the
    # basket relation is now ONE row per order holding its sorted
    # distinct part array (collect_set dedups within the order, so the
    # separate DISTINCT exchange disappears), and the within-order pair
    # fan-out is an array comprehension over that row instead of a
    # basket⋈basket self-join — which needed a second full shuffle of
    # the basket relation onto l_orderkey plus a join probe per
    # (order × width²).  Shuffles on the row-proportional relation:
    # was scan→distinct + join re-shuffle; now ONE groupBy(l_orderkey)
    # with map-side partial collect_set.  The comprehension runs
    # post-shuffle across all reduce partitions, and its width is the
    # basket bound (≤ ~13 for TPC-H), so the interpreted HOF cost is
    # C(13,2) structs/order worst case.  n_orders falls out as a plain
    # count of the pinned rows (no distinct pass).  Same pairs, same
    # marginals, same oracle — re-proven vs DuckDB after the rewrite.
    basket = pin(
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("_parts"))
    )
    n_orders = basket.agg(F.count(F.lit(1)).alias("n_orders"))
    marg = (
        basket.select(F.explode("_parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    _pair_structs = (
        "flatten(transform(_parts, (x, i) -> "
        "transform(slice(_parts, i + 2, size(_parts) - i - 1), "
        "y -> struct(x as p1, y as p2))))"
    )
    pairs = (
        basket.select(F.explode(F.expr(_pair_structs)).alias("_pr"))
        .groupBy(
            F.col("_pr.p1").alias("p1"),
            F.col("_pr.p2").alias("p2"),
        )
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    top = (
        pairs.orderBy(F.desc("n_pair"), "p1", "p2")
        .limit(_LIFT_TOPK)
        .join(marg.select(F.col("l_partkey").alias("p1"), F.col("m").alias("m1")), "p1")
        .join(marg.select(F.col("l_partkey").alias("p2"), F.col("m").alias("m2")), "p2")
        .crossJoin(F.broadcast(n_orders))
    )
    rk = F.row_number().over(Window.orderBy(F.desc("n_pair"), "p1", "p2"))
    return top.select(
        "p1",
        "p2",
        "n_pair",
        "m1",
        "m2",
        (
            (F.col("n_pair") * F.col("n_orders")).cast("double")
            / (F.col("m1") * F.col("m2"))
        ).alias("lift"),
        rk.cast("int").alias("rank"),
    )


SQL_COPURCHASE_LIFT = f"""
WITH basket AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM basket),
marg AS (SELECT l_partkey, COUNT(*) AS m FROM basket GROUP BY 1),
pairs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS n_pair
  FROM basket a JOIN basket b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
),
top AS (
  SELECT p1, p2, n_pair,
         CAST(row_number() OVER (ORDER BY n_pair DESC, p1, p2) AS INTEGER)
           AS rank
  FROM pairs
  ORDER BY n_pair DESC, p1, p2 LIMIT {_LIFT_TOPK}
)
SELECT t.p1, t.p2, t.n_pair, m1.m AS m1, m2.m AS m2,
       CAST(t.n_pair * n.n_orders AS DOUBLE) / (m1.m * m2.m) AS lift,
       t.rank
FROM top t
JOIN marg m1 ON m1.l_partkey = t.p1
JOIN marg m2 ON m2.l_partkey = t.p2
CROSS JOIN n
"""


# --- BPE tokenizer APPLY ----------------------------------------------------
def q_bpe_encode_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Applies the two learned BPE merges (the trainer loop that
    bpe_pair_counts / bpe_second_merge oracle) to every document and
    reports the per-doc token count before/after + compression ratio —
    the consumer end of the tokenizer-training pipeline. Merges are
    learned on the word-count relation in MARKER space (merged symbol
    = chr(1), then chr(2)); greedy leftmost non-overlapping
    application ≡ string replace() in both engines. Per-word encoded
    lengths live on the vocab-bounded word relation; documents join
    to it by word (one explode + one vocab join + one doc aggregate).
    Pure integers + one division — hash-exact."""
    # ONE tokenize+explode pass feeds both the trainer (word counts)
    # and the per-doc encode join — pinned with a lazy checkpoint.
    toks = pin(
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.expr(SPARK_TOKS)).alias("w"))
    )
    wc = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))

    def top_pair(words, col):  # marker-space top pair of column `col`
        return (
            words.filter(F.length(col) >= 2)
            .select(
                "cnt",
                F.explode(
                    F.expr(
                        f"transform(sequence(1, length({col}) - 1), "
                        f"i -> substring({col}, i, 2))"
                    )
                ).alias("pair"),
            )
            .groupBy("pair")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.desc("n"), "pair")
            .limit(1)
            .select("pair")
        )

    # .agg(min) turns the 0-or-1-row top pair into EXACTLY one row
    # (NULL when the corpus has no 2-char word at all): a crossJoin
    # with an empty relation would silently drop every document, while
    # the DuckDB scalar subquery yields NULL — with the 1-row NULL
    # both engines agree (replace/length propagate NULL identically).
    m1 = top_pair(wc, "w").agg(F.min("pair").alias("m1"))
    enc1 = wc.crossJoin(F.broadcast(m1)).select(
        "w", "cnt", "m1", F.expr("replace(w, m1, chr(1))").alias("w2")
    )
    m2 = top_pair(enc1, "w2").agg(F.min("pair").alias("m2"))
    enc2 = enc1.crossJoin(F.broadcast(m2)).select(
        "w", F.expr("replace(w2, m2, chr(2))").alias("w3")
    )
    per_doc = (
        toks.join(enc2, "w")
        .groupBy("doc_id")
        .agg(
            F.sum(F.length("w")).alias("n_units_char"),
            F.sum(F.length("w3")).alias("n_units_bpe2"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_units_char",
        "n_units_bpe2",
        (
            F.col("n_units_char").cast("double") / F.col("n_units_bpe2")
        ).alias("compression"),
    )


SQL_BPE_ENCODE_APPLY = f"""
WITH wc AS (
  SELECT w, COUNT(*) AS cnt
  FROM (SELECT unnest({SQL_TOKS}) AS w FROM documents)
  GROUP BY 1
),
m1 AS (
  SELECT pair FROM (
    SELECT u.pair, SUM(cnt) AS n
    FROM (SELECT cnt, list_transform(generate_series(1, length(w) - 1),
                 i -> substring(w, i, 2)) AS ps
          FROM wc WHERE length(w) >= 2) t, unnest(ps) u(pair)
    GROUP BY 1
  ) ORDER BY n DESC, pair LIMIT 1
),
enc1 AS (
  SELECT w, cnt, replace(w, (SELECT pair FROM m1), chr(1)) AS w2 FROM wc
),
m2 AS (
  SELECT pair FROM (
    SELECT u.pair, SUM(cnt) AS n
    FROM (SELECT cnt, list_transform(generate_series(1, length(w2) - 1),
                 i -> substring(w2, i, 2)) AS ps
          FROM enc1 WHERE length(w2) >= 2) t, unnest(ps) u(pair)
    GROUP BY 1
  ) ORDER BY n DESC, pair LIMIT 1
),
enc2 AS (
  SELECT w, replace(w2, (SELECT pair FROM m2), chr(2)) AS w3 FROM enc1
),
toks AS (SELECT doc_id, unnest({SQL_TOKS}) AS w FROM documents)
SELECT t.doc_id,
       CAST(SUM(length(t.w)) AS BIGINT) AS n_units_char,
       CAST(SUM(length(e.w3)) AS BIGINT) AS n_units_bpe2,
       CAST(SUM(length(t.w)) AS DOUBLE)
         / CAST(SUM(length(e.w3)) AS BIGINT) AS compression
FROM toks t JOIN enc2 e ON t.w = e.w
GROUP BY 1
"""


# --- embedding centroid shift per label ------------------------------------
_GRID = "10000000.0"  # the repo-wide 1e-7 embedding grid (similarity.py)


def q_embedding_centroid_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid distance² to the global centroid — the
    cluster-drift monitor over an embedding table (is one label's
    region collapsing toward the mean?). Components are quantized to
    the repo-wide 1e-7 integer grid, per-(label, dim) sums are exact
    integers (|q| ≤ 1e7 · n — far from 2^63), each per-dim centroid
    is ONE exact division, and the 64-term d² sum is stable_round(4)
    (order error ~1e-12 « grain). The (label, dim) relation is
    |labels|·dim-bounded; the global centroid is a broadcast dim-row
    relation."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "label",
        F.posexplode(
            F.expr(
                f"transform(embedding, x -> cast(floor(cast(x as double)"
                f" * {_GRID} + 0.5) as bigint))"
            )
        ).alias("dim", "qv"),
    )
    per_label = q.groupBy("label", "dim").agg(
        F.sum("qv").alias("sq"), F.count(F.lit(1)).alias("nl")
    )
    glob = q.groupBy("dim").agg(
        F.sum("qv").alias("g"), F.count(F.lit(1)).alias("n")
    )
    d = (F.col("sq").cast("double") / F.col("nl")) - (
        F.col("g").cast("double") / F.col("n")
    )
    return (
        per_label.join(glob, "dim")
        .groupBy("label")
        .agg(
            F.max("nl").alias("n_vecs"),
            stable_round(
                F.sum(d * d) / F.lit(float(_GRID)) / F.lit(float(_GRID)), 4
            ).alias("l2sq_shift"),
        )
    )


SQL_EMBEDDING_CENTROID_SHIFT = f"""
WITH q AS (
  SELECT label, u.pos AS dim,
         CAST(floor(CAST(embedding[u.pos] AS DOUBLE) * {_GRID} + 0.5)
              AS BIGINT) AS qv
  FROM embeddings, unnest(generate_series(1, len(embedding))) u(pos)
),
per_label AS (
  SELECT label, dim, CAST(SUM(qv) AS BIGINT) AS sq, COUNT(*) AS nl
  FROM q GROUP BY 1, 2
),
gl AS (
  SELECT dim, CAST(SUM(qv) AS BIGINT) AS g, COUNT(*) AS n
  FROM q GROUP BY 1
)
SELECT p.label, MAX(p.nl) AS n_vecs,
       {sql_stable_round(
           "SUM((CAST(sq AS DOUBLE) / nl - CAST(g AS DOUBLE) / n)"
           " * (CAST(sq AS DOUBLE) / nl - CAST(g AS DOUBLE) / n))"
           f" / {_GRID} / {_GRID}", 4
       )} AS l2sq_shift
FROM per_label p JOIN gl ON p.dim = gl.dim
GROUP BY 1
"""


# --- chunk-scanned 2D Pareto skyline ---------------------------------------
def q_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2D Pareto frontier of parts (minimize p_retailprice, maximize
    p_size) — the skyline operator (Börzsönyi 2001). A part is
    dominated iff a strictly cheaper part has ≥ its size, or an
    equal-priced part has > its size. The classic single-sort cummax
    would be one unpartitioned running window over all parts; instead
    the scan is CHUNKED on the (fixed-domain) price axis: per-chunk
    price-group maxima roll up to a chunk-carry relation (n_chunks
    rows — the only unpartitioned window, bounded by the price
    domain / chunk width, broadcast back), and the within-chunk
    running max runs over each chunk's DISTINCT-price groups
    (domain-bounded: prices are cents-quantized). All comparisons are
    exact (double pass-through + ints) — hash-exact."""
    parts = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_retailprice").alias("price"),
        F.col("p_size").alias("size"),
    )
    chunked = parts.withColumn("chunk", F.floor(F.col("price")))
    pg = chunked.groupBy("chunk", "price").agg(
        F.max("size").alias("pmax")
    )
    # chunk carries: max size over all chunks strictly below — the one
    # unpartitioned window, over the n_chunks-row relation.
    carries = (
        pg.groupBy("chunk")
        .agg(F.max("pmax").alias("cmax"))
        .withColumn(
            "carry",
            F.max("cmax").over(
                Window.orderBy("chunk").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
        )
        .select("chunk", "carry")
    )
    # within-chunk running max over the distinct-price groups,
    # EXCLUDING the current price group (strictly cheaper only).
    run = pg.withColumn(
        "wmax",
        F.max("pmax").over(
            Window.partitionBy("chunk")
            .orderBy("price")
            .rowsBetween(Window.unboundedPreceding, -1)
        ),
    )
    bounds = (
        run.join(F.broadcast(carries), "chunk")
        .select(
            "price",
            "pmax",
            # greatest() skips NULLs (NULL only when BOTH are NULL), so
            # "no cheaper price group exists" stays NULL instead of a
            # -1 sentinel that would misclassify size <= -1 domains.
            F.greatest(F.col("wmax"), F.col("carry")).alias(
                "cheaper_max"
            ),
        )
    )
    return (
        chunked.join(bounds, "price")
        .filter(
            (
                F.col("cheaper_max").isNull()
                | (F.col("size") > F.col("cheaper_max"))
            )
            & (F.col("size") == F.col("pmax"))
        )
        .select("p_partkey", "price", "size")
    )


SQL_SKYLINE_PARETO = """
SELECT p_partkey, p_retailprice AS price, p_size AS size
FROM part a
WHERE NOT EXISTS (
  SELECT 1 FROM part b
  WHERE (b.p_retailprice < a.p_retailprice AND b.p_size >= a.p_size)
     OR (b.p_retailprice = a.p_retailprice AND b.p_size > a.p_size)
)
"""


# --- cross-source duplication matrix ---------------------------------------
def q_cross_source_duplication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source exact-duplication matrix — which source PAIRS share
    normalized content (mirror sites, syndication, scraper overlap):
    for every unordered source pair, how many distinct digests appear
    in both. The digest→source-set relation is digest-keyed (only
    32-char digests + source strings shuffle, never text), each
    digest fans out to its |sources(d)|²-bounded pairs (|sources| ≤ 20
    here; capped by the source catalog at any scale, never by corpus
    size). Exact integers, deterministic."""
    ds = (
        load_table(spark, sf_dir, "documents")
        .select("source", F.expr(SPARK_NORM_H).alias("digest"))
        .distinct()
    )
    return (
        ds.alias("a")
        .join(ds.alias("b"), "digest")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_digests"))
    )


SQL_CROSS_SOURCE_DUPLICATION = f"""
WITH ds AS (
  SELECT DISTINCT source, {SQL_NORM_H} AS digest FROM documents
)
SELECT a.source AS source_a, b.source AS source_b,
       COUNT(*) AS n_shared_digests
FROM ds a JOIN ds b ON a.digest = b.digest AND a.source < b.source
GROUP BY 1, 2
"""


# --- vocabulary novelty between snapshots -----------------------------------
def q_vocab_novelty_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary drift between crawl snapshots — the question every
    recurring ingest asks before retraining a tokenizer: of the
    incoming snapshot's tokens, what fraction (by type and by volume)
    was never seen in the base corpus? Snapshots split
    deterministically by doc_id parity (the dedup_incremental
    convention, so the oracle sees the same halves). The base
    vocabulary is a token-keyed relation probed with a LEFT ANTI join
    (vocab-bounded shuffle, no broadcast hint — AQE decides). Exact
    integers + single divisions."""
    # ONE tokenize pass for both snapshot halves (lazy checkpoint).
    toks = pin(
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.expr(SPARK_TOKS)).alias("w"))
    )
    base_vocab = (
        toks.filter(F.col("doc_id") % 2 == 0).select("w").distinct()
    )
    inc = toks.filter(F.col("doc_id") % 2 == 1).groupBy("w").agg(
        F.count(F.lit(1)).alias("c")
    )
    novel = inc.join(base_vocab, "w", "left_anti")
    tot = inc.agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("c").alias("n_tokens"),
    )
    nov = novel.agg(
        F.count(F.lit(1)).alias("n_novel_types"),
        F.coalesce(F.sum("c"), F.lit(0)).alias("n_novel_tokens"),
    )
    return (
        tot.crossJoin(F.broadcast(nov))
        .select(
            "n_types",
            "n_novel_types",
            "n_tokens",
            "n_novel_tokens",
            # guard the empty incoming snapshot (n_types = 0): ANSI
            # Spark hard-errors on /0 where DuckDB nulls — emit NULL
            # explicitly in both engines. (n_tokens is NULL, not 0,
            # when empty, so its division nulls on its own.)
            F.when(F.col("n_types") == 0, F.lit(None).cast("double"))
            .otherwise(
                F.col("n_novel_types").cast("double") / F.col("n_types")
            )
            .alias("type_novelty"),
            (
                F.col("n_novel_tokens").cast("double") / F.col("n_tokens")
            ).alias("token_novelty"),
        )
    )


SQL_VOCAB_NOVELTY = f"""
WITH toks AS (
  SELECT doc_id, unnest({SQL_TOKS}) AS w FROM documents
),
base_vocab AS (
  SELECT DISTINCT w FROM toks WHERE doc_id % 2 = 0
),
inc AS (
  SELECT w, COUNT(*) AS c FROM toks WHERE doc_id % 2 = 1 GROUP BY 1
),
novel AS (
  SELECT i.w, i.c FROM inc i LEFT JOIN base_vocab b ON i.w = b.w
  WHERE b.w IS NULL
),
tot AS (
  SELECT COUNT(*) AS n_types, CAST(SUM(c) AS BIGINT) AS n_tokens FROM inc
),
nov AS (
  SELECT COUNT(*) AS n_novel_types,
         CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_novel_tokens
  FROM novel
)
SELECT t.n_types, n.n_novel_types, t.n_tokens, n.n_novel_tokens,
       CASE WHEN t.n_types = 0 THEN NULL
            ELSE CAST(n.n_novel_types AS DOUBLE) / t.n_types END
         AS type_novelty,
       CAST(n.n_novel_tokens AS DOUBLE) / t.n_tokens AS token_novelty
FROM tot t CROSS JOIN nov n
"""


# --- incremental aggregate (rollup) maintenance -----------------------------
# Deliberately OFF the hour boundary: hour 2024-01-16 00:xx straddles
# the cutoff, so its (hour, event_type) groups appear in BOTH the base
# and the delta and the full-outer moment-ADD merge path is exercised
# by the oracle parity itself (an hour-aligned cutoff made that path
# dead code — every group was a disjoint union).
_ROLLUP_CUTOFF = "2024-01-16 00:30:00"


def q_stats_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for an hourly stats rollup — the
    don't-recompute-the-world pattern every 100 TB pipeline needs for
    its derived tables: the pre-cutoff BASE rollup and the post-cutoff
    DELTA are aggregated separately to algebraic moments (count /
    decimal sum / decimal sum-of-squares — order-independent, exactly
    mergeable), full-outer merged on the group key by ADDING moments,
    and only then finalized to avg/std. The oracle is the FULL
    recompute over all events with the same exact-moment formulas
    (functions/guards.exact_avg/std), so the hash match IS the
    base+delta == recompute proof. At scale the base moments live in a
    stored table and only the delta is scanned; here both halves come
    from one fixture split at the cutoff."""
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        "event_type",
        "value",
        "ts",
    )

    def moments(df: DataFrame) -> DataFrame:
        return df.groupBy("hour", "event_type").agg(
            F.count("value").alias("n"),
            F.sum(F.col("value").cast("decimal(30,4)")).alias("s"),
            F.sum(
                (F.col("value") * F.col("value")).cast("decimal(30,8)")
            ).alias("sq"),
        )

    base = moments(ev.filter(F.col("ts") < _ROLLUP_CUTOFF)).select(
        "hour",
        "event_type",
        F.col("n").alias("bn"),
        F.col("s").alias("bs"),
        F.col("sq").alias("bsq"),
    )
    delta = moments(ev.filter(F.col("ts") >= _ROLLUP_CUTOFF)).select(
        "hour",
        "event_type",
        F.col("n").alias("dn"),
        F.col("s").alias("ds"),
        F.col("sq").alias("dsq"),
    )
    zero4 = F.lit(0).cast("decimal(30,4)")
    zero8 = F.lit(0).cast("decimal(30,8)")
    merged = base.join(delta, ["hour", "event_type"], "full_outer").select(
        "hour",
        "event_type",
        (F.coalesce("bn", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias("n"),
        (F.coalesce(F.col("bs"), zero4) + F.coalesce(F.col("ds"), zero4))
        .cast("double")
        .alias("_s"),
        (F.coalesce(F.col("bsq"), zero8) + F.coalesce(F.col("dsq"), zero8))
        .cast("double")
        .alias("_sq"),
    )
    var = (F.col("_sq") - F.col("_s") * F.col("_s") / F.col("n")) / (
        F.col("n") - F.lit(1)
    )
    return merged.select(
        "hour",
        "event_type",
        "n",
        F.when(F.col("n") == 0, F.lit(0.0))
        .otherwise(F.col("_s") / F.col("n"))
        .alias("avg_value"),
        F.when(F.col("n") <= 1, F.lit(0.0))
        .otherwise(F.sqrt(F.greatest(var, F.lit(0.0))))
        .alias("std_value"),
    )


from lab04_spark_streaming_spark.functions.guards import (  # noqa: E402
    sql_exact_avg,
    sql_exact_std,
)

SQL_STATS_ROLLUP_INCREMENTAL = f"""
SELECT date_trunc('hour', ts) AS hour, event_type,
       COUNT(value) AS n,
       {sql_exact_avg('value')} AS avg_value,
       {sql_exact_std('value')} AS std_value
FROM events
GROUP BY 1, 2
"""


def specs():
    from lab04_spark_streaming_spark.registry import QuerySpec

    return [
        QuerySpec("source_kl_divergence", q_source_kl_divergence, SQL_SOURCE_KL),
        QuerySpec(
            "user_event_entropy", q_user_event_entropy, SQL_USER_EVENT_ENTROPY
        ),
        QuerySpec(
            "length_theil_by_source",
            q_length_theil_by_source,
            SQL_LENGTH_THEIL,
        ),
        QuerySpec("copurchase_lift", q_copurchase_lift, SQL_COPURCHASE_LIFT),
        QuerySpec("bpe_encode_apply", q_bpe_encode_apply, SQL_BPE_ENCODE_APPLY),
        QuerySpec(
            "embedding_centroid_shift",
            q_embedding_centroid_shift,
            SQL_EMBEDDING_CENTROID_SHIFT,
        ),
        QuerySpec("skyline_pareto", q_skyline_pareto, SQL_SKYLINE_PARETO),
        QuerySpec(
            "cross_source_duplication",
            q_cross_source_duplication,
            SQL_CROSS_SOURCE_DUPLICATION,
        ),
        QuerySpec(
            "vocab_novelty_snapshot",
            q_vocab_novelty_snapshot,
            SQL_VOCAB_NOVELTY,
        ),
        QuerySpec(
            "stats_rollup_incremental",
            q_stats_rollup_incremental,
            SQL_STATS_ROLLUP_INCREMENTAL,
        ),
    ]
