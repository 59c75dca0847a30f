"""Round-18 wave (built in driver round 9): forecast/eval/audit
completions — Croston's intermittent-demand forecast (beside Holt and
the seasonal-naive backtest), held-out bigram perplexity with an
explicit OOV bucket (the train/test discipline the in-sample bigram
LM of plans/mining lacks), a fairness parity audit of the
length-based relevance classifier (beside its calibration ECE), and
PQ reconstruction distortion (the quality number for the pq_codes /
ADC index family).

House determinism rules throughout: counts/distances are exact
BIGINTs, recursions use exact binary-rational smoothing constants
(identical IEEE expression order in Python, Spark and DuckDB),
log/pow only inside decimal-cast or display-rounded terms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lab04_spark_streaming_spark.operators.pinning import pin
from lab04_spark_streaming_spark.operators.splits import restore_splits
from lab04_spark_streaming_spark.functions.guards import (
    sql_stable_round,
    stable_round,
)
from lab04_spark_streaming_spark.operators.textops import (
    SPARK_TOKS,
    SQL_TOKS,
)
from lab04_spark_streaming_spark.sources.files import load_table


# --- Croston intermittent-demand forecast ---------------------------------------
_CROSTON_MIN_DAYS = 3


def q_croston_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method for intermittent demand (Croston 1972,
    public) — the inventory-forecasting standard for series that are
    mostly zero, which per-part order demand is: smooth the nonzero
    demand SIZES and the INTER-ARRIVAL intervals separately
    (z_k = ½q_k + ½z_{{k−1}}, p_k = ½i_k + ½p_{{k−1}}, z₁ = q₁,
    p₁ = 1) and forecast demand-per-day as z/p. The recursion is a
    LEFT FOLD over each part's date-sorted demand series, so it runs
    as a pure-JVM higher-order ``aggregate()`` over a
    collect_list/array_sort — zero Python, inside codegen (an
    applyInPandas draft measured 19 s at sf0.1 from 20k per-group
    Python calls; the fold is ~1 s). α = ½ is an exact binary
    rational and the fold, like the oracle's RECURSIVE CTE, applies
    the identical IEEE expression in the identical order, so the
    smoothed states are bit-identical. Parts with ≥ {m} demand days
    only; demand sizes are exact integer quantities.

    Scale: daily demand aggregates shuffle on (part, day); the fold
    is per-row work over arrays bounded by the calendar (the zero
    days never materialize, which is Croston's whole point)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("pk"),
        F.col("l_orderkey").alias("ok"),
        F.col("l_quantity").alias("qty"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"),
        F.to_date("o_orderdate").alias("day"),
    )
    demand = (
        li.join(orders, "ok")
        .groupBy("pk", "day")
        .agg(
            F.floor(F.sum("qty") + F.lit(0.5)).cast("bigint").alias("q")
        )
    )
    series = (
        demand.groupBy("pk")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("day", "q"))
            ).alias("s")
        )
        .filter(F.size("s") >= _CROSTON_MIN_DAYS)
    )
    rec = series.select(
        "pk",
        F.size("s").cast("bigint").alias("n_demand_days"),
        F.expr(
            "aggregate("
            "  slice(s, 2, size(s) - 1),"
            "  struct(cast(element_at(s, 1).q as double) as z,"
            "         cast(1.0 as double) as p,"
            "         element_at(s, 1).day as d),"
            "  (acc, e) -> struct("
            "    0.5 * cast(e.q as double) + 0.5 * acc.z,"
            "    0.5 * cast(datediff(e.day, acc.d) as double)"
            "      + 0.5 * acc.p,"
            "    e.day))"
        ).alias("st"),
    )
    return rec.select(
        F.col("pk").alias("p_partkey"),
        "n_demand_days",
        stable_round(F.col("st.z"), 6).alias("demand_size"),
        stable_round(F.col("st.p"), 6).alias("demand_interval"),
        stable_round(F.col("st.z") / F.col("st.p"), 6).alias(
            "forecast_per_day"
        ),
    )


q_croston_forecast.__doc__ = q_croston_forecast.__doc__.format(
    m=_CROSTON_MIN_DAYS
)


SQL_CROSTON_FORECAST = f"""
WITH RECURSIVE demand AS MATERIALIZED (
  SELECT pk, day, q,
         CAST(ROW_NUMBER() OVER (PARTITION BY pk ORDER BY day) AS BIGINT)
           AS k,
         CAST(COUNT(*) OVER (PARTITION BY pk) AS BIGINT) AS n_days
  FROM (
    SELECT l.l_partkey AS pk, CAST(o.o_orderdate AS DATE) AS day,
           CAST(floor(SUM(l.l_quantity) + 0.5) AS BIGINT) AS q
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
  )
  QUALIFY n_days >= {_CROSTON_MIN_DAYS}
),
rec AS (
  SELECT pk, k, day, n_days, CAST(q AS DOUBLE) AS z, CAST(1.0 AS DOUBLE) AS p
  FROM demand WHERE k = 1
  UNION ALL
  SELECT d.pk, d.k, d.day, d.n_days,
         0.5 * CAST(d.q AS DOUBLE) + 0.5 * r.z AS z,
         0.5 * CAST(date_diff('day', r.day, d.day) AS DOUBLE) + 0.5 * r.p
           AS p
  FROM rec r JOIN demand d ON d.pk = r.pk AND d.k = r.k + 1
)
SELECT pk AS p_partkey, n_days AS n_demand_days,
       {sql_stable_round("z", 6)} AS demand_size,
       {sql_stable_round("p", 6)} AS demand_interval,
       {sql_stable_round("z / p", 6)} AS forecast_per_day
FROM rec WHERE k = n_days
"""


# --- held-out bigram perplexity ---------------------------------------------
_HELDOUT_SMOOTH_NUM = 1  # add-1/2 smoothing as the exact rational 1/2
_HELDOUT_SMOOTH_DEN = 2


def q_bigram_heldout_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out bigram perplexity with an explicit OOV bucket — the
    train/test discipline the in-sample bigram LM (plans/mining)
    deliberately skips: TRAIN on even doc_ids (vocabulary + bigram
    and context counts), map every eval token outside the train
    vocabulary to '<unk>', and score the odd doc_ids with additive
    smoothing p(w₂|w₁) = (c₁₂ + ½)/(c₁ + ½·V) over the train
    vocabulary (+1 for <unk>) — a context never seen in training
    degrades to the uniform 1/V, never to log 0. Counts and V are
    exact BIGINTs, every probability is one exact rational, the
    per-bigram −log₂ terms ride decimal casts, and the perplexity
    2^H is the display. One summary row.

    Scale: counts shuffle on word/bigram keys (vocab-bounded); the
    eval pass is one explode + two key joins; nothing global."""
    half = float(_HELDOUT_SMOOTH_NUM) / float(_HELDOUT_SMOOTH_DEN)
    toks = pin(
        restore_splits(load_table(spark, sf_dir, "documents"), "doc_id")
        .select("doc_id", F.expr(SPARK_TOKS).alias("toks"))
    )
    train_w = toks.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", F.posexplode("toks").alias("i", "w")
    )
    vocab = pin(train_w.select("w").distinct())
    v_size = vocab.agg((F.count(F.lit(1)) + 1).alias("v"))  # +1: <unk>
    w_next = Window.partitionBy("doc_id").orderBy("i")
    train_bg = (
        train_w.withColumn("w2", F.lead("w").over(w_next))
        .filter(F.col("w2").isNotNull())
        .groupBy(F.col("w").alias("w1"), "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    train_ctx = train_bg.groupBy("w1").agg(F.sum("c12").alias("c1"))
    eval_w = (
        toks.filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", F.posexplode("toks").alias("i", "w"))
        .join(
            vocab.withColumn("_in", F.lit(1)), "w", "left_outer"
        )
        .select(
            "doc_id",
            "i",
            F.when(F.col("_in").isNotNull(), F.col("w"))
            .otherwise(F.lit("<unk>"))
            .alias("w"),
        )
    )
    eval_bg = (
        eval_w.withColumn("w2", F.lead("w").over(w_next))
        .filter(F.col("w2").isNotNull())
        .select(F.col("w").alias("w1"), "w2")
    )
    p = (
        (F.coalesce("c12", F.lit(0)).cast("double") + F.lit(half))
        / (
            F.coalesce("c1", F.lit(0)).cast("double")
            + F.lit(half) * F.col("v").cast("double")
        )
    )
    scored = (
        eval_bg.join(train_bg, ["w1", "w2"], "left_outer")
        .join(train_ctx, "w1", "left_outer")
        .crossJoin(F.broadcast(v_size))
        .select((-F.log2(p)).cast("decimal(20,10)").alias("nl2"))
    )
    return scored.agg(
        F.count(F.lit(1)).alias("n_eval_bigrams"),
        stable_round(
            F.sum("nl2").cast("double") / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("cross_entropy"),
        stable_round(
            F.pow(
                F.lit(2.0),
                F.sum("nl2").cast("double")
                / F.count(F.lit(1)).cast("double"),
            ),
            4,
        ).alias("perplexity"),
    )


SQL_BIGRAM_HELDOUT_PPL = f"""
WITH toks AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
train_w AS (
  SELECT doc_id, generate_subscripts(toks, 1) AS i, unnest(toks) AS w
  FROM toks WHERE doc_id % 2 = 0
),
vocab AS (SELECT DISTINCT w FROM train_w),
v_size AS (SELECT CAST(COUNT(*) + 1 AS BIGINT) AS v FROM vocab),
train_bg AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
  FROM (
    SELECT w AS w1,
           LEAD(w) OVER (PARTITION BY doc_id ORDER BY i) AS w2
    FROM train_w
  ) WHERE w2 IS NOT NULL
  GROUP BY w1, w2
),
train_ctx AS (
  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM train_bg GROUP BY w1
),
eval_w AS (
  SELECT e.doc_id, e.i,
         CASE WHEN v.w IS NOT NULL THEN e.w ELSE '<unk>' END AS w
  FROM (
    SELECT doc_id, generate_subscripts(toks, 1) AS i, unnest(toks) AS w
    FROM toks WHERE doc_id % 2 = 1
  ) e LEFT JOIN vocab v ON e.w = v.w
),
eval_bg AS (
  SELECT w1, w2 FROM (
    SELECT w AS w1,
           LEAD(w) OVER (PARTITION BY doc_id ORDER BY i) AS w2
    FROM eval_w
  ) WHERE w2 IS NOT NULL
),
scored AS (
  SELECT CAST(-log2(
           (CAST(COALESCE(b.c12, 0) AS DOUBLE) + 0.5)
           / (CAST(COALESCE(c.c1, 0) AS DOUBLE) + 0.5 * s.v)
         ) AS DECIMAL(20,10)) AS nl2
  FROM eval_bg e
  LEFT JOIN train_bg b ON e.w1 = b.w1 AND e.w2 = b.w2
  LEFT JOIN train_ctx c ON e.w1 = c.w1
  CROSS JOIN v_size s
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_eval_bigrams,
       {sql_stable_round(
           "CAST(SUM(nl2) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)", 6)}
         AS cross_entropy,
       {sql_stable_round(
           "pow(2.0, CAST(SUM(nl2) AS DOUBLE)"
           " / CAST(COUNT(*) AS DOUBLE))", 4)} AS perplexity
FROM scored
"""


# --- fairness parity audit -------------------------------------------------
_FAIR_GAP_NUM = 1  # flag |rate_s - rate| > 1/10 as an exact
_FAIR_GAP_DEN = 10  # cross-multiplied integer comparison


def q_fairness_parity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Demographic-parity audit of the length-based relevance
    classifier across sources (Feldman et al. 2015 / Barocas-
    Hardt-Narayanan, public; the group-fairness companion to the
    classifier's calibration ECE): per source, the classifier's
    positive rate (dl ≥ 100, the sigmoid-0.5 threshold) vs the
    corpus rate; the flag |rate_s − rate| > {n}/{d} is the exact
    cross-multiplied integer comparison
    |pos_s·N − P·n_s|·{d} > {n}·N·n_s — no float ever decides it.
    Rates and the gap are displays. One row per source.

    Scale: two grouped counts; the audit arithmetic runs on the
    |sources|-row relation against one broadcast total."""
    per_doc = load_table(spark, sf_dir, "documents").select(
        "source",
        (F.expr(f"size({SPARK_TOKS})") >= 100).cast("int").alias("pos"),
    )
    by_src = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_s"),
        F.sum("pos").alias("pos_s"),
    )
    tot = by_src.agg(
        F.sum("n_s").alias("n"), F.sum("pos_s").alias("p")
    )
    gap = (
        F.col("pos_s").cast("double") / F.col("n_s").cast("double")
        - F.col("p").cast("double") / F.col("n").cast("double")
    )
    flag = (
        F.abs(
            F.col("pos_s") * F.col("n") - F.col("p") * F.col("n_s")
        )
        * _FAIR_GAP_DEN
        > F.lit(_FAIR_GAP_NUM) * F.col("n") * F.col("n_s")
    )
    return by_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_s",
        "pos_s",
        stable_round(
            F.col("pos_s").cast("double") / F.col("n_s").cast("double"), 6
        ).alias("positive_rate"),
        stable_round(gap, 6).alias("parity_gap"),
        flag.alias("disparate"),
    )


q_fairness_parity_audit.__doc__ = q_fairness_parity_audit.__doc__.format(
    n=_FAIR_GAP_NUM, d=_FAIR_GAP_DEN
)


SQL_FAIRNESS_PARITY_AUDIT = f"""
WITH per_doc AS (
  SELECT source,
         CAST(len({SQL_TOKS}) >= 100 AS INTEGER) AS pos
  FROM documents
),
by_src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s,
         CAST(SUM(pos) AS BIGINT) AS pos_s
  FROM per_doc GROUP BY source
),
tot AS (
  SELECT CAST(SUM(n_s) AS BIGINT) AS n, CAST(SUM(pos_s) AS BIGINT) AS p
  FROM by_src
)
SELECT source, n_s, pos_s,
       {sql_stable_round(
           "CAST(pos_s AS DOUBLE) / CAST(n_s AS DOUBLE)", 6)}
         AS positive_rate,
       {sql_stable_round(
           "CAST(pos_s AS DOUBLE) / CAST(n_s AS DOUBLE)"
           " - CAST(t.p AS DOUBLE) / CAST(t.n AS DOUBLE)", 6)}
         AS parity_gap,
       abs(pos_s * t.n - t.p * n_s) * {_FAIR_GAP_DEN}
         > {_FAIR_GAP_NUM} * t.n * n_s AS disparate
FROM by_src CROSS JOIN tot t
"""


# --- PQ reconstruction distortion ---------------------------------------------
def q_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconstruction distortion of the PQ index (the quantization-
    quality number of Jégou et al. 2011 — the metric you tune m and
    k against): per subspace, the mean squared reconstruction error
    the encoder already computed (pq_encode's exact integer-grid
    sqdist), plus the '-1' overall row carrying the RELATIVE
    distortion Σ‖x − ĉ(x)‖² / Σ‖x‖² — the fraction of embedding
    energy the 16× compression throws away. Every numerator and
    denominator is an exact BIGINT; the reported means are displays
    on the original float scale (÷10¹⁴, the 1e-7 grid squared).

    Scale: encoding is the broadcast-codebook pass the index already
    runs; distortion is one k-bounded aggregate over its output plus
    one Σx² scan."""
    from lab04_spark_streaming_spark.operators.similarity import (
        _kmeans_pos,  # noqa: PLC2701 — the shared quantized relation
        pq_codebooks,
        pq_encode,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_codebooks(emb, m=4, k=16, updates=1)
    enc = pin(pq_encode(emb, books, sub_dim=16))
    per_sub = enc.groupBy("sub").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("sqdist").alias("ssq"),
    )
    energy = (
        _kmeans_pos(emb, "vec_id", "embedding")
        .agg(F.sum(F.col("x") * F.col("x")).alias("e"))
    )
    grid2 = 1.0e14  # (1e7)^2: back to the original float scale
    sub_rows = per_sub.select(
        F.col("sub").cast("bigint").alias("sub"),
        "n_vecs",
        F.col("ssq").cast("bigint").alias("ssq_grid"),
        stable_round(
            F.col("ssq").cast("double")
            / F.col("n_vecs").cast("double")
            / F.lit(grid2),
            8,
        ).alias("mean_sq_err"),
        F.lit(None).cast("double").alias("relative_distortion"),
    )
    overall = (
        per_sub.agg(
            F.max("n_vecs").alias("n_vecs"),
            F.sum("ssq").alias("ssq"),
        )
        .crossJoin(F.broadcast(energy))
        .select(
            F.lit(-1).cast("bigint").alias("sub"),
            "n_vecs",
            F.col("ssq").cast("bigint").alias("ssq_grid"),
            stable_round(
                F.col("ssq").cast("double")
                / F.col("n_vecs").cast("double")
                / F.lit(grid2),
                8,
            ).alias("mean_sq_err"),
            stable_round(
                F.when(
                    F.col("e") > 0,
                    F.col("ssq").cast("double") / F.col("e").cast("double"),
                ),
                8,
            ).alias("relative_distortion"),
        )
    )
    return sub_rows.unionByName(overall)


def _sql_pq_distortion() -> str:
    from lab04_spark_streaming_spark.plans.pipeline_extras import (
        _SQL_PQ_PREFIX,
    )

    return f"""
WITH {_SQL_PQ_PREFIX},
per_sub AS (
  SELECT sub, CAST(COUNT(*) AS BIGINT) AS n_vecs,
         CAST(SUM(dist) AS BIGINT) AS ssq
  FROM a2 GROUP BY sub
),
energy AS (SELECT CAST(SUM(x * x) AS BIGINT) AS e FROM pos)
SELECT CAST(sub AS BIGINT) AS sub, n_vecs, ssq AS ssq_grid,
       {sql_stable_round(
           "CAST(ssq AS DOUBLE) / CAST(n_vecs AS DOUBLE) / 1e14", 8)}
         AS mean_sq_err,
       CAST(NULL AS DOUBLE) AS relative_distortion
FROM per_sub
UNION ALL
SELECT CAST(-1 AS BIGINT) AS sub, MAX(n_vecs) AS n_vecs,
       CAST(SUM(ssq) AS BIGINT) AS ssq_grid,
       {sql_stable_round(
           "CAST(SUM(ssq) AS DOUBLE) / CAST(MAX(n_vecs) AS DOUBLE)"
           " / 1e14", 8)} AS mean_sq_err,
       {sql_stable_round(
           "CASE WHEN MAX(en.e) > 0 THEN"
           " CAST(SUM(ssq) AS DOUBLE) / CAST(MAX(en.e) AS DOUBLE) END",
           8)} AS relative_distortion
FROM per_sub CROSS JOIN energy en
"""


# --- co-purchase recommendation backtest ----------------------------------------
_REC_SPLIT = "1999-01-01"
_REC_K = 3


def q_rec_hitrate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hit-rate@{k} backtest of "customers also bought" co-purchase
    recommendations (the offline recsys eval of Sarwar et al. 2001 /
    standard leave-future-out protocol, public): train per-part top-{k}
    recommendation lists from co-occurrence counts in orders BEFORE
    {split}, then for every (held-out order, part) case after the
    split ask whether any of the part's recommendations appears among
    the order's OTHER parts. Counts are exact BIGINTs; the rec pick
    is a per-part rank with a full tie-break; hit_rate is one display
    division. One summary row.

    Scale: pair generation is per-order (width²-bounded); the rec
    rank partitions by part; the eval is one (part, rec)-key semi
    join against the held-out pair relation — nothing global."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"),
        (F.col("o_orderdate") < F.lit(_REC_SPLIT)).alias("is_train"),
    )
    basket = pin(
        li.join(orders, "ok")
        .select("ok", "pk", "is_train")
        .distinct()
        # co-partitions the pin on the self-join key for the join below
        .repartition(spark.sparkContext.defaultParallelism, "ok")
    )
    train = basket.filter(F.col("is_train"))
    pairs = (
        train.alias("a")
        .join(train.alias("b"), "ok")
        .filter(F.col("a.pk") != F.col("b.pk"))
        .groupBy(F.col("a.pk").alias("p1"), F.col("b.pk").alias("p2"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wr = Window.partitionBy("p1").orderBy(F.desc("c"), "p2")
    recs = (
        pairs.withColumn("r", F.row_number().over(wr))
        .filter(F.col("r") <= _REC_K)
        .select("p1", F.col("p2").alias("rec"))
    )
    test = basket.filter(~F.col("is_train"))
    cases = (
        test.alias("a")
        .join(test.alias("b"), "ok")
        .filter(F.col("a.pk") != F.col("b.pk"))
        .select(
            F.col("ok"),
            F.col("a.pk").alias("p1"),
            F.col("b.pk").alias("p2"),
        )
    )
    hits = (
        cases.join(
            recs,
            (cases.p1 == recs.p1) & (cases.p2 == recs.rec),
            "left_outer",
        )
        .groupBy("ok", cases.p1)
        .agg(
            F.max(
                F.when(recs.rec.isNotNull(), 1).otherwise(0)
            ).alias("hit")
        )
    )
    return hits.agg(
        F.count(F.lit(1)).alias("n_cases"),
        F.sum("hit").alias("n_hits"),
        stable_round(
            F.when(
                F.count(F.lit(1)) > 0,
                F.sum("hit").cast("double")
                / F.count(F.lit(1)).cast("double"),
            ),
            6,
        ).alias("hit_rate"),
    )


q_rec_hitrate_eval.__doc__ = q_rec_hitrate_eval.__doc__.format(
    k=_REC_K, split=_REC_SPLIT
)


SQL_REC_HITRATE_EVAL = f"""
WITH basket AS (
  SELECT DISTINCT l.l_orderkey AS ok, l.l_partkey AS pk,
         o.o_orderdate < '{_REC_SPLIT}' AS is_train
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
pairs AS (
  SELECT a.pk AS p1, b.pk AS p2, CAST(COUNT(*) AS BIGINT) AS c
  FROM basket a JOIN basket b ON a.ok = b.ok AND a.pk <> b.pk
  WHERE a.is_train AND b.is_train
  GROUP BY 1, 2
),
recs AS (
  SELECT p1, p2 AS rec FROM (
    SELECT p1, p2,
           ROW_NUMBER() OVER (PARTITION BY p1 ORDER BY c DESC, p2) AS r
    FROM pairs
  ) WHERE r <= {_REC_K}
),
cases AS (
  SELECT a.ok, a.pk AS p1, b.pk AS p2
  FROM basket a JOIN basket b ON a.ok = b.ok AND a.pk <> b.pk
  WHERE NOT a.is_train AND NOT b.is_train
),
hits AS (
  SELECT c.ok, c.p1,
         MAX(CASE WHEN r.rec IS NOT NULL THEN 1 ELSE 0 END) AS hit
  FROM cases c
  LEFT JOIN recs r ON c.p1 = r.p1 AND c.p2 = r.rec
  GROUP BY c.ok, c.p1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_cases,
       CAST(SUM(hit) AS BIGINT) AS n_hits,
       {sql_stable_round(
           "CASE WHEN COUNT(*) > 0 THEN"
           " CAST(SUM(hit) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) END",
           6)} AS hit_rate
FROM hits
"""


def specs():
    from lab04_spark_streaming_spark.registry import QuerySpec

    return [
        QuerySpec(
            "croston_forecast", q_croston_forecast, SQL_CROSTON_FORECAST
        ),
        QuerySpec(
            "bigram_heldout_ppl",
            q_bigram_heldout_ppl,
            SQL_BIGRAM_HELDOUT_PPL,
        ),
        QuerySpec(
            "fairness_parity_audit",
            q_fairness_parity_audit,
            SQL_FAIRNESS_PARITY_AUDIT,
        ),
        QuerySpec("pq_distortion", q_pq_distortion, _sql_pq_distortion()),
        QuerySpec(
            "rec_hitrate_eval", q_rec_hitrate_eval, SQL_REC_HITRATE_EVAL
        ),
    ]
