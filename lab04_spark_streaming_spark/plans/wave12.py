"""Round-12 wave (built in driver round 8): experimentation
guardrails and retrieval evaluation — the layer that keeps the A/B
machinery (ab_test_welch, cuped_adjustment, randomization_test,
poisson_bootstrap) and the retrieval machinery (bm25_topk,
rrf_fusion) honest: sample-ratio-mismatch detection, O'Brien–Fleming
group-sequential looks, per-decile quantile treatment effects,
stratified ATE, and NDCG/MAP relevance scoring of the BM25 ranking.

Cross-engine determinism (house rules): guardrail FLAGS are
cross-multiplied integer tests; order statistics pick quantiles by
integer rank; bounded metric sums (NDCG/MAP terms, ≤ k rows) go
through per-term DECIMAL casts so the reduction is order-free; z
statistics and effect sizes are displays on exact moments.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lab04_spark_streaming_spark.operators.pinning import pin
from lab04_spark_streaming_spark.functions.guards import (
    sql_stable_round,
    stable_round,
)
from lab04_spark_streaming_spark.operators.ranks import global_ntile
from lab04_spark_streaming_spark.operators.textops import (
    SPARK_TOKS,
    SQL_TOKS,
)
from lab04_spark_streaming_spark.sources.files import load_table


# --- sample-ratio-mismatch check ---------------------------------------------
# chi-square(1) critical value at alpha = 0.05, as the exact rational
# 3.841459... -> the test cross-multiplies with 384146/100000.
_SRM_CHI2_NUM = 384146
_SRM_CHI2_DEN = 100000


def q_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail (Fabijan et al. 2019, public):
    per day, do the user_id%2 arms (the ab_test_welch assignment)
    hold their designed 50/50 split? A skewed split invalidates every
    downstream readout, which is why SRM is the first automated check
    in any experimentation platform. The unit is the USER (distinct
    per day per arm); the flag is the all-integer cross-multiplied
    chi² test (n0−n1)²·{d} > {n}·(n0+n1) (χ²(1) at α=0.05); the χ²
    value itself is a display.

    Scale: one distinct-user aggregate on (day, arm) — bounded by
    days × 2."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            F.to_date("ts").alias("day"),
            (F.col("user_id") % 2).alias("arm"),
            "user_id",
        )
        .distinct()
        .groupBy("day")
        .agg(
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n0"),
            F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n1"),
        )
    )
    diff2 = (F.col("n0") - F.col("n1")) * (F.col("n0") - F.col("n1"))
    tot = F.col("n0") + F.col("n1")
    return daily.select(
        "day",
        "n0",
        "n1",
        (diff2 * _SRM_CHI2_DEN > F.lit(_SRM_CHI2_NUM) * tot).alias(
            "srm_flag"
        ),
        stable_round(
            F.when(tot > 0, diff2.cast("double") / tot.cast("double")),
            6,
        ).alias("chi2"),
    )


q_srm_check.__doc__ = q_srm_check.__doc__.format(
    d=_SRM_CHI2_DEN, n=_SRM_CHI2_NUM
)


SQL_SRM_CHECK = f"""
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id % 2 AS arm, user_id
  FROM events
),
daily AS (
  SELECT day,
         CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
  FROM du GROUP BY day
)
SELECT day, n0, n1,
       (n0 - n1) * (n0 - n1) * {_SRM_CHI2_DEN}
         > {_SRM_CHI2_NUM} * (n0 + n1) AS srm_flag,
       {sql_stable_round(
           "CASE WHEN n0 + n1 > 0 THEN"
           " CAST((n0 - n1) * (n0 - n1) AS DOUBLE)"
           " / CAST(n0 + n1 AS DOUBLE) END", 6)} AS chi2
FROM daily
"""


# --- O'Brien–Fleming group-sequential looks ---------------------------------
# Standard two-sided alpha=0.05, K=3 equally-spaced looks (public
# tables, e.g. Jennison & Turnbull 2000): boundaries 3.471, 2.454,
# 2.004 — fixed literal constants in both engines.
_OBF_LOOKS = [(10, 3.471), (20, 2.454), (30, 2.004)]
_OBF_ARM_A = "click"
_OBF_ARM_B = "view"


def q_obrien_fleming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-sequential monitoring with O'Brien–Fleming boundaries
    (1979, public): at each scheduled look (day {looks}), compute the
    cumulative two-sample z for mean({a}.value) vs mean({b}.value)
    and compare against the OBF boundary — the discipline that lets
    an experiment PEEK early without inflating false positives
    (early looks need overwhelming evidence, the final look ~the
    fixed-horizon bound). Moments are exact per-row DECIMAL sums
    cumulated per look; z is one fixed expression over them
    (identical doubles both engines); `crossed` compares |z| against
    the literal boundary constant.

    Scale: one grouped pass builds per-day moments; the look relation
    is a 3-row broadcast; cumulative sums join days ≤ look day."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_OBF_ARM_A, _OBF_ARM_B)
    )
    dec = F.col("value").cast("decimal(30,6)")
    dec2 = (F.col("value") * F.col("value")).cast("decimal(30,6)")
    daily = ev.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(
        F.sum(dec).alias("s"),
        F.sum(dec2).alias("sq"),
        F.count(F.lit(1)).alias("n"),
    )
    day0 = load_table(spark, sf_dir, "events").agg(
        F.min(F.to_date("ts")).alias("d0")
    )
    looks = spark.createDataFrame(_OBF_LOOKS, ["look_day", "bound"])
    j = (
        daily.crossJoin(F.broadcast(day0))
        .crossJoin(F.broadcast(looks))
        .filter(F.datediff("day", "d0") < F.col("look_day"))
    )
    cum = j.groupBy("look_day", "bound").agg(
        *[
            agg.alias(f"{pre}_{col}")
            for pre, t in (("a", _OBF_ARM_A), ("b", _OBF_ARM_B))
            for col, agg in (
                ("s", F.sum(F.when(F.col("event_type") == t, F.col("s")))),
                ("sq", F.sum(F.when(F.col("event_type") == t, F.col("sq")))),
                ("n", F.sum(F.when(F.col("event_type") == t, F.col("n")))),
            )
        ]
    )

    def var_over_n(pre: str):
        s = F.col(f"{pre}_s").cast("double")
        sq = F.col(f"{pre}_sq").cast("double")
        n = F.col(f"{pre}_n").cast("double")
        return (sq - s * s / n) / (n - 1) / n

    z = (
        F.col("a_s").cast("double") / F.col("a_n").cast("double")
        - F.col("b_s").cast("double") / F.col("b_n").cast("double")
    ) / F.sqrt(var_over_n("a") + var_over_n("b"))
    valid = (F.col("a_n") > 1) & (F.col("b_n") > 1)
    zc = F.when(valid, z)
    return cum.select(
        "look_day",
        "bound",
        F.col("a_n").alias("n_a"),
        F.col("b_n").alias("n_b"),
        stable_round(zc, 4).alias("z"),
        F.when(valid, F.abs(zc) > F.col("bound"))
        .otherwise(F.lit(False))
        .alias("crossed"),
    )


q_obrien_fleming.__doc__ = q_obrien_fleming.__doc__.format(
    looks=", ".join(str(d) for d, _ in _OBF_LOOKS),
    a=_OBF_ARM_A,
    b=_OBF_ARM_B,
)


def _sql_obrien_fleming() -> str:
    looks = ", ".join(f"({d}, {b})" for d, b in _OBF_LOOKS)
    v = (
        lambda p: f"((CAST({p}_sq AS DOUBLE) - CAST({p}_s AS DOUBLE)"
        f" * CAST({p}_s AS DOUBLE) / CAST({p}_n AS DOUBLE))"
        f" / (CAST({p}_n AS DOUBLE) - 1) / CAST({p}_n AS DOUBLE))"
    )
    z = (
        f"(CAST(a_s AS DOUBLE) / CAST(a_n AS DOUBLE)"
        f" - CAST(b_s AS DOUBLE) / CAST(b_n AS DOUBLE))"
        f" / sqrt({v('a')} + {v('b')})"
    )
    return f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, event_type,
         SUM(CAST(value AS DECIMAL(30,6))) AS s,
         SUM(CAST(value * value AS DECIMAL(30,6))) AS sq,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events
  WHERE event_type IN ('{_OBF_ARM_A}', '{_OBF_ARM_B}')
  GROUP BY 1, 2
),
d0 AS (SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events),
looks AS (
  SELECT look_day, CAST(bound AS DOUBLE) AS bound
  FROM (VALUES {looks}) AS t(look_day, bound)
),
cum AS (
  SELECT l.look_day, l.bound,
         SUM(CASE WHEN event_type = '{_OBF_ARM_A}' THEN s END) AS a_s,
         SUM(CASE WHEN event_type = '{_OBF_ARM_A}' THEN sq END) AS a_sq,
         CAST(SUM(CASE WHEN event_type = '{_OBF_ARM_A}' THEN n END)
              AS BIGINT) AS a_n,
         SUM(CASE WHEN event_type = '{_OBF_ARM_B}' THEN s END) AS b_s,
         SUM(CASE WHEN event_type = '{_OBF_ARM_B}' THEN sq END) AS b_sq,
         CAST(SUM(CASE WHEN event_type = '{_OBF_ARM_B}' THEN n END)
              AS BIGINT) AS b_n
  FROM daily, d0, looks l
  WHERE datediff('day', d0.d0, daily.day) < l.look_day
  GROUP BY l.look_day, l.bound
)
SELECT look_day, bound, a_n AS n_a, b_n AS n_b,
       {sql_stable_round(f"CASE WHEN a_n > 1 AND b_n > 1 THEN {z} END", 4)}
         AS z,
       CASE WHEN a_n > 1 AND b_n > 1 THEN ABS({z}) > bound
            ELSE FALSE END AS crossed
FROM cum
"""


# --- quantile treatment effects ----------------------------------------------
def q_qte_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects: the {a}-vs-{b} value difference at
    every decile, not just the mean — the readout that shows WHERE in
    the distribution an effect lives (a mean shift driven by the top
    decile is a different product story than a uniform lift). Each
    arm's decile is the exact order statistic at rank ⌈d·n/10⌉
    (integer rank over a per-arm window with full tie-break); the QTE
    is a difference of two selected doubles (display).

    Scale: per-arm rank windows; at petabyte scale the same decision
    is a merged quantile summary (quantile_merge_eval is the audited
    path); here it's the exact rank."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_OBF_ARM_A, _OBF_ARM_B)
    )
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    n = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("r"),
        F.count(F.lit(1)).over(n).alias("n"),
    )
    deciles = spark.range(1, 10).select(F.col("id").alias("d"))
    picked = (
        ranked.crossJoin(F.broadcast(deciles))
        .filter(F.col("r") * 10 >= F.col("d") * F.col("n"))
        .groupBy("event_type", "d")
        .agg(F.min("value").alias("q"))
    )
    a = picked.filter(F.col("event_type") == _OBF_ARM_A).select(
        "d", F.col("q").alias("qa")
    )
    b = picked.filter(F.col("event_type") == _OBF_ARM_B).select(
        "d", F.col("q").alias("qb")
    )
    return a.join(b, "d").select(
        "d",
        stable_round(F.col("qa"), 6).alias("q_a"),
        stable_round(F.col("qb"), 6).alias("q_b"),
        stable_round(F.col("qa") - F.col("qb"), 6).alias("qte"),
    )


q_qte_deciles.__doc__ = q_qte_deciles.__doc__.format(
    a=_OBF_ARM_A, b=_OBF_ARM_B
)


SQL_QTE_DECILES = f"""
WITH ranked AS (
  SELECT event_type, value,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY event_type ORDER BY value, event_id) AS BIGINT) AS r,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM events WHERE event_type IN ('{_OBF_ARM_A}', '{_OBF_ARM_B}')
),
deciles AS (SELECT CAST(UNNEST(generate_series(1, 9)) AS BIGINT) AS d),
picked AS (
  SELECT event_type, d, MIN(value) AS q
  FROM ranked, deciles
  WHERE r * 10 >= d * n
  GROUP BY event_type, d
)
SELECT a.d,
       {sql_stable_round("a.q", 6)} AS q_a,
       {sql_stable_round("b.q", 6)} AS q_b,
       {sql_stable_round("a.q - b.q", 6)} AS qte
FROM picked a JOIN picked b ON a.d = b.d
WHERE a.event_type = '{_OBF_ARM_A}' AND b.event_type = '{_OBF_ARM_B}'
"""


# --- stratified ATE -----------------------------------------------------------
_ATE_STRATA = 4


def q_stratified_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-stratified average treatment effect: users are stratified
    by their activity quartile (ntile over exact event counts with a
    user_id tie-break — integer assignment), treatment is the
    user_id%2 arm, outcome is the user's mean event value (exact
    decimal sum / count), and the ATE is the stratum-size-weighted
    difference of arm means — the estimator that removes the
    imbalance a raw difference-of-means inherits when heavy users
    land unevenly (Imbens & Rubin 2015, public). Per-stratum rows
    plus the '__all__' pooled row; degenerate cells emit NULL.

    Scale: everything after the per-user aggregate is
    strata-bounded; the quartile is operators/ranks.global_ntile — a
    range-partitioned two-pass rank plus the SQL-standard bucket
    arithmetic, never a single-task window over the per-user relation
    (one row per user is still billions on a web-scale log).
    Bit-identical to the oracle's ntile."""
    ev = load_table(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(30,6)")).alias("sv"),
    )
    per_user = global_ntile(
        users, _ATE_STRATA, "n_events", "user_id", bucket_col="stratum"
    ).select(
        "user_id",
        (F.col("user_id") % 2).alias("arm"),
        "stratum",
        (F.col("sv").cast("double") / F.col("n_events").cast("double")).alias(
            "y"
        ),
    )
    strat = per_user.groupBy("stratum").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count(F.when(F.col("arm") == 1, 1)).alias("n_t"),
        F.count(F.when(F.col("arm") == 0, 1)).alias("n_c"),
        F.sum(
            F.when(F.col("arm") == 1, F.col("y").cast("decimal(30,12)"))
        ).alias("sy_t"),
        F.sum(
            F.when(F.col("arm") == 0, F.col("y").cast("decimal(30,12)"))
        ).alias("sy_c"),
    )
    eff = F.when(
        (F.col("n_t") > 0) & (F.col("n_c") > 0),
        F.col("sy_t").cast("double") / F.col("n_t").cast("double")
        - F.col("sy_c").cast("double") / F.col("n_c").cast("double"),
    )
    per_stratum = strat.select(
        F.col("stratum").cast("int").alias("stratum"),
        "n_users",
        "n_t",
        "n_c",
        stable_round(eff, 6).alias("effect"),
    )
    tot = strat.agg(F.sum("n_users").alias("n_total"))
    pooled = (
        strat.crossJoin(F.broadcast(tot))
        .select(
            (eff * F.col("n_users").cast("double")
             / F.col("n_total").cast("double")).alias("w_eff"),
            "n_users",
            "n_t",
            "n_c",
        )
        .agg(
            F.lit(-1).cast("int").alias("stratum"),
            F.sum("n_users").alias("n_users"),
            F.sum("n_t").alias("n_t"),
            F.sum("n_c").alias("n_c"),
            stable_round(
                F.sum(F.col("w_eff").cast("decimal(30,12)")).cast("double"),
                6,
            ).alias("effect"),
        )
    )
    return per_stratum.unionByName(pooled)


SQL_STRATIFIED_ATE = f"""
WITH users AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
         SUM(CAST(value AS DECIMAL(30,6))) AS sv
  FROM events GROUP BY user_id
),
per_user AS (
  SELECT user_id, user_id % 2 AS arm,
         ntile({_ATE_STRATA}) OVER (ORDER BY n_events, user_id) AS stratum,
         CAST(sv AS DOUBLE) / CAST(n_events AS DOUBLE) AS y
  FROM users
),
strat AS (
  SELECT stratum,
         CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(COUNT(CASE WHEN arm = 1 THEN 1 END) AS BIGINT) AS n_t,
         CAST(COUNT(CASE WHEN arm = 0 THEN 1 END) AS BIGINT) AS n_c,
         SUM(CASE WHEN arm = 1 THEN CAST(y AS DECIMAL(30,12)) END) AS sy_t,
         SUM(CASE WHEN arm = 0 THEN CAST(y AS DECIMAL(30,12)) END) AS sy_c
  FROM per_user GROUP BY stratum
),
tot AS (SELECT CAST(SUM(n_users) AS BIGINT) AS n_total FROM strat),
eff AS (
  SELECT stratum, n_users, n_t, n_c,
         CASE WHEN n_t > 0 AND n_c > 0 THEN
           CAST(sy_t AS DOUBLE) / n_t - CAST(sy_c AS DOUBLE) / n_c
         END AS effect
  FROM strat
)
SELECT CAST(stratum AS INTEGER) AS stratum, n_users, n_t, n_c,
       {sql_stable_round("effect", 6)} AS effect
FROM eff
UNION ALL
SELECT CAST(-1 AS INTEGER) AS stratum,
       CAST(SUM(n_users) AS BIGINT) AS n_users,
       CAST(SUM(n_t) AS BIGINT) AS n_t,
       CAST(SUM(n_c) AS BIGINT) AS n_c,
       {sql_stable_round(
           "CAST(SUM(CAST(effect * CAST(n_users AS DOUBLE)"
           " / CAST(t.n_total AS DOUBLE) AS DECIMAL(30,12))) AS DOUBLE)",
           6)} AS effect
FROM eff, tot t
GROUP BY t.n_total
"""


# --- NDCG / MAP retrieval eval -----------------------------------------------
_IR_K = 10


def q_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@{k} and MAP@{k} for the BM25 ranking (Järvelin &
    Kekäläinen 2002 / classic IR eval, public): graded relevance =
    how many of the fixed query terms a document contains (0–3, an
    integer label derivable without human judgments), ranking = the
    rounded-BM25 integer order. Every DCG/AP term is rel/log2(i+1) or
    hits/i over ≤ {k} rows, cast per-term to DECIMAL(20,10) so the
    tiny reduction is summation-order-free; IDCG sorts the corpus's
    relevance grades by the same integer rank rule. One summary row.

    Scale: the metric relations are top-{k} TakeOrdered survivors;
    relevance labeling is one filtered-explode pass."""
    from lab04_spark_streaming_spark.plans.corpus import (
        _BM25_B,
        _BM25_K1,
        _BM25_TERMS,
    )

    k1, b = _BM25_K1, _BM25_B
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    docs = pin(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", F.expr(SPARK_TOKS).alias("_toks")
        )
    )
    rel = pin(
        docs.select(
            "doc_id",
            F.expr(
                f"size(array_intersect(array_distinct(_toks), array({terms})))"
            ).cast("long").alias("rel"),
        )
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
                F.expr(
                    f"filter(_toks, t -> array_contains(array({terms}), t))"
                )
            ).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    scored = (
        tf.join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus_stats))
        .join(F.broadcast(dfreq), "term")
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
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))),
        )
        .groupBy("doc_id")
        .agg(F.floor(F.sum("_s") * 10000.0 + 0.5).cast("bigint").alias("_bq"))
    )
    topk = (
        scored.orderBy(F.desc("_bq"), "doc_id")
        .limit(_IR_K)
        .withColumn(
            "i",
            F.row_number().over(Window.orderBy(F.desc("_bq"), "doc_id")),
        )
        .join(rel, "doc_id")
    )
    dterm = (
        F.col("rel").cast("double") / F.log2(F.col("i") + 1)
    ).cast("decimal(20,10)")
    dcg = topk.agg(F.sum(dterm).alias("dcg"))
    ideal = (
        rel.orderBy(F.desc("rel"), "doc_id")
        .limit(_IR_K)
        .withColumn(
            "i",
            F.row_number().over(Window.orderBy(F.desc("rel"), "doc_id")),
        )
    )
    idcg = ideal.agg(F.sum(dterm).alias("idcg"))
    # AP@k: for each rank i with rel>0, precision@i = hits_1..i / i
    wcum = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0)
    ap_terms = topk.withColumn(
        "hits", F.sum(F.when(F.col("rel") > 0, 1).otherwise(0)).over(wcum)
    ).select(
        F.when(
            F.col("rel") > 0,
            (F.col("hits").cast("double") / F.col("i").cast("double")).cast(
                "decimal(20,10)"
            ),
        ).alias("p_at_i")
    )
    n_rel = rel.agg(
        F.sum(F.when(F.col("rel") > 0, 1).otherwise(0)).alias("n_relevant")
    )
    ap = ap_terms.agg(
        F.sum("p_at_i").alias("ap_sum"),
        F.count("p_at_i").alias("n_hits"),
    )
    return (
        dcg.crossJoin(idcg)
        .crossJoin(ap)
        .crossJoin(F.broadcast(n_rel))
        .select(
            "n_relevant",
            F.col("n_hits").alias("hits_at_k"),
            stable_round(
                F.when(
                    F.col("idcg") > 0,
                    F.col("dcg").cast("double")
                    / F.col("idcg").cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("ndcg_at_k"),
            stable_round(
                F.when(
                    F.least(F.col("n_relevant"), F.lit(_IR_K)) > 0,
                    F.col("ap_sum").cast("double")
                    / F.least(F.col("n_relevant"), F.lit(_IR_K)).cast(
                        "double"
                    ),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("map_at_k"),
        )
    )


q_retrieval_eval.__doc__ = q_retrieval_eval.__doc__.format(k=_IR_K)


def _sql_retrieval_eval() -> str:
    from lab04_spark_streaming_spark.plans.corpus import (
        _BM25_B,
        _BM25_K1,
        _BM25_TERMS,
    )

    k1, b = _BM25_K1, _BM25_B
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""
WITH toks AS (SELECT doc_id, {SQL_TOKS} AS t FROM documents),
rel AS (
  SELECT doc_id,
         CAST(len(list_intersect(list_distinct(t), [{terms}])) AS BIGINT)
           AS rel
  FROM toks
),
dl AS (SELECT doc_id, len(t) AS dl FROM toks),
corpus AS (
  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
  FROM dl
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(list_filter(t,
          x -> list_contains([{terms}], x))) AS term FROM toks)
  GROUP BY doc_id, term
),
dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         CAST(floor(SUM(
           ln(1.0 + (c.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * ({k1} + 1))
           / (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / c.avgdl))
         ) * 10000.0 + 0.5) AS BIGINT) AS bq
  FROM tf JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN corpus c JOIN dfreq ON tf.term = dfreq.term
  GROUP BY tf.doc_id
),
topk AS (
  SELECT s.doc_id, r.rel,
         CAST(ROW_NUMBER() OVER (ORDER BY s.bq DESC, s.doc_id) AS BIGINT)
           AS i
  FROM scored s JOIN rel r ON s.doc_id = r.doc_id
  ORDER BY s.bq DESC, s.doc_id LIMIT {_IR_K}
),
dcg AS (
  SELECT SUM(CAST(CAST(rel AS DOUBLE) / log2(i + 1) AS DECIMAL(20,10)))
           AS dcg
  FROM topk
),
ideal AS (
  SELECT rel, CAST(ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id) AS BIGINT)
           AS i
  FROM rel ORDER BY rel DESC, doc_id LIMIT {_IR_K}
),
idcg AS (
  SELECT SUM(CAST(CAST(rel AS DOUBLE) / log2(i + 1) AS DECIMAL(20,10)))
           AS idcg
  FROM ideal
),
ap_terms AS (
  SELECT CASE WHEN rel > 0 THEN
           CAST(CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) OVER (
             ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS DOUBLE) / CAST(i AS DOUBLE) AS DECIMAL(20,10))
         END AS p_at_i
  FROM topk
),
nrel AS (
  SELECT CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_relevant
  FROM rel
),
ap AS (
  SELECT SUM(p_at_i) AS ap_sum,
         CAST(COUNT(p_at_i) AS BIGINT) AS n_hits
  FROM ap_terms
)
SELECT n.n_relevant, a.n_hits AS hits_at_k,
       {sql_stable_round(
           "CASE WHEN i.idcg > 0 THEN CAST(d.dcg AS DOUBLE)"
           " / CAST(i.idcg AS DOUBLE) ELSE 0.0 END", 6)} AS ndcg_at_k,
       {sql_stable_round(
           f"CASE WHEN LEAST(n.n_relevant, {_IR_K}) > 0 THEN"
           " CAST(a.ap_sum AS DOUBLE)"
           f" / CAST(LEAST(n.n_relevant, {_IR_K}) AS DOUBLE)"
           " ELSE 0.0 END", 6)} AS map_at_k
FROM dcg d, idcg i, ap a, nrel n
"""


def specs():
    from lab04_spark_streaming_spark.registry import QuerySpec

    return [
        QuerySpec("srm_check", q_srm_check, SQL_SRM_CHECK),
        QuerySpec(
            "obrien_fleming", q_obrien_fleming, _sql_obrien_fleming()
        ),
        QuerySpec("qte_deciles", q_qte_deciles, SQL_QTE_DECILES),
        QuerySpec("stratified_ate", q_stratified_ate, SQL_STRATIFIED_ATE),
        QuerySpec("retrieval_eval", q_retrieval_eval, _sql_retrieval_eval()),
    ]
