"""Round-13 wave (built in driver round 8): classical-statistics
odds-and-ends that round out existing families — Good–Turing
frequency smoothing (beside Kneser–Ney), Heaps'-law vocabulary growth
(beside the Zipf fit), a Benford first-digit audit (beside the DQ
checks), Tukey IQR fences (beside MAD/winsorize), cohort LTV curves
(beside retention cohorts), and time-decay attribution (beside
last-touch).

House determinism rules throughout: counts/ranks are BIGINT, order
statistics are integer rank picks, fixed-expression doubles only in
displays, bounded sums ride per-term decimal casts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lab04_spark_streaming_spark.functions.guards import (
    sql_stable_round,
    stable_round,
)
from lab04_spark_streaming_spark.operators.pinning import pin
from lab04_spark_streaming_spark.operators.splits import restore_splits
from lab04_spark_streaming_spark.operators.textops import (
    SPARK_TOKS,
    SQL_TOKS,
)
from lab04_spark_streaming_spark.sources.files import load_table


# --- Good–Turing frequency smoothing -----------------------------------------
_GT_MAX_R = 10


def q_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good–Turing frequency-of-frequencies smoothing (Good 1953,
    public): for each observed word count r ≤ {r}, the adjusted count
    r* = (r+1)·N_{{r+1}}/N_r — the estimate of how much probability
    mass the unseen vocabulary steals from each frequency class (the
    smoothing family Kneser–Ney descends from). N_r are exact BIGINTs
    from two grouped aggregates; r* is one exact division (display),
    NULL where N_{{r+1}} is empty; p0 = N_1/N (the unseen-mass
    estimate) rides along on the r = 1 row.

    Scale: the frequency-of-frequencies relation is tiny (≤ max
    observed count rows) after the vocab-bounded word count."""
    # wc feeds N_r AND the token total; nr feeds the filter AND its
    # own shifted self — pin both (multi-consumer rule)
    wc = pin(
        restore_splits(load_table(spark, sf_dir, "documents"), "doc_id")
        .select(F.explode(F.expr(SPARK_TOKS)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("r"))
    )
    nr = pin(
        wc.groupBy("r")
        .agg(F.count(F.lit(1)).alias("n_r"))
    )
    tot = wc.agg(F.sum("r").alias("n_tokens"))
    nxt = nr.select((F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r1"))
    return (
        nr.filter(F.col("r") <= _GT_MAX_R)
        .join(nxt, "r", "left_outer")
        .crossJoin(F.broadcast(tot))
        .select(
            "r",
            "n_r",
            F.coalesce("n_r1", F.lit(0)).alias("n_r_plus_1"),
            stable_round(
                F.when(
                    F.col("n_r1").isNotNull(),
                    (F.col("r") + 1)
                    * F.col("n_r1").cast("double")
                    / F.col("n_r").cast("double"),
                ),
                6,
            ).alias("r_star"),
            stable_round(
                F.when(
                    F.col("r") == 1,
                    F.col("n_r").cast("double")
                    / F.col("n_tokens").cast("double"),
                ),
                6,
            ).alias("p_unseen"),
        )
    )


q_good_turing.__doc__ = q_good_turing.__doc__.format(r=_GT_MAX_R)


SQL_GOOD_TURING = f"""
WITH wc AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS r
  FROM (SELECT unnest({SQL_TOKS}) AS w FROM documents)
  GROUP BY w
),
nr AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS n_r FROM wc GROUP BY r),
tot AS (SELECT CAST(SUM(r) AS BIGINT) AS n_tokens FROM wc)
SELECT a.r, a.n_r,
       COALESCE(b.n_r, 0) AS n_r_plus_1,
       {sql_stable_round(
           "CASE WHEN b.n_r IS NOT NULL THEN"
           " (a.r + 1) * CAST(b.n_r AS DOUBLE) / CAST(a.n_r AS DOUBLE) END",
           6)} AS r_star,
       {sql_stable_round(
           "CASE WHEN a.r = 1 THEN"
           " CAST(a.n_r AS DOUBLE) / CAST(t.n_tokens AS DOUBLE) END",
           6)} AS p_unseen
FROM nr a LEFT JOIN nr b ON b.r = a.r + 1
CROSS JOIN tot t
WHERE a.r <= {_GT_MAX_R}
"""


# --- Heaps'-law vocabulary growth --------------------------------------------
_HEAPS_SNAPSHOTS = 10


def q_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth fit (Heaps 1978, public):
    V(n) ≈ K·n^β — how fast the vocabulary grows as the corpus grows,
    the number that sizes a tokenizer's OOV budget before scaling a
    crawl 100×. Corpus prefixes are doc_id deciles; V(prefix) needs
    only each word's FIRST decile (min over its docs — no cumulative
    re-scan); the per-decile cumulative token count and distinct
    count are exact; β and log2(K) come from the closed-form OLS over
    the ≤{s} (log2 n, log2 V) points with per-term decimal casts
    (order-free), emitted as displays beside the exact points.

    Scale: everything after the word→first-decile aggregate is a
    ≤{s}-row relation."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count(F.lit(1)).alias("nd"))
    # the token stream feeds first-decile AND per-decile counts —
    # split-restore + pin once.
    toks = pin(
        restore_splits(docs, "doc_id")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.least(
                F.lit(_HEAPS_SNAPSHOTS - 1).cast("long"),
                F.expr(f"(doc_id * {_HEAPS_SNAPSHOTS}) div nd"),
            ).alias("dec"),
            F.explode(F.expr(SPARK_TOKS)).alias("w"),
        )
    )
    first_dec = toks.groupBy("w").agg(F.min("dec").alias("fd"))
    new_terms = first_dec.groupBy("fd").agg(
        F.count(F.lit(1)).alias("new_v")
    )
    tokens_per = toks.groupBy("dec").agg(F.count(F.lit(1)).alias("nt"))
    w = Window.orderBy("dec").rowsBetween(Window.unboundedPreceding, 0)
    pts = (
        tokens_per.join(
            new_terms.withColumnRenamed("fd", "dec"), "dec", "left_outer"
        )
        .select(
            "dec",
            F.sum("nt").over(w).alias("n_tokens"),
            F.sum(F.coalesce("new_v", F.lit(0))).over(w).alias("vocab"),
        )
        .filter((F.col("n_tokens") > 0) & (F.col("vocab") > 0))
    )
    lx = F.log2(F.col("n_tokens").cast("double"))
    ly = F.log2(F.col("vocab").cast("double"))
    fit = pts.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(lx.cast("decimal(30,12)")).alias("sx"),
        F.sum(ly.cast("decimal(30,12)")).alias("sy"),
        F.sum((lx * lx).cast("decimal(30,12)")).alias("sxx"),
        F.sum((lx * ly).cast("decimal(30,12)")).alias("sxy"),
    )
    k = F.col("k").cast("double")
    beta = (
        (k * F.col("sxy").cast("double")
         - F.col("sx").cast("double") * F.col("sy").cast("double"))
        / (k * F.col("sxx").cast("double")
           - F.col("sx").cast("double") * F.col("sx").cast("double"))
    )
    intercept = (
        F.col("sy").cast("double") - beta * F.col("sx").cast("double")
    ) / k
    guarded = F.when(
        (F.col("k") > 1)
        & (
            k * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")
            > 0
        ),
        beta,
    )
    return pts.crossJoin(F.broadcast(fit)).select(
        "dec",
        "n_tokens",
        "vocab",
        stable_round(guarded, 6).alias("beta"),
        stable_round(
            F.when(guarded.isNotNull(), intercept), 6
        ).alias("log2_k"),
    )


q_heaps_law.__doc__ = q_heaps_law.__doc__.format(s=_HEAPS_SNAPSHOTS)


SQL_HEAPS_LAW = f"""
WITH nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
toks AS (
  SELECT LEAST(CAST({_HEAPS_SNAPSHOTS - 1} AS BIGINT),
               (doc_id * {_HEAPS_SNAPSHOTS}) // nd.nd) AS dec,
         unnest({SQL_TOKS}) AS w
  FROM documents, nd
),
first_dec AS (SELECT w, MIN(dec) AS fd FROM toks GROUP BY w),
new_terms AS (
  SELECT fd AS dec, CAST(COUNT(*) AS BIGINT) AS new_v
  FROM first_dec GROUP BY fd
),
tokens_per AS (
  SELECT dec, CAST(COUNT(*) AS BIGINT) AS nt FROM toks GROUP BY dec
),
pts AS (
  SELECT t.dec,
         CAST(SUM(t.nt) OVER (ORDER BY t.dec) AS BIGINT) AS n_tokens,
         CAST(SUM(COALESCE(n.new_v, 0)) OVER (ORDER BY t.dec) AS BIGINT)
           AS vocab
  FROM tokens_per t LEFT JOIN new_terms n ON t.dec = n.dec
),
ptsf AS (SELECT * FROM pts WHERE n_tokens > 0 AND vocab > 0),
fit AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         SUM(CAST(log2(CAST(n_tokens AS DOUBLE)) AS DECIMAL(30,12))) AS sx,
         SUM(CAST(log2(CAST(vocab AS DOUBLE)) AS DECIMAL(30,12))) AS sy,
         SUM(CAST(log2(CAST(n_tokens AS DOUBLE))
             * log2(CAST(n_tokens AS DOUBLE)) AS DECIMAL(30,12))) AS sxx,
         SUM(CAST(log2(CAST(n_tokens AS DOUBLE))
             * log2(CAST(vocab AS DOUBLE)) AS DECIMAL(30,12))) AS sxy
  FROM ptsf
),
coef AS (
  SELECT k,
         CASE WHEN k > 1 AND CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
         THEN (CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         END AS beta,
         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
  FROM fit
)
SELECT p.dec, p.n_tokens, p.vocab,
       {sql_stable_round("c.beta", 6)} AS beta,
       {sql_stable_round(
           "CASE WHEN c.beta IS NOT NULL THEN"
           " (c.syd - c.beta * c.sxd) / c.k END", 6)} AS log2_k
FROM ptsf p, coef c
"""


# --- Benford first-digit audit ------------------------------------------------
def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals (Benford 1938;
    Nigrini's fraud-audit staple, public): naturally-occurring
    multi-scale amounts should have first-digit frequencies
    log10(1+1/d) — a strong deviation flags fabricated or truncated
    data, the forensic sibling of the Deequ-style dq_checks. Observed
    digit counts are exact (string head of the absolute value);
    expected shares are fixed literal constants; the χ² contribution
    per digit is a fixed-expression display.

    Scale: one scan, a 9-row output; the digit extraction is a
    string projection inside codegen."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 0
    )
    # first SIGNIFICANT digit: first [1-9] of the decimal rendering
    # (both engines render shortest round-trip decimals — the leading
    # significant digit is determined by the value, not the renderer)
    digit = F.regexp_extract(
        F.col("o_totalprice").cast("string"), "([1-9])", 1
    ).cast("int")
    obs = (
        orders.select(digit.alias("d"))
        .filter(F.col("d").between(1, 9))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    tot = obs.agg(F.sum("n_obs").alias("n_total"))
    p = F.log10(1.0 + 1.0 / F.col("d").cast("double"))
    return (
        obs.crossJoin(F.broadcast(tot))
        .select(
            "d",
            "n_obs",
            "n_total",
            stable_round(p, 6).alias("p_benford"),
            stable_round(
                F.pow(
                    F.col("n_obs").cast("double")
                    - p * F.col("n_total").cast("double"),
                    F.lit(2.0),
                )
                / (p * F.col("n_total").cast("double")),
                6,
            ).alias("chi2_term"),
        )
    )


SQL_BENFORD_AUDIT = f"""
WITH obs AS (
  SELECT d, CAST(COUNT(*) AS BIGINT) AS n_obs FROM (
    SELECT CAST(substr(regexp_replace(
             format('{{:.10f}}', o_totalprice), '[0.,]*', ''), 1, 1)
           AS INTEGER) AS d
    FROM orders WHERE o_totalprice > 0
  ) WHERE d BETWEEN 1 AND 9
  GROUP BY d
),
tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n_total FROM obs)
SELECT d, n_obs, n_total,
       {sql_stable_round("log10(1.0 + 1.0 / CAST(d AS DOUBLE))", 6)}
         AS p_benford,
       {sql_stable_round(
           "pow(CAST(n_obs AS DOUBLE) - log10(1.0 + 1.0 / CAST(d AS DOUBLE))"
           " * CAST(n_total AS DOUBLE), 2.0)"
           " / (log10(1.0 + 1.0 / CAST(d AS DOUBLE))"
           " * CAST(n_total AS DOUBLE))", 6)} AS chi2_term
FROM obs, tot
"""


# --- Tukey IQR fences -----------------------------------------------------------
def q_tukey_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey boxplot outlier fences per event type (Tukey 1977,
    public): Q1/Q3 as exact order statistics (rank ⌈n/4⌉ / ⌈3n/4⌉,
    full tie-break), fences at Q1−1.5·IQR and Q3+1.5·IQR, and the
    exact count of values outside — the third robust-outlier lens
    beside MAD and the deseasonalized p99. Quantile picks are integer
    rank decisions; the fence comparison is a fixed expression over
    two selected doubles; outlier counts are BIGINT.

    Scale: per-type rank windows; at petabyte scale the quantile pick
    is a merged-summary cut (quantile_merge_eval's audited path). The
    ranked pin is one row per events row (read 4 times: q1/q3/fences
    join/outlier count)."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value", "event_id")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    n = Window.partitionBy("event_type")
    ranked = pin(
        ev.select(
            "event_type",
            "value",
            F.row_number().over(w).alias("r"),
            F.count(F.lit(1)).over(n).alias("n"),
        )
    )
    q1 = (
        ranked.filter(F.col("r") * 4 >= F.col("n"))
        .groupBy("event_type")
        .agg(F.min("value").alias("q1"))
    )
    q3 = (
        ranked.filter(F.col("r") * 4 >= 3 * F.col("n"))
        .groupBy("event_type")
        .agg(F.min("value").alias("q3"))
    )
    fences = q1.join(q3, "event_type").select(
        "event_type",
        "q1",
        "q3",
        (F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))).alias("lo"),
        (F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))).alias("hi"),
    )
    return (
        ranked.join(F.broadcast(fences), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            F.max(stable_round(F.col("q1"), 6)).alias("q1"),
            F.max(stable_round(F.col("q3"), 6)).alias("q3"),
            F.sum(
                F.when(
                    (F.col("value") < F.col("lo"))
                    | (F.col("value") > F.col("hi")),
                    1,
                ).otherwise(0)
            ).alias("n_outliers"),
        )
    )


SQL_TUKEY_FENCES = f"""
WITH ranked AS (
  SELECT event_type, value,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY event_type ORDER BY value, event_id) AS BIGINT) AS r,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM events
),
q1 AS (
  SELECT event_type, MIN(value) AS q1 FROM ranked
  WHERE r * 4 >= n GROUP BY event_type
),
q3 AS (
  SELECT event_type, MIN(value) AS q3 FROM ranked
  WHERE r * 4 >= 3 * n GROUP BY event_type
),
fences AS (
  SELECT a.event_type, a.q1, b.q3,
         a.q1 - 1.5 * (b.q3 - a.q1) AS lo,
         b.q3 + 1.5 * (b.q3 - a.q1) AS hi
  FROM q1 a JOIN q3 b ON a.event_type = b.event_type
)
SELECT r.event_type,
       MAX(r.n) AS n,
       MAX({sql_stable_round("f.q1", 6)}) AS q1,
       MAX({sql_stable_round("f.q3", 6)}) AS q3,
       CAST(SUM(CASE WHEN r.value < f.lo OR r.value > f.hi
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM ranked r JOIN fences f ON r.event_type = f.event_type
GROUP BY r.event_type
"""


# --- cohort LTV curve ----------------------------------------------------------
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: users grouped by first-seen week
    (the retention_cohorts key), cumulative per-user value by age
    week — the business readout that says whether newer cohorts
    monetize faster, and the batch shape of every LTV dashboard.
    Value sums are exact per-row decimals cumulated over a
    cohort-partitioned window; cumulative LTV-per-user is one exact
    division (display); counts BIGINT.

    Scale: (cohort_week × age_week)-bounded relations after one
    grouped pass; the cumulative window is per-cohort over the
    age grid."""
    ev = load_table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    joined = ev.join(first, "user_id").select(
        "cohort_week",
        F.floor(
            (F.col("ts").cast("long")
             - F.col("cohort_week").cast("long")) / (7 * 86400)
        ).alias("age_week"),
        F.col("value").cast("decimal(30,6)").alias("v"),
    )
    sizes = first.groupBy("cohort_week").agg(
        F.countDistinct("user_id").alias("cohort_users")
    )
    grid = joined.groupBy("cohort_week", "age_week").agg(
        F.sum("v").alias("wv"), F.count(F.lit(1)).alias("n_events")
    )
    w = Window.partitionBy("cohort_week").orderBy("age_week").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        grid.withColumn("cum_v", F.sum("wv").over(w))
        .join(F.broadcast(sizes), "cohort_week")
        .select(
            F.to_date("cohort_week").alias("cohort_week"),
            "age_week",
            "n_events",
            "cohort_users",
            stable_round(
                F.col("cum_v").cast("double")
                / F.col("cohort_users").cast("double"),
                6,
            ).alias("cum_ltv_per_user"),
        )
    )


SQL_COHORT_LTV = f"""
WITH first AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
  FROM events GROUP BY user_id
),
joined AS (
  SELECT f.cohort_week,
         CAST(FLOOR((epoch(e.ts) - epoch(f.cohort_week)) / (7 * 86400))
              AS BIGINT) AS age_week,
         CAST(e.value AS DECIMAL(30,6)) AS v
  FROM events e JOIN first f ON e.user_id = f.user_id
),
sizes AS (
  SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_users
  FROM first GROUP BY cohort_week
),
grid AS (
  SELECT cohort_week, age_week, SUM(v) AS wv,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM joined GROUP BY cohort_week, age_week
),
cum AS (
  SELECT cohort_week, age_week, n_events,
         SUM(wv) OVER (PARTITION BY cohort_week ORDER BY age_week) AS cum_v
  FROM grid
)
SELECT CAST(c.cohort_week AS DATE) AS cohort_week, c.age_week, c.n_events,
       s.cohort_users,
       {sql_stable_round(
           "CAST(c.cum_v AS DOUBLE) / CAST(s.cohort_users AS DOUBLE)",
           6)} AS cum_ltv_per_user
FROM cum c JOIN sizes s ON c.cohort_week = s.cohort_week
"""


# --- time-decay attribution ------------------------------------------------------
_TD_HALFLIFE_S = 86400  # 1 day


def q_time_decay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution: each purchase's credit is
    split across the user's PRECEDING touches (click/view within 7
    days) with weight 2^(−Δt/halflife) — the standard compromise
    between last-touch (all credit to the final click; see
    last_touch_attribution in plans/mining) and linear splitting.
    Each weight is one fixed exp2 expression of an integer Δt; the
    per-purchase normalization and per-channel credit sums ride
    per-term decimal casts (order-free); output is exact credit per
    (touch type).

    Scale: the touch join is a per-user range join bounded by the
    7-day window; credits aggregate on the tiny channel key."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("p_id"),
        F.col("ts").alias("p_ts"),
    )
    touches = ev.filter(
        F.col("event_type").isin("click", "view")
    ).select(
        "user_id",
        F.col("event_type").alias("channel"),
        F.col("ts").alias("t_ts"),
    )
    j = purchases.join(touches, "user_id").filter(
        (F.col("t_ts") < F.col("p_ts"))
        & (
            F.col("t_ts")
            >= F.col("p_ts") - F.expr("interval 7 days")
        )
    )
    wgt = F.pow(
        F.lit(2.0),
        -(
            F.col("p_ts").cast("long") - F.col("t_ts").cast("long")
        ).cast("double")
        / F.lit(float(_TD_HALFLIFE_S)),
    )
    per_p = j.select(
        "p_id", "channel", wgt.cast("decimal(30,12)").alias("wq")
    )
    norms = per_p.groupBy("p_id").agg(F.sum("wq").alias("z"))
    credited = per_p.join(norms, "p_id").select(
        "channel",
        (
            F.col("wq").cast("double") / F.col("z").cast("double")
        ).cast("decimal(30,12)").alias("credit"),
    )
    return credited.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_touches"),
        stable_round(F.sum("credit").cast("double"), 4).alias(
            "total_credit"
        ),
    )


SQL_TIME_DECAY_ATTRIBUTION = f"""
WITH purchases AS (
  SELECT user_id, event_id AS p_id, ts AS p_ts
  FROM events WHERE event_type = 'purchase'
),
touches AS (
  SELECT user_id, event_type AS channel, ts AS t_ts
  FROM events WHERE event_type IN ('click', 'view')
),
j AS (
  SELECT p.p_id, t.channel,
         CAST(pow(2.0, -CAST(CAST(floor(epoch(p.p_ts)) AS BIGINT)
              - CAST(floor(epoch(t.t_ts)) AS BIGINT) AS DOUBLE)
              / {float(_TD_HALFLIFE_S)}) AS DECIMAL(30,12)) AS wq
  FROM purchases p JOIN touches t
    ON p.user_id = t.user_id
   AND t.t_ts < p.p_ts AND t.t_ts >= p.p_ts - INTERVAL 7 DAY
),
norms AS (SELECT p_id, SUM(wq) AS z FROM j GROUP BY p_id),
credited AS (
  SELECT j.channel,
         CAST(CAST(j.wq AS DOUBLE) / CAST(n.z AS DOUBLE)
              AS DECIMAL(30,12)) AS credit
  FROM j JOIN norms n ON j.p_id = n.p_id
)
SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_touches,
       {sql_stable_round("CAST(SUM(credit) AS DOUBLE)", 4)} AS total_credit
FROM credited GROUP BY channel
"""


def specs():
    from lab04_spark_streaming_spark.registry import QuerySpec

    return [
        QuerySpec("good_turing", q_good_turing, SQL_GOOD_TURING),
        QuerySpec("heaps_law", q_heaps_law, SQL_HEAPS_LAW),
        QuerySpec("benford_audit", q_benford_audit, SQL_BENFORD_AUDIT),
        QuerySpec("tukey_fences", q_tukey_fences, SQL_TUKEY_FENCES),
        QuerySpec("cohort_ltv", q_cohort_ltv, SQL_COHORT_LTV),
        QuerySpec(
            "time_decay_attribution",
            q_time_decay_attribution,
            SQL_TIME_DECAY_ATTRIBUTION,
        ),
    ]
