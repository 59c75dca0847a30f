"""Round-15 wave (built in driver round 9): monitoring/eval
completions — PSI distribution-drift scoring (beside KL/JS/EMD),
a Markov next-event prediction backtest (beside the path-transition
matrix), Fano-factor burstiness (beside the volume-anomaly alarm),
seasonal-strength scoring (beside the seasonal factors), pinball-loss
quantile-forecast evaluation (beside the quantile summaries and the
seasonal-naive backtest), and Herfindahl revenue concentration
(beside Gini/Lorenz/Theil).

House determinism rules throughout: counts are BIGINT, money rides
per-row decimal casts, quantiles are integer rank picks,
transcendentals (ln) only inside display-rounded or decimal-cast
terms, every train/eval split is the fixed mid-month cutoff.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lab04_spark_streaming_spark.functions.guards import (
    sql_stable_round,
    stable_round,
)
from lab04_spark_streaming_spark.operators.pinning import pin
from lab04_spark_streaming_spark.sources.files import load_table


_SPLIT = "2024-01-16 00:00:00"


# --- PSI distribution drift ---------------------------------------------------
_PSI_BIN_CENTS = 5_000
_PSI_BINS = 10


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second half of
    the month, per event type (the credit-scoring drift metric —
    Siddiqi 2006, public; the binned-actionable sibling of the KL/JS
    monitors): PSI = Σ_b (p2_b − p1_b)·ln(p2_b/p1_b) over the fixed
    integer-cent value bins (floor(value·100+0.5) div {w}, capped at
    {b}). Bin probabilities use the (c + 0.5)/(n + B/2) continuity
    correction so empty bins never produce ln(0) or a zero division
    on arbitrary inputs; each PSI term rides a decimal cast so the
    {bb}-term sum is order-free. Flags drift at the industry 0.2
    threshold.

    Scale: two grouped counts + a broadcast |cells|×{bb}-bin grid;
    nothing wider than (type, bin) ever shuffles."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.col("ts") < F.lit(_SPLIT)).cast("int").alias("h1"),
        F.least(
            (
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
                / F.lit(_PSI_BIN_CENTS)
            ).cast("bigint"),
            F.lit(_PSI_BINS - 1),
        ).alias("bin"),
    )
    cell = ev.groupBy("event_type", "bin").agg(
        F.sum("h1").alias("c1"),
        F.sum(1 - F.col("h1")).alias("c2"),
    )
    tot = ev.groupBy("event_type").agg(
        F.sum("h1").alias("n1"),
        F.sum(1 - F.col("h1")).alias("n2"),
    )
    grid = (
        tot.select("event_type", "n1", "n2")
        .crossJoin(
            F.broadcast(
                spark.range(_PSI_BINS).select(F.col("id").alias("bin"))
            )
        )
        .join(cell, ["event_type", "bin"], "left_outer")
        .select(
            "event_type",
            "n1",
            "n2",
            (
                (F.coalesce("c1", F.lit(0)).cast("double") + F.lit(0.5))
                / (F.col("n1").cast("double") + F.lit(_PSI_BINS / 2.0))
            ).alias("p1"),
            (
                (F.coalesce("c2", F.lit(0)).cast("double") + F.lit(0.5))
                / (F.col("n2").cast("double") + F.lit(_PSI_BINS / 2.0))
            ).alias("p2"),
        )
    )
    term = (
        (F.col("p2") - F.col("p1")) * F.log(F.col("p2") / F.col("p1"))
    ).cast("decimal(20,12)")
    return (
        grid.withColumn("_t", term)
        .groupBy("event_type")
        .agg(
            F.max("n1").alias("n_baseline"),
            F.max("n2").alias("n_current"),
            F.sum("_t").cast("double").alias("_psi"),
        )
        .select(
            "event_type",
            "n_baseline",
            "n_current",
            stable_round(F.col("_psi"), 6).alias("psi"),
            (F.col("_psi") > 0.2).alias("drifted"),
        )
    )


q_psi_drift.__doc__ = q_psi_drift.__doc__.format(
    w=_PSI_BIN_CENTS, b=_PSI_BINS - 1, bb=_PSI_BINS
)


SQL_PSI_DRIFT = f"""
WITH ev AS (
  SELECT event_type,
         CASE WHEN ts < '{_SPLIT}' THEN 1 ELSE 0 END AS h1,
         LEAST(CAST(floor(value * 100 + 0.5) AS BIGINT)
                 // {_PSI_BIN_CENTS},
               {_PSI_BINS - 1}) AS bin
  FROM events
),
cell AS (
  SELECT event_type, bin, CAST(SUM(h1) AS BIGINT) AS c1,
         CAST(SUM(1 - h1) AS BIGINT) AS c2
  FROM ev GROUP BY event_type, bin
),
tot AS (
  SELECT event_type, CAST(SUM(h1) AS BIGINT) AS n1,
         CAST(SUM(1 - h1) AS BIGINT) AS n2
  FROM ev GROUP BY event_type
),
grid AS (
  SELECT t.event_type, t.n1, t.n2,
         (CAST(COALESCE(c.c1, 0) AS DOUBLE) + 0.5)
           / (CAST(t.n1 AS DOUBLE) + {_PSI_BINS / 2.0}) AS p1,
         (CAST(COALESCE(c.c2, 0) AS DOUBLE) + 0.5)
           / (CAST(t.n2 AS DOUBLE) + {_PSI_BINS / 2.0}) AS p2
  FROM tot t
  CROSS JOIN (SELECT UNNEST(generate_series(0, {_PSI_BINS - 1})) AS bin) b
  LEFT JOIN cell c ON c.event_type = t.event_type AND c.bin = b.bin
),
terms AS (
  SELECT event_type, n1, n2,
         CAST((p2 - p1) * ln(p2 / p1) AS DECIMAL(20,12)) AS t
  FROM grid
)
SELECT event_type, MAX(n1) AS n_baseline, MAX(n2) AS n_current,
       {sql_stable_round("CAST(SUM(t) AS DOUBLE)", 6)} AS psi,
       CAST(SUM(t) AS DOUBLE) > 0.2 AS drifted
FROM terms GROUP BY event_type
"""


# --- Markov next-event prediction backtest -------------------------------------
def q_markov_next_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov next-event prediction backtest (the
    train/eval companion to the path-transition matrix in
    plans/mining): transitions observed in the first half of the
    month train the model — per previous type, the predicted next
    type is the modal successor (exact BIGINT counts, lexicographic
    tie-break) — and transitions whose BOTH endpoints fall in the
    second half score it: top-1 accuracy per previous type. A
    previous type never seen in training predicts NULL and scores
    zero. Every count is exact; accuracy is one display division.

    Scale: successor pairs come from one lead() window per user
    (partitioned, no global order); train/eval are |types|²-bounded
    aggregates; the modal pick is a |types|-partitioned rank."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("next_type", F.lead("event_type").over(w))
        .withColumn("next_ts", F.lead("ts").over(w))
        .filter(F.col("next_type").isNotNull())
    )
    train = (
        pairs.filter(F.col("next_ts") < F.lit(_SPLIT))
        .groupBy(
            F.col("event_type").alias("prev_type"),
            F.col("next_type").alias("cand"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wr = Window.partitionBy("prev_type").orderBy(F.desc("c"), "cand")
    model = (
        train.withColumn("r", F.row_number().over(wr))
        .filter(F.col("r") == 1)
        .select("prev_type", F.col("cand").alias("pred_next"))
    )
    ev_pairs = pairs.filter(F.col("ts") >= F.lit(_SPLIT)).select(
        F.col("event_type").alias("prev_type"), "next_type"
    )
    scored = ev_pairs.join(F.broadcast(model), "prev_type", "left_outer")
    return (
        scored.groupBy("prev_type")
        .agg(
            F.max("pred_next").alias("pred_next"),
            F.count(F.lit(1)).alias("n_eval"),
            F.sum(
                F.when(
                    F.col("next_type") == F.col("pred_next"), 1
                ).otherwise(0)
            ).alias("n_correct"),
        )
        .select(
            "prev_type",
            "pred_next",
            "n_eval",
            "n_correct",
            stable_round(
                F.col("n_correct").cast("double")
                / F.col("n_eval").cast("double"),
                6,
            ).alias("accuracy"),
        )
    )


SQL_MARKOV_NEXT_EVAL = f"""
WITH pairs AS (
  SELECT user_id, ts, event_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type,
         LEAD(ts) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS next_ts
  FROM events
),
valid AS (SELECT * FROM pairs WHERE next_type IS NOT NULL),
train AS (
  SELECT event_type AS prev_type, next_type AS cand,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM valid WHERE next_ts < '{_SPLIT}'
  GROUP BY 1, 2
),
model AS (
  SELECT prev_type, cand AS pred_next
  FROM (
    SELECT prev_type, cand,
           ROW_NUMBER() OVER (PARTITION BY prev_type
                              ORDER BY c DESC, cand) AS r
    FROM train
  ) WHERE r = 1
),
ev AS (
  SELECT event_type AS prev_type, next_type
  FROM valid WHERE ts >= '{_SPLIT}'
)
SELECT e.prev_type, MAX(m.pred_next) AS pred_next,
       CAST(COUNT(*) AS BIGINT) AS n_eval,
       CAST(SUM(CASE WHEN e.next_type = m.pred_next THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct,
       {sql_stable_round(
           "CAST(SUM(CASE WHEN e.next_type = m.pred_next THEN 1 ELSE 0"
           " END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)", 6)} AS accuracy
FROM ev e LEFT JOIN model m ON e.prev_type = m.prev_type
GROUP BY e.prev_type
"""


# --- Fano-factor burstiness ------------------------------------------------
_FANO_NUM = 3  # flag fano > 1.5 as the all-integer cross-multiply
_FANO_DEN = 2  # (n*sq - s*s) * DEN > NUM * (n-1) * s


def q_fano_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (index of dispersion) of hourly event counts per
    type (Fano 1947; the Poisson-overdispersion screen behind burst
    detection, public): over the COMPLETE hour grid from the corpus's
    first to last hour (zero hours included — dropping them biases
    the variance down exactly when traffic is burstiest), F =
    Var(c)/Mean(c) where every moment (Σc, Σc², n) is an exact
    BIGINT, the bursty flag is the cross-multiplied integer
    comparison (n·Σc² − S²)·{den} > {num}·(n−1)·S (F > 1.5 without a
    single rounding), and the displayed mean/fano are one division
    each.

    Scale: one (type, hour) count + a broadcast 1-row hour span
    crossed with the type list; moments reduce hours-bounded rows."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    )
    span = ev.agg(
        F.min("h").alias("h0"),
        F.max("h").alias("h1"),
    )
    types = ev.select("event_type").distinct()
    grid = (
        types.crossJoin(F.broadcast(span))
        .select(
            "event_type",
            F.explode(
                F.sequence(
                    F.col("h0"), F.col("h1"), F.expr("INTERVAL 1 HOUR")
                )
            ).alias("h"),
        )
    )
    counts = ev.groupBy("event_type", "h").agg(
        F.count(F.lit(1)).alias("c")
    )
    full = grid.join(counts, ["event_type", "h"], "left_outer").select(
        "event_type", F.coalesce("c", F.lit(0)).alias("c")
    )
    m = full.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("sq"),
    )
    var_num = F.col("n_hours") * F.col("sq") - F.col("s") * F.col("s")
    return m.select(
        "event_type",
        "n_hours",
        F.col("s").alias("n_events"),
        stable_round(
            F.col("s").cast("double") / F.col("n_hours").cast("double"), 6
        ).alias("mean_per_hour"),
        stable_round(
            F.when(
                (F.col("n_hours") > 1) & (F.col("s") > 0),
                var_num.cast("double")
                / (
                    (F.col("n_hours") - 1).cast("double")
                    * F.col("s").cast("double")
                ),
            ),
            6,
        ).alias("fano"),
        (
            var_num * _FANO_DEN
            > F.lit(_FANO_NUM) * (F.col("n_hours") - 1) * F.col("s")
        ).alias("bursty"),
    )


q_fano_burstiness.__doc__ = q_fano_burstiness.__doc__.format(
    num=_FANO_NUM, den=_FANO_DEN
)


SQL_FANO_BURSTINESS = f"""
WITH ev AS (
  SELECT event_type, date_trunc('hour', ts) AS h FROM events
),
span AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM ev),
grid AS (
  SELECT t.event_type, g.h
  FROM (SELECT DISTINCT event_type FROM ev) t
  CROSS JOIN (
    SELECT UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
    FROM span
  ) g
),
counts AS (
  SELECT event_type, h, CAST(COUNT(*) AS BIGINT) AS c
  FROM ev GROUP BY event_type, h
),
full_grid AS (
  SELECT g.event_type, CAST(COALESCE(c.c, 0) AS BIGINT) AS c
  FROM grid g LEFT JOIN counts c
    ON g.event_type = c.event_type AND g.h = c.h
),
m AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
         CAST(SUM(c) AS BIGINT) AS s, CAST(SUM(c * c) AS BIGINT) AS sq
  FROM full_grid GROUP BY event_type
)
SELECT event_type, n_hours, s AS n_events,
       {sql_stable_round(
           "CAST(s AS DOUBLE) / CAST(n_hours AS DOUBLE)", 6)}
         AS mean_per_hour,
       {sql_stable_round(
           "CASE WHEN n_hours > 1 AND s > 0 THEN"
           " CAST(n_hours * sq - s * s AS DOUBLE)"
           " / (CAST(n_hours - 1 AS DOUBLE) * CAST(s AS DOUBLE)) END",
           6)} AS fano,
       (n_hours * sq - s * s) * {_FANO_DEN}
         > {_FANO_NUM} * (n_hours - 1) * s AS bursty
FROM m
"""


# --- seasonal strength -------------------------------------------------------
def q_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-strength score per event type (the FPP
    Var-of-remainder measure, Hyndman & Athanasopoulos, public; the
    scorer the hour-of-day seasonal factors and the deseasonalized
    outliers assume): over the hourly mean-value series, F_s =
    max(0, 1 − Var(y − m_hod)/Var(y)) where m_hod is the type's
    hour-of-day mean — near 1 when the daily cycle explains the
    series, near 0 when it's noise. Hourly means are
    exact-decimal-derived doubles; both variances ride per-term
    decimal moments so the reductions are order-free; peak_hod is an
    exact integer argmax with a tie-break.

    Scale: one (type, hour) aggregate, one broadcast type×24 profile
    join, one moments reduction; the rank runs over 24 rows per
    type."""
    hourly = pin(
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
        )
        .agg(
            (
                F.sum(F.col("value").cast("decimal(30,6)")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("y")
        )
        .withColumn("hod", F.hour("h").cast("int"))
    )
    prof = hourly.groupBy("event_type", "hod").agg(
        (
            F.sum(F.col("y").cast("decimal(30,12)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("m")
    )
    wr = Window.partitionBy("event_type").orderBy(F.desc("m"), "hod")
    peak = (
        prof.withColumn("r", F.row_number().over(wr))
        .filter(F.col("r") == 1)
        .select("event_type", F.col("hod").alias("peak_hod"))
    )
    joined = hourly.join(F.broadcast(prof), ["event_type", "hod"]).select(
        "event_type",
        "y",
        (F.col("y") - F.col("m")).alias("r"),
    )
    m2 = joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum(F.col("y").cast("decimal(30,12)")).alias("sy"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(30,12)")).alias(
            "syy"
        ),
        F.sum(F.col("r").cast("decimal(30,12)")).alias("sr"),
        F.sum((F.col("r") * F.col("r")).cast("decimal(30,12)")).alias(
            "srr"
        ),
    )
    n = F.col("n_hours").cast("double")
    var_y = (
        F.col("syy").cast("double")
        - F.col("sy").cast("double") * F.col("sy").cast("double") / n
    )
    var_r = (
        F.col("srr").cast("double")
        - F.col("sr").cast("double") * F.col("sr").cast("double") / n
    )
    return (
        m2.join(F.broadcast(peak), "event_type")
        .select(
            "event_type",
            "n_hours",
            "peak_hod",
            stable_round(
                F.when(
                    var_y > 0,
                    F.greatest(
                        F.lit(1.0) - var_r / var_y, F.lit(0.0)
                    ),
                ),
                6,
            ).alias("seasonal_strength"),
        )
    )


SQL_SEASONAL_STRENGTH = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*)
           AS y
  FROM events GROUP BY 1, 2
),
hh AS (
  SELECT event_type, y, CAST(hour(h) AS INTEGER) AS hod FROM hourly
),
prof AS (
  SELECT event_type, hod,
         CAST(SUM(CAST(y AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*) AS m
  FROM hh GROUP BY event_type, hod
),
peak AS (
  SELECT event_type, hod AS peak_hod
  FROM (
    SELECT event_type, hod,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY m DESC, hod) AS r
    FROM prof
  ) WHERE r = 1
),
j AS (
  SELECT hh.event_type, hh.y, hh.y - p.m AS r
  FROM hh JOIN prof p ON hh.event_type = p.event_type AND hh.hod = p.hod
),
m2 AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
         SUM(CAST(y AS DECIMAL(30,12))) AS sy,
         SUM(CAST(y * y AS DECIMAL(30,12))) AS syy,
         SUM(CAST(r AS DECIMAL(30,12))) AS sr,
         SUM(CAST(r * r AS DECIMAL(30,12))) AS srr
  FROM j GROUP BY event_type
)
SELECT m2.event_type, n_hours, peak.peak_hod,
       {sql_stable_round(
           "CASE WHEN CAST(syy AS DOUBLE)"
           " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n_hours > 0"
           " THEN greatest(1.0 - (CAST(srr AS DOUBLE)"
           " - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) / n_hours)"
           " / (CAST(syy AS DOUBLE)"
           " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n_hours),"
           " 0.0) END", 6)} AS seasonal_strength
FROM m2 JOIN peak ON m2.event_type = peak.event_type
"""


# --- pinball-loss quantile-forecast eval ----------------------------------------
_PINBALL_TAUS = [1, 5, 9]  # tau * 10


def q_pinball_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinball (quantile) loss backtest (Koenker & Bassett 1978,
    public; the scoring rule quantile forecasts are judged by): the
    first half of the month fixes a constant per-type τ-quantile
    predictor (exact integer rank pick, the qte_deciles rule
    r·10 ≥ d·n), and the second half scores it. With values in exact
    integer cents, 10× the per-row loss — d·(y−q)⁺ + (10−d)·(q−y)⁺ —
    is an exact BIGINT, so the whole evaluation reduces in integers
    and the reported mean loss is ONE display division. Lower is
    better; the τ = 0.5 row is (twice) the MAE of the median
    predictor.

    Scale: one ranked pick per (type, τ) from the first half, one
    broadcast of the |types|×3 predictor grid, one integer
    reduction over the second half."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    h1 = ev.filter(F.col("ts") < F.lit(_SPLIT))
    w = Window.partitionBy("event_type").orderBy("cents", "event_id")
    nw = Window.partitionBy("event_type")
    ranked = h1.withColumn("r", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(nw)
    )
    taus = spark.range(0).sparkSession.createDataFrame(
        [(d,) for d in _PINBALL_TAUS], "d long"
    )
    q = (
        ranked.crossJoin(F.broadcast(taus))
        .filter(F.col("r") * 10 >= F.col("d") * F.col("n"))
        .groupBy("event_type", "d")
        .agg(F.min("cents").alias("q_cents"))
    )
    h2 = ev.filter(F.col("ts") >= F.lit(_SPLIT))
    scored = h2.join(F.broadcast(q), "event_type")
    loss10 = F.col("d") * F.greatest(
        F.col("cents") - F.col("q_cents"), F.lit(0)
    ) + (F.lit(10) - F.col("d")) * F.greatest(
        F.col("q_cents") - F.col("cents"), F.lit(0)
    )
    return (
        scored.groupBy("event_type", "d")
        .agg(
            F.count(F.lit(1)).alias("n_eval"),
            F.max("q_cents").alias("q_cents"),
            F.sum(loss10).alias("loss10_sum"),
        )
        .select(
            "event_type",
            (F.col("d").cast("double") / 10.0).alias("tau"),
            (F.col("q_cents").cast("double") / 100.0).alias("q"),
            "n_eval",
            stable_round(
                F.col("loss10_sum").cast("double")
                / (F.col("n_eval").cast("double") * 1000.0),
                6,
            ).alias("pinball"),
        )
    )


SQL_PINBALL_EVAL = f"""
WITH ev AS (
  SELECT event_type, ts, event_id,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
),
ranked AS (
  SELECT event_type, cents,
         CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                 ORDER BY cents, event_id) AS BIGINT) AS r,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM ev WHERE ts < '{_SPLIT}'
),
taus AS (SELECT CAST(UNNEST([{", ".join(str(d) for d in _PINBALL_TAUS)}])
                     AS BIGINT) AS d),
q AS (
  SELECT event_type, d, MIN(cents) AS q_cents
  FROM ranked, taus
  WHERE r * 10 >= d * n
  GROUP BY event_type, d
),
scored AS (
  SELECT e.event_type, q.d, q.q_cents,
         q.d * GREATEST(e.cents - q.q_cents, 0)
         + (10 - q.d) * GREATEST(q.q_cents - e.cents, 0) AS loss10
  FROM ev e JOIN q ON e.event_type = q.event_type
  WHERE e.ts >= '{_SPLIT}'
)
SELECT event_type,
       CAST(d AS DOUBLE) / 10.0 AS tau,
       CAST(MAX(q_cents) AS DOUBLE) / 100.0 AS q,
       CAST(COUNT(*) AS BIGINT) AS n_eval,
       {sql_stable_round(
           "CAST(SUM(loss10) AS DOUBLE)"
           " / (CAST(COUNT(*) AS DOUBLE) * 1000.0)", 6)} AS pinball
FROM scored GROUP BY event_type, d
"""


# --- Herfindahl revenue concentration -------------------------------------------
def q_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman revenue concentration per nation
    (Herfindahl 1950 / the antitrust concentration index, public; the
    squared-share sibling of Gini/Lorenz/Theil): per customer nation,
    HHI = Σ_c share_c² over each customer's share of the nation's
    lineitem revenue. Revenue is the house exact
    DECIMAL(30,4) discounted-price sum; shares are one division each
    and each squared share rides a decimal cast so the per-nation
    reduction is order-free. n_eff = 1/HHI (the equivalent count of
    equal customers) is the display everyone actually reads.

    Scale: revenue aggregates shuffle on custkey then nationkey; the
    share join broadcasts the 25-row nation-total relation."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"),
        (
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        ).alias("rev"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"), F.col("o_custkey").alias("ck")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("ck"), F.col("c_nationkey").alias("nk")
    )
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk"), F.col("n_name").alias("nation")
    )
    per_cust = (
        li.join(orders, "ok")
        .join(F.broadcast(cust), "ck")
        .groupBy("nk", "ck")
        .agg(F.sum(F.col("rev").cast("decimal(30,4)")).alias("crev"))
    )
    per_nation = per_cust.groupBy("nk").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("crev").alias("nrev"),
    )
    shares = per_cust.join(F.broadcast(per_nation), "nk").select(
        "nk",
        "n_customers",
        F.when(
            F.col("nrev") != 0,
            F.col("crev").cast("double") / F.col("nrev").cast("double"),
        ).alias("share"),
    )
    return (
        shares.groupBy("nk", "n_customers")
        .agg(
            F.sum(
                (F.col("share") * F.col("share")).cast("decimal(20,12)")
            )
            .cast("double")
            .alias("_hhi")
        )
        .join(F.broadcast(nation), "nk")
        .select(
            "nation",
            "n_customers",
            stable_round(F.col("_hhi"), 6).alias("hhi"),
            stable_round(
                F.when(F.col("_hhi") > 0, F.lit(1.0) / F.col("_hhi")), 4
            ).alias("n_effective"),
        )
    )


SQL_HHI_CONCENTRATION = f"""
WITH per_cust AS (
  SELECT c.c_nationkey AS nk, o.o_custkey AS ck,
         SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                  AS DECIMAL(30,4))) AS crev
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
),
per_nation AS (
  SELECT nk, CAST(COUNT(*) AS BIGINT) AS n_customers,
         SUM(crev) AS nrev
  FROM per_cust GROUP BY nk
),
shares AS (
  SELECT p.nk, n.n_customers,
         CASE WHEN n.nrev <> 0 THEN
           CAST(p.crev AS DOUBLE) / CAST(n.nrev AS DOUBLE) END AS share
  FROM per_cust p JOIN per_nation n ON p.nk = n.nk
),
h AS (
  SELECT nk, n_customers,
         CAST(SUM(CAST(share * share AS DECIMAL(20,12))) AS DOUBLE)
           AS hhi
  FROM shares GROUP BY nk, n_customers
)
SELECT na.n_name AS nation, h.n_customers,
       {sql_stable_round("h.hhi", 6)} AS hhi,
       {sql_stable_round(
           "CASE WHEN h.hhi > 0 THEN 1.0 / h.hhi END", 4)}
         AS n_effective
FROM h JOIN nation na ON h.nk = na.n_nationkey
"""


def specs():
    from lab04_spark_streaming_spark.registry import QuerySpec

    return [
        QuerySpec("psi_drift", q_psi_drift, SQL_PSI_DRIFT),
        QuerySpec(
            "markov_next_eval", q_markov_next_eval, SQL_MARKOV_NEXT_EVAL
        ),
        QuerySpec("fano_burstiness", q_fano_burstiness, SQL_FANO_BURSTINESS),
        QuerySpec(
            "seasonal_strength", q_seasonal_strength, SQL_SEASONAL_STRENGTH
        ),
        QuerySpec("pinball_eval", q_pinball_eval, SQL_PINBALL_EVAL),
        QuerySpec(
            "hhi_concentration", q_hhi_concentration, SQL_HHI_CONCENTRATION
        ),
    ]
