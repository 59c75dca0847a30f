"""Time-series analytics over the events stream table (round-6 surface
widening): funnel analysis, moving median, EWMA smoothing, time-weighted
average, gap-fill with last-observation-carried-forward, and MAD-based
outlier detection — the operations a monitoring/metrics user of the
reference's streaming lab would reach for next, each expressed as a
declarative Spark plan with a DuckDB oracle twin.

Cross-engine determinism (registry.py rules):
  * percentile/median use the shared exact interpolation
    ``lower + (upper-lower)*frac`` at pos ``q*(n-1)`` in BOTH engines
    (same contract as the existing percentiles_exact query), so framed
    window medians and group medians are bit-identical doubles.
  * EWMA weights are shared decimal literals (floor(0.9^j·1e6)/1e6,
    exact DECIMAL(7,6)) — the weighted sums run in decimal (unscaled
    < 2^53, so the final decimal→double is single-rounded identically)
    and only the last division happens in double.
  * TWAP weights are integer microseconds; value·weight products are
    exact decimals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lab04_spark_streaming_spark.sources.files import load_table


# --- funnel analysis -------------------------------------------------------
def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view → click → purchase per user: each stage's
    timestamp is the FIRST qualifying event strictly after the previous
    stage (not just any co-occurrence). Every join is on the user key —
    one shuffle partitioning reused across all three stages; stage
    relations are per-user aggregates, so no row blowup."""
    ev = load_table(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("view_ts"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("view_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("click_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    stage = (
        F.when(F.col("view_ts").isNotNull(), 1).otherwise(0)
        + F.when(F.col("click_ts").isNotNull(), 1).otherwise(0)
        + F.when(F.col("purchase_ts").isNotNull(), 1).otherwise(0)
    )
    return (
        users.join(v, "user_id", "left")
        .join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            "view_ts",
            "click_ts",
            "purchase_ts",
            stage.cast("int").alias("funnel_stage"),
        )
    )


SQL_FUNNEL_STEPS = """
WITH v AS (
  SELECT user_id, MIN(ts) AS view_ts
  FROM events WHERE event_type = 'view' GROUP BY 1
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS click_ts
  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.view_ts
  WHERE e.event_type = 'click' GROUP BY 1
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS purchase_ts
  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.click_ts
  WHERE e.event_type = 'purchase' GROUP BY 1
)
SELECT u.user_id, v.view_ts, c.click_ts, p.purchase_ts,
       CAST((CASE WHEN v.view_ts IS NOT NULL THEN 1 ELSE 0 END)
          + (CASE WHEN c.click_ts IS NOT NULL THEN 1 ELSE 0 END)
          + (CASE WHEN p.purchase_ts IS NOT NULL THEN 1 ELSE 0 END)
         AS INTEGER) AS funnel_stage
FROM (SELECT DISTINCT user_id FROM events) u
LEFT JOIN v ON u.user_id = v.user_id
LEFT JOIN c ON u.user_id = c.user_id
LEFT JOIN p ON u.user_id = p.user_id
"""


# --- moving median / p90 ---------------------------------------------------
def q_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling exact median and p90 over the last 21 events per user
    (ROWS frame — rank-based stats Spark's time ``window()`` can't
    express; ``median`` itself rejects a frame, ``percentile`` accepts
    one). Per-user partitions, single window shuffle; both engines use
    the same lower+(upper-lower)·frac interpolation on identical
    doubles, so no rounding is needed."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-20, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.expr("percentile(value, 0.5)").over(w).alias("med21"),
        F.expr("percentile(value, 0.9)").over(w).alias("p90_21"),
    )


SQL_MOVING_MEDIAN = """
SELECT user_id, event_id, ts,
       quantile_cont(value, 0.5) OVER w AS med21,
       quantile_cont(value, 0.9) OVER w AS p90_21
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 20 PRECEDING AND CURRENT ROW)
"""


# --- EWMA smoothing --------------------------------------------------------
_EWMA_DECAY = 0.9
_EWMA_DEPTH = 20


def _ewma_weights() -> list[str]:
    """Exact DECIMAL(7,6) literals floor(0.9^j·1e6)/1e6, j=0..19 —
    generated once and embedded IDENTICALLY in the Spark plan and the
    DuckDB oracle, so there is no cross-engine pow() to disagree on."""
    out = []
    for j in range(_EWMA_DEPTH):
        w = int(_EWMA_DECAY**j * 1_000_000)
        out.append(f"{w // 1_000_000}.{w % 1_000_000:06d}")
    return out


def q_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth EWMA per user: y_t = Σ_{j<20} w_j·x_{t-j} / Σ w_j
    with w_j = 0.9^j truncated to 6 decimals. Shaped as an equi-join on
    the user key with a bounded rank-band residual (≤20× expansion, a
    constant) plus a broadcast weight-table join — the decimal sums are
    exact, so the result is reproducible under any partitioning. The
    truly-recursive unbounded EWMA is inherently sequential; the
    bounded form is the scale-correct surrogate (tail weight < 0.9^20
    ≈ 0.012 of the mass)."""
    weights = ", ".join(
        f"({j}, CAST({w} AS DECIMAL(7,6)))" for j, w in enumerate(_ewma_weights())
    )
    wtab = spark.sql(f"SELECT lag_j, w FROM (VALUES {weights}) AS t(lag_j, w)")
    ev = load_table(spark, sf_dir, "events")
    rn = F.row_number().over(
        Window.partitionBy("user_id").orderBy("ts", "event_id")
    )
    base = ev.select("user_id", "event_id", "ts", "value").withColumn("_rn", rn)
    cur = base.select(
        "user_id",
        F.col("event_id").alias("event_id"),
        F.col("ts").alias("ts"),
        F.col("_rn").alias("_rn_c"),
    )
    past = base.select(
        F.col("user_id").alias("user_id"),
        F.col("_rn").alias("_rn_p"),
        F.col("value").alias("_v"),
    )
    joined = (
        cur.join(past, "user_id")
        .filter(
            (F.col("_rn_p") <= F.col("_rn_c"))
            & (F.col("_rn_p") > F.col("_rn_c") - _EWMA_DEPTH)
        )
        .withColumn("lag_j", (F.col("_rn_c") - F.col("_rn_p")).cast("int"))
        .join(F.broadcast(wtab), "lag_j")
    )
    vw = F.col("_v").cast("decimal(10,2)") * F.col("w")
    return (
        joined.groupBy("user_id", "event_id", "ts")
        .agg(
            (
                F.sum(vw).cast("double")
                / F.sum(F.col("w")).cast("double")
            ).alias("ewma")
        )
    )


def _sql_ewma() -> str:
    weights = ", ".join(
        f"({j}, CAST({w} AS DECIMAL(7,6)))" for j, w in enumerate(_ewma_weights())
    )
    return f"""
WITH wtab(lag_j, w) AS (VALUES {weights}),
base AS (
  SELECT user_id, event_id, ts, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
)
SELECT c.user_id, c.event_id, c.ts,
       CAST(SUM(CAST(p.value AS DECIMAL(10,2)) * wtab.w) AS DOUBLE)
         / CAST(SUM(wtab.w) AS DOUBLE) AS ewma
FROM base c
JOIN base p ON p.user_id = c.user_id
           AND p.rn <= c.rn AND p.rn > c.rn - {_EWMA_DEPTH}
JOIN wtab ON wtab.lag_j = c.rn - p.rn
GROUP BY c.user_id, c.event_id, c.ts
"""


# --- time-weighted average -------------------------------------------------
def twap_hourly(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    order_col: str = "event_id",
) -> DataFrame:
    """Hourly TWAP per key: each observation holds until the next one
    in the same hour (the last until the hour end), weights in integer
    microseconds, value·weight products in exact decimal. One window
    shuffle on (key, hour) then a hash agg on the same keys — Spark
    reuses the partitioning, no second exchange. Shared by the batch
    query and the streaming twin's parity test
    (streaming/state.twap_stream)."""
    h = F.date_trunc("hour", F.col(ts_col))
    w = Window.partitionBy(key_col, "h").orderBy(ts_col, order_col)
    hour_end_us = F.unix_micros(F.col("h")) + F.lit(3_600_000_000)
    ts_us = F.unix_micros(F.col(ts_col))
    prepared = (
        df.select(key_col, ts_col, order_col, value_col)
        .withColumn("h", h)
        .withColumn(
            "_w_us",
            F.coalesce(F.lead(ts_us).over(w), hour_end_us) - ts_us,
        )
    )
    vw = F.col(value_col).cast("decimal(10,2)") * F.col("_w_us")
    return (
        prepared.groupBy(key_col, "h")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("_w_us").alias("span_us"),
            (F.sum(vw).cast("double") / F.sum("_w_us").cast("double")).alias(
                "twap"
            ),
        )
        .select(
            key_col, F.col("h").alias("hour_start"), "n_events", "span_us", "twap"
        )
    )


def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly TWAP per user over the events table — see
    :func:`twap_hourly` for the plan shape."""
    return twap_hourly(load_table(spark, sf_dir, "events"))


SQL_TIME_WEIGHTED_AVG = """
WITH prepared AS (
  SELECT user_id, date_trunc('hour', ts) AS h, value,
         COALESCE(
           lead(epoch_us(ts)) OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                    ORDER BY ts, event_id),
           epoch_us(date_trunc('hour', ts)) + 3600000000
         ) - epoch_us(ts) AS w_us
  FROM events
)
SELECT user_id, h AS hour_start, COUNT(*) AS n_events,
       CAST(SUM(w_us) AS BIGINT) AS span_us,
       CAST(SUM(CAST(value AS DECIMAL(10,2)) * w_us) AS DOUBLE)
         / CAST(SUM(w_us) AS DOUBLE) AS twap
FROM prepared
GROUP BY user_id, h
"""


# --- gap fill (hourly grid + LOCF) ----------------------------------------
def q_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample each user's event series onto an hourly grid with
    last-observation-carried-forward: grid = sequence() explode between
    the user's first/last truncated hours, fill = the generic as-of
    operator (operators/asof.py — chunked union-fill scan, no range
    join, no row-pair blowup). Emits the carried value and its age;
    NULLs before the first observation. DuckDB twin is a native ASOF
    LEFT JOIN — same <= tie rule."""
    from lab04_spark_streaming_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    grid = (
        ev.groupBy("user_id")
        .agg(
            F.date_trunc("hour", F.min("ts")).alias("_t0"),
            F.date_trunc("hour", F.max("ts")).alias("_t1"),
        )
        .select(
            "user_id",
            F.explode(
                F.sequence("_t0", "_t1", F.expr("interval 1 hour"))
            ).alias("ts"),
        )
    )
    right = ev.select(
        "user_id", "ts", F.col("value").alias("last_value")
    )
    filled = asof_join(
        grid,
        right,
        ts_col="ts",
        by=["user_id"],
        value_cols=["last_value"],
    )
    age_s = (
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("ts_asof")))
        / F.lit(1_000_000)
    ).cast("bigint")
    return filled.select(
        "user_id",
        F.col("ts").alias("grid_ts"),
        F.col("last_value_asof").alias("last_value"),
        age_s.alias("age_s"),
    )


def q_gap_fill_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly-grid resampling with LINEAR interpolation: a backward and
    a forward as-of join bracket every grid point, then
    v = v0 + (v1-v0)·(g-t0)/(t1-t0). Two linear union-fill scans, no
    range join. NULL before the first observation; carried-forward v0
    after the last; the coincident-event case (t1 = t0) short-circuits
    to v0 — both because a 0/0 division would be engine-dependent and
    because the observation itself IS the answer. The µs ratio and the
    interpolation arithmetic are identical IEEE doubles cross-engine."""
    from lab04_spark_streaming_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    grid = (
        ev.groupBy("user_id")
        .agg(
            F.date_trunc("hour", F.min("ts")).alias("_t0"),
            F.date_trunc("hour", F.max("ts")).alias("_t1"),
        )
        .select(
            "user_id",
            F.explode(
                F.sequence("_t0", "_t1", F.expr("interval 1 hour"))
            ).alias("ts"),
        )
    )
    right = ev.select("user_id", "ts", F.col("value").alias("v"))
    back = asof_join(
        grid, right, ts_col="ts", by=["user_id"], value_cols=["v"],
        suffix="_b",
    )
    both = asof_join(
        back, right, ts_col="ts", by=["user_id"], value_cols=["v"],
        suffix="_f", direction="forward",
    )
    g_us = F.unix_micros(F.col("ts"))
    t0_us = F.unix_micros(F.col("ts_b"))
    t1_us = F.unix_micros(F.col("ts_f"))
    frac = (g_us - t0_us).cast("double") / (t1_us - t0_us).cast("double")
    interp = (
        F.when(F.col("v_b").isNull(), F.lit(None).cast("double"))
        .when(F.col("v_f").isNull(), F.col("v_b"))
        .when(t1_us == t0_us, F.col("v_b"))
        .otherwise(F.col("v_b") + (F.col("v_f") - F.col("v_b")) * frac)
    )
    return both.select(
        "user_id",
        F.col("ts").alias("grid_ts"),
        F.col("v_b").alias("v_before"),
        F.col("v_f").alias("v_after"),
        interp.alias("v_interp"),
    )


SQL_GAP_FILL_INTERP = """
WITH grid AS (
  SELECT user_id, unnest(generate_series(
           date_trunc('hour', MIN(ts)),
           date_trunc('hour', MAX(ts)),
           INTERVAL 1 HOUR)) AS gts
  FROM events GROUP BY user_id
)
SELECT g.user_id, g.gts AS grid_ts,
       e0.value AS v_before, e1.value AS v_after,
       CASE
         WHEN e0.value IS NULL THEN NULL
         WHEN e1.value IS NULL THEN e0.value
         WHEN epoch_us(e1.ts) = epoch_us(e0.ts) THEN e0.value
         ELSE e0.value + (e1.value - e0.value)
              * (CAST(epoch_us(g.gts) - epoch_us(e0.ts) AS DOUBLE)
                 / CAST(epoch_us(e1.ts) - epoch_us(e0.ts) AS DOUBLE))
       END AS v_interp
FROM grid g
ASOF LEFT JOIN events e0 ON g.user_id = e0.user_id AND g.gts >= e0.ts
ASOF LEFT JOIN events e1 ON g.user_id = e1.user_id AND g.gts <= e1.ts
"""


SQL_GAP_FILL_LOCF = """
WITH grid AS (
  SELECT user_id, unnest(generate_series(
           date_trunc('hour', MIN(ts)),
           date_trunc('hour', MAX(ts)),
           INTERVAL 1 HOUR)) AS gts
  FROM events GROUP BY user_id
)
SELECT g.user_id, g.gts AS grid_ts, e.value AS last_value,
       CAST((epoch_us(g.gts) - epoch_us(e.ts)) // 1000000 AS BIGINT) AS age_s
FROM grid g
ASOF LEFT JOIN events e ON g.user_id = e.user_id AND g.gts >= e.ts
"""


# --- MAD outliers ----------------------------------------------------------
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier profile: median, MAD (median absolute
    deviation), and the count/fraction beyond 3·MAD. Two grouped exact
    percentiles with a broadcast join of the tiny per-type medians in
    between — the classic two-pass robust-statistics shape (a mean/std
    z-score would let the outliers poison the threshold)."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "_dev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.first("med").alias("med"),
        F.expr("percentile(_dev, 0.5)").alias("mad"),
        F.count(F.lit(1)).alias("n"),
    )
    flagged = dev.join(
        F.broadcast(mad.select("event_type", F.col("mad").alias("_mad"))),
        "event_type",
    ).groupBy("event_type").agg(
        F.sum(
            F.when(F.col("_dev") > 3 * F.col("_mad"), 1).otherwise(0)
        ).alias("n_outliers")
    )
    return (
        mad.join(flagged, "event_type")
        .select(
            "event_type",
            "med",
            "mad",
            "n",
            "n_outliers",
            (F.col("n_outliers").cast("double") / F.col("n")).alias(
                "outlier_frac"
            ),
        )
    )


SQL_MAD_OUTLIERS = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY 1
),
dev AS (
  SELECT e.event_type, abs(e.value - m.med) AS dev, m.med
  FROM events e JOIN med m ON e.event_type = m.event_type
),
mad AS (
  SELECT event_type, ANY_VALUE(med) AS med,
         quantile_cont(dev, 0.5) AS mad, COUNT(*) AS n
  FROM dev GROUP BY 1
)
SELECT d.event_type, m.med, m.mad, m.n,
       CAST(SUM(CASE WHEN d.dev > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       CAST(SUM(CASE WHEN d.dev > 3 * m.mad THEN 1 ELSE 0 END) AS DOUBLE)
         / m.n AS outlier_frac
FROM dev d JOIN mad m ON d.event_type = m.event_type
GROUP BY d.event_type, m.med, m.mad, m.n
"""


# --- retention cohorts -----------------------------------------------------
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort retention: users are grouped by the day of their
    first event; for every later active day the cohort's surviving
    user count is reported at that day offset. Two aggregations on the
    user key (first-day + distinct active days) share one shuffle
    partitioning; the final count-distinct groups by (cohort, offset)
    whose cardinality is days² — tiny at any data scale, so the last
    exchange never skews. All outputs are exact integers/timestamps."""
    ev = load_table(spark, sf_dir, "events")
    d0 = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    days = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("_day")
    ).distinct()
    return (
        days.join(d0, "user_id")
        .select(
            "cohort_day",
            F.datediff(F.col("_day"), F.col("cohort_day"))
            .cast("int")
            .alias("offset_days"),
            "user_id",
        )
        .groupBy("cohort_day", "offset_days")
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


SQL_RETENTION_COHORTS = """
WITH d0 AS (
  -- CAST: DuckDB's date_trunc('day', ·) yields DATE; Spark's yields
  -- TIMESTAMP — align the output type.
  SELECT user_id, CAST(date_trunc('day', MIN(ts)) AS TIMESTAMP) AS cohort_day
  FROM events GROUP BY 1
),
days AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS d
  FROM events
)
SELECT d0.cohort_day,
       CAST(date_diff('day', d0.cohort_day, days.d) AS INTEGER) AS offset_days,
       COUNT(DISTINCT days.user_id) AS n_active
FROM days JOIN d0 ON days.user_id = d0.user_id
GROUP BY 1, 2
"""


# --- OHLC bars -------------------------------------------------------------
def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per user — the downsampling primitive every
    metrics/market pipeline needs: open/close via ``min_by``/``max_by``
    on the total (ts, event_id) order (no window expansion, one hash
    aggregate with map-side partials), high/low/count alongside, and
    the hour's value sum in exact decimal so the double is
    bit-identical cross-engine. One shuffle on (user, hour)."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        F.date_trunc("hour", F.col("ts")).alias("h"),
        "ts",
        "event_id",
        "value",
    )
    return base.groupBy("user_id", "h").agg(
        F.expr("min_by(value, struct(ts, event_id))").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.expr("max_by(value, struct(ts, event_id))").alias("close"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(10,2)"))
        .cast("double")
        .alias("sum_value"),
    )


SQL_OHLC_BARS = """
WITH b AS (
  SELECT user_id, date_trunc('hour', ts) AS h, ts, event_id, value,
         row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                            ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT user_id, h,
       MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS sum_value
FROM b GROUP BY user_id, h
"""


# --- lag-1 autocorrelation -------------------------------------------------
def q_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lag-1 autocorrelation of the value series (the
    is-this-signal-sticky diagnostic): one window shuffle on the user
    key to form (x_t, x_{t-1}) pairs, then Pearson corr per user on
    the same partitioning — no second exchange. corr's co-moment
    accumulation is summation-order dependent (~1e-12 relative), so
    the output is rounded to 4 decimals in both engines via the
    floor-based stable_round (F.round's decimal HALF_UP vs DuckDB's
    binary round diverge on exact halves — verify-skill gotcha)."""
    from lab04_spark_streaming_spark.functions.guards import stable_round

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagv = F.lag("value", 1).over(w)
    pairs = ev.select("user_id", "value", lagv.alias("_prev"))
    return pairs.groupBy("user_id").agg(
        F.count("_prev").alias("n_pairs"),
        stable_round(F.corr("value", "_prev"), 4).alias("autocorr_lag1"),
    )


SQL_AUTOCORR_LAG1 = """
WITH p AS (
  SELECT user_id, value,
         lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
)
SELECT user_id, COUNT(prev) AS n_pairs,
       floor(corr(value, prev) * 10000.0 + 0.5) / 10000.0 AS autocorr_lag1
FROM p GROUP BY user_id
"""


# --- cross-series correlation ----------------------------------------------
def q_event_type_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation matrix between event-type series: each type's hourly
    mean (exact decimal sum / count, so the per-hour doubles are
    bit-identical cross-engine) is self-joined on the hour with
    type_a < type_b, then Pearson corr per pair. The per-type hourly
    relation is |types|×|hours| — tiny relative to the input at any
    scale — so the self-join is a broadcast-sized equi join; the heavy
    input is touched exactly once. corr stable_round-ed to 4
    decimals."""
    from lab04_spark_streaming_spark.functions.guards import stable_round

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(
        (
            F.sum(F.col("value").cast("decimal(10,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_v")
    )
    a = hourly.select(
        F.col("event_type").alias("type_a"), "h", F.col("avg_v").alias("_va")
    )
    b = hourly.select(
        F.col("event_type").alias("type_b"), "h", F.col("avg_v").alias("_vb")
    )
    return (
        a.join(b, "h")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            stable_round(F.corr("_va", "_vb"), 4).alias("corr_hourly"),
        )
    )


SQL_EVENT_TYPE_CORR = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) / COUNT(*) AS avg_v
  FROM events GROUP BY 1, 2
)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       COUNT(*) AS n_hours,
       floor(corr(a.avg_v, b.avg_v) * 10000.0 + 0.5) / 10000.0 AS corr_hourly
FROM hourly a JOIN hourly b
  ON a.h = b.h AND a.event_type < b.event_type
GROUP BY 1, 2
"""


# --- rolling active users --------------------------------------------------
def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU + trailing-7-day WAU per activity day — the canonical
    engagement rollup. Shaped for scale: the raw stream reduces to the
    distinct (user, day) relation first (one shuffle, days×users
    bound), each row then fans out to its 7 contributing grid days (a
    CONSTANT ×7 expansion of the small relation, never of the event
    stream), and the count-distinct groups by day. Exact integers
    throughout."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("d")
    ).distinct()
    dau = du.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    contrib = du.select(
        "user_id",
        F.explode(
            F.expr("sequence(d, d + interval 6 days, interval 1 day)")
        ).alias("gday"),
    )
    days = du.select("d").distinct()
    wau = (
        contrib.join(days, contrib["gday"] == days["d"])
        .groupBy("d")
        .agg(F.count_distinct("user_id").alias("wau_7d"))
    )
    return (
        dau.join(wau, "d")
        .select(F.col("d").alias("day"), "dau", "wau_7d")
    )


SQL_ROLLING_ACTIVE_USERS = """
WITH du AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS d
  FROM events
),
dau AS (SELECT d, COUNT(*) AS dau FROM du GROUP BY 1),
contrib AS (
  SELECT user_id,
         unnest(generate_series(d, d + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS gday
  FROM du
),
days AS (SELECT DISTINCT d FROM du)
SELECT days.d AS day, dau.dau, COUNT(DISTINCT c.user_id) AS wau_7d
FROM contrib c
JOIN days ON c.gday = days.d
JOIN dau ON dau.d = days.d
GROUP BY 1, 2
"""


# --- winsorization ---------------------------------------------------------
def q_winsorize_p01_p99(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile winsorization — the robust-preprocessing step before
    any mean-based modeling: per event type, values are clipped to the
    exact [p01, p99] band and the clip counts + clipped-mean are
    reported. Two passes like the MAD profile: one grouped exact
    percentile (the shared lower+(upper-lower)·frac interpolation),
    broadcast of the tiny per-type bounds, then one aggregate. The
    clipped mean uses the exact decimal-sum/count contract — clipped
    values are either raw 2-decimal inputs or the percentile bounds,
    so a decimal(14,6) per-row cast is exact and the final double is
    bit-identical cross-engine."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.01)").alias("p01"),
        F.expr("percentile(value, 0.99)").alias("p99"),
    )
    clipped = ev.join(F.broadcast(bounds), "event_type").withColumn(
        "_cv",
        F.least(F.greatest(F.col("value"), F.col("p01")), F.col("p99")),
    )
    return clipped.groupBy("event_type").agg(
        F.first("p01").alias("p01"),
        F.first("p99").alias("p99"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("value") < F.col("p01"), 1).otherwise(0)).alias(
            "n_clipped_low"
        ),
        F.sum(F.when(F.col("value") > F.col("p99"), 1).otherwise(0)).alias(
            "n_clipped_high"
        ),
        (
            F.sum(F.col("_cv").cast("decimal(14,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("clipped_mean"),
    )


SQL_WINSORIZE_P01_P99 = """
WITH b AS (
  SELECT event_type,
         quantile_cont(value, 0.01) AS p01,
         quantile_cont(value, 0.99) AS p99
  FROM events GROUP BY 1
)
SELECT e.event_type, b.p01, b.p99, COUNT(*) AS n,
       CAST(SUM(CASE WHEN e.value < b.p01 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clipped_low,
       CAST(SUM(CASE WHEN e.value > b.p99 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clipped_high,
       CAST(SUM(CAST(least(greatest(e.value, b.p01), b.p99)
                     AS DECIMAL(14,6))) AS DOUBLE) / COUNT(*) AS clipped_mean
FROM events e JOIN b ON e.event_type = b.event_type
GROUP BY 1, 2, 3
"""


# --- per-user OLS trend ----------------------------------------------------
def q_user_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user least-squares trend of value over time — regr_slope/
    regr_intercept re-derived from EXACT integer moments so the
    result is bit-identical cross-engine (the built-in regr_* are
    summation-order-dependent doubles): x = whole seconds since the
    user's first event (≤ 2.6e6 for a 30-day span), y = exact cents;
    Σx, Σy, Σxy, Σx² are integer sums (< 2^63 per user), the n·Σxy −
    Σx·Σy style cross terms run in decimal(38,0) (exact, scale 0 → the
    final cast to double is a single correctly-rounded conversion in
    both engines), and slope/intercept are the same two IEEE divisions
    everywhere. One shuffle on the user key (min-ts pass + moment pass
    share it)."""
    ev = load_table(spark, sf_dir, "events")
    t0 = ev.groupBy("user_id").agg(F.min("ts").alias("_t0"))
    base = ev.join(t0, "user_id").select(
        "user_id",
        # div, not `/`: the µs offset is not a whole second multiple,
        # and double-divide-then-cast truncates in Spark but rounds in
        # DuckDB — integer floor division is identical in both.
        F.expr("(unix_micros(ts) - unix_micros(_t0)) div 1000000")
        .cast("bigint")
        .alias("x"),
        (F.col("value").cast("decimal(10,2)") * 100)
        .cast("bigint")
        .alias("y_cents"),
    )
    m = base.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y_cents").alias("sy"),
        F.sum(F.col("x") * F.col("y_cents")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    num = (dec("n") * dec("sxy") - dec("sx") * dec("sy")).cast("double")
    den = (dec("n") * dec("sxx") - dec("sx") * dec("sx")).cast("double")
    slope_cents = num / den  # cents per second
    return m.select(
        "user_id",
        "n",
        (slope_cents / 100.0).alias("slope_per_s"),
        (
            (
                F.col("sy").cast("double")
                - slope_cents * F.col("sx").cast("double")
            )
            / F.col("n")
            / 100.0
        ).alias("intercept"),
    )


SQL_USER_TREND_OLS = """
WITH t0 AS (SELECT user_id, MIN(ts) AS t0 FROM events GROUP BY 1),
base AS (
  SELECT e.user_id,
         CAST((epoch_us(e.ts) - epoch_us(t0.t0)) // 1000000 AS BIGINT) AS x,
         CAST(CAST(e.value AS DECIMAL(10,2)) * 100 AS BIGINT) AS y_cents
  FROM events e JOIN t0 ON e.user_id = t0.user_id
),
m AS (
  SELECT user_id, COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y_cents) AS BIGINT) AS sy,
         CAST(SUM(x * y_cents) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM base GROUP BY 1
)
SELECT user_id, n,
       CAST(CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy
            AS DOUBLE)
       / CAST(CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx
              AS DOUBLE) / 100.0 AS slope_per_s,
       (CAST(sy AS DOUBLE)
        - (CAST(CAST(n AS DECIMAL(38,0)) * sxy
                - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
           / CAST(CAST(n AS DECIMAL(38,0)) * sxx
                  - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE))
          * CAST(sx AS DOUBLE))
       / n / 100.0 AS intercept
FROM m
"""


# --- session association rules --------------------------------------------
def q_session_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over behavioral sessions:
    baskets are the 30-min gap sessions (same construction as
    sessionize_gap30m, hash-proven), items are the distinct event
    types per session; for every item pair the support counts,
    directional confidences, and lift are reported. The itemized
    relation is sessions×items; item/pair/total aggregates are all
    |types|-bounded (tiny at any scale, broadcast where joined).
    Confidences are exact integer divisions; lift multiplies exact
    ints BEFORE its single double division — bit-identical
    cross-engine, no rounding."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.when(
            F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
            > 1800,
            1,
        )
        .otherwise(0)
        .alias("_new"),
    )
    sess = gap.withColumn(
        "session_id",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    items = sess.select("user_id", "session_id", "event_type").distinct()
    totals = items.select(
        F.count_distinct("user_id", "session_id").alias("n_sessions")
    )
    per_item = items.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_item")
    )
    a = items.select(
        "user_id", "session_id", F.col("event_type").alias("item_a")
    )
    b = items.select(
        "user_id", "session_id", F.col("event_type").alias("item_b")
    )
    both = (
        a.join(b, ["user_id", "session_id"])
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    na = per_item.select(
        F.col("event_type").alias("item_a"), F.col("n_item").alias("n_a")
    )
    nb = per_item.select(
        F.col("event_type").alias("item_b"), F.col("n_item").alias("n_b")
    )
    return (
        both.join(F.broadcast(na), "item_a")
        .join(F.broadcast(nb), "item_b")
        .crossJoin(F.broadcast(totals))
        .select(
            "item_a",
            "item_b",
            "n_a",
            "n_b",
            "n_both",
            "n_sessions",
            (F.col("n_both") / F.col("n_a").cast("double")).alias(
                "conf_a_to_b"
            ),
            (F.col("n_both") / F.col("n_b").cast("double")).alias(
                "conf_b_to_a"
            ),
            (
                (F.col("n_both") * F.col("n_sessions"))
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("lift"),
        )
    )


SQL_SESSION_ASSOC_RULES = """
WITH with_gap AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                   - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, event_type,
         CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_id
  FROM with_gap
),
items AS (SELECT DISTINCT user_id, session_id, event_type FROM sess),
totals AS (
  SELECT COUNT(*) AS n_sessions
  FROM (SELECT DISTINCT user_id, session_id FROM items)
),
per_item AS (
  SELECT event_type, COUNT(*) AS n_item FROM items GROUP BY 1
),
pair_counts AS (
  SELECT a.event_type AS item_a, b.event_type AS item_b, COUNT(*) AS n_both
  FROM items a
  JOIN items b ON a.user_id = b.user_id AND a.session_id = b.session_id
              AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT item_a, item_b, na.n_item AS n_a, nb.n_item AS n_b, n_both,
       t.n_sessions,
       n_both / CAST(na.n_item AS DOUBLE) AS conf_a_to_b,
       n_both / CAST(nb.n_item AS DOUBLE) AS conf_b_to_a,
       (n_both * t.n_sessions) / CAST(na.n_item * nb.n_item AS DOUBLE) AS lift
FROM pair_counts
JOIN per_item na ON na.event_type = item_a
JOIN per_item nb ON nb.event_type = item_b
CROSS JOIN totals t
"""


# --- funnel conversion summary ---------------------------------------------
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row report on top of the ordered funnel: stage counts
    and conversion rates. Composes the oracled funnel_steps; rates are
    exact integer divisions with NULL on empty denominators."""
    f = q_funnel_steps(spark, sf_dir)
    rate = lambda num, den: F.when(
        F.col(den) > 0, F.col(num) / F.col(den).cast("double")
    ).otherwise(F.lit(None).cast("double"))
    agg = f.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("view_ts").alias("n_view"),
        F.count("click_ts").alias("n_click"),
        F.count("purchase_ts").alias("n_purchase"),
    )
    return agg.select(
        "n_users",
        "n_view",
        "n_click",
        "n_purchase",
        rate("n_view", "n_users").alias("rate_view"),
        rate("n_click", "n_view").alias("rate_click_given_view"),
        rate("n_purchase", "n_click").alias("rate_purchase_given_click"),
    )


SQL_FUNNEL_CONVERSION = f"""
WITH f AS ({SQL_FUNNEL_STEPS})
SELECT COUNT(*) AS n_users,
       COUNT(view_ts) AS n_view,
       COUNT(click_ts) AS n_click,
       COUNT(purchase_ts) AS n_purchase,
       CASE WHEN COUNT(*) > 0
            THEN COUNT(view_ts) / CAST(COUNT(*) AS DOUBLE) END AS rate_view,
       CASE WHEN COUNT(view_ts) > 0
            THEN COUNT(click_ts) / CAST(COUNT(view_ts) AS DOUBLE)
       END AS rate_click_given_view,
       CASE WHEN COUNT(click_ts) > 0
            THEN COUNT(purchase_ts) / CAST(COUNT(click_ts) AS DOUBLE)
       END AS rate_purchase_given_click
FROM f
"""


# --- CUSUM changepoint -----------------------------------------------------
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint per user: the (ts, event_id)-ordered index t
    maximizing |Σ_{i≤t}(y_i − ȳ)| — the classic single-changepoint
    locator. Computed ENTIRELY in scaled integers so the running sum
    is associative-exact (a double running sum would differ between
    Spark's incremental frame and DuckDB's segment-tree window
    association): dev'_t = n·cum_cents(t) − t·sum_cents ≡ n·Σ(y_i−ȳ)
    in cents. One window shuffle on the user key; the per-user argmax
    is a (|dev| DESC, t) rank. The normalized magnitude is one exact
    double division at the end."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    base = ev.select(
        "user_id",
        "ts",
        "event_id",
        (F.col("value").cast("decimal(10,2)") * 100)
        .cast("bigint")
        .alias("_cents"),
    )
    cum = base.select(
        "user_id",
        "ts",
        F.row_number().over(w).cast("bigint").alias("_t"),
        F.sum("_cents")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("_cum"),
        F.sum("_cents")
        .over(
            Window.partitionBy("user_id").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("_sum"),
        F.count(F.lit(1))
        .over(
            Window.partitionBy("user_id").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("_n"),
    )
    dev = cum.withColumn(
        "_dev", F.col("_n") * F.col("_cum") - F.col("_t") * F.col("_sum")
    )
    rk = F.row_number().over(
        Window.partitionBy("user_id").orderBy(
            F.abs(F.col("_dev")).desc(), "_t"
        )
    )
    return (
        dev.withColumn("_rk", rk)
        .filter(F.col("_rk") == 1)
        .select(
            "user_id",
            F.col("_n").alias("n"),
            F.col("_t").alias("changepoint_t"),
            F.col("ts").alias("changepoint_ts"),
            (
                F.abs(F.col("_dev")).cast("double")
                / (F.col("_n").cast("double") * 100.0)
            ).alias("max_abs_cusum"),
        )
    )


SQL_CUSUM_CHANGEPOINT = """
WITH base AS (
  SELECT user_id, ts, event_id,
         CAST(CAST(value AS DECIMAL(10,2)) * 100 AS BIGINT) AS cents
  FROM events
),
cum AS (
  SELECT user_id, ts,
         CAST(row_number() OVER w AS BIGINT) AS t,
         SUM(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(cents) OVER (PARTITION BY user_id) AS total,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
dev AS (
  SELECT user_id, ts, t, n,
         CAST(n * cum - t * total AS BIGINT) AS d,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY abs(n * cum - t * total) DESC, t) AS rk
  FROM cum
)
SELECT user_id, n, t AS changepoint_t, ts AS changepoint_ts,
       CAST(abs(d) AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0) AS max_abs_cusum
FROM dev WHERE rk = 1
"""


# --- key-skew profile ------------------------------------------------------
def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostics as a query — the number every
    partitioning decision in this repo (salting, AQE skew-join) is
    made from: per-key cardinality summary + Herfindahl concentration
    of the user key. HHI is computed as Σn_i² / N² — exact integer
    numerator and denominator, ONE double division — not as a sum of
    per-key double shares (order-dependent). Two tiny aggregations;
    the key-count relation is |keys|-bounded."""
    ev = load_table(spark, sf_dir, "events")
    per_key = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_i"))
    return per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n_i").alias("n_rows"),
        F.max("n_i").alias("max_key_rows"),
        (
            F.sum(F.col("n_i") * F.col("n_i")).cast("double")
            / (F.sum("n_i") * F.sum("n_i")).cast("double")
        ).alias("hhi"),
        (
            F.max("n_i")
            / F.sum("n_i").cast("double")
        ).alias("top1_share"),
    )


SQL_KEY_SKEW_PROFILE = """
WITH per_key AS (
  SELECT user_id, COUNT(*) AS n_i FROM events GROUP BY 1
)
SELECT COUNT(*) AS n_keys,
       CAST(SUM(n_i) AS BIGINT) AS n_rows,
       MAX(n_i) AS max_key_rows,
       CAST(SUM(n_i * n_i) AS DOUBLE)
         / CAST(SUM(n_i) * SUM(n_i) AS DOUBLE) AS hhi,
       MAX(n_i) / CAST(SUM(n_i) AS DOUBLE) AS top1_share
FROM per_key
"""


# --- RANGE-frame trailing sum ----------------------------------------------
def q_range_frame_trailing_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing-1-hour sum/count via a RANGE window frame —
    the value-based frame kind (peers included by ORDER-BY value, not
    row position) that neither the ROWS-frame queries nor the
    ``window()`` bucketing exercise. Ordering key is whole epoch
    seconds in BOTH engines, so frame membership (including second-
    level ties, where RANGE takes all peers) is identical; the sum
    runs in exact decimal → order-free, bit-identical."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.sum(F.col("value").cast("decimal(10,2)"))
        .over(w)
        .cast("double")
        .alias("trailing_1h_sum"),
        F.count(F.lit(1)).over(w).alias("trailing_1h_n"),
    )


SQL_RANGE_FRAME_TRAILING_1H = """
SELECT user_id, event_id, ts,
       CAST(SUM(CAST(value AS DECIMAL(10,2))) OVER w AS DOUBLE)
         AS trailing_1h_sum,
       COUNT(*) OVER w AS trailing_1h_n
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
"""


# --- deterministic mode ----------------------------------------------------
def q_mode_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most frequent whole-unit value per event type with an explicit
    (count DESC, value ASC) tie-break — the built-in mode() is
    tie-UNSPECIFIED in both engines, so the deterministic form is the
    only oracle-able one. Two |types|×|buckets|-bounded aggregates."""
    ev = load_table(spark, sf_dir, "events")
    counts = (
        ev.select("event_type", F.floor("value").cast("long").alias("v"))
        .groupBy("event_type", "v")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    rk = F.row_number().over(
        Window.partitionBy("event_type").orderBy(F.desc("cnt"), "v")
    )
    return (
        counts.withColumn("_rk", rk)
        .filter(F.col("_rk") == 1)
        .select(
            "event_type",
            F.col("v").alias("mode_value"),
            F.col("cnt").alias("mode_count"),
        )
    )


SQL_MODE_PER_TYPE = """
WITH counts AS (
  SELECT event_type, CAST(floor(value) AS BIGINT) AS v, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
)
SELECT event_type, v AS mode_value, cnt AS mode_count FROM (
  SELECT event_type, v, cnt,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY cnt DESC, v) AS rk
  FROM counts
) WHERE rk = 1
"""


# --- Z-order (Morton) layout key -------------------------------------------
def q_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout key over (user_id, time) — the
    space-filling-curve clustering key behind multi-dimensional data
    skipping: sort storage by this key and min/max file statistics
    prune EITHER predicate dimension. Like production z-ordering
    (Delta's OPTIMIZE ZORDER interleaves range-ranks, not raw
    values), each dimension is first min-max-scaled to a 4-bit bucket
    index — interleaving raw unbalanced bit widths degenerates to a
    single-dimension sort (a 15-value key contributes only low-order
    bits that never reach the curve's top). Bounds come from one tiny
    broadcast aggregate; bucketing and the 8-bit interleave are exact
    integer arithmetic — zero shuffle on the data path, bit-identical
    cross-engine. The layout win is quantified in
    tests/test_storage_layout.py."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min("user_id").alias("_minu"),
        F.max("user_id").alias("_maxu"),
        F.expr("min(unix_micros(ts) div 1000000)").alias("_mint"),
        F.expr("max(unix_micros(ts) div 1000000)").alias("_maxt"),
    )
    xb = "((user_id - _minu) * 16) div (_maxu - _minu + 1)"
    yb = (
        "(((unix_micros(ts) div 1000000) - _mint) * 16) "
        "div (_maxt - _mint + 1)"
    )
    morton = (
        f"aggregate(sequence(0, 3), cast(0 as bigint), (acc, j) -> "
        f"acc + shiftleft((({xb}) >> j) & 1, 2 * j) "
        f"+ shiftleft((({yb}) >> j) & 1, 2 * j + 1))"
    )
    return ev.crossJoin(F.broadcast(bounds)).select(
        "event_id", "user_id", "ts", F.expr(morton).alias("zkey")
    )


SQL_ZORDER_KEYS = """
WITH b AS (
  SELECT MIN(user_id) AS minu, MAX(user_id) AS maxu,
         MIN(epoch_us(ts) // 1000000) AS mint,
         MAX(epoch_us(ts) // 1000000) AS maxt
  FROM events
)
SELECT event_id, user_id, ts,
       CAST(list_sum(list_transform(range(0, 4), j ->
         (((((user_id - b.minu) * 16) // (b.maxu - b.minu + 1)) >> j) & 1)
           * (1::BIGINT << (2 * j))
         + ((((((epoch_us(ts) // 1000000) - b.mint) * 16)
              // (b.maxt - b.mint + 1)) >> j) & 1)
           * (1::BIGINT << (2 * j + 1)))) AS BIGINT) AS zkey
FROM events, b
"""


def specs():
    from lab04_spark_streaming_spark.registry import QuerySpec

    return [
        QuerySpec("funnel_steps", q_funnel_steps, SQL_FUNNEL_STEPS),
        QuerySpec("moving_median", q_moving_median, SQL_MOVING_MEDIAN),
        QuerySpec("ewma_smoothing", q_ewma_smoothing, _sql_ewma()),
        QuerySpec("time_weighted_avg", q_time_weighted_avg, SQL_TIME_WEIGHTED_AVG),
        QuerySpec("gap_fill_locf", q_gap_fill_locf, SQL_GAP_FILL_LOCF),
        QuerySpec("gap_fill_interp", q_gap_fill_interp, SQL_GAP_FILL_INTERP),
        QuerySpec("mad_outliers", q_mad_outliers, SQL_MAD_OUTLIERS),
        QuerySpec("retention_cohorts", q_retention_cohorts, SQL_RETENTION_COHORTS),
        QuerySpec("ohlc_bars", q_ohlc_bars, SQL_OHLC_BARS),
        QuerySpec("autocorr_lag1", q_autocorr_lag1, SQL_AUTOCORR_LAG1),
        QuerySpec("event_type_corr", q_event_type_corr, SQL_EVENT_TYPE_CORR),
        QuerySpec(
            "rolling_active_users",
            q_rolling_active_users,
            SQL_ROLLING_ACTIVE_USERS,
        ),
        QuerySpec(
            "winsorize_p01_p99", q_winsorize_p01_p99, SQL_WINSORIZE_P01_P99
        ),
        QuerySpec("user_trend_ols", q_user_trend_ols, SQL_USER_TREND_OLS),
        QuerySpec(
            "session_assoc_rules",
            q_session_assoc_rules,
            SQL_SESSION_ASSOC_RULES,
        ),
        QuerySpec(
            "funnel_conversion", q_funnel_conversion, SQL_FUNNEL_CONVERSION
        ),
        QuerySpec(
            "cusum_changepoint", q_cusum_changepoint, SQL_CUSUM_CHANGEPOINT
        ),
        QuerySpec(
            "key_skew_profile", q_key_skew_profile, SQL_KEY_SKEW_PROFILE
        ),
        QuerySpec(
            "range_frame_trailing_1h",
            q_range_frame_trailing_1h,
            SQL_RANGE_FRAME_TRAILING_1H,
        ),
        QuerySpec("mode_per_type", q_mode_per_type, SQL_MODE_PER_TYPE),
        QuerySpec("zorder_keys", q_zorder_keys, SQL_ZORDER_KEYS),
    ]
