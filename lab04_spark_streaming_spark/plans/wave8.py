"""Round-8 wave: corpus-association and temporal-coverage queries —
the remaining analytics a training-data pipeline runs between curation
and mixing: PMI collocations, per-source discriminative terms (chi²),
Zipf rank-frequency fit, temperature-based source mixing weights,
label-aware hard-negative mining, class-balance weights, plus the
temporal-coverage layer over events (boundary-replicated concurrency,
hour-gap detection, burst debounce, interval-union active time).

Cross-engine determinism (registry.py rules):
  * association/selection MEMBERSHIP tests are pure integer
    comparisons (n12·N > n1·n2, BIGINT chi² products) — the emitted
    SET can never flip on a ulp;
  * log-bearing outputs are stable_round(4) displays on top of those
    integer decisions;
  * every rank window is partitioned and carries a lexicographic
    tie-break; time arithmetic is whole-second BIGINT epochs.

Scale notes per query; the common rules match wave7: candidate
relations are key-bounded, scalar totals are broadcast 1-row
relations, and no unpartitioned window anywhere in this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lab04_spark_streaming_spark.functions.guards import (
    sql_stable_round,
    stable_round,
)
from lab04_spark_streaming_spark.operators.textops import (
    SPARK_TOKS,
    SQL_TOKS,
)
from lab04_spark_streaming_spark.operators.pinning import pin
from lab04_spark_streaming_spark.operators.splits import restore_splits
from lab04_spark_streaming_spark.sources.files import load_table


# --- PMI collocations -------------------------------------------------------
_PMI_MIN_DOCS = 3


def q_pmi_word_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positively-associated word pairs by pointwise mutual
    information over document co-occurrence — the collocation miner on
    top of word_cooccurrence's raw counts (PMI normalizes away the
    marginals, so 'new york' beats 'the of'). Membership is the exact
    integer test n12·N > n1·n2 (PMI > 0) plus a min-support floor, so
    the emitted SET is ulp-proof; pmi_bits is a rounded display.

    Scale: same inverted-index pair walk as word_cooccurrence (bounded
    by Σ d_i²), but BOTH self-join sides are first semi-joined to the
    words with df ≥ min-support — a pair can only reach n12 ≥ k if
    both members have df ≥ k, so the filter is semantics-preserving
    and removes the hapax/typo tail that dominates a web vocabulary
    before any pair is generated (measured 8.3 → ~2 s at sf0.1). The
    marginal join keys are words (vocab-bounded shuffle), N is a
    broadcast 1-row scalar. One tokenize pass, pinned (it feeds the
    marginals AND both pair sides).

    Fourth-decade cost statement (r12, closes the r11 verdict's
    watch item): the Σ d² pair walk IS the intended cost of exact
    document-level PMI — 1000x tier measured 200 s over 5M docs,
    exponent 0.72 across three decades (sublinear only because the
    min-support semi-join deletes the hapax tail, the fastest-growing
    df band). The remaining lever, a df CAP on the co-occurrence
    side, is deliberately NOT applied: unlike min-support it is not
    semantics-preserving — two high-df words that systematically
    co-occur ('los angeles') carry genuinely positive PMI, and a cap
    silently deletes exactly that stratum. Extrapolating the measured
    exponent, the walk crosses ~18 min one-box at ~50M docs; at that
    corpus size switch to a df-banded PMI (cap mirrored in the
    oracle, documented as a different statistic) or a positional
    window (bigram PMI, kneser_ney's relation), both of which bound
    pairs linearly in tokens."""
    t = pin(
        restore_splits(load_table(spark, sf_dir, "documents"), "doc_id")
        .select(
            "doc_id",
            F.explode(F.expr(f"array_distinct({SPARK_TOKS})")).alias("w"),
        )
    )
    marg = pin(
        t.groupBy("w")
        .agg(F.count(F.lit(1)).alias("nw"))
    )
    t2 = pin(
        t.join(
            marg.filter(F.col("nw") >= _PMI_MIN_DOCS).select("w"),
            "w",
            "left_semi",
        )
    )
    pairs = (
        t2.alias("a")
        .join(t2.alias("b"), "doc_id")
        .filter(F.col("a.w") < F.col("b.w"))
        .groupBy(F.col("a.w").alias("w1"), F.col("b.w").alias("w2"))
        .agg(F.count(F.lit(1)).alias("n12"))
        .filter(F.col("n12") >= _PMI_MIN_DOCS)
    )
    nd = load_table(spark, sf_dir, "documents").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        pairs.join(marg.select(F.col("w").alias("w1"), F.col("nw").alias("n1")), "w1")
        .join(marg.select(F.col("w").alias("w2"), F.col("nw").alias("n2")), "w2")
        .crossJoin(F.broadcast(nd))
        .filter(F.col("n12") * F.col("n_docs") > F.col("n1") * F.col("n2"))
        .select(
            "w1",
            "w2",
            "n12",
            "n1",
            "n2",
            stable_round(
                F.log2(
                    (F.col("n12") * F.col("n_docs")).cast("double")
                    / (F.col("n1") * F.col("n2")).cast("double")
                ),
                4,
            ).alias("pmi_bits"),
        )
    )


SQL_PMI_WORD_PAIRS = f"""
WITH t AS (
  SELECT DISTINCT doc_id, w
  FROM (SELECT doc_id, unnest({SQL_TOKS}) AS w FROM documents)
),
p AS (
  SELECT a.w AS w1, b.w AS w2, COUNT(*) AS n12
  FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.w < b.w
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_PMI_MIN_DOCS}
),
m AS (SELECT w, COUNT(*) AS nw FROM t GROUP BY 1),
nd AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT p.w1, p.w2, p.n12, m1.nw AS n1, m2.nw AS n2,
       {sql_stable_round(
           "log2(CAST(p.n12 * nd.n_docs AS DOUBLE)"
           " / CAST(m1.nw * m2.nw AS DOUBLE))", 4)} AS pmi_bits
FROM p
JOIN m m1 ON m1.w = p.w1
JOIN m m2 ON m2.w = p.w2
CROSS JOIN nd
WHERE p.n12 * nd.n_docs > m1.nw * m2.nw
"""


# --- chi² discriminative terms per source -----------------------------------
_CHI2_MIN_DF = 5
_CHI2_TOPK = 10


def q_chi2_terms_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 discriminative terms per source by the chi² statistic on
    the doc-level 2×2 presence table (the classic feature-selection /
    domain-classifier signal). All four cells a,b,c,d are exact BIGINT
    doc counts; chi² = N·(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)) is built
    from BIGINT products ((ad−bc)² ≤ N⁴ stays exact through sf0.1;
    at web scale flip the products to DOUBLE — both engines round the
    identical operands identically either way) converted once to
    double, so ranks compare identical bit patterns; tie-break is the
    term. df floor 5; terms in every doc (c+d=0) and single-source
    corpora (b+d=0) are excluded before the division.

    Scale: the (source, term) relation is vocab×sources-bounded; the
    rank window is partitioned by source. N is a broadcast scalar."""
    t = pin(
        restore_splits(load_table(spark, sf_dir, "documents"), "doc_id")
        .select(
            "doc_id",
            "source",
            F.explode(F.expr(f"array_distinct({SPARK_TOKS})")).alias("w"),
        )
    )
    sw = t.groupBy("source", "w").agg(F.count(F.lit(1)).alias("a"))
    nw = sw.groupBy("w").agg(F.sum("a").alias("nw"))
    ns = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("ns"))
    )
    nd = load_table(spark, sf_dir, "documents").agg(F.count(F.lit(1)).alias("n_docs"))
    cells = (
        sw.join(nw, "w")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(nd))
        .filter(
            (F.col("nw") >= _CHI2_MIN_DF)
            & (F.col("nw") < F.col("n_docs"))  # c+d > 0
            & (F.col("ns") < F.col("n_docs"))  # b+d > 0
        )
        .select(
            "source",
            "w",
            "a",
            (F.col("nw") - F.col("a")).alias("b"),
            (F.col("ns") - F.col("a")).alias("c"),
            (
                F.col("n_docs") - F.col("ns") - F.col("nw") + F.col("a")
            ).alias("d"),
            "nw",
            "n_docs",
        )
    )
    diff = F.col("a") * F.col("d") - F.col("b") * F.col("c")
    den = (
        (F.col("a") + F.col("b"))
        * (F.col("c") + F.col("d"))
        * (F.col("a") + F.col("c"))
        * (F.col("b") + F.col("d"))
    )
    scored = cells.select(
        "source",
        "w",
        "a",
        "nw",
        (
            (diff * diff).cast("double")
            * F.col("n_docs")
            / den.cast("double")
        ).alias("_chi2"),
    )
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(F.desc("_chi2"), "w")
    )
    return (
        scored.withColumn("rank", rk.cast("int"))
        .filter(F.col("rank") <= _CHI2_TOPK)
        .select(
            "source",
            "w",
            F.col("a").alias("df_in_source"),
            F.col("nw").alias("df_total"),
            stable_round(F.col("_chi2"), 4).alias("chi2"),
            "rank",
        )
    )


SQL_CHI2_TERMS = f"""
WITH t AS (
  SELECT DISTINCT doc_id, source, w
  FROM (SELECT doc_id, source, unnest({SQL_TOKS}) AS w FROM documents)
),
sw AS (SELECT source, w, COUNT(*) AS a FROM t GROUP BY 1, 2),
nw AS (SELECT w, CAST(SUM(a) AS BIGINT) AS nw FROM sw GROUP BY 1),
ns AS (SELECT source, COUNT(*) AS ns FROM documents GROUP BY 1),
nd AS (SELECT COUNT(*) AS n_docs FROM documents),
cells AS (
  SELECT sw.source, sw.w, sw.a, nw.nw - sw.a AS b, ns.ns - sw.a AS c,
         nd.n_docs - ns.ns - nw.nw + sw.a AS d, nw.nw, nd.n_docs
  FROM sw
  JOIN nw ON nw.w = sw.w
  JOIN ns ON ns.source = sw.source
  CROSS JOIN nd
  WHERE nw.nw >= {_CHI2_MIN_DF}
    AND nw.nw < nd.n_docs
    AND ns.ns < nd.n_docs
),
scored AS (
  SELECT source, w, a, nw,
         CAST((a * d - b * c) * (a * d - b * c) AS DOUBLE) * n_docs
           / CAST((a + b) * (c + d) * (a + c) * (b + d) AS DOUBLE)
           AS chi2_raw
  FROM cells
)
SELECT source, w, a AS df_in_source, nw AS df_total,
       {sql_stable_round("chi2_raw", 4)} AS chi2, rank
FROM (
  SELECT source, w, a, nw, chi2_raw,
         CAST(row_number() OVER (
           PARTITION BY source ORDER BY chi2_raw DESC, w
         ) AS INTEGER) AS rank
  FROM scored
) WHERE rank <= {_CHI2_TOPK}
"""


# --- Zipf rank-frequency fit ------------------------------------------------
_ZIPF_TOPK = 100


def q_zipf_slope_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit per source: OLS slope of log2(freq) on log2(rank)
    over the top-100 terms — the corpus-health diagnostic (natural
    text sits near −1; templated or deduplicated-to-death corpora
    drift off). Ranks are exact integers under a (freq DESC, term)
    tie-break; each log2 term is one IEEE op on exact ints; the five
    OLS sums are order-sensitive only at ~1e-12 relative, far under
    the stable_round(4) grain.

    Scale: the (source, term) count relation is vocab-bounded; the
    per-source rank window is partitioned by source; the regression
    aggregates ≤100 rows per source. No scalar cross-joins."""
    tc = (
        load_table(spark, sf_dir, "documents")
        .select("source", F.explode(F.expr(SPARK_TOKS)).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(F.desc("c"), "w")
    )
    top = tc.withColumn("r", rk).filter(F.col("r") <= _ZIPF_TOPK)
    x = F.log2(F.col("r").cast("double"))
    y = F.log2(F.col("c").cast("double"))
    agg = top.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * y).alias("_sxy"),
        F.sum(x * x).alias("_sxx"),
    )
    den = F.col("n_terms") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    slope = (
        F.col("n_terms") * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    ) / den
    return agg.select(
        "source",
        "n_terms",
        F.when(den == 0, F.lit(None).cast("double"))
        .otherwise(stable_round(slope, 4))
        .alias("zipf_slope"),
        F.when(den == 0, F.lit(None).cast("double"))
        .otherwise(
            stable_round(
                (F.col("_sy") - slope * F.col("_sx"))
                / F.col("n_terms"),
                4,
            )
        )
        .alias("zipf_intercept"),
    )


SQL_ZIPF_SLOPE = f"""
WITH tc AS (
  SELECT source, w, COUNT(*) AS c
  FROM (SELECT source, unnest({SQL_TOKS}) AS w FROM documents)
  GROUP BY 1, 2
),
top AS (
  SELECT source, w, c, r FROM (
    SELECT source, w, c,
           row_number() OVER (PARTITION BY source ORDER BY c DESC, w) AS r
    FROM tc
  ) WHERE r <= {_ZIPF_TOPK}
),
agg AS (
  SELECT source, COUNT(*) AS n_terms,
         SUM(log2(CAST(r AS DOUBLE))) AS sx,
         SUM(log2(CAST(c AS DOUBLE))) AS sy,
         SUM(log2(CAST(r AS DOUBLE)) * log2(CAST(c AS DOUBLE))) AS sxy,
         SUM(log2(CAST(r AS DOUBLE)) * log2(CAST(r AS DOUBLE))) AS sxx
  FROM top GROUP BY 1
)
SELECT source, n_terms,
       CASE WHEN n_terms * sxx - sx * sx = 0 THEN NULL
            ELSE {sql_stable_round(
                "(n_terms * sxy - sx * sy) / (n_terms * sxx - sx * sx)", 4)}
       END AS zipf_slope,
       CASE WHEN n_terms * sxx - sx * sx = 0 THEN NULL
            ELSE {sql_stable_round(
                "(sy - ((n_terms * sxy - sx * sy)"
                " / (n_terms * sxx - sx * sx)) * sx) / n_terms", 4)}
       END AS zipf_intercept
FROM agg
"""


# --- temperature-based source mixing ----------------------------------------
def q_mixing_weights_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing weights — the multilingual /
    multi-domain sampling-exponent smoothing (public: the α-scaled
    sampling of XLM/mBERT and the data-mixture literature): each
    source's sampling weight ∝ size^α with α = 1/2, which upweights
    small sources relative to natural (α=1) sampling. Sizes are exact
    BIGINT char sums; sqrt is one IEEE op per source; the Σ over the
    handful of sources rounds at 6. boost is the temperature/natural
    ratio (upsampling factor).

    Scale: one column-pruned scan (source, n_chars), one |sources|-row
    aggregate, a broadcast 1-row total. Nothing else."""
    per = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
        )
    )
    tot = per.agg(
        F.sum("n_chars").alias("tot_chars"),
        F.sum(F.sqrt(F.col("n_chars").cast("double"))).alias("tot_sqrt"),
    )
    # Degenerate-corpus guards: an all-empty corpus has tot_chars =
    # tot_sqrt = 0 (weights undefined → NULL); a zero-char source has
    # w_natural = w_temperature = 0 and boost 0/0 → NULL.
    w_nat = F.when(
        F.col("tot_chars") == 0, F.lit(None).cast("double")
    ).otherwise(F.col("n_chars").cast("double") / F.col("tot_chars"))
    w_tmp = F.when(
        F.col("tot_sqrt") == 0, F.lit(None).cast("double")
    ).otherwise(
        F.sqrt(F.col("n_chars").cast("double")) / F.col("tot_sqrt")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_chars",
            stable_round(w_nat, 6).alias("w_natural"),
            stable_round(w_tmp, 6).alias("w_temperature"),
            F.when(
                (F.col("n_chars") == 0) | (F.col("tot_chars") == 0),
                F.lit(None).cast("double"),
            )
            .otherwise(stable_round(w_tmp / w_nat, 4))
            .alias("boost"),
        )
    )


SQL_MIXING_WEIGHTS = f"""
WITH per AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS n_chars
  FROM documents GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n_chars) AS BIGINT) AS tot_chars,
         SUM(sqrt(CAST(n_chars AS DOUBLE))) AS tot_sqrt
  FROM per
)
SELECT source, n_docs, n_chars,
       CASE WHEN tot_chars = 0 THEN NULL ELSE
       {sql_stable_round("CAST(n_chars AS DOUBLE) / tot_chars", 6)}
       END AS w_natural,
       CASE WHEN tot_sqrt = 0 THEN NULL ELSE
       {sql_stable_round("sqrt(CAST(n_chars AS DOUBLE)) / tot_sqrt", 6)}
       END AS w_temperature,
       CASE WHEN n_chars = 0 OR tot_chars = 0 THEN NULL ELSE
       {sql_stable_round(
           "(sqrt(CAST(n_chars AS DOUBLE)) / tot_sqrt)"
           " / (CAST(n_chars AS DOUBLE) / tot_chars)", 4)}
       END AS boost
FROM per CROSS JOIN tot
"""


# --- boundary-replicated concurrency ----------------------------------------
_ACTIVE_WINDOW_S = 1800  # each event marks its type "active" for 30 min


def q_concurrent_active_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per (event_type, hour): how many events of the
    type were inside their 30-minute activity window at once (max over
    the hour) — the capacity-planning twin of rolling_active_users.
    Concurrency is a trailing RANGE count over an is-event indicator.
    The count step function rises only at events and the hour's true
    max can also sit at the HOUR START (activity carried from the
    previous hour), so each (type, day) contributes 24 zero-weight
    PROBE rows that sample the count at every hour boundary — max over
    {probes ∪ events} is exact, and hours whose whole activity is
    carried in appear with n_events = 0 rather than vanishing.

    Scale: the window is partitioned by (event_type, DAY), not by type
    alone — the 100×-safe layout. Cross-midnight correctness comes
    from BOUNDARY REPLICATION: events in the last 30 min of each day
    are copied into the next day's partition as carry rows that feed
    the trailing counts but never emit. Probes are 24 rows per
    (type, day) from a distinct aggregate, never per-event. Day tasks
    are independent; no unbounded timeline ever sits in one task."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.col("ts").cast("long").alias("ep"),
        F.to_date("ts").alias("day"),
        "ts",
    )
    nxt = F.date_add(F.col("day"), 1)
    # carries COUNT (they are real previous-day events still active
    # after midnight) but never emit.
    carry = ev.filter(
        F.col("ep") >= F.unix_timestamp(nxt.cast("timestamp")) - _ACTIVE_WINDOW_S
    ).select(
        "event_type",
        "ep",
        nxt.alias("day"),
        "ts",
        F.lit(1).alias("is_event"),
        F.lit(0).alias("emit"),
    )
    # probe days: event days AND carry-target days (a day with zero
    # events can still open with carried activity in hour 00)
    probes = (
        ev.select("event_type", "day")
        .unionByName(carry.select("event_type", "day"))
        .distinct()
        .select(
            "event_type",
            "day",
            F.explode(
                F.expr(
                    "sequence(cast(day as timestamp), "
                    "cast(day as timestamp) + interval 23 hours, "
                    "interval 1 hour)"
                )
            ).alias("ts"),
        )
        .select(
            "event_type",
            F.col("ts").cast("long").alias("ep"),
            "day",
            "ts",
            F.lit(0).alias("is_event"),
            F.lit(1).alias("emit"),
        )
    )
    un = (
        ev.withColumn("is_event", F.lit(1))
        .withColumn("emit", F.lit(1))
        .unionByName(carry)
        .unionByName(probes)
    )
    w = (
        Window.partitionBy("event_type", "day")
        .orderBy("ep")
        .rangeBetween(-_ACTIVE_WINDOW_S, 0)
    )
    act = un.withColumn("conc", F.sum("is_event").over(w)).filter(
        F.col("emit") == 1
    )
    return (
        act.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
        )
        .agg(
            F.max("conc").alias("peak_concurrency"),
            F.sum("is_event").alias("n_events"),
        )
        .filter(F.col("peak_concurrency") > 0)
    )


SQL_CONCURRENT_ACTIVE = f"""
WITH ev AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS ep,
         CAST(ts AS DATE) AS day, ts, 1 AS is_event, 1 AS emit
  FROM events
),
cr AS (
  SELECT event_type, ep, day + INTERVAL 1 DAY AS day, ts,
         1 AS is_event, 0 AS emit
  FROM ev
  WHERE ep >= CAST(floor(epoch(CAST(day + INTERVAL 1 DAY AS TIMESTAMP)))
              AS BIGINT) - {_ACTIVE_WINDOW_S}
),
pr AS (
  SELECT d.event_type, CAST(floor(epoch(g.hr)) AS BIGINT) AS ep, d.day,
         g.hr AS ts, 0 AS is_event, 1 AS emit
  FROM (SELECT DISTINCT event_type, day FROM ev
        UNION SELECT DISTINCT event_type, day FROM cr) d,
       unnest(generate_series(CAST(d.day AS TIMESTAMP),
                              CAST(d.day AS TIMESTAMP) + INTERVAL 23 HOUR,
                              INTERVAL 1 HOUR)) g(hr)
),
un AS (
  SELECT * FROM ev UNION ALL SELECT * FROM cr UNION ALL SELECT * FROM pr
),
act AS (
  SELECT event_type, ts, is_event, emit,
         CAST(SUM(is_event) OVER (
           PARTITION BY event_type, day ORDER BY ep
           RANGE BETWEEN {_ACTIVE_WINDOW_S} PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS conc
  FROM un
)
SELECT event_type, date_trunc('hour', ts) AS hour,
       MAX(conc) AS peak_concurrency,
       CAST(SUM(is_event) AS BIGINT) AS n_events
FROM act WHERE emit = 1
GROUP BY 1, 2
HAVING MAX(conc) > 0
"""


# --- hour-grid gap detection ------------------------------------------------
def q_missing_hours_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-coverage audit per event_type: the expected hour grid
    between the type's first and last hour vs the hours actually
    observed — ingestion-gap detection (a silent feed outage shows up
    as missing hours, not as an error). Pure timestamp/integer
    arithmetic, no floats.

    Scale: the grid explode is (span-hours)-bounded PER TYPE from a
    1-row-per-type aggregate — never a per-event explode; the anti
    join keys are (type, hour)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    )
    obs = ev.distinct()
    span = obs.groupBy("event_type").agg(
        F.min("hr").alias("h0"),
        F.max("hr").alias("h1"),
        F.count(F.lit(1)).alias("n_observed"),
    )
    grid = span.select(
        "event_type",
        F.explode(
            F.expr("sequence(h0, h1, interval 1 hour)")
        ).alias("hr"),
    )
    missing = grid.join(obs, ["event_type", "hr"], "left_anti")
    gaps = missing.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_missing"),
        F.min("hr").alias("first_gap_hour"),
    )
    return (
        span.join(gaps, "event_type", "left")
        .select(
            "event_type",
            (
                (
                    F.col("h1").cast("long") - F.col("h0").cast("long")
                )
                / 3600
                + 1
            )
            .cast("long")
            .alias("n_expected"),
            "n_observed",
            F.coalesce("n_missing", F.lit(0)).alias("n_missing"),
            "first_gap_hour",
        )
    )


SQL_MISSING_HOURS = """
WITH obs AS (
  SELECT DISTINCT event_type, date_trunc('hour', ts) AS hr FROM events
),
span AS (
  SELECT event_type, MIN(hr) AS h0, MAX(hr) AS h1,
         COUNT(*) AS n_observed
  FROM obs GROUP BY 1
),
grid AS (
  SELECT s.event_type, g.hr
  FROM span s, unnest(generate_series(s.h0, s.h1, INTERVAL 1 HOUR)) g(hr)
),
gaps AS (
  SELECT g.event_type, COUNT(*) AS n_missing, MIN(g.hr) AS first_gap_hour
  FROM grid g LEFT JOIN obs o
    ON o.event_type = g.event_type AND o.hr = g.hr
  WHERE o.hr IS NULL
  GROUP BY 1
)
SELECT s.event_type,
       CAST((CAST(floor(epoch(h1)) AS BIGINT)
             - CAST(floor(epoch(h0)) AS BIGINT)) // 3600 + 1
            AS BIGINT) AS n_expected,
       s.n_observed,
       COALESCE(ga.n_missing, 0) AS n_missing,
       ga.first_gap_hour
FROM span s LEFT JOIN gaps ga ON ga.event_type = s.event_type
"""


# --- class-balance weights --------------------------------------------------
def q_class_balance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label training weights over the embedding corpus: inverse
    frequency N/(K·n) (the classic class-rebalancing weight) and its
    sqrt-damped variant, both normalized to sum to 1. Counts are
    exact; inv_freq_weight is a single division of exact integers;
    the normalized columns round at 6 (small-sum order noise only).

    Scale: one |labels|-row aggregate + a broadcast 1-row total."""
    per = (
        load_table(spark, sf_dir, "embeddings")
        .groupBy(F.col("label").cast("int").alias("label"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = per.agg(
        F.sum("n").alias("n_total"),
        F.count(F.lit(1)).alias("k_labels"),
        F.sum(F.lit(1.0) / F.col("n")).alias("sum_inv"),
        F.sum(F.lit(1.0) / F.sqrt(F.col("n").cast("double"))).alias(
            "sum_sqrt_inv"
        ),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "label",
            "n",
            (
                F.col("n_total").cast("double")
                / (F.col("k_labels") * F.col("n"))
            ).alias("inv_freq_weight"),
            stable_round(
                (F.lit(1.0) / F.col("n")) / F.col("sum_inv"), 6
            ).alias("w_inv_norm"),
            stable_round(
                (F.lit(1.0) / F.sqrt(F.col("n").cast("double")))
                / F.col("sum_sqrt_inv"),
                6,
            ).alias("w_sqrt_norm"),
        )
    )


SQL_CLASS_BALANCE = f"""
WITH per AS (
  SELECT CAST(label AS INTEGER) AS label, COUNT(*) AS n
  FROM embeddings GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_total, COUNT(*) AS k_labels,
         SUM(1.0 / n) AS sum_inv,
         SUM(1.0 / sqrt(CAST(n AS DOUBLE))) AS sum_sqrt_inv
  FROM per
)
SELECT label, n,
       CAST(n_total AS DOUBLE) / (k_labels * n) AS inv_freq_weight,
       {sql_stable_round("(1.0 / n) / sum_inv", 6)} AS w_inv_norm,
       {sql_stable_round(
           "(1.0 / sqrt(CAST(n AS DOUBLE))) / sum_sqrt_inv", 6)}
         AS w_sqrt_norm
FROM per CROSS JOIN tot
"""


# --- label-aware hard-negative mining ----------------------------------------
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard negatives for metric learning: for each vector, the most
    similar vector with a DIFFERENT label among its k-means-cell
    candidates — the supervised sibling of contrastive_pairs (whose
    pos/neg split is threshold-based and label-blind). Candidates are
    cell-bounded (never all-pairs); cosines are the exact integer-grid
    kind, so ranks compare identical bit patterns; anchors whose cell
    holds no other-label partner emit NULLs (visible, not dropped).

    Scale: same shape as semdedup/contrastive — Σ|cell|²·d pair work,
    label join on vec_id, per-anchor rank window partitioned by
    anchor."""
    from lab04_spark_streaming_spark.operators.similarity import (
        cell_pair_cosines,
        kmeans_assign_packed,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # assign is n x (id, cluster); pairs is the within-cell pair
    # relation read by both union branches.
    assign = pin(
        kmeans_assign_packed(emb, k=8, iters=2)
        .select("vec_id", F.col("cluster").alias("kcluster"))
    )
    pairs = pin(cell_pair_cosines(emb, assign))
    labels = emb.select("vec_id", F.col("label").cast("int").alias("label"))
    sym = pairs.select(
        F.col("id_a").alias("anchor"), F.col("id_b").alias("other"), "cos"
    ).unionByName(
        pairs.select(
            F.col("id_b").alias("anchor"),
            F.col("id_a").alias("other"),
            "cos",
        )
    )
    lab_a = labels.select(
        F.col("vec_id").alias("anchor"), F.col("label").alias("anchor_label")
    )
    lab_o = labels.select(
        F.col("vec_id").alias("other"), F.col("label").alias("other_label")
    )
    w = Window.partitionBy("anchor").orderBy(F.desc("cos"), "other")
    hard = (
        sym.join(lab_a, "anchor")
        .join(lab_o, "other")
        .filter(F.col("anchor_label") != F.col("other_label"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "anchor",
            "anchor_label",
            F.col("other").alias("neg_id"),
            F.col("other_label").alias("neg_label"),
            F.col("cos").alias("neg_cos"),
        )
    )
    return (
        lab_a.join(hard.drop("anchor_label"), "anchor", "left")
        .select("anchor", "anchor_label", "neg_id", "neg_label", "neg_cos")
    )


def _sql_hard_negative() -> str:
    # Composes the SAME verified kmeans-cell + within-cell-cosine SQL
    # fragment as the contrastive-pairs oracle (single source of truth
    # in pipeline_extras — the two oracles cannot drift apart).
    from lab04_spark_streaming_spark.plans.pipeline_extras import (
        _SQL_CELL_COSPAIRS,
    )

    return f"""
WITH {_SQL_CELL_COSPAIRS},
sym AS (
  SELECT id_a AS anchor, id_b AS other, cos FROM cospairs
  UNION ALL
  SELECT id_b AS anchor, id_a AS other, cos FROM cospairs
),
lab AS (SELECT vec_id, CAST(label AS INTEGER) AS label FROM embeddings),
hard AS (
  SELECT anchor, other AS neg_id, other_label AS neg_label,
         cos AS neg_cos
  FROM (
    SELECT s.anchor, s.other, s.cos, lo.label AS other_label,
           row_number() OVER (
             PARTITION BY s.anchor ORDER BY s.cos DESC, s.other
           ) AS rn
    FROM sym s
    JOIN lab la ON la.vec_id = s.anchor
    JOIN lab lo ON lo.vec_id = s.other
    WHERE la.label <> lo.label
  ) WHERE rn = 1
)
SELECT la.vec_id AS anchor, la.label AS anchor_label,
       h.neg_id, h.neg_label, h.neg_cos
FROM lab la LEFT JOIN hard h ON h.anchor = la.vec_id
"""


# --- burst debounce ----------------------------------------------------------
_DEBOUNCE_GAP_S = 600


def q_debounce_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst collapse (debounce): within each (user, event_type),
    events chained closer than 10 minutes form one burst; only the
    burst's first event is kept and the rest counted as suppressed —
    the retry/duplicate-click collapser that runs before funnel or
    attribution analytics (the dedup family's temporal member). Same
    gap-chain construction as sessionize, keyed finer. All integer
    epochs; first-of-burst is the (ts, event_id) minimum.

    Scale: every window is partitioned by (user, type); state per
    partition is one lag + one running sum."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        "ts",
        F.col("ts").cast("long").alias("ep"),
    )
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ep", "event_id"
    )
    chained = ev.withColumn(
        "new_burst",
        F.when(
            F.col("ep") - F.lag("ep").over(w) > _DEBOUNCE_GAP_S, 1
        )
        .otherwise(0),
    ).withColumn(
        "burst_id",
        F.sum("new_burst").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    wb = Window.partitionBy("user_id", "event_type", "burst_id")
    return (
        chained.withColumn(
            "rn",
            F.row_number().over(
                wb.orderBy("ep", "event_id")
            ),
        )
        .withColumn("n_in_burst", F.count(F.lit(1)).over(wb))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("burst_id").cast("long").alias("burst_id"),
            F.col("event_id").alias("kept_event_id"),
            F.col("ts").alias("burst_start"),
            (F.col("n_in_burst") - 1).alias("n_suppressed"),
        )
    )


SQL_DEBOUNCE = f"""
WITH ev AS (
  SELECT user_id, event_type, event_id, ts,
         CAST(floor(epoch(ts)) AS BIGINT) AS ep
  FROM events
),
chained AS (
  SELECT *,
         CAST(SUM(new_burst) OVER (
           PARTITION BY user_id, event_type ORDER BY ep, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS burst_id
  FROM (
    SELECT *,
           CASE WHEN ep - lag(ep) OVER (
                  PARTITION BY user_id, event_type ORDER BY ep, event_id
                ) > {_DEBOUNCE_GAP_S}
                THEN 1 ELSE 0 END AS new_burst
    FROM ev
  )
)
SELECT user_id, event_type, burst_id, kept_event_id, burst_start,
       n_in_burst - 1 AS n_suppressed
FROM (
  SELECT user_id, event_type, burst_id, event_id AS kept_event_id,
         ts AS burst_start,
         row_number() OVER (
           PARTITION BY user_id, event_type, burst_id
           ORDER BY ep, event_id
         ) AS rn,
         COUNT(*) OVER (
           PARTITION BY user_id, event_type, burst_id
         ) AS n_in_burst
  FROM chained
) WHERE rn = 1
"""


# --- interval-union active time ----------------------------------------------
_ACTIVITY_SPAN_S = 300


def q_interval_union_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user active time as the measure of the UNION of 5-minute
    activity intervals (one opened at each event) — the classic
    merged-intervals sweep (billing/engagement minutes): overlapping
    intervals must not double-count. An interval starts a new island
    iff its start exceeds the running max of previous ends; islands
    are then summed exactly in BIGINT seconds.

    Scale: the running max and island numbering are per-user
    partitioned windows (lag-1 state); island aggregation re-shuffles
    on the same user key. No global order anywhere."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("long").alias("s"),
        (F.col("ts").cast("long") + _ACTIVITY_SPAN_S).alias("e"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    prev_max_e = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = ev.withColumn(
        "new_island",
        F.when(
            prev_max_e.isNull() | (F.col("s") > prev_max_e), 1
        ).otherwise(0),
    ).withColumn(
        "island_id",
        F.sum("new_island").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    per_island = isl.groupBy("user_id", "island_id").agg(
        F.min("s").alias("i_start"),
        F.max("e").alias("i_end"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return per_island.groupBy("user_id").agg(
        F.sum("n_events").alias("n_events"),
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(F.col("i_end") - F.col("i_start")).alias("active_seconds"),
    )


SQL_INTERVAL_UNION = f"""
WITH ev AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(epoch(ts)) AS BIGINT) + {_ACTIVITY_SPAN_S} AS e,
         event_id
  FROM events
),
isl AS (
  SELECT *,
         CAST(SUM(new_island) OVER (
           PARTITION BY user_id ORDER BY s, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS island_id
  FROM (
    SELECT *,
           CASE WHEN max_prev_e IS NULL OR s > max_prev_e
                THEN 1 ELSE 0 END AS new_island
    FROM (
      SELECT *,
             MAX(e) OVER (
               PARTITION BY user_id ORDER BY s, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS max_prev_e
      FROM ev
    )
  )
),
per_island AS (
  SELECT user_id, island_id, MIN(s) AS i_start, MAX(e) AS i_end,
         COUNT(*) AS n_events
  FROM isl GROUP BY 1, 2
)
SELECT user_id, CAST(SUM(n_events) AS BIGINT) AS n_events,
       COUNT(*) AS n_islands,
       CAST(SUM(i_end - i_start) AS BIGINT) AS active_seconds
FROM per_island GROUP BY 1
"""


# --- tokenizer vocabulary coverage curve ------------------------------------
_COVERAGE_KS = (100, 1000)


def q_vocab_coverage_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer budget diagnostic: the fraction of total token volume
    covered by the k most frequent words (k = 100, 1000) — the curve
    that sizes a vocabulary before BPE training. Exact integer counts;
    coverage is one division of exact BIGINTs; the only global order
    is orderBy().limit(1000) (TakeOrderedAndProject) and the rank
    window then sees just the 1000 survivors.

    Scale: vocab-bounded count relation, per-partition top-k heaps, a
    broadcast 1-row total. Never a global sort of the vocabulary."""
    tc = pin(
        restore_splits(load_table(spark, sf_dir, "documents"), "doc_id")
        .select(F.explode(F.expr(SPARK_TOKS)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = tc.agg(
        # empty vocabulary (all-empty corpus): 0, not NULL
        F.coalesce(F.sum("c"), F.lit(0)).alias("n_total_tokens"),
        F.count(F.lit(1)).alias("n_vocab"),
    )
    kmax = max(_COVERAGE_KS)
    top = tc.orderBy(F.desc("c"), "w").limit(kmax)
    ranked = top.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.desc("c"), "w"))
    )
    cov = ranked.agg(
        *[
            F.sum(F.when(F.col("rank") <= k, F.col("c")).otherwise(0)).alias(
                f"_cov{k}"
            )
            for k in _COVERAGE_KS
        ]
    )
    stacked = cov.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("k"),
                        F.col(f"_cov{k}").alias("covered_tokens"),
                    )
                    for k in _COVERAGE_KS
                ]
            )
        ).alias("s")
    ).select("s.k", "s.covered_tokens")
    return (
        stacked.crossJoin(F.broadcast(tot))
        .select(
            "k",
            "n_vocab",
            "n_total_tokens",
            F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
            F.when(
                F.col("n_total_tokens") == 0, F.lit(None).cast("double")
            )
            .otherwise(
                F.coalesce("covered_tokens", F.lit(0)).cast("double")
                / F.col("n_total_tokens")
            )
            .alias("coverage"),
        )
    )


SQL_VOCAB_COVERAGE = f"""
WITH tc AS (
  SELECT w, COUNT(*) AS c
  FROM (SELECT unnest({SQL_TOKS}) AS w FROM documents)
  GROUP BY 1
),
tot AS (
  SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_total_tokens,
         COUNT(*) AS n_vocab
  FROM tc
),
ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rank FROM tc
),
cov AS (
  SELECT k.k,
         CAST(COALESCE(SUM(CASE WHEN r.rank <= k.k THEN r.c END), 0)
              AS BIGINT) AS covered_tokens
  FROM (VALUES {", ".join(f"({k})" for k in _COVERAGE_KS)}) k(k)
  LEFT JOIN ranked r ON r.rank <= {max(_COVERAGE_KS)}
  GROUP BY 1
)
SELECT cov.k, tot.n_vocab, tot.n_total_tokens, cov.covered_tokens,
       CASE WHEN tot.n_total_tokens = 0 THEN NULL
            ELSE CAST(cov.covered_tokens AS DOUBLE) / tot.n_total_tokens
       END AS coverage
FROM cov CROSS JOIN tot
"""


# --- deseasonalized outliers -------------------------------------------------
def q_deseasonal_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly profile: residuals against each
    (type, hour-of-day) mean, flagged against the per-type p99 of
    |residual| — composes seasonal_factors' moment grid with
    mad_outliers' robust-threshold shape (a raw z-score would let the
    daily cycle masquerade as anomalies). The hod means are exact
    decimal moments → identical doubles; each residual is one IEEE
    subtraction; the p99 threshold interpolates identical double
    multisets in both engines (the mad_outliers precedent), so the
    flag comparison is bit-deterministic.

    Scale: (type, hod) grid is broadcast; two grouped percentile
    passes on the type key. No windows."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").alias("hod"), "value"
    )
    hm = ev.groupBy("event_type", "hod").agg(
        (
            F.sum(F.col("value").cast("decimal(30,4)")).cast("double")
            / F.count(F.lit(1))
        ).alias("hod_mean")
    )
    resid = ev.join(F.broadcast(hm), ["event_type", "hod"]).select(
        "event_type",
        F.abs(F.col("value") - F.col("hod_mean")).alias("a"),
    )
    thr = resid.groupBy("event_type").agg(
        F.expr("percentile(a, 0.99)").alias("p99_abs_resid"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        resid.join(F.broadcast(thr), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            F.max("p99_abs_resid").alias("p99_abs_resid"),
            F.sum(
                F.when(F.col("a") > F.col("p99_abs_resid"), 1).otherwise(0)
            ).alias("n_beyond"),
        )
        .select(
            "event_type",
            "n",
            "p99_abs_resid",
            "n_beyond",
            (F.col("n_beyond").cast("double") / F.col("n")).alias(
                "beyond_frac"
            ),
        )
    )


SQL_DESEASONAL_OUTLIERS = """
WITH base AS (
  SELECT event_type, EXTRACT(hour FROM ts) AS hod, value FROM events
),
hm AS (
  SELECT event_type, hod,
         CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) / COUNT(*)
           AS hod_mean
  FROM base GROUP BY 1, 2
),
resid AS (
  SELECT b.event_type, abs(b.value - h.hod_mean) AS a
  FROM base b JOIN hm h ON h.event_type = b.event_type AND h.hod = b.hod
),
thr AS (
  SELECT event_type, quantile_cont(a, 0.99) AS p99_abs_resid,
         COUNT(*) AS n
  FROM resid GROUP BY 1
)
SELECT r.event_type, t.n, t.p99_abs_resid,
       CAST(SUM(CASE WHEN r.a > t.p99_abs_resid THEN 1 ELSE 0 END)
            AS BIGINT) AS n_beyond,
       CAST(SUM(CASE WHEN r.a > t.p99_abs_resid THEN 1 ELSE 0 END)
            AS DOUBLE) / t.n AS beyond_frac
FROM resid r JOIN thr t ON t.event_type = r.event_type
GROUP BY r.event_type, t.n, t.p99_abs_resid
"""


# --- k-anonymity audit -------------------------------------------------------
_K_ANON = 5


def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit before a data release: group sizes under the
    quasi-identifier (nation, market segment) — any group smaller than
    k = 5 is re-identifiable and must be suppressed or generalized
    (the k-anonymity criterion; the governance sibling of pii_scrub).
    Pure integer counts, one grouped aggregate.

    Scale: one shuffle on the bounded quasi-identifier key space."""
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "n",
            (F.col("n") < _K_ANON).alias("at_risk"),
        )
    )


SQL_K_ANONYMITY = f"""
SELECT c_nationkey, c_mktsegment, COUNT(*) AS n,
       COUNT(*) < {_K_ANON} AS at_risk
FROM customer
GROUP BY 1, 2
"""


# --- kNN label-noise detection ----------------------------------------------
def q_label_noise_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise screening for supervised corpora: each vector's
    agreement with its k-means-cell neighbours' labels — a vector
    whose neighbourhood overwhelmingly disagrees is a likely
    mislabel (neighborhood-voting cleanup, cf. Confident Learning,
    Northcutt 2021). Reuses the verified cell-pair machinery; the
    agreement fraction is one division of exact counts; suspects are
    agreement < 0.5 with >= 3 neighbours (integer-threshold test,
    2·n_same < n_neighbors — ulp-proof).

    Scale: Σ|cell|²·d pair work, label join on vec_id, one grouped
    aggregate per anchor. No windows."""
    from lab04_spark_streaming_spark.operators.similarity import (
        cell_pair_cosines,
        kmeans_assign_packed,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # assign is n x (id, cluster); pairs is the within-cell pair
    # relation read by both union branches.
    assign = pin(
        kmeans_assign_packed(emb, k=8, iters=2)
        .select("vec_id", F.col("cluster").alias("kcluster"))
    )
    pairs = pin(cell_pair_cosines(emb, assign))
    labels = emb.select("vec_id", F.col("label").cast("int").alias("label"))
    sym = pairs.select(
        F.col("id_a").alias("anchor"), F.col("id_b").alias("other")
    ).unionByName(
        pairs.select(
            F.col("id_b").alias("anchor"), F.col("id_a").alias("other")
        )
    )
    lab_a = labels.select(
        F.col("vec_id").alias("anchor"), F.col("label").alias("anchor_label")
    )
    lab_o = labels.select(
        F.col("vec_id").alias("other"), F.col("label").alias("other_label")
    )
    votes = (
        sym.join(lab_a, "anchor")
        .join(lab_o, "other")
        .groupBy("anchor", "anchor_label")
        .agg(
            F.count(F.lit(1)).alias("n_neighbors"),
            F.sum(
                F.when(
                    F.col("anchor_label") == F.col("other_label"), 1
                ).otherwise(0)
            ).alias("n_same"),
        )
    )
    return (
        lab_a.join(votes.drop("anchor_label"), "anchor", "left")
        .select(
            "anchor",
            "anchor_label",
            F.coalesce("n_neighbors", F.lit(0)).alias("n_neighbors"),
            F.coalesce("n_same", F.lit(0)).alias("n_same"),
            F.when(
                F.coalesce("n_neighbors", F.lit(0)) == 0,
                F.lit(None).cast("double"),
            )
            .otherwise(
                F.col("n_same").cast("double") / F.col("n_neighbors")
            )
            .alias("agreement"),
            (
                (F.coalesce("n_neighbors", F.lit(0)) >= 3)
                & (
                    F.lit(2) * F.coalesce("n_same", F.lit(0))
                    < F.coalesce("n_neighbors", F.lit(0))
                )
            ).alias("suspect"),
        )
    )


def _sql_label_noise() -> str:
    from lab04_spark_streaming_spark.plans.pipeline_extras import (
        _SQL_CELL_COSPAIRS,
    )

    return f"""
WITH {_SQL_CELL_COSPAIRS},
sym AS (
  SELECT id_a AS anchor, id_b AS other FROM cospairs
  UNION ALL
  SELECT id_b AS anchor, id_a AS other FROM cospairs
),
lab AS (SELECT vec_id, CAST(label AS INTEGER) AS label FROM embeddings),
votes AS (
  SELECT s.anchor, COUNT(*) AS n_neighbors,
         CAST(SUM(CASE WHEN la.label = lo.label THEN 1 ELSE 0 END)
              AS BIGINT) AS n_same
  FROM sym s
  JOIN lab la ON la.vec_id = s.anchor
  JOIN lab lo ON lo.vec_id = s.other
  GROUP BY 1
)
SELECT la.vec_id AS anchor, la.label AS anchor_label,
       COALESCE(v.n_neighbors, 0) AS n_neighbors,
       COALESCE(v.n_same, 0) AS n_same,
       CASE WHEN COALESCE(v.n_neighbors, 0) = 0 THEN NULL
            ELSE CAST(v.n_same AS DOUBLE) / v.n_neighbors END AS agreement,
       COALESCE(v.n_neighbors, 0) >= 3
         AND 2 * COALESCE(v.n_same, 0) < COALESCE(v.n_neighbors, 0)
         AS suspect
FROM lab la LEFT JOIN votes v ON v.anchor = la.vec_id
"""


# --- SimHash accuracy evaluation ---------------------------------------------
def q_simhash_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy evaluation for the SimHash family — the
    measure-don't-guess gate minhash_error provides for MinHash: for
    every hamming-band candidate pair, the 32-bit agreement fraction
    (a random-hyperplane angle proxy, NOT a Jaccard estimator —
    emitted for calibration) beside the exact token-set Jaccard.
    Exact integer counts, single double divisions — even the sketch's
    error is hash-checked cross-engine. Candidate-bounded: the exact
    verify touches only band survivors, never all pairs."""
    from lab04_spark_streaming_spark.operators import dedup as dd

    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.simhash_pairs(docs)
    sets = pin(
        docs.filter(F.expr(f"size(array_distinct({SPARK_TOKS})) > 0"))
        .select(
            "doc_id", F.expr(f"array_distinct({SPARK_TOKS})").alias("s")
        )
    )
    xa = sets.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa"))
    xb = sets.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb"))
    return (
        pairs.join(xa, "id_a")
        .join(xb, "id_b")
        .select(
            "id_a",
            "id_b",
            "hamming",
            ((F.lit(32) - F.col("hamming")) / F.lit(32.0)).alias(
                "bit_agreement"
            ),
            F.expr("size(array_intersect(sa, sb))").alias("inter_sz"),
            F.expr(
                "size(sa) + size(sb) - size(array_intersect(sa, sb))"
            ).alias("union_sz"),
        )
        .select(
            "id_a",
            "id_b",
            "hamming",
            "bit_agreement",
            (
                F.col("inter_sz") / F.col("union_sz").cast("double")
            ).alias("exact_jaccard"),
        )
    )


def _sql_simhash_error() -> str:
    from lab04_spark_streaming_spark.plans.llm import _sql_simhash

    return f"""
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
),
pairs AS (
  SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
  FROM cands
  WHERE bit_count(xor(sa, sb)) <= 3
)
SELECT p.id_a, p.id_b, p.hamming,
       (32 - p.hamming) / 32.0 AS bit_agreement,
       CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
         / (len(ta.toks) + len(tb.toks)
            - len(list_intersect(ta.toks, tb.toks))) AS exact_jaccard
FROM pairs p
JOIN tok ta ON ta.doc_id = p.id_a
JOIN tok tb ON tb.doc_id = p.id_b
"""


# --- VariantType semi-structured path ----------------------------------------
def q_props_variant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payload aggregation through Spark 4's native
    VariantType (`parse_json` → `variant_get`) — the modern engine
    path for JSON columns: the payload parses ONCE into a binary
    variant (shredded, no per-access string re-parse the
    `get_json_object` route pays; that legacy route is covered by
    json_map_funcs). Typed extraction then feeds exact integer
    aggregates.

    Scale: parse + extract are per-row codegen expressions; one
    bounded-key shuffle. The variant never leaves the plan — only
    typed scalars are emitted."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("variant_get(parse_json(props), '$.k', 'int')").alias("k"),
    )
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("k").alias("n_with_k"),
        F.min("k").alias("k_min"),
        F.max("k").alias("k_max"),
        F.sum(F.col("k").cast("long")).alias("k_sum"),
        (
            F.sum(F.col("k").cast("long")).cast("double") / F.count("k")
        ).alias("k_avg"),
    )


SQL_PROPS_VARIANT = """
WITH ev AS (
  SELECT event_type, CAST(json_extract(props, '$.k') AS INTEGER) AS k
  FROM events
)
SELECT event_type, COUNT(*) AS n, COUNT(k) AS n_with_k,
       MIN(k) AS k_min, MAX(k) AS k_max,
       CAST(SUM(k) AS BIGINT) AS k_sum,
       CAST(SUM(k) AS DOUBLE) / COUNT(k) AS k_avg
FROM ev
GROUP BY 1
"""


# --- A/B test (Welch) --------------------------------------------------------
def q_ab_test_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experimentation readout: users split into two arms by the
    deterministic assignment user_id % 2, per-user value totals, and
    Welch's t statistic (unequal variances) between the arms — the
    standard A/B significance computation, done with exact decimal
    moments end to end: per-user sums stay DECIMAL into the arm-level
    sum and sum-of-squares (decimal(15,4)² = decimal(31,8), exact), so
    the arm moments are order-free and the t/df doubles are identical
    cross-engine; display at stable_round(4).

    Scale: one shuffle on user, one |arms|-row aggregate."""
    per_user = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(F.col("value").cast("decimal(30,4)"))
            .cast("decimal(15,4)")
            .alias("m")
        )
        .select((F.col("user_id") % 2).alias("arm"), "m")
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("m").cast("double").alias("_s"),
        F.sum(F.col("m") * F.col("m")).cast("double").alias("_sq"),
    )
    a = arms.filter(F.col("arm") == 0).select(
        F.col("n").alias("n_a"), F.col("_s").alias("sa"),
        F.col("_sq").alias("qa"),
    )
    b = arms.filter(F.col("arm") == 1).select(
        F.col("n").alias("n_b"), F.col("_s").alias("sb"),
        F.col("_sq").alias("qb"),
    )
    j = a.crossJoin(F.broadcast(b))
    ma = F.col("sa") / F.col("n_a")
    mb = F.col("sb") / F.col("n_b")
    va = (F.col("qa") - F.col("sa") * F.col("sa") / F.col("n_a")) / (
        F.col("n_a") - 1
    )
    vb = (F.col("qb") - F.col("sb") * F.col("sb") / F.col("n_b")) / (
        F.col("n_b") - 1
    )
    se2 = va / F.col("n_a") + vb / F.col("n_b")
    t = (ma - mb) / F.sqrt(se2)
    df_w = (se2 * se2) / (
        (va / F.col("n_a")) * (va / F.col("n_a")) / (F.col("n_a") - 1)
        + (vb / F.col("n_b")) * (vb / F.col("n_b")) / (F.col("n_b") - 1)
    )
    degenerate = (
        (F.col("n_a") <= 1) | (F.col("n_b") <= 1) | (se2 <= 0)
    )
    return j.select(
        "n_a",
        "n_b",
        stable_round(ma, 4).alias("mean_a"),
        stable_round(mb, 4).alias("mean_b"),
        F.when(degenerate, F.lit(None).cast("double"))
        .otherwise(stable_round(t, 4))
        .alias("t_stat"),
        F.when(degenerate, F.lit(None).cast("double"))
        .otherwise(stable_round(df_w, 4))
        .alias("df_welch"),
    )


SQL_AB_TEST_WELCH = f"""
WITH per_user AS (
  SELECT user_id % 2 AS arm,
         CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DECIMAL(15,4)) AS m
  FROM events GROUP BY user_id
),
arms AS (
  SELECT arm, COUNT(*) AS n, CAST(SUM(m) AS DOUBLE) AS s,
         CAST(SUM(m * m) AS DOUBLE) AS q
  FROM per_user GROUP BY 1
),
j AS (
  SELECT a.n AS n_a, a.s AS sa, a.q AS qa,
         b.n AS n_b, b.s AS sb, b.q AS qb
  FROM arms a CROSS JOIN arms b
  WHERE a.arm = 0 AND b.arm = 1
),
c AS (
  SELECT n_a, n_b, sa / n_a AS ma, sb / n_b AS mb,
         (qa - sa * sa / n_a) / (n_a - 1) AS va,
         (qb - sb * sb / n_b) / (n_b - 1) AS vb
  FROM j
),
d AS (
  SELECT *, va / n_a + vb / n_b AS se2 FROM c
)
SELECT n_a, n_b,
       {sql_stable_round("ma", 4)} AS mean_a,
       {sql_stable_round("mb", 4)} AS mean_b,
       CASE WHEN n_a <= 1 OR n_b <= 1 OR se2 <= 0 THEN NULL
            ELSE {sql_stable_round("(ma - mb) / sqrt(se2)", 4)}
       END AS t_stat,
       CASE WHEN n_a <= 1 OR n_b <= 1 OR se2 <= 0 THEN NULL
            ELSE {sql_stable_round(
                "(se2 * se2) / ((va / n_a) * (va / n_a) / (n_a - 1)"
                " + (vb / n_b) * (vb / n_b) / (n_b - 1))", 4)}
       END AS df_welch
FROM d
"""


# --- CUPED variance reduction -------------------------------------------------
_CUPED_CUTOFF = "2024-01-16 00:00:00"


def q_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED pre-period adjustment (Deng et al. 2013, public): per-user
    pre-cutoff activity X predicts post-cutoff metric Y; the adjusted
    metric Y − θ(X − X̄) with θ = cov(X,Y)/var(X) keeps the mean and
    shrinks the variance by the squared correlation — the standard
    experiment-sensitivity lever. Per-user X/Y are exact decimal sums
    kept DECIMAL through the second-level moment sums (products at
    decimal(31,8), exact — the Welch discipline), so θ and both
    variances are identical doubles; display at stable_round(6).

    Scale: one shuffle on user, one 1-row moment aggregate."""
    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("ts") < _CUPED_CUTOFF,
                    F.col("value").cast("decimal(30,4)"),
                ).otherwise(F.lit(0).cast("decimal(30,4)"))
            )
            .cast("decimal(15,4)")
            .alias("x"),
            F.sum(
                F.when(
                    F.col("ts") >= _CUPED_CUTOFF,
                    F.col("value").cast("decimal(30,4)"),
                ).otherwise(F.lit(0).cast("decimal(30,4)"))
            )
            .cast("decimal(15,4)")
            .alias("y"),
        )
    )
    m = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    n = F.col("n")
    # structurally-safe denominator: greatest(n-1, 1) never divides by
    # zero, and every n <= 1 output is NULLed below anyway — ANSI mode
    # raises on 1/0 even inside a not-taken guard's operand evaluation.
    dof = F.greatest(n - 1, F.lit(1))
    cov = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / dof
    var_x = (F.col("sxx") - F.col("sx") * F.col("sx") / n) / dof
    var_y = (F.col("syy") - F.col("sy") * F.col("sy") / n) / dof
    theta = cov / var_x
    var_adj = var_y - cov * cov / var_x
    # n <= 1 must be guarded on EVERY moment output, not just the
    # ratios: the (n - 1) denominator itself divides by zero under
    # ANSI mode (caught by the random-events fuzz on a 1-user series).
    degenerate = (n <= 1) | (var_x <= 0)
    return m.select(
        n.alias("n_users"),
        F.when(degenerate, F.lit(None).cast("double"))
        .otherwise(stable_round(theta, 6))
        .alias("theta"),
        F.when(n <= 1, F.lit(None).cast("double"))
        .otherwise(stable_round(var_y, 4))
        .alias("var_y"),
        F.when(degenerate, F.lit(None).cast("double"))
        .otherwise(stable_round(var_adj, 4))
        .alias("var_y_adjusted"),
        F.when(
            degenerate | (var_y <= 0), F.lit(None).cast("double")
        )
        .otherwise(stable_round(cov * cov / (var_x * var_y), 6))
        .alias("var_reduction_frac"),
    )


SQL_CUPED = f"""
WITH per_user AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN ts < TIMESTAMP '{_CUPED_CUTOFF}'
                       THEN CAST(value AS DECIMAL(30,4))
                       ELSE CAST(0 AS DECIMAL(30,4)) END)
              AS DECIMAL(15,4)) AS x,
         CAST(SUM(CASE WHEN ts >= TIMESTAMP '{_CUPED_CUTOFF}'
                       THEN CAST(value AS DECIMAL(30,4))
                       ELSE CAST(0 AS DECIMAL(30,4)) END)
              AS DECIMAL(15,4)) AS y
  FROM events GROUP BY 1
),
m AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(x * y) AS DOUBLE) AS sxy,
         CAST(SUM(x * x) AS DOUBLE) AS sxx,
         CAST(SUM(y * y) AS DOUBLE) AS syy
  FROM per_user
),
c AS (
  SELECT n,
         (sxy - sx * sy / n) / greatest(n - 1, 1) AS cov,
         (sxx - sx * sx / n) / greatest(n - 1, 1) AS var_x,
         (syy - sy * sy / n) / greatest(n - 1, 1) AS var_y
  FROM m
)
SELECT n AS n_users,
       CASE WHEN n <= 1 OR var_x <= 0 THEN NULL
            ELSE {sql_stable_round("cov / var_x", 6)} END AS theta,
       CASE WHEN n <= 1 THEN NULL
            ELSE {sql_stable_round("var_y", 4)} END AS var_y,
       CASE WHEN n <= 1 OR var_x <= 0 THEN NULL
            ELSE {sql_stable_round("var_y - cov * cov / var_x", 4)}
       END AS var_y_adjusted,
       CASE WHEN n <= 1 OR var_x <= 0 OR var_y <= 0 THEN NULL
            ELSE {sql_stable_round("cov * cov / (var_x * var_y)", 6)}
       END AS var_reduction_frac
FROM c
"""


# --- CDC apply (latest-op snapshot) ------------------------------------------
def q_cdc_apply_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture apply — the MERGE-style compaction every
    lakehouse table maintenance job runs: events are treated as a CDC
    feed on per-user state ('signup' insert, 'view'/'click'/'purchase'
    update, 'error' tombstone); the snapshot keeps, per user, the
    LATEST op by (ts, event_id) and drops users whose latest op is a
    tombstone. One partitioned rank, pure integer/timestamp
    tie-breaks.

    Scale: one shuffle on the key; at 100 TB this is the per-key
    last-writer-wins compaction (Delta/Iceberg MERGE INTO shape)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts", "value"
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    latest = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .filter(F.col("event_type") != "error")
    )
    n_ops = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_ops"))
    return latest.join(n_ops, "user_id").select(
        "user_id",
        F.col("event_type").alias("last_op"),
        F.col("value").alias("last_value"),
        F.col("ts").alias("last_ts"),
        "n_ops",
    )


SQL_CDC_APPLY = """
WITH ranked AS (
  SELECT user_id, event_type, event_id, ts, value,
         row_number() OVER (
           PARTITION BY user_id ORDER BY ts DESC, event_id DESC
         ) AS rn
  FROM events
),
n_ops AS (SELECT user_id, COUNT(*) AS n_ops FROM events GROUP BY 1)
SELECT r.user_id, r.event_type AS last_op, r.value AS last_value,
       r.ts AS last_ts, n.n_ops
FROM ranked r JOIN n_ops n ON n.user_id = r.user_id
WHERE r.rn = 1 AND r.event_type <> 'error'
"""


# --- funnel time-to-convert ---------------------------------------------------
def q_funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency readout: per user, seconds from the FIRST
    'view' to the first 'purchase' AFTER it; p50/p90/avg over the
    converting users — the timing companion of funnel_conversion
    (which reports rates). Deltas are whole-second BIGINTs; the
    percentiles interpolate identical integer multisets in both
    engines; avg is one exact-integer division.

    Scale: two per-user min-aggregates and a |1|-row summary."""
    ev = load_table(spark, sf_dir, "events")
    first_view = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(F.col("ts").cast("long")).alias("t_view"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").cast("long").alias("t_p")
    )
    conv = (
        purchases.join(first_view, "user_id")
        .filter(F.col("t_p") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min(F.col("t_p") - F.col("t_view")).alias("delta_s"))
    )
    return conv.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.expr("percentile(delta_s, 0.5)").alias("p50_s"),
        F.expr("percentile(delta_s, 0.9)").alias("p90_s"),
        (
            F.sum("delta_s").cast("double") / F.count(F.lit(1))
        ).alias("avg_s"),
    )


SQL_FUNNEL_TIME_TO_CONVERT = """
WITH fv AS (
  SELECT user_id, MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS t_view
  FROM events WHERE event_type = 'view' GROUP BY 1
),
conv AS (
  SELECT e.user_id,
         MIN(CAST(floor(epoch(e.ts)) AS BIGINT) - fv.t_view) AS delta_s
  FROM events e
  JOIN fv ON fv.user_id = e.user_id
  WHERE e.event_type = 'purchase'
    AND CAST(floor(epoch(e.ts)) AS BIGINT) >= fv.t_view
  GROUP BY 1
)
SELECT COUNT(*) AS n_converted,
       quantile_cont(delta_s, 0.5) AS p50_s,
       quantile_cont(delta_s, 0.9) AS p90_s,
       CAST(SUM(delta_s) AS DOUBLE) / COUNT(*) AS avg_s
FROM conv
"""


def specs():
    from lab04_spark_streaming_spark.registry import QuerySpec

    return [
        QuerySpec("pmi_word_pairs", q_pmi_word_pairs, SQL_PMI_WORD_PAIRS),
        QuerySpec(
            "chi2_terms_by_source", q_chi2_terms_by_source, SQL_CHI2_TERMS
        ),
        QuerySpec(
            "zipf_slope_by_source", q_zipf_slope_by_source, SQL_ZIPF_SLOPE
        ),
        QuerySpec(
            "mixing_weights_temperature",
            q_mixing_weights_temperature,
            SQL_MIXING_WEIGHTS,
        ),
        QuerySpec(
            "concurrent_active_30m",
            q_concurrent_active_30m,
            SQL_CONCURRENT_ACTIVE,
        ),
        QuerySpec(
            "missing_hours_by_type",
            q_missing_hours_by_type,
            SQL_MISSING_HOURS,
        ),
        QuerySpec(
            "class_balance_weights",
            q_class_balance_weights,
            SQL_CLASS_BALANCE,
        ),
        QuerySpec(
            "hard_negative_mining",
            q_hard_negative_mining,
            _sql_hard_negative(),
        ),
        QuerySpec("debounce_keep_first", q_debounce_keep_first, SQL_DEBOUNCE),
        QuerySpec(
            "interval_union_time", q_interval_union_time, SQL_INTERVAL_UNION
        ),
        QuerySpec(
            "vocab_coverage_topk", q_vocab_coverage_topk, SQL_VOCAB_COVERAGE
        ),
        QuerySpec(
            "deseasonal_outliers",
            q_deseasonal_outliers,
            SQL_DESEASONAL_OUTLIERS,
        ),
        QuerySpec(
            "k_anonymity_audit", q_k_anonymity_audit, SQL_K_ANONYMITY
        ),
        QuerySpec("label_noise_knn", q_label_noise_knn, _sql_label_noise()),
        QuerySpec(
            "props_variant_stats", q_props_variant_stats, SQL_PROPS_VARIANT
        ),
        QuerySpec("ab_test_welch", q_ab_test_welch, SQL_AB_TEST_WELCH),
        QuerySpec("cuped_adjustment", q_cuped_adjustment, SQL_CUPED),
        QuerySpec("simhash_error", q_simhash_error, _sql_simhash_error()),
        QuerySpec("cdc_apply_latest", q_cdc_apply_latest, SQL_CDC_APPLY),
        QuerySpec(
            "funnel_time_to_convert",
            q_funnel_time_to_convert,
            SQL_FUNNEL_TIME_TO_CONVERT,
        ),
    ]
