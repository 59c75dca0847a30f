"""Round-10 wave (built in driver round 8): operations & lifecycle
analytics — the monitoring / retention / serving layer around the
curation engine: pipeline volume anomalies, Kaplan–Meier retention,
item-item co-purchase similarity, per-dimension information gain,
rendezvous-hash shard planning, mergeable equi-depth quantile
summaries with a measured rank-error bound, and a seasonal-naive
forecast backtest.

Cross-engine determinism (registry.py rules): anomaly / selection /
rank decisions are all-BIGINT (cross-multiplied variance tests,
order-statistic ranks, hash argmaxes with integer tie-breaks); log /
ratio outputs are stable_round displays over exact integer counts or
exact divisions; every window is partitioned or runs over a bounded
grid (days, durations, quantile summaries — never raw rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lab04_spark_streaming_spark.operators.pinning import pin
from lab04_spark_streaming_spark.functions.guards import (
    sql_stable_round,
    stable_round,
)
from lab04_spark_streaming_spark.sources.files import load_table


# --- daily volume anomaly ---------------------------------------------------
_VOL_TRAIL_DAYS = 7
_VOL_SIGMA = 3


def q_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline-volume anomaly monitor: per (event_type, day) row
    counts flagged against a trailing-{d}-day mean ± {s}σ — the
    ingestion-health check every production pipeline alarms on. The
    flag is FULLY integer: |x − μ| > {s}σ over trailing moments
    (n, Σ, Σx²) cross-multiplies to (n·x − Σ)² > {s}²·(n·Σx² − Σ²),
    so no division or sqrt decides an alert; z is a display (NULL
    when the trailing window is degenerate). Days with fewer than 3
    trailing observations never alert.

    Scale: the day-grid relation is bounded by days × types; windows
    are type-partitioned trailing frames over that grid."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-_VOL_TRAIL_DAYS, -1)
    )
    t = daily.select(
        "event_type",
        "day",
        "cnt",
        F.count("cnt").over(w).alias("n"),
        F.sum("cnt").over(w).alias("s"),
        F.sum(F.col("cnt") * F.col("cnt")).over(w).alias("sq"),
    )
    lhs = (F.col("n") * F.col("cnt") - F.col("s")) * (
        F.col("n") * F.col("cnt") - F.col("s")
    )
    rhs = F.lit(_VOL_SIGMA * _VOL_SIGMA) * (
        F.col("n") * F.col("sq") - F.col("s") * F.col("s")
    )
    var_num = F.col("n") * F.col("sq") - F.col("s") * F.col("s")
    z = F.when(
        (F.col("n") >= 3) & (var_num > 0),
        (F.col("n") * F.col("cnt") - F.col("s")).cast("double")
        / F.sqrt(var_num.cast("double") * F.col("n").cast("double")),
    )
    return t.select(
        "event_type",
        "day",
        "cnt",
        F.col("n").alias("trailing_days"),
        ((F.col("n") >= 3) & (lhs > rhs)).alias("is_anomaly"),
        stable_round(z, 4).alias("z"),
    )


q_volume_anomaly.__doc__ = q_volume_anomaly.__doc__.format(
    d=_VOL_TRAIL_DAYS, s=_VOL_SIGMA
)


SQL_VOLUME_ANOMALY = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
t AS (
  SELECT event_type, day, cnt,
         CAST(COUNT(cnt) OVER w AS BIGINT) AS n,
         CAST(SUM(cnt) OVER w AS BIGINT) AS s,
         CAST(SUM(cnt * cnt) OVER w AS BIGINT) AS sq
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN {_VOL_TRAIL_DAYS} PRECEDING AND 1 PRECEDING)
)
SELECT event_type, day, cnt, n AS trailing_days,
       n >= 3 AND (n * cnt - s) * (n * cnt - s)
                  > {_VOL_SIGMA * _VOL_SIGMA} * (n * sq - s * s)
         AS is_anomaly,
       {sql_stable_round(
           "CASE WHEN n >= 3 AND n * sq - s * s > 0 THEN"
           " CAST(n * cnt - s AS DOUBLE)"
           " / sqrt(CAST(n * sq - s * s AS DOUBLE) * CAST(n AS DOUBLE))"
           " END", 4)} AS z
FROM t
"""


# --- Kaplan–Meier retention -------------------------------------------------
_KM_CENSOR_DAYS = 7


def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier retention curve over user lifetimes (Kaplan &
    Meier 1958, public) — the censoring-aware way to answer "what
    fraction of users are still active after t days" when the
    observation window truncates recent users. Lifetime = days
    between a user's first and last event; a user is CHURNED
    (event observed) iff their last event predates the corpus end by
    > {c} days, else censored. At each distinct lifetime t: n_i (at
    risk) and d_i (churned at t) are exact BIGINTs via one cumulative
    window over the duration grid; S(t) = Π(1 − d/n) is emitted as
    exp(Σ ln·) — the cumulative sum runs in the window's defined
    frame order, deterministic in both engines — rounded for display.

    Scale: everything after the per-user first/last aggregate lives
    on the DURATION GRID (bounded by the observation span in days,
    not by users)."""
    ev = load_table(spark, sf_dir, "events")
    span = ev.agg(F.max(F.to_date("ts")).alias("end_day"))
    users = (
        ev.groupBy("user_id")
        .agg(
            F.min(F.to_date("ts")).alias("first_day"),
            F.max(F.to_date("ts")).alias("last_day"),
        )
        .crossJoin(F.broadcast(span))
        .select(
            F.datediff("last_day", "first_day").alias("dur"),
            (
                F.datediff("end_day", "last_day") > _KM_CENSOR_DAYS
            ).alias("churned"),
        )
    )
    grid = users.groupBy("dur").agg(
        F.sum(F.when(F.col("churned"), 1).otherwise(0)).alias("d"),
        F.count(F.lit(1)).alias("m"),
    )
    w = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, -1
    )
    tot = users.agg(F.count(F.lit(1)).alias("n_total"))
    risk = grid.crossJoin(F.broadcast(tot)).select(
        "dur",
        "d",
        "m",
        (
            F.col("n_total")
            - F.coalesce(F.sum("m").over(w), F.lit(0))
        ).alias("n_risk"),
    )
    wcum = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, 0
    )
    # d == n_risk (everyone remaining churns — only possible at the
    # final grid row) sends S(t) to exactly 0; keep ln() away from it
    term = F.when(
        F.col("d") < F.col("n_risk"),
        F.log(
            1.0 - F.col("d").cast("double") / F.col("n_risk").cast("double")
        ),
    ).otherwise(F.lit(0.0))
    surv = F.when(F.col("d") == F.col("n_risk"), F.lit(0.0)).otherwise(
        F.exp(F.sum(term).over(wcum))
    )
    return risk.select(
        "dur",
        F.col("n_risk").alias("n_at_risk"),
        F.col("d").alias("n_churned"),
        (F.col("m") - F.col("d")).alias("n_censored_here"),
        stable_round(surv, 6).alias("survival"),
    )


q_kaplan_meier.__doc__ = q_kaplan_meier.__doc__.format(c=_KM_CENSOR_DAYS)


SQL_KAPLAN_MEIER = f"""
WITH span AS (SELECT MAX(CAST(ts AS DATE)) AS end_day FROM events),
users AS (
  SELECT datediff('day', MIN(CAST(ts AS DATE)), MAX(CAST(ts AS DATE))) AS dur,
         datediff('day', MAX(CAST(ts AS DATE)),
                  (SELECT end_day FROM span)) > {_KM_CENSOR_DAYS} AS churned
  FROM events GROUP BY user_id
),
grid AS (
  SELECT dur,
         CAST(SUM(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT) AS d,
         CAST(COUNT(*) AS BIGINT) AS m
  FROM users GROUP BY dur
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM users),
risk AS (
  SELECT dur, d, m,
         n_total - CAST(COALESCE(SUM(m) OVER (
           ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) AS BIGINT) AS n_risk
  FROM grid, tot
)
SELECT dur, n_risk AS n_at_risk, d AS n_churned,
       m - d AS n_censored_here,
       {sql_stable_round(
           "CASE WHEN d = n_risk THEN 0.0 ELSE"
           " exp(SUM(CASE WHEN d < n_risk THEN"
           " ln(1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE))"
           " ELSE 0.0 END)"
           " OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING"
           " AND CURRENT ROW)) END", 6)} AS survival
FROM risk
"""


# --- item-item co-purchase cosine ------------------------------------------
_ITEM_MIN_SUPPORT = 2
_ITEM_TOP_K = 5


def q_item_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative-filtering similarity: cosine over the
    binary customer×part purchase matrix, cos(u,v) =
    n_uv/√(n_u·n_v) — the "customers who bought X also bought"
    primitive (Sarwar et al. 2001, public; the support-based sibling
    of copurchase_lift). The SELECTED set (min co-support {m}, top-{k}
    per part) is decided by integer support floors and a rank whose
    key is one exact division + √ of exact integers (identical
    doubles both engines) with a full tie-break.

    Scale: pair generation is a per-customer self-join over the
    distinct (customer, part) relation — bounded by basket width²
    per customer, never parts²; marginals join on part keys; the
    top-k rank is partitioned by part."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"), F.col("o_custkey").alias("ck")
    )
    cp = pin(
        li.join(orders, "ok")
        .select("ck", "pk")
        .distinct()
        # co-partitions the pin on the self-join key for the join below
        .repartition(spark.sparkContext.defaultParallelism, "ck")
    )
    marg = cp.groupBy("pk").agg(F.count(F.lit(1)).alias("n_u"))
    pairs = (
        cp.alias("a")
        .join(cp.alias("b"), "ck")
        .filter(F.col("a.pk") < F.col("b.pk"))
        .groupBy(F.col("a.pk").alias("p1"), F.col("b.pk").alias("p2"))
        .agg(F.count(F.lit(1)).alias("n_uv"))
        .filter(F.col("n_uv") >= _ITEM_MIN_SUPPORT)
    )
    sym = pairs.unionByName(
        pairs.select(
            F.col("p2").alias("p1"), F.col("p1").alias("p2"), "n_uv"
        )
    )
    scored = (
        sym.join(
            marg.select(F.col("pk").alias("p1"), F.col("n_u").alias("na")),
            "p1",
        )
        .join(
            marg.select(F.col("pk").alias("p2"), F.col("n_u").alias("nb")),
            "p2",
        )
        .withColumn(
            "cosine",
            F.col("n_uv").cast("double")
            / F.sqrt((F.col("na") * F.col("nb")).cast("double")),
        )
    )
    w = Window.partitionBy("p1").orderBy(F.desc("cosine"), "p2")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _ITEM_TOP_K)
        .select(
            "p1",
            "rank",
            "p2",
            "n_uv",
            stable_round(F.col("cosine"), 6).alias("cosine"),
        )
    )


q_item_item_cosine.__doc__ = q_item_item_cosine.__doc__.format(
    m=_ITEM_MIN_SUPPORT, k=_ITEM_TOP_K
)


SQL_ITEM_ITEM_COSINE = f"""
WITH cp AS (
  SELECT DISTINCT o.o_custkey AS ck, l.l_partkey AS pk
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
marg AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS n_u FROM cp GROUP BY pk),
pairs AS (
  SELECT a.pk AS p1, b.pk AS p2, CAST(COUNT(*) AS BIGINT) AS n_uv
  FROM cp a JOIN cp b ON a.ck = b.ck AND a.pk < b.pk
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_ITEM_MIN_SUPPORT}
),
sym AS (
  SELECT p1, p2, n_uv FROM pairs
  UNION ALL SELECT p2, p1, n_uv FROM pairs
),
scored AS (
  SELECT s.p1, s.p2, s.n_uv,
         CAST(s.n_uv AS DOUBLE)
         / sqrt(CAST(ma.n_u * mb.n_u AS DOUBLE)) AS cosine
  FROM sym s
  JOIN marg ma ON s.p1 = ma.pk
  JOIN marg mb ON s.p2 = mb.pk
),
ranked AS (
  SELECT p1, p2, n_uv, cosine,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY p1 ORDER BY cosine DESC, p2) AS INTEGER) AS rank
  FROM scored
)
SELECT p1, rank, p2, n_uv,
       {sql_stable_round("cosine", 6)} AS cosine
FROM ranked WHERE rank <= {_ITEM_TOP_K}
"""


# --- per-dimension information gain ----------------------------------------
_IG_THRESH = 500000  # 0.05 on the 1e-7 integer grid


def q_feature_info_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information gain of each embedding dimension for the label —
    the classic feature-relevance screen (Quinlan's ID3 criterion,
    public): IG(dim) = H(label) − Σ_b p_b·H(label | bucket b), with
    each dimension discretized into 4 fixed buckets on the 1e-7
    integer grid (< −t, < 0, < t, ≥ t; t = {t} quantum units —
    integer thresholds, no float compare). All probabilities are
    exact rationals of BIGINT counts; the entropy sums are
    |buckets|×|labels|-bounded per dimension and displayed at
    stable_round(4) (the user_event_entropy precedent). Every
    dimension is emitted (no selection → nothing to flip).

    Scale: one posexplode pass → (dim, bucket, label) counts (d·4·L
    rows — tiny); H(label) is a broadcast 1-row relation."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    pos = emb.select(
        "label",
        F.posexplode("embedding").alias("dim", "xf"),
    ).select(
        "label",
        "dim",
        F.expr(
            "cast(floor(cast(xf as double) * 10000000.0 + 0.5) as bigint)"
        ).alias("x"),
    )
    bucket = (
        F.when(F.col("x") < -_IG_THRESH, 0)
        .when(F.col("x") < 0, 1)
        .when(F.col("x") < _IG_THRESH, 2)
        .otherwise(3)
    )
    cell = pos.select("label", "dim", bucket.alias("b")).groupBy(
        "dim", "b", "label"
    ).agg(F.count(F.lit(1)).alias("c"))
    wb = Window.partitionBy("dim", "b")
    wd = Window.partitionBy("dim")
    pb = F.col("nb").cast("double") / F.col("nd").cast("double")
    pl = F.col("c").cast("double") / F.col("nb").cast("double")
    cond = (
        cell.withColumn("nb", F.sum("c").over(wb))
        .withColumn("nd", F.sum("c").over(wd))
        .groupBy("dim")
        .agg(F.sum(-(pb * pl * F.log2(pl))).alias("h_cond"))
    )
    lab = load_table(spark, sf_dir, "embeddings").groupBy("label").agg(
        F.count(F.lit(1)).alias("c")
    )
    pl0 = F.col("c").cast("double") / F.col("n").cast("double")
    h_label = (
        lab.withColumn("n", F.sum("c").over(Window.partitionBy(F.lit(1))))
        .agg(F.sum(-(pl0 * F.log2(pl0))).alias("h_label"))
    )
    return cond.crossJoin(F.broadcast(h_label)).select(
        "dim",
        stable_round(F.col("h_label"), 4).alias("h_label"),
        stable_round(F.col("h_cond"), 4).alias("h_cond"),
        stable_round(F.col("h_label") - F.col("h_cond"), 4).alias(
            "info_gain"
        ),
    )


q_feature_info_gain.__doc__ = q_feature_info_gain.__doc__.format(
    t=_IG_THRESH
)


SQL_FEATURE_INFO_GAIN = f"""
WITH pos AS (
  SELECT label, p - 1 AS dim,
         CAST(floor(CAST(embedding[p] AS DOUBLE) * 10000000.0 + 0.5)
              AS BIGINT) AS x
  FROM (
    SELECT label, unnest(generate_series(1, len(embedding))) AS p, embedding
    FROM embeddings
  )
),
cell AS (
  SELECT dim,
         CASE WHEN x < -{_IG_THRESH} THEN 0
              WHEN x < 0 THEN 1
              WHEN x < {_IG_THRESH} THEN 2
              ELSE 3 END AS b,
         label, CAST(COUNT(*) AS BIGINT) AS c
  FROM pos GROUP BY 1, 2, 3
),
wcell AS (
  SELECT dim, b, label, c,
         CAST(SUM(c) OVER (PARTITION BY dim, b) AS BIGINT) AS nb,
         CAST(SUM(c) OVER (PARTITION BY dim) AS BIGINT) AS nd
  FROM cell
),
cond AS (
  SELECT dim,
         SUM(-(CAST(nb AS DOUBLE) / nd) * (CAST(c AS DOUBLE) / nb)
             * log2(CAST(c AS DOUBLE) / nb)) AS h_cond
  FROM wcell GROUP BY dim
),
lab AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS c FROM embeddings GROUP BY 1),
hl AS (
  SELECT SUM(-(CAST(c AS DOUBLE) / n) * log2(CAST(c AS DOUBLE) / n))
           AS h_label
  FROM (SELECT c, CAST(SUM(c) OVER () AS BIGINT) AS n FROM lab)
)
SELECT dim,
       {sql_stable_round("h_label", 4)} AS h_label,
       {sql_stable_round("h_cond", 4)} AS h_cond,
       {sql_stable_round("h_label - h_cond", 4)} AS info_gain
FROM cond, hl
"""


# --- rendezvous-hash shard planning ----------------------------------------
_RDV_SHARDS = 8


def q_rendezvous_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) shard assignment and the
    elasticity proof (Thaler & Ravishankar 1998, public): assign
    every document to argmax_s md5(doc|s) over {n} shards AND over
    {n1} shards from the SAME hash family, then report per shard its
    population under both layouts and how many docs MOVED IN when the
    shard count grew — rendezvous moves only ≈ 1/{n1} of keys, all
    into the new shard, which is the property that makes it the
    resharding-friendly alternative to mod-N. The argmax is an
    integer (hash, shard) max with shard tie-break; everything is
    BIGINT counts.

    Scale: the shard grid is a broadcast {n1}-row relation; the
    fan-out is map-side; one (doc → argmax) aggregate shuffles doc
    keys once."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    shards = spark.range(_RDV_SHARDS + 1).select(F.col("id").alias("s"))
    h = F.expr(
        "cast(conv(substring(md5(concat('rdv|', cast(doc_id as string),"
        " '|', cast(s as string))), 1, 8), 16, 10) as bigint)"
    )
    # scalar argmax key: (hash, prefer-lower-shard) packed into one
    # BIGINT — h < 2^32 and s < 16, so h·16 + (15 − s) is collision-
    # ordered exactly like the (h, −s) tuple
    key = h * 16 + (15 - F.col("s"))
    fan = docs.crossJoin(F.broadcast(shards)).select(
        "doc_id", "s", key.alias("k")
    )
    assign = fan.groupBy("doc_id").agg(
        F.max_by(F.col("s"), F.col("k")).alias("s_grown"),
        F.max_by(
            F.when(F.col("s") < _RDV_SHARDS, F.col("s")),
            F.when(F.col("s") < _RDV_SHARDS, F.col("k")),
        ).alias("s_base"),
    )
    return (
        assign.groupBy(F.col("s_grown").alias("shard"))
        .agg(
            F.sum(
                F.when(F.col("s_base") == F.col("s_grown"), 1).otherwise(0)
            ).alias("n_stayed"),
            F.sum(
                F.when(F.col("s_base") != F.col("s_grown"), 1).otherwise(0)
            ).alias("n_moved_in"),
            F.count(F.lit(1)).alias("n_at_grown"),
        )
    )


q_rendezvous_sharding.__doc__ = q_rendezvous_sharding.__doc__.format(
    n=_RDV_SHARDS, n1=_RDV_SHARDS + 1
)


SQL_RENDEZVOUS_SHARDING = f"""
WITH fan AS (
  SELECT d.doc_id, sh.s,
         CAST(('0x' || substring(md5('rdv|' || CAST(d.doc_id AS VARCHAR)
               || '|' || CAST(sh.s AS VARCHAR)), 1, 8)) AS BIGINT)
           * 16 + (15 - sh.s) AS k
  FROM documents d, range({_RDV_SHARDS + 1}) AS sh(s)
),
assign AS (
  SELECT doc_id,
         arg_max(s, k) AS s_grown,
         arg_max(CASE WHEN s < {_RDV_SHARDS} THEN s END,
                 CASE WHEN s < {_RDV_SHARDS} THEN k END) AS s_base
  FROM fan GROUP BY doc_id
)
SELECT s_grown AS shard,
       CAST(SUM(CASE WHEN s_base = s_grown THEN 1 ELSE 0 END) AS BIGINT)
         AS n_stayed,
       CAST(SUM(CASE WHEN s_base <> s_grown THEN 1 ELSE 0 END) AS BIGINT)
         AS n_moved_in,
       CAST(COUNT(*) AS BIGINT) AS n_at_grown
FROM assign GROUP BY s_grown
"""


# --- mergeable equi-depth quantile summaries --------------------------------
_QM_PER_PART = 32
_QM_PROBES = [25, 50, 90, 99]  # percent


def q_quantile_merge_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile summaries with a MEASURED rank-error bound:
    build a {k}-point equi-depth summary per source partition (every
    ⌈n/{k}⌉-th order statistic, weighted), merge the summaries, read
    the {p} percentiles off the merged weighted ranks, and report
    each estimate's TRUE rank error against the exact quantile — the
    per-partition-sketch → merge pattern (GK/t-digest's job) done
    with exact arithmetic so the error is auditable, not assumed.
    Summary-point selection, weighted-rank cuts and the true-rank
    audit are all ROW_NUMBER/cumsum integer decisions with full
    tie-breaks.

    Scale: per-source windows rank within the partition; the merge
    ranks only sources×{k} summary points; the exact-rank audit runs
    on the value GRID (distinct values + counts), chunk-carryable at
    petabyte scale like every ordered scan here."""
    docs = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    wsrc = Window.partitionBy("source").orderBy("n_chars")
    per = docs.withColumn("r", F.row_number().over(wsrc))
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    stride = F.ceil(F.col("n") / F.lit(_QM_PER_PART)).cast("long")
    summary = (
        per.join(F.broadcast(counts), "source")
        .filter(
            (F.col("r") % stride == 0) | (F.col("r") == F.col("n"))
        )
        .select(
            "source",
            F.col("n_chars").alias("v"),
            F.least(stride, F.col("r")).alias("wt"),
        )
    )
    wm = Window.orderBy("v", "source")
    merged = summary.select(
        "v", "source", F.sum("wt").over(wm).alias("cum_wt")
    )
    tot = docs.agg(F.count(F.lit(1)).alias("n_total"))
    probes = spark.createDataFrame(
        [(p,) for p in _QM_PROBES], ["pct"]
    )
    qualifying = (
        merged.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(probes))
        .filter(F.col("cum_wt") * 100 >= F.col("pct") * F.col("n_total"))
    )
    # two-step argmin (min cum_wt, then min v at that cum_wt): the
    # summary point that FIRST reaches the probe rank, with a full
    # tie-break — no struct-ordered aggregate needed in either engine
    first_wt = qualifying.groupBy("pct").agg(
        F.min("cum_wt").alias("mc")
    )
    cuts = (
        qualifying.join(first_wt, "pct")
        .filter(F.col("cum_wt") == F.col("mc"))
        .groupBy("pct")
        .agg(F.min("v").alias("est"))
    )
    grid = docs.groupBy("n_chars").agg(F.count(F.lit(1)).alias("c"))
    wg = Window.orderBy("n_chars")
    cgrid = grid.select(
        "n_chars", F.sum("c").over(wg).alias("cum")
    )
    exact = (
        cgrid.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(probes))
        .filter(F.col("cum") * 100 >= F.col("pct") * F.col("n_total"))
        .groupBy("pct")
        .agg(F.min("n_chars").alias("exact"))
    )
    est_rank = cuts.join(
        cgrid.select(F.col("n_chars").alias("est"), F.col("cum").alias("est_rank")),
        "est",
    )
    return (
        est_rank.join(exact, "pct")
        .crossJoin(F.broadcast(tot))
        .select(
            "pct",
            "est",
            "exact",
            (
                F.abs(
                    F.col("est_rank") * 100 - F.col("pct") * F.col("n_total")
                )
            ).alias("rank_err_x100"),
            "n_total",
        )
    )


q_quantile_merge_eval.__doc__ = q_quantile_merge_eval.__doc__.format(
    k=_QM_PER_PART, p=len(_QM_PROBES)
)


def _sql_quantile_merge_eval() -> str:
    probes = ", ".join(str(p) for p in _QM_PROBES)
    return f"""
WITH d AS (SELECT source, n_chars FROM documents),
per AS (
  SELECT source, n_chars,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY source ORDER BY n_chars) AS BIGINT) AS r
  FROM d
),
counts AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY source
),
summary AS (
  SELECT p.source, p.n_chars AS v,
         LEAST(CAST(CEIL(CAST(c.n AS DOUBLE) / {_QM_PER_PART}) AS BIGINT),
               p.r) AS wt
  FROM per p JOIN counts c ON p.source = c.source
  WHERE p.r % CAST(CEIL(CAST(c.n AS DOUBLE) / {_QM_PER_PART}) AS BIGINT) = 0
     OR p.r = c.n
),
merged AS (
  SELECT v, source,
         CAST(SUM(wt) OVER (ORDER BY v, source) AS BIGINT) AS cum_wt
  FROM summary
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM d),
probes AS (SELECT CAST(UNNEST([{probes}]) AS BIGINT) AS pct),
qualifying AS (
  SELECT pct, v, cum_wt
  FROM merged, tot, probes
  WHERE cum_wt * 100 >= pct * n_total
),
first_wt AS (
  SELECT pct, MIN(cum_wt) AS mc FROM qualifying GROUP BY pct
),
cuts AS (
  SELECT q.pct, MIN(q.v) AS est
  FROM qualifying q JOIN first_wt f
    ON q.pct = f.pct AND q.cum_wt = f.mc
  GROUP BY q.pct
),
grid AS (
  SELECT n_chars, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY n_chars
),
cgrid AS (
  SELECT n_chars, CAST(SUM(c) OVER (ORDER BY n_chars) AS BIGINT) AS cum
  FROM grid
),
exact AS (
  SELECT pct, MIN(n_chars) AS "exact"
  FROM cgrid, tot, probes
  WHERE cum * 100 >= pct * n_total
  GROUP BY pct
)
SELECT c.pct, c.est, e."exact",
       ABS(g.cum * 100 - c.pct * t.n_total) AS rank_err_x100,
       t.n_total
FROM cuts c
JOIN cgrid g ON g.n_chars = c.est
JOIN exact e ON e.pct = c.pct
CROSS JOIN tot t
"""


# --- seasonal-naive forecast backtest ---------------------------------------
_SN_LAG_DAYS = 7
_SN_EVAL_DAYS = 7


def q_seasonal_naive_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each of the last
    {e} days' hourly event counts as "same hour, {l} days earlier"
    and report per-type MAE / sMAPE — the baseline every forecasting
    deployment must beat, measured on this corpus's own tail. Hourly
    counts are integers, so every |error| is a BIGINT and MAE is one
    exact division; sMAPE's per-hour term is one exact division too,
    averaged at stable_round(4).

    Scale: two aligned scans of the hour-grid aggregate joined on
    (type, hour − {l}d); the evaluation relation is hours-bounded."""
    ev = load_table(spark, sf_dir, "events")
    hourly = pin(
        ev.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("hour")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    end = ev.agg(
        F.date_trunc("hour", F.max("ts")).alias("end_hour")
    )
    target = (
        hourly.crossJoin(F.broadcast(end))
        .filter(
            F.col("hour")
            >= F.col("end_hour") - F.expr(f"interval {_SN_EVAL_DAYS} days")
        )
        .select("event_type", "hour", "cnt")
    )
    pred = hourly.select(
        "event_type",
        (F.col("hour") + F.expr(f"interval {_SN_LAG_DAYS} days")).alias(
            "hour"
        ),
        F.col("cnt").alias("pred"),
    )
    joined = target.join(pred, ["event_type", "hour"], "left_outer").select(
        "event_type",
        "hour",
        "cnt",
        F.coalesce("pred", F.lit(0)).alias("pred"),
    )
    ae = F.abs(F.col("cnt") - F.col("pred"))
    smape_term = F.when(
        F.col("cnt") + F.col("pred") > 0,
        2.0 * ae.cast("double") / (F.col("cnt") + F.col("pred")).cast("double"),
    ).otherwise(0.0)
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum(ae).alias("abs_err_total"),
        stable_round(
            F.sum(ae).cast("double") / F.count(F.lit(1)).cast("double"), 4
        ).alias("mae"),
        stable_round(F.avg(smape_term), 4).alias("smape"),
    )


q_seasonal_naive_eval.__doc__ = q_seasonal_naive_eval.__doc__.format(
    e=_SN_EVAL_DAYS, l=_SN_LAG_DAYS
)


SQL_SEASONAL_NAIVE_EVAL = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
span AS (SELECT date_trunc('hour', MAX(ts)) AS end_hour FROM events),
target AS (
  SELECT h.event_type, h.hour, h.cnt
  FROM hourly h, span s
  WHERE h.hour >= s.end_hour - INTERVAL {_SN_EVAL_DAYS} DAY
),
pred AS (
  SELECT event_type, hour + INTERVAL {_SN_LAG_DAYS} DAY AS hour,
         cnt AS pred
  FROM hourly
),
joined AS (
  SELECT t.event_type, t.hour, t.cnt, COALESCE(p.pred, 0) AS pred
  FROM target t
  LEFT JOIN pred p ON t.event_type = p.event_type AND t.hour = p.hour
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_hours,
       CAST(SUM(ABS(cnt - pred)) AS BIGINT) AS abs_err_total,
       {sql_stable_round(
           "CAST(SUM(ABS(cnt - pred)) AS DOUBLE) / COUNT(*)", 4)} AS mae,
       {sql_stable_round(
           "AVG(CASE WHEN cnt + pred > 0 THEN"
           " 2.0 * CAST(ABS(cnt - pred) AS DOUBLE)"
           " / CAST(cnt + pred AS DOUBLE) ELSE 0.0 END)", 4)} AS smape
FROM joined GROUP BY event_type
"""


def specs():
    from lab04_spark_streaming_spark.registry import QuerySpec

    return [
        QuerySpec("volume_anomaly", q_volume_anomaly, SQL_VOLUME_ANOMALY),
        QuerySpec("kaplan_meier", q_kaplan_meier, SQL_KAPLAN_MEIER),
        QuerySpec(
            "item_item_cosine", q_item_item_cosine, SQL_ITEM_ITEM_COSINE
        ),
        QuerySpec(
            "feature_info_gain", q_feature_info_gain, SQL_FEATURE_INFO_GAIN
        ),
        QuerySpec(
            "rendezvous_sharding",
            q_rendezvous_sharding,
            SQL_RENDEZVOUS_SHARDING,
        ),
        QuerySpec(
            "quantile_merge_eval",
            q_quantile_merge_eval,
            _sql_quantile_merge_eval(),
        ),
        QuerySpec(
            "seasonal_naive_eval",
            q_seasonal_naive_eval,
            SQL_SEASONAL_NAIVE_EVAL,
        ),
    ]
