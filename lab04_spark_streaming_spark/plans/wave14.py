"""Round-14 wave (built in driver round 9): distribution/causal/IR
completions around existing families — a Lorenz concentration curve
(beside Gini, and the first consumer of operators/ranks.global_ntile),
a t-closeness release audit (beside k-anonymity/l-diversity),
difference-in-differences and IPW ATEs (beside stratified_ate/CUPED),
delete-one-bucket jackknife errors (beside the Poisson bootstrap),
theta-sketch-style KMV set operations (beside kmv_distinct_sketch),
MRR and Dirichlet query-likelihood ranking (beside BM25 + NDCG/MAP),
calibration ECE (beside the quality classifier), and an RFF-MMD
two-sample statistic over the embeddings (beside KS/MWU).

House determinism rules throughout: counts/ranks are BIGINT, money
sums ride per-row decimal casts, embedding components live on the
1e-7 integer grid (operators/similarity's quantization), tiny
double reductions ride per-term decimal casts, transcendentals only
inside display-rounded or decimal-cast terms.
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


# --- Lorenz concentration curve ---------------------------------------------
_LORENZ_BUCKETS = 10


def q_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of user spend concentration (Lorenz 1905, public)
    — the curve the Gini query (wave9) integrates: users are ranked
    by their exact decimal spend and cut into {n} equal-population
    buckets, and each bucket reports its population share and the
    CUMULATIVE share of total spend up to it ("the bottom 30% of
    users hold 4% of spend"). The bucket cut is
    operators/ranks.global_ntile — the distributed exact ntile this
    query exists to exercise at the query layer; spend is an exact
    DECIMAL sum end to end, and the cumulative share is the only
    double (one division, display-rounded).

    Scale: per-user spend shuffles on user_id; the ntile is the
    range-partitioned two-pass rank; the cumulative window runs over
    the {n}-row bucket relation only."""
    users = load_table(spark, sf_dir, "events").groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(30,6)")).alias("s")
    )
    bucketed = global_ntile(
        users, _LORENZ_BUCKETS, "s", "user_id", bucket_col="decile"
    )
    per = bucketed.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("s").alias("ds"),
    )
    tot = per.agg(F.sum("ds").alias("total"))
    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        per.withColumn("cum", F.sum("ds").over(wcum))
        .crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_users",
            stable_round(F.col("ds").cast("double"), 4).alias(
                "bucket_value"
            ),
            stable_round(
                F.when(
                    F.col("total") != 0,
                    F.col("cum").cast("double")
                    / F.col("total").cast("double"),
                ),
                6,
            ).alias("cum_share"),
        )
    )


q_lorenz_curve.__doc__ = q_lorenz_curve.__doc__.format(n=_LORENZ_BUCKETS)


SQL_LORENZ_CURVE = f"""
WITH u AS (
  SELECT user_id, SUM(CAST(value AS DECIMAL(30,6))) AS s
  FROM events GROUP BY user_id
),
b AS (
  SELECT s, ntile({_LORENZ_BUCKETS}) OVER (ORDER BY s, user_id) AS decile
  FROM u
),
per AS (
  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_users, SUM(s) AS ds
  FROM b GROUP BY decile
),
tot AS (SELECT SUM(ds) AS total FROM per)
SELECT CAST(decile AS INTEGER) AS decile, n_users,
       {sql_stable_round("CAST(ds AS DOUBLE)", 4)} AS bucket_value,
       {sql_stable_round(
           "CASE WHEN t.total <> 0 THEN"
           " CAST(SUM(ds) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED"
           " PRECEDING AND CURRENT ROW) AS DOUBLE)"
           " / CAST(t.total AS DOUBLE) END", 6)} AS cum_share
FROM per CROSS JOIN tot t
"""


# --- t-closeness release audit ----------------------------------------------
_TCLOSE_BIN_CENTS = 5_000  # 50.00-wide value bins
_TCLOSE_BINS = 10
_TCLOSE_T = 0.2


def q_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness release audit (Li, Li & Venkatasubramanian 2007,
    public) — the step beyond k-anonymity (group size, wave8) and
    l-diversity (distinct sensitive values, wave9): an event_type
    release cell leaks when the DISTRIBUTION of its sensitive numeric
    attribute strays from the global one, so each cell reports the
    Earth Mover's Distance between its value-bin histogram and the
    corpus histogram over the ordered bins (EMD over an ordered
    1-D histogram = mean absolute difference of the two CDFs).
    Values land in exact integer-cent bins (floor(value·100+0.5)
    div {w}, capped at {b}); bin probabilities are exact-count
    ratios; the CDF runs over the fixed {b}+1-bin grid per cell and
    the final EMD sum rides per-term decimal casts. at_risk flags
    EMD > t = {t}.

    Scale: two grouped counts (cell×bin, bin) + a broadcast
    |cells|×{b}-row grid; every window is over the fixed bin grid."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.least(
            (
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
                / F.lit(_TCLOSE_BIN_CENTS)
            ).cast("bigint"),
            F.lit(_TCLOSE_BINS - 1),
        ).alias("bin"),
    )
    cell = ev.groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).alias("c")
    )
    glob = ev.groupBy("bin").agg(F.count(F.lit(1)).alias("g"))
    n_tot = ev.agg(F.count(F.lit(1)).alias("n"))
    cell_tot = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_cell")
    )
    # complete (cell, bin) grid so zero bins contribute to the CDFs
    grid = (
        cell_tot.select("event_type")
        .crossJoin(
            F.broadcast(
                spark.range(_TCLOSE_BINS).select(F.col("id").alias("bin"))
            )
        )
        .join(cell, ["event_type", "bin"], "left_outer")
        .join(F.broadcast(glob), "bin", "left_outer")
        .join(F.broadcast(cell_tot), "event_type")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "event_type",
            "bin",
            (
                F.coalesce("c", F.lit(0)).cast("double")
                / F.col("n_cell").cast("double")
            ).alias("q"),
            (
                F.coalesce("g", F.lit(0)).cast("double")
                / F.col("n").cast("double")
            ).alias("p"),
            "n_cell",
        )
    )
    wcdf = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    emd_term = (
        F.abs(F.sum("q").over(wcdf) - F.sum("p").over(wcdf))
        / F.lit(float(_TCLOSE_BINS - 1))
    ).cast("decimal(20,12)")
    return (
        grid.withColumn("_d", emd_term)
        .groupBy("event_type")
        .agg(
            F.max("n_cell").alias("n_cell"),
            F.sum("_d").cast("double").alias("_emd"),
        )
        .select(
            "event_type",
            "n_cell",
            stable_round(F.col("_emd"), 6).alias("emd"),
            (F.col("_emd") > _TCLOSE_T).alias("at_risk"),
        )
    )


q_t_closeness_audit.__doc__ = q_t_closeness_audit.__doc__.format(
    w=_TCLOSE_BIN_CENTS, b=_TCLOSE_BINS - 1, t=_TCLOSE_T
)


SQL_T_CLOSENESS_AUDIT = f"""
WITH ev AS (
  SELECT event_type,
         LEAST(CAST(floor(value * 100 + 0.5) AS BIGINT)
                 // {_TCLOSE_BIN_CENTS},
               {_TCLOSE_BINS - 1}) AS bin
  FROM events
),
cell AS (
  SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS c
  FROM ev GROUP BY event_type, bin
),
gbin AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS g FROM ev GROUP BY bin),
ntot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ev),
ctot AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_cell
  FROM ev GROUP BY event_type
),
grid AS (
  SELECT ct.event_type, b.bin,
         CAST(COALESCE(cell.c, 0) AS DOUBLE) / ct.n_cell AS q,
         CAST(COALESCE(gbin.g, 0) AS DOUBLE) / ntot.n AS p,
         ct.n_cell
  FROM ctot ct
  CROSS JOIN (SELECT UNNEST(generate_series(0, {_TCLOSE_BINS - 1})) AS bin) b
  LEFT JOIN cell ON cell.event_type = ct.event_type AND cell.bin = b.bin
  LEFT JOIN gbin ON gbin.bin = b.bin
  CROSS JOIN ntot
),
terms AS (
  SELECT event_type, n_cell,
         CAST(abs(
           SUM(q) OVER (PARTITION BY event_type ORDER BY bin
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - SUM(p) OVER (PARTITION BY event_type ORDER BY bin
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         ) / {float(_TCLOSE_BINS - 1)} AS DECIMAL(20,12)) AS d
  FROM grid
)
SELECT event_type, MAX(n_cell) AS n_cell,
       {sql_stable_round("CAST(SUM(d) AS DOUBLE)", 6)} AS emd,
       CAST(SUM(d) AS DOUBLE) > {_TCLOSE_T} AS at_risk
FROM terms GROUP BY event_type
"""


# --- difference-in-differences ----------------------------------------------
_DID_CUTOFF = "2024-01-16 00:00:00"


def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences treatment effect (Card & Krueger
    1994 / canonical two-period two-group DiD, public): arm =
    user_id % 2, period = before/after the mid-month cutoff, outcome
    = mean event value per cell. DiD = (ȳ_T,post − ȳ_T,pre) −
    (ȳ_C,post − ȳ_C,pre) — removes time-invariant arm differences
    AND the common time trend that a naive post-period
    difference-of-means inherits. One pass: each of the four cell
    means is an exact decimal sum / BIGINT count; the four divisions
    and three subtractions are the only doubles (display-rounded).

    Scale: a single aggregate over the fact — no joins, no windows,
    one shuffle-free partial-agg reduction to one row."""
    post = (F.col("ts") >= F.lit(_DID_CUTOFF)).cast("int")
    arm = (F.col("user_id") % 2).cast("int")
    dec = F.col("value").cast("decimal(30,6)")

    def cell(a: int, p: int, what: str):
        cond = (arm == a) & (post == p)
        if what == "s":
            return F.sum(F.when(cond, dec))
        return F.count(F.when(cond, F.lit(1)))

    agg = load_table(spark, sf_dir, "events").agg(
        cell(1, 0, "s").alias("s_t_pre"),
        cell(1, 0, "n").alias("n_t_pre"),
        cell(1, 1, "s").alias("s_t_post"),
        cell(1, 1, "n").alias("n_t_post"),
        cell(0, 0, "s").alias("s_c_pre"),
        cell(0, 0, "n").alias("n_c_pre"),
        cell(0, 1, "s").alias("s_c_post"),
        cell(0, 1, "n").alias("n_c_post"),
    )

    def mean(s: str, n: str):
        return F.when(
            F.col(n) > 0, F.col(s).cast("double") / F.col(n).cast("double")
        )

    did = (mean("s_t_post", "n_t_post") - mean("s_t_pre", "n_t_pre")) - (
        mean("s_c_post", "n_c_post") - mean("s_c_pre", "n_c_pre")
    )
    return agg.select(
        F.col("n_t_pre"),
        F.col("n_t_post"),
        F.col("n_c_pre"),
        F.col("n_c_post"),
        stable_round(mean("s_t_pre", "n_t_pre"), 6).alias("y_t_pre"),
        stable_round(mean("s_t_post", "n_t_post"), 6).alias("y_t_post"),
        stable_round(mean("s_c_pre", "n_c_pre"), 6).alias("y_c_pre"),
        stable_round(mean("s_c_post", "n_c_post"), 6).alias("y_c_post"),
        stable_round(did, 6).alias("did"),
    )


SQL_DIFF_IN_DIFF = f"""
WITH agg AS (
  SELECT
    SUM(CASE WHEN user_id % 2 = 1 AND ts <  '{_DID_CUTOFF}'
        THEN CAST(value AS DECIMAL(30,6)) END) AS s_t_pre,
    CAST(COUNT(CASE WHEN user_id % 2 = 1 AND ts <  '{_DID_CUTOFF}'
        THEN 1 END) AS BIGINT) AS n_t_pre,
    SUM(CASE WHEN user_id % 2 = 1 AND ts >= '{_DID_CUTOFF}'
        THEN CAST(value AS DECIMAL(30,6)) END) AS s_t_post,
    CAST(COUNT(CASE WHEN user_id % 2 = 1 AND ts >= '{_DID_CUTOFF}'
        THEN 1 END) AS BIGINT) AS n_t_post,
    SUM(CASE WHEN user_id % 2 = 0 AND ts <  '{_DID_CUTOFF}'
        THEN CAST(value AS DECIMAL(30,6)) END) AS s_c_pre,
    CAST(COUNT(CASE WHEN user_id % 2 = 0 AND ts <  '{_DID_CUTOFF}'
        THEN 1 END) AS BIGINT) AS n_c_pre,
    SUM(CASE WHEN user_id % 2 = 0 AND ts >= '{_DID_CUTOFF}'
        THEN CAST(value AS DECIMAL(30,6)) END) AS s_c_post,
    CAST(COUNT(CASE WHEN user_id % 2 = 0 AND ts >= '{_DID_CUTOFF}'
        THEN 1 END) AS BIGINT) AS n_c_post
  FROM events
)
SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
       {sql_stable_round(
           "CASE WHEN n_t_pre > 0 THEN CAST(s_t_pre AS DOUBLE) / n_t_pre END", 6)} AS y_t_pre,
       {sql_stable_round(
           "CASE WHEN n_t_post > 0 THEN CAST(s_t_post AS DOUBLE) / n_t_post END", 6)} AS y_t_post,
       {sql_stable_round(
           "CASE WHEN n_c_pre > 0 THEN CAST(s_c_pre AS DOUBLE) / n_c_pre END", 6)} AS y_c_pre,
       {sql_stable_round(
           "CASE WHEN n_c_post > 0 THEN CAST(s_c_post AS DOUBLE) / n_c_post END", 6)} AS y_c_post,
       {sql_stable_round(
           "(CASE WHEN n_t_post > 0 THEN CAST(s_t_post AS DOUBLE)"
           " / n_t_post END"
           " - CASE WHEN n_t_pre > 0 THEN CAST(s_t_pre AS DOUBLE)"
           " / n_t_pre END)"
           " - (CASE WHEN n_c_post > 0 THEN CAST(s_c_post AS DOUBLE)"
           " / n_c_post END"
           " - CASE WHEN n_c_pre > 0 THEN CAST(s_c_pre AS DOUBLE)"
           " / n_c_pre END)", 6)} AS did
FROM agg
"""


# --- delete-one-bucket jackknife for a ratio metric ---------------------------
_JK_BUCKETS = 10


def q_jackknife_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-bucket jackknife standard error for a RATIO metric
    (Quenouille 1956 / Tukey 1958; the bucketed form is the standard
    large-scale variant, public): the metric is revenue-per-view
    (Σ purchase value / # view events) — a ratio of sums whose
    variance has no closed per-row form, which is exactly what the
    jackknife is for. Users land in {g} deterministic buckets
    (user_id % {g}); each leave-one-bucket-out replicate
    R_(i) = (S−s_i)/(N−n_i) is one exact-decimal-derived division;
    the jackknife variance is (G−1)/G · Σ(R_(i)−R̄)² with both tiny
    reductions riding per-term decimal casts; replicates whose
    leave-out denominator is zero (every view in the left-out bucket)
    are undefined and excluded, with G the count of defined
    replicates. One summary row.

    Scale: one grouped aggregate to {g} bucket rows; everything
    after is arithmetic over the broadcast {g}-row relation."""
    ev = load_table(spark, sf_dir, "events")
    buckets = ev.groupBy((F.col("user_id") % _JK_BUCKETS).alias("b")).agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.col("value").cast("decimal(30,6)"),
            )
        ).alias("sv"),
        F.count(F.when(F.col("event_type") == "view", F.lit(1))).alias(
            "nv"
        ),
    )
    tot = buckets.agg(
        F.sum("sv").alias("s"),
        F.sum("nv").alias("n"),
        F.count(F.lit(1)).alias("g"),
    )
    loo = (
        buckets.crossJoin(F.broadcast(tot))
        .filter(F.col("n") - F.col("nv") > 0)
        .select(
            "b",
            "s",
            "n",
            (
                (F.col("s") - F.col("sv")).cast("double")
                / (F.col("n") - F.col("nv")).cast("double")
            ).alias("r_loo"),
        )
    )
    mean_loo = loo.agg(
        F.when(
            F.count(F.lit(1)) > 0,
            F.sum(F.col("r_loo").cast("decimal(30,12)")).cast("double")
            / F.count(F.lit(1)).cast("double"),
        ).alias("rbar"),
        F.count(F.lit(1)).alias("g"),
        F.max("s").alias("s"),
        F.max("n").alias("n"),
    )
    dev = loo.crossJoin(F.broadcast(mean_loo.select("rbar"))).agg(
        F.sum(
            (
                (F.col("r_loo") - F.col("rbar"))
                * (F.col("r_loo") - F.col("rbar"))
            ).cast("decimal(30,18)")
        )
        .cast("double")
        .alias("ssq")
    )
    return mean_loo.crossJoin(dev).select(
        F.col("g").alias("n_buckets"),
        stable_round(
            F.when(
                F.col("n") > 0,
                F.col("s").cast("double") / F.col("n").cast("double"),
            ),
            6,
        ).alias("ratio"),
        stable_round(
            F.when(
                F.col("g") > 0,
                F.sqrt(
                    (F.col("g") - 1).cast("double")
                    / F.col("g").cast("double")
                    * F.col("ssq")
                ),
            ),
            6,
        ).alias("jk_se"),
    )


q_jackknife_ratio.__doc__ = q_jackknife_ratio.__doc__.format(g=_JK_BUCKETS)


SQL_JACKKNIFE_RATIO = f"""
WITH buckets AS (
  SELECT user_id % {_JK_BUCKETS} AS b,
         SUM(CASE WHEN event_type = 'purchase'
             THEN CAST(value AS DECIMAL(30,6)) END) AS sv,
         CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT)
           AS nv
  FROM events GROUP BY 1
),
tot AS (
  SELECT SUM(sv) AS s, CAST(SUM(nv) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS g
  FROM buckets
),
loo AS (
  SELECT b, t.s, t.n,
         CAST(t.s - sv AS DOUBLE) / CAST(t.n - nv AS DOUBLE) AS r_loo
  FROM buckets CROSS JOIN tot t
  WHERE t.n - nv > 0
),
m AS (
  SELECT CASE WHEN COUNT(*) > 0 THEN
           CAST(SUM(CAST(r_loo AS DECIMAL(30,12))) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) END AS rbar,
         CAST(COUNT(*) AS BIGINT) AS g, MAX(s) AS s, MAX(n) AS n
  FROM loo
),
dev AS (
  -- global aggregate (no GROUP BY): must emit exactly one row even
  -- when loo is empty, to mirror Spark's global agg (fuzz-caught)
  SELECT CAST(SUM(CAST((r_loo - m.rbar) * (r_loo - m.rbar)
                       AS DECIMAL(30,18))) AS DOUBLE) AS ssq
  FROM loo CROSS JOIN m
)
SELECT m.g AS n_buckets,
       {sql_stable_round(
           "CASE WHEN m.n > 0 THEN"
           " CAST(m.s AS DOUBLE) / CAST(m.n AS DOUBLE) END", 6)}
         AS ratio,
       {sql_stable_round(
           "CASE WHEN m.g > 0 THEN"
           " sqrt(CAST(m.g - 1 AS DOUBLE) / CAST(m.g AS DOUBLE)"
           " * dev.ssq) END", 6)} AS jk_se
FROM m CROSS JOIN dev
"""


# --- theta-sketch-style KMV set operations -----------------------------------
_KSO_K = 256


def q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set operations over two user sets (the KMV/theta
    estimator family: Beyer et al. 2007, Dasgupta et al. 2016,
    public) — the query the per-scope KMV sketch (wave9) exists to
    enable: estimate |A∪B| and |A∩B| for A = users who viewed and
    B = users who purchased WITHOUT re-scanning the raw sets, from
    one bottom-k sketch of the union carrying per-member set flags.
    With the union's k-th smallest 32-bit hash h_k: |A∪B| ≈
    (k−1)·2³²/h_k and |A∩B| ≈ |{{sketch members in both}}|·2³²/h_k;
    below k distinct members the sketch is exact and the estimates
    ARE the counts. Hashes are the house md5-prefix integers —
    deterministic, identical in both engines; the exact counts ride
    along and the relative errors are displays.

    Scale: one grouped pass builds per-user flags; the sketch is a
    TakeOrdered bottom-k (per-partition heaps); everything after is
    arithmetic over ≤ k rows."""
    users = pin(
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "view", 1).otherwise(0)
            ).alias("in_a"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("in_b"),
        )
        .filter((F.col("in_a") == 1) | (F.col("in_b") == 1))
        .withColumn(
            "h",
            F.expr(
                "cast(conv(substring(md5(cast(user_id as string)), 1, 8),"
                " 16, 10) as bigint)"
            ),
        )
    )
    exact = users.agg(
        F.sum("in_a").alias("n_a_exact"),
        F.sum("in_b").alias("n_b_exact"),
        F.count(F.lit(1)).alias("n_union_exact"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("n_int_exact"),
    )
    sk = users.orderBy("h", "user_id").limit(_KSO_K)
    stats = sk.agg(
        F.count(F.lit(1)).alias("n_sk"),
        F.max("h").alias("kth"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("n_both_sk"),
    )
    sat = F.col("n_sk") >= _KSO_K
    est_union = F.when(
        sat,
        F.lit(float(_KSO_K - 1)) * F.lit(4294967296.0)
        / F.col("kth").cast("double"),
    ).otherwise(F.col("n_union_exact").cast("double"))
    est_int = F.when(
        sat,
        F.col("n_both_sk").cast("double") * F.lit(4294967296.0)
        / F.col("kth").cast("double"),
    ).otherwise(F.col("n_int_exact").cast("double"))
    return (
        stats.crossJoin(F.broadcast(exact))
        .select(
            "n_a_exact",
            "n_b_exact",
            "n_union_exact",
            "n_int_exact",
            stable_round(est_union, 2).alias("est_union"),
            stable_round(est_int, 2).alias("est_intersection"),
            stable_round(
                F.abs(est_union - F.col("n_union_exact").cast("double"))
                / F.greatest(
                    F.col("n_union_exact").cast("double"), F.lit(1.0)
                ),
                4,
            ).alias("rel_err_union"),
            stable_round(
                F.abs(est_int - F.col("n_int_exact").cast("double"))
                / F.greatest(
                    F.col("n_int_exact").cast("double"), F.lit(1.0)
                ),
                4,
            ).alias("rel_err_intersection"),
        )
    )


SQL_KMV_SET_OPS = f"""
WITH users AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS in_a,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS in_b,
         CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))
              AS BIGINT) AS h
  FROM events GROUP BY user_id
  HAVING MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) = 1
      OR MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1
),
exact AS (
  SELECT CAST(SUM(in_a) AS BIGINT) AS n_a_exact,
         CAST(SUM(in_b) AS BIGINT) AS n_b_exact,
         CAST(COUNT(*) AS BIGINT) AS n_union_exact,
         CAST(SUM(in_a * in_b) AS BIGINT) AS n_int_exact
  FROM users
),
sk AS (SELECT * FROM users ORDER BY h, user_id LIMIT {_KSO_K}),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_sk, MAX(h) AS kth,
         CAST(SUM(in_a * in_b) AS BIGINT) AS n_both_sk
  FROM sk
),
est AS (
  SELECT e.*,
         CASE WHEN s.n_sk >= {_KSO_K}
              THEN {float(_KSO_K - 1)} * 4294967296.0
                   / CAST(s.kth AS DOUBLE)
              ELSE CAST(e.n_union_exact AS DOUBLE) END AS eu,
         CASE WHEN s.n_sk >= {_KSO_K}
              THEN CAST(s.n_both_sk AS DOUBLE) * 4294967296.0
                   / CAST(s.kth AS DOUBLE)
              ELSE CAST(e.n_int_exact AS DOUBLE) END AS ei
  FROM stats s CROSS JOIN exact e
)
SELECT n_a_exact, n_b_exact, n_union_exact, n_int_exact,
       {sql_stable_round("eu", 2)} AS est_union,
       {sql_stable_round("ei", 2)} AS est_intersection,
       {sql_stable_round(
           "abs(eu - CAST(n_union_exact AS DOUBLE))"
           " / greatest(CAST(n_union_exact AS DOUBLE), 1.0)", 4)}
         AS rel_err_union,
       {sql_stable_round(
           "abs(ei - CAST(n_int_exact AS DOUBLE))"
           " / greatest(CAST(n_int_exact AS DOUBLE), 1.0)", 4)}
         AS rel_err_intersection
FROM est
"""


# --- inverse-propensity-weighted ATE ------------------------------------------
_IPW_BUCKETS = 10


def q_ipw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-propensity-weighted (Horvitz–Thompson) average
    treatment effect (Horvitz & Thompson 1952; Rosenbaum & Rubin
    1983, public) — the weighting companion to the post-stratified
    estimator (wave12): users are bucketed into activity deciles
    (operators/ranks.global_ntile over exact event counts), the
    propensity e_b = treated-share of each bucket is an exact-count
    ratio, and the estimator averages T·y/e_b − (1−T)·y/(1−e_b) per
    user (y = exact-decimal mean event value). Degenerate buckets
    (e_b ∈ {{0, 1}}) are excluded and counted. The per-user terms
    ride per-term decimal casts so the big reduction is
    summation-order-free; the naive difference-of-means rides along
    for contrast.

    Scale: one per-user aggregate, the distributed two-pass ntile,
    one 10-row broadcast of bucket propensities, one reduction."""
    users = load_table(spark, sf_dir, "events").groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(30,6)")).alias("sv"),
    )
    bucketed = global_ntile(
        users, _IPW_BUCKETS, "n_events", "user_id", bucket_col="b"
    ).select(
        "user_id",
        "b",
        (F.col("user_id") % 2).alias("t"),
        (F.col("sv").cast("double") / F.col("n_events").cast("double"))
        .alias("y"),
    )
    prop = bucketed.groupBy("b").agg(
        F.count(F.lit(1)).alias("n_b"),
        F.sum("t").alias("n_t"),
    ).select(
        "b",
        (F.col("n_t").cast("double") / F.col("n_b").cast("double"))
        .alias("e"),
        ((F.col("n_t") > 0) & (F.col("n_t") < F.col("n_b"))).alias("ok"),
    )
    terms = bucketed.join(F.broadcast(prop), "b").filter(F.col("ok"))
    ipw = terms.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(
            F.when(
                F.col("t") == 1, F.col("y") / F.col("e")
            ).otherwise(-F.col("y") / (F.lit(1.0) - F.col("e")))
            .cast("decimal(30,12)")
        ).alias("s_ipw"),
        F.sum(
            F.when(F.col("t") == 1, F.col("y").cast("decimal(30,12)"))
        ).alias("sy_t"),
        F.count(F.when(F.col("t") == 1, F.lit(1))).alias("nt"),
        F.sum(
            F.when(F.col("t") == 0, F.col("y").cast("decimal(30,12)"))
        ).alias("sy_c"),
        F.count(F.when(F.col("t") == 0, F.lit(1))).alias("nc"),
    )
    n_excl = prop.agg(
        F.count(F.when(~F.col("ok"), F.lit(1))).alias("n_excluded_buckets")
    )
    return ipw.crossJoin(F.broadcast(n_excl)).select(
        "n_users",
        "n_excluded_buckets",
        stable_round(
            F.when(
                F.col("n_users") > 0,
                F.col("s_ipw").cast("double")
                / F.col("n_users").cast("double"),
            ),
            6,
        ).alias("ate_ipw"),
        stable_round(
            F.when(
                (F.col("nt") > 0) & (F.col("nc") > 0),
                F.col("sy_t").cast("double") / F.col("nt").cast("double")
                - F.col("sy_c").cast("double") / F.col("nc").cast("double"),
            ),
            6,
        ).alias("ate_naive"),
    )


SQL_IPW_ATE = f"""
WITH u AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
         SUM(CAST(value AS DECIMAL(30,6))) AS sv
  FROM events GROUP BY user_id
),
bk AS (
  SELECT user_id, user_id % 2 AS t,
         CAST(sv AS DOUBLE) / CAST(n_events AS DOUBLE) AS y,
         ntile({_IPW_BUCKETS}) OVER (ORDER BY n_events, user_id) AS b
  FROM u
),
prop AS (
  SELECT b, CAST(SUM(t) AS DOUBLE) / COUNT(*) AS e,
         SUM(t) > 0 AND SUM(t) < COUNT(*) AS ok
  FROM bk GROUP BY b
),
terms AS (SELECT bk.*, p.e FROM bk JOIN prop p ON bk.b = p.b WHERE p.ok),
ipw AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
         SUM(CAST(CASE WHEN t = 1 THEN y / e
                  ELSE -y / (1.0 - e) END AS DECIMAL(30,12))) AS s_ipw,
         SUM(CASE WHEN t = 1 THEN CAST(y AS DECIMAL(30,12)) END) AS sy_t,
         CAST(COUNT(CASE WHEN t = 1 THEN 1 END) AS BIGINT) AS nt,
         SUM(CASE WHEN t = 0 THEN CAST(y AS DECIMAL(30,12)) END) AS sy_c,
         CAST(COUNT(CASE WHEN t = 0 THEN 1 END) AS BIGINT) AS nc
  FROM terms
),
ex AS (
  SELECT CAST(COUNT(CASE WHEN NOT ok THEN 1 END) AS BIGINT)
           AS n_excluded_buckets
  FROM prop
)
SELECT n_users, n_excluded_buckets,
       {sql_stable_round(
           "CASE WHEN n_users > 0 THEN"
           " CAST(s_ipw AS DOUBLE) / CAST(n_users AS DOUBLE) END", 6)}
         AS ate_ipw,
       {sql_stable_round(
           "CASE WHEN nt > 0 AND nc > 0 THEN"
           " CAST(sy_t AS DOUBLE) / CAST(nt AS DOUBLE)"
           " - CAST(sy_c AS DOUBLE) / CAST(nc AS DOUBLE) END", 6)}
         AS ate_naive
FROM ipw CROSS JOIN ex
"""


# --- MRR / precision@k for the BM25 ranking -----------------------------------
_MRR_K = 10


def q_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean reciprocal rank and precision@k for the BM25 ranking
    (Voorhees 1999 TREC QA track, public) — the first-relevant-hit
    companion to NDCG/MAP (wave12, whose integerized-BM25 top-{k}
    construction this reuses verbatim; reference:
    plans/wave12.q_retrieval_eval): relevance = the same 0–3 graded
    term-overlap label, ranking = the same floor(score·10⁴+0.5)
    integer order, so every rank is an exact integer pick. MRR,
    P@5 and P@{k} are single divisions of BIGINT counts (displays).

    Scale: one TakeOrdered top-{k} + integer arithmetic over ≤ {k}
    rows."""
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
    rel = docs.select(
        "doc_id",
        F.expr(
            f"size(array_intersect(array_distinct(_toks), array({terms})))"
        ).cast("long").alias("rel"),
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
        .limit(_MRR_K)
        .withColumn(
            "i",
            F.row_number().over(Window.orderBy(F.desc("_bq"), "doc_id"))
            .cast("long"),
        )
        .join(rel, "doc_id")
    )
    return topk.agg(
        F.min(F.when(F.col("rel") > 0, F.col("i"))).alias("first_rel_rank"),
        stable_round(
            F.coalesce(
                F.lit(1.0)
                / F.min(F.when(F.col("rel") > 0, F.col("i"))).cast("double"),
                F.lit(0.0),
            ),
            6,
        ).alias("mrr_at_k"),
        stable_round(
            F.sum(
                F.when((F.col("rel") > 0) & (F.col("i") <= 5), 1).otherwise(0)
            ).cast("double")
            / F.lit(5.0),
            6,
        ).alias("p_at_5"),
        stable_round(
            F.sum(F.when(F.col("rel") > 0, 1).otherwise(0)).cast("double")
            / F.lit(float(_MRR_K)),
            6,
        ).alias("p_at_k"),
    )


q_mrr_eval.__doc__ = q_mrr_eval.__doc__.format(k=_MRR_K)


def _sql_mrr_eval() -> str:
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
  ORDER BY s.bq DESC, s.doc_id LIMIT {_MRR_K}
)
SELECT MIN(CASE WHEN rel > 0 THEN i END) AS first_rel_rank,
       {sql_stable_round(
           "COALESCE(1.0 / CAST(MIN(CASE WHEN rel > 0 THEN i END)"
           " AS DOUBLE), 0.0)", 6)} AS mrr_at_k,
       {sql_stable_round(
           "CAST(SUM(CASE WHEN rel > 0 AND i <= 5 THEN 1 ELSE 0 END)"
           " AS DOUBLE) / 5.0", 6)} AS p_at_5,
       {sql_stable_round(
           "CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END)"
           f" AS DOUBLE) / {float(_MRR_K)}", 6)} AS p_at_k
FROM topk
"""


# --- Dirichlet-smoothed query-likelihood ranking -------------------------------
_QL_MU = 2000.0
_QL_K = 10


def q_ql_dirichlet_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet-smoothed query-likelihood ranking (Ponte & Croft
    1998; Zhai & Lafferty 2001, public) — the language-modeling
    alternative to BM25 over the same fixed query: score(d) =
    Σ_q ln((tf_qd + μ·P(q|C))/(dl_d + μ)), μ = {mu:.0f}, with the
    continuity-corrected collection LM P(q|C) = (cf_q + 0.5)/(|C| + 1)
    so a query term absent from the whole corpus (cf = 0 — reachable
    on arbitrary corpora, fuzzed in tests/test_property.py) still has
    positive mass instead of ln(0), which Spark nulls and DuckDB
    rejects. Smoothing needs EVERY (doc, term) pair including tf = 0,
    so the score grid is docs × the 3-term broadcast literal with a
    left-joined tf.
    Per-term log values ride DECIMAL(20,10) casts so the 3-term
    per-doc sum is order-free; ranking integerizes the score
    (floor(·10⁴+0.5)) exactly like the BM25 queries, then top-{k}
    via orderBy+limit.

    Scale: tf is one filtered-explode groupBy; the grid is
    3·n_docs rows; the top-{k} is a TakeOrdered."""
    from lab04_spark_streaming_spark.plans.corpus import _BM25_TERMS

    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    docs = pin(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", F.expr(SPARK_TOKS).alias("_toks")
        )
    )
    dl = docs.select(
        "doc_id", F.expr("cast(size(_toks) as bigint)").alias("dl")
    )
    all_tok = docs.select(F.explode("_toks").alias("w"))
    coll = all_tok.groupBy("w").agg(F.count(F.lit(1)).alias("cf"))
    ctot = all_tok.agg(F.count(F.lit(1)).alias("n_coll"))
    qterms = spark.createDataFrame(
        [(t,) for t in _BM25_TERMS], "term string"
    )
    cf = (
        qterms.join(coll.withColumnRenamed("w", "term"), "term", "left_outer")
        .select("term", F.coalesce("cf", F.lit(0)).alias("cf"))
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
    grid = (
        dl.crossJoin(F.broadcast(cf))
        .join(tf, ["doc_id", "term"], "left_outer")
        .crossJoin(F.broadcast(ctot))
        .select(
            "doc_id",
            F.log(
                (
                    F.coalesce("tf", F.lit(0)).cast("double")
                    + F.lit(_QL_MU)
                    * (F.col("cf").cast("double") + F.lit(0.5))
                    / (F.col("n_coll").cast("double") + F.lit(1.0))
                )
                / (F.col("dl").cast("double") + F.lit(_QL_MU))
            ).cast("decimal(20,10)").alias("term_lp"),
        )
    )
    scored = grid.groupBy("doc_id").agg(
        F.floor(F.sum("term_lp").cast("double") * 10000.0 + 0.5)
        .cast("bigint")
        .alias("_bq")
    )
    top = scored.orderBy(F.desc("_bq"), "doc_id").limit(_QL_K)
    w = Window.orderBy(F.desc("_bq"), "doc_id")
    return top.withColumn(
        "rank", F.row_number().over(w).cast("int")
    ).select(
        "rank",
        "doc_id",
        (F.col("_bq").cast("double") / F.lit(10000.0)).alias("ql_score"),
    )


q_ql_dirichlet_topk.__doc__ = q_ql_dirichlet_topk.__doc__.format(
    mu=_QL_MU, k=_QL_K
)


def _sql_ql_dirichlet_topk() -> str:
    from lab04_spark_streaming_spark.plans.corpus import _BM25_TERMS

    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""
WITH toks AS (SELECT doc_id, {SQL_TOKS} AS t FROM documents),
dl AS (SELECT doc_id, len(t) AS dl FROM toks),
alltok AS (SELECT unnest(t) AS w FROM toks),
coll AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cf FROM alltok GROUP BY w),
ctot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_coll FROM alltok),
qterms AS (SELECT UNNEST([{terms}]) AS term),
cf AS (
  SELECT q.term, COALESCE(c.cf, 0) AS cf
  FROM qterms q LEFT JOIN coll c ON q.term = c.w
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(list_filter(t,
          x -> list_contains([{terms}], x))) AS term FROM toks)
  GROUP BY doc_id, term
),
grid AS (
  SELECT dl.doc_id,
         CAST(ln(
           (CAST(COALESCE(tf.tf, 0) AS DOUBLE)
            + {_QL_MU} * (CAST(cf.cf AS DOUBLE) + 0.5)\n              / (CAST(ct.n_coll AS DOUBLE) + 1.0))
           / (CAST(dl.dl AS DOUBLE) + {_QL_MU})
         ) AS DECIMAL(20,10)) AS term_lp
  FROM dl CROSS JOIN cf
  LEFT JOIN tf ON tf.doc_id = dl.doc_id AND tf.term = cf.term
  CROSS JOIN ctot ct
),
scored AS (
  SELECT doc_id,
         CAST(floor(CAST(SUM(term_lp) AS DOUBLE) * 10000.0 + 0.5)
              AS BIGINT) AS bq
  FROM grid GROUP BY doc_id
),
top AS (SELECT * FROM scored ORDER BY bq DESC, doc_id LIMIT {_QL_K})
SELECT CAST(ROW_NUMBER() OVER (ORDER BY bq DESC, doc_id) AS INTEGER)
         AS rank,
       doc_id, CAST(bq AS DOUBLE) / 10000.0 AS ql_score
FROM top
"""


# --- calibration ECE / Brier of a length-based relevance classifier -----------
_ECE_BINS = 10


def q_ece_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected calibration error + Brier score (Naeini et al. 2015;
    Guo et al. 2017; Brier 1950 — all public) for a simple
    length-based relevance classifier: p(doc relevant) =
    sigmoid((dl − 100)/20), label = the BM25-term overlap > 0 (the
    same derivable relevance the IR metrics use). ECE bins on the
    INTEGER token count (never on the transcendental sigmoid — a
    1-ulp cross-engine exp() difference at a bin boundary would flip
    a row), confidence is the bin-mean sigmoid via per-term decimal
    casts, accuracy is an exact-count ratio, and ECE/maximum gap /
    Brier are displays. One summary row.

    Scale: one per-doc projection + one {b}-bin grouped aggregate;
    the final reduction runs over {b} rows."""
    from lab04_spark_streaming_spark.plans.corpus import _BM25_TERMS

    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    per_doc = load_table(spark, sf_dir, "documents").select(
        F.expr(f"cast(size({SPARK_TOKS}) as bigint)").alias("dl"),
        F.expr(
            f"cast(size(array_intersect(array_distinct({SPARK_TOKS}),"
            f" array({terms}))) > 0 as int)"
        ).alias("label"),
    ).select(
        "dl",
        "label",
        F.least(
            F.greatest(
                ((F.col("dl") - 60) / F.lit(10)).cast("bigint"), F.lit(0)
            ),
            F.lit(_ECE_BINS - 1),
        ).alias("bin"),
        (
            F.lit(1.0)
            / (
                F.lit(1.0)
                + F.exp(-(F.col("dl") - 100).cast("double") / F.lit(20.0))
            )
        ).alias("p"),
    )
    bins = per_doc.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_b"),
        F.sum(F.col("p").cast("decimal(20,12)")).alias("sp"),
        F.sum("label").alias("sl"),
        F.sum(
            (
                (F.col("p") - F.col("label").cast("double"))
                * (F.col("p") - F.col("label").cast("double"))
            ).cast("decimal(20,12)")
        ).alias("sq"),
    )
    n_tot = bins.agg(F.sum("n_b").alias("n_docs"))
    gap = F.abs(
        F.col("sl").cast("double") / F.col("n_b").cast("double")
        - F.col("sp").cast("double") / F.col("n_b").cast("double")
    )
    return (
        bins.crossJoin(F.broadcast(n_tot))
        .select(
            "n_docs",
            (gap * F.col("n_b").cast("double") / F.col("n_docs").cast("double"))
            .cast("decimal(20,12)")
            .alias("w_gap"),
            gap.cast("decimal(20,12)").alias("gap"),
            "sq",
        )
        .groupBy("n_docs")
        .agg(
            stable_round(F.sum("w_gap").cast("double"), 6).alias("ece"),
            stable_round(F.max("gap").cast("double"), 6).alias(
                "max_bin_gap"
            ),
            stable_round(
                F.sum("sq").cast("double") / F.col("n_docs").cast("double"),
                6,
            ).alias("brier"),
        )
    )


q_ece_calibration.__doc__ = q_ece_calibration.__doc__.format(b=_ECE_BINS)


def _sql_ece_calibration() -> str:
    from lab04_spark_streaming_spark.plans.corpus import _BM25_TERMS

    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""
WITH per_doc AS (
  SELECT dl, label,
         LEAST(GREATEST((dl - 60) // 10, 0), {_ECE_BINS - 1}) AS bin,
         1.0 / (1.0 + exp(-CAST(dl - 100 AS DOUBLE) / 20.0)) AS p
  FROM (
    SELECT CAST(len({SQL_TOKS}) AS BIGINT) AS dl,
           CAST(len(list_intersect(list_distinct({SQL_TOKS}),
                [{terms}])) > 0 AS INTEGER) AS label
    FROM documents
  )
),
bins AS (
  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_b,
         SUM(CAST(p AS DECIMAL(20,12))) AS sp,
         CAST(SUM(label) AS BIGINT) AS sl,
         SUM(CAST((p - label) * (p - label) AS DECIMAL(20,12))) AS sq
  FROM per_doc GROUP BY bin
),
tot AS (SELECT CAST(SUM(n_b) AS BIGINT) AS n_docs FROM bins),
terms_t AS (
  SELECT t.n_docs,
         CAST(abs(CAST(sl AS DOUBLE) / n_b - CAST(sp AS DOUBLE) / n_b)
              * n_b / t.n_docs AS DECIMAL(20,12)) AS w_gap,
         CAST(abs(CAST(sl AS DOUBLE) / n_b - CAST(sp AS DOUBLE) / n_b)
              AS DECIMAL(20,12)) AS gap,
         sq
  FROM bins CROSS JOIN tot t
)
SELECT n_docs,
       {sql_stable_round("CAST(SUM(w_gap) AS DOUBLE)", 6)} AS ece,
       {sql_stable_round("CAST(MAX(gap) AS DOUBLE)", 6)} AS max_bin_gap,
       {sql_stable_round(
           "CAST(SUM(sq) AS DOUBLE) / CAST(n_docs AS DOUBLE)", 6)}
         AS brier
FROM terms_t GROUP BY n_docs
"""


# --- RFF-MMD two-sample statistic over embeddings ------------------------------
import hashlib as _hashlib

_MMD_D = 8  # random Fourier features
_MMD_DIM = 64
_MMD_LABEL_A = 0
_MMD_LABEL_B = 1


def _mmd_h(key: str) -> int:
    return int(_hashlib.md5(key.encode()).hexdigest()[:8], 16)


# Deterministic integer weight grid and rational phases, fixed at
# module load (the "random" features of Rahimi & Recht drawn from a
# seeded md5 stream — identical literals land in both engines).
_MMD_W = [
    [_mmd_h(f"w:{f}:{i}") % 5 - 2 for i in range(_MMD_DIM)]
    for f in range(_MMD_D)
]
_MMD_B = [(_mmd_h(f"b:{f}") % 6283) / 1000.0 for f in range(_MMD_D)]


def q_mmd_rff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum Mean Discrepancy two-sample statistic between two
    embedding label groups via random Fourier features (MMD: Gretton
    et al. 2012; RFF: Rahimi & Recht 2007 — both public): the kernel
    two-sample test distribution-shift monitors run on embedding
    spaces, in its linear-time feature-map form — z_f(x) =
    cos(w_f·x + b_f) with {d} fixed md5-derived integer weight rows,
    MMD² ≈ (2/{d})·Σ_f (z̄_f(A) − z̄_f(B))². Components ride the
    house 1e-7 integer grid so every w·x is an exact BIGINT; cos is
    the only transcendental (inside per-term decimal casts); the
    feature means and the {d}-term final sum are order-free.

    Scale: one explode + broadcast-weights join + two grouped
    aggregates — O(n·dim·{d}) work, no pairwise kernel matrix (the
    whole point of RFF at 100 TB)."""
    w_rows = [
        (f, i, _MMD_W[f][i])
        for f in range(_MMD_D)
        for i in range(_MMD_DIM)
    ]
    weights = spark.createDataFrame(w_rows, "f int, pos int, w long")
    b_rows = spark.createDataFrame(
        [(f, _MMD_B[f]) for f in range(_MMD_D)], "f int, b double"
    )
    comps = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("label").isin(_MMD_LABEL_A, _MMD_LABEL_B))
        .select(
            "vec_id",
            "label",
            F.posexplode("embedding").alias("pos", "x"),
        )
        .select(
            "vec_id",
            "label",
            "pos",
            F.floor(F.col("x").cast("double") * 1e7 + F.lit(0.5))
            .cast("bigint")
            .alias("q"),
        )
    )
    dots = (
        comps.join(F.broadcast(weights), "pos")
        .groupBy("vec_id", "label", "f")
        .agg(F.sum(F.col("w") * F.col("q")).alias("dot"))
        .join(F.broadcast(b_rows), "f")
        .select(
            "label",
            "f",
            F.cos(
                F.col("dot").cast("double") / F.lit(1e7) + F.col("b")
            ).cast("decimal(20,12)").alias("z"),
        )
    )
    means = dots.groupBy("label", "f").agg(
        (F.sum("z").cast("double") / F.count(F.lit(1)).cast("double"))
        .alias("mz"),
        F.count(F.lit(1)).alias("n"),
    )
    a = means.filter(F.col("label") == _MMD_LABEL_A).select(
        "f", F.col("mz").alias("ma"), F.col("n").alias("n_a")
    )
    bm = means.filter(F.col("label") == _MMD_LABEL_B).select(
        "f", F.col("mz").alias("mb"), F.col("n").alias("n_b")
    )
    return (
        a.join(bm, "f")
        .select(
            "n_a",
            "n_b",
            (
                (F.col("ma") - F.col("mb")) * (F.col("ma") - F.col("mb"))
            ).cast("decimal(20,15)").alias("d2"),
        )
        .groupBy("n_a", "n_b")
        .agg(
            stable_round(
                F.sum("d2").cast("double") * F.lit(2.0 / _MMD_D), 8
            ).alias("mmd2")
        )
    )


q_mmd_rff.__doc__ = q_mmd_rff.__doc__.format(d=_MMD_D)


def _sql_mmd_rff() -> str:
    w_tuples = ", ".join(
        f"({f}, {i}, {_MMD_W[f][i]})"
        for f in range(_MMD_D)
        for i in range(_MMD_DIM)
    )
    b_tuples = ", ".join(f"({f}, {_MMD_B[f]!r})" for f in range(_MMD_D))
    return f"""
WITH weights(f, pos, w) AS (VALUES {w_tuples}),
phases(f, b) AS (VALUES {b_tuples}),
comps AS (
  SELECT vec_id, label,
         generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000000.0 + 0.5)
              AS BIGINT) AS q
  FROM embeddings
  WHERE label IN ({_MMD_LABEL_A}, {_MMD_LABEL_B})
),
dots AS (
  SELECT c.vec_id, c.label, w.f, CAST(SUM(w.w * c.q) AS BIGINT) AS dot
  FROM comps c JOIN weights w ON c.pos = w.pos
  GROUP BY c.vec_id, c.label, w.f
),
z AS (
  SELECT d.label, d.f,
         CAST(cos(CAST(d.dot AS DOUBLE) / 10000000.0 + p.b)
              AS DECIMAL(20,12)) AS z
  FROM dots d JOIN phases p ON d.f = p.f
),
means AS (
  SELECT label, f,
         CAST(SUM(z) AS DOUBLE) / COUNT(*) AS mz,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM z GROUP BY label, f
)
SELECT a.n AS n_a, b.n AS n_b,
       {sql_stable_round(
           "CAST(SUM(CAST((a.mz - b.mz) * (a.mz - b.mz)"
           f" AS DECIMAL(20,15))) AS DOUBLE) * {2.0 / _MMD_D}", 8)}
         AS mmd2
FROM means a JOIN means b ON a.f = b.f
WHERE a.label = {_MMD_LABEL_A} AND b.label = {_MMD_LABEL_B}
GROUP BY a.n, b.n
"""


# --- Holt linear-trend one-step backtest ---------------------------------------
_HOLT_H = 24


def q_holt_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend exponential smoothing with a one-step-ahead
    backtest (Holt 1957 / Hyndman & Athanasopoulos FPP, public):
    per event type, the hourly mean-value series is smoothed with
    l_t = α·y_t + (1−α)(l_{{t−1}}+b_{{t−1}}), b_t = β(l_t−l_{{t−1}})
    + (1−β)b_{{t−1}} (l₁ = y₁, b₁ = 0), and the one-step forecast
    f_t = l_{{t−1}}+b_{{t−1}} is scored by MAE/RMSE over the last
    {h} hours. The recursion is inherently sequential IN HOURS; its
    state is the tiny (level, trend) pair, so it runs as a pure-JVM
    LEFT FOLD — collect_list → array_sort → aggregate() — over the ALREADY
    AGGREGATED hourly relation (≤ series × hours rows — tiny at any
    corpus size; the heavy lifting stays in the exact-decimal hourly
    aggregate). r14 opt round (guide §4.1): this replaced the Arrow
    applyInPandas recursion — the engine's last Python-boundary
    stage — with a SQL fold in the identical IEEE expression order
    (including the oracle CTE's textual re-expansion of l_t inside
    b_t; α = β = 0.5 are exact binary rationals), so levels/trends/
    forecasts stay bit-identical to the oracle's RECURSIVE CTE and to
    the old Python loop; error sums ride per-term decimal casts. At
    scale this also drops the ~1 ms/series Python-group overhead and
    the Arrow transposes.

    Scale: one shuffle to (type, hour); the fold sees one
    bounded series per type. (Oracle note: ``hourly`` is
    MATERIALIZED — without it DuckDB re-evaluates the aggregate in
    every one of the ~720 recursion steps, 14x slower.)"""
    hourly = (
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
    )

    # collect_list order is nondeterministic — array_sort on
    # struct(h, y) pins it (h is unique within a type). The fold's
    # accumulator carries (l, b) plus a BOUNDED row buffer; l_t is
    # re-expanded textually inside b_t exactly as the oracle CTE
    # writes it, so both engines evaluate the same IEEE tree.
    #
    # r15 (verdict item 7 — the quadratic-accumulator flag): the old
    # append-only `rows` copied the whole array every step (O(hours²)
    # struct copies per series).  Downstream only ever reads the LAST
    # {h} rows (the backtest tail: rn > n_hours − {h}), the final
    # state (max_by(·, rn)) and the total count (max(rn)) — all
    # contained in the last {h}+1 rows — so the accumulator keeps a
    # sliding window of the trailing {h}+1 rows (slice → append,
    # ≤ 2·({h}+1) element copies per step: linear in hours at any
    # backtest span) with the true row index riding a new 'n' field.
    # The (l, b) recursion is textually unchanged → states, forecasts
    # and the final output stay bit-identical.
    _fold = f"""
        aggregate(
          slice(_hy, 2, size(_hy) - 1),
          named_struct(
            'l', _hy[0].y, 'b', cast(0.0 as double),
            'n', cast(1 as bigint),
            'rows', array(named_struct(
              'rn', cast(1 as bigint), 'y', _hy[0].y,
              'f', cast(null as double), 'l', _hy[0].y,
              'b', cast(0.0 as double)))),
          (acc, e) -> named_struct(
            'l', 0.5D * e.y + 0.5D * (acc.l + acc.b),
            'b', 0.5D * ((0.5D * e.y + 0.5D * (acc.l + acc.b)) - acc.l)
                 + 0.5D * acc.b,
            'n', acc.n + 1,
            'rows', array_append(
              slice(acc.rows,
                    greatest(1, size(acc.rows) - {_HOLT_H - 1}),
                    {_HOLT_H}),
              named_struct(
                'rn', acc.n + 1, 'y', e.y,
                'f', acc.l + acc.b,
                'l', 0.5D * e.y + 0.5D * (acc.l + acc.b),
                'b', 0.5D * ((0.5D * e.y + 0.5D * (acc.l + acc.b)) - acc.l)
                     + 0.5D * acc.b))),
          acc -> acc.rows)
    """
    series = hourly.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("h", "y"))).alias("_hy")
    )
    rec = pin(
        series.select("event_type", F.explode(F.expr(_fold)).alias("_r"))
        .select(
            "event_type",
            F.col("_r.rn").alias("rn"),
            F.col("_r.y").alias("y"),
            F.col("_r.f").alias("f"),
            F.col("_r.l").alias("l"),
            F.col("_r.b").alias("b"),
        )
    )
    n = rec.groupBy("event_type").agg(F.max("rn").alias("n_hours"))
    tail = rec.join(n, "event_type").filter(
        (F.col("rn") > F.col("n_hours") - _HOLT_H) & F.col("f").isNotNull()
    )
    errs = tail.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.sum(
            F.abs(F.col("y") - F.col("f")).cast("decimal(20,10)")
        ).alias("sae"),
        F.sum(
            (
                (F.col("y") - F.col("f")) * (F.col("y") - F.col("f"))
            ).cast("decimal(20,10)")
        ).alias("sse"),
    )
    final = rec.groupBy("event_type").agg(
        F.expr("max_by(l, rn)").alias("fl"),
        F.expr("max_by(b, rn)").alias("fb"),
    )
    return (
        n.join(errs, "event_type")
        .join(final, "event_type")
        .select(
            "event_type",
            "n_hours",
            "n_scored",
            stable_round(F.col("fl"), 6).alias("final_level"),
            stable_round(F.col("fb"), 6).alias("final_trend"),
            stable_round(
                F.col("sae").cast("double") / F.col("n_scored").cast("double"),
                6,
            ).alias("mae"),
            stable_round(
                F.sqrt(
                    F.col("sse").cast("double")
                    / F.col("n_scored").cast("double")
                ),
                6,
            ).alias("rmse"),
        )
    )


q_holt_backtest.__doc__ = q_holt_backtest.__doc__.format(h=_HOLT_H)


SQL_HOLT_BACKTEST = f"""
WITH RECURSIVE hourly AS MATERIALIZED (
  SELECT event_type, h, y,
         CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h)
              AS BIGINT) AS rn
  FROM (
    SELECT event_type, date_trunc('hour', ts) AS h,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*)
             AS y
    FROM events GROUP BY 1, 2
  )
),
rec AS (
  SELECT event_type, rn, y, CAST(NULL AS DOUBLE) AS f, y AS l,
         CAST(0.0 AS DOUBLE) AS b
  FROM hourly WHERE rn = 1
  UNION ALL
  SELECT h.event_type, h.rn, h.y,
         r.l + r.b AS f,
         0.5 * h.y + 0.5 * (r.l + r.b) AS l,
         0.5 * ((0.5 * h.y + 0.5 * (r.l + r.b)) - r.l) + 0.5 * r.b AS b
  FROM rec r JOIN hourly h
    ON h.event_type = r.event_type AND h.rn = r.rn + 1
),
n AS (
  SELECT event_type, CAST(MAX(rn) AS BIGINT) AS n_hours FROM rec
  GROUP BY event_type
),
tail_rows AS (
  SELECT r.* FROM rec r JOIN n ON r.event_type = n.event_type
  WHERE r.rn > n.n_hours - {_HOLT_H} AND r.f IS NOT NULL
),
errs AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_scored,
         SUM(CAST(abs(y - f) AS DECIMAL(20,10))) AS sae,
         SUM(CAST((y - f) * (y - f) AS DECIMAL(20,10))) AS sse
  FROM tail_rows GROUP BY event_type
),
fin AS (
  SELECT event_type, max_by(l, rn) AS fl, max_by(b, rn) AS fb
  FROM rec GROUP BY event_type
)
SELECT n.event_type, n.n_hours, e.n_scored,
       {sql_stable_round("fin.fl", 6)} AS final_level,
       {sql_stable_round("fin.fb", 6)} AS final_trend,
       {sql_stable_round(
           "CAST(e.sae AS DOUBLE) / CAST(e.n_scored AS DOUBLE)", 6)}
         AS mae,
       {sql_stable_round(
           "sqrt(CAST(e.sse AS DOUBLE) / CAST(e.n_scored AS DOUBLE))", 6)}
         AS rmse
FROM n JOIN errs e ON n.event_type = e.event_type
JOIN fin ON n.event_type = fin.event_type
"""


def specs():
    from lab04_spark_streaming_spark.registry import QuerySpec

    return [
        QuerySpec("lorenz_curve", q_lorenz_curve, SQL_LORENZ_CURVE),
        QuerySpec(
            "t_closeness_audit", q_t_closeness_audit, SQL_T_CLOSENESS_AUDIT
        ),
        QuerySpec("diff_in_diff", q_diff_in_diff, SQL_DIFF_IN_DIFF),
        QuerySpec("jackknife_ratio", q_jackknife_ratio, SQL_JACKKNIFE_RATIO),
        QuerySpec("kmv_set_ops", q_kmv_set_ops, SQL_KMV_SET_OPS),
        QuerySpec("ipw_ate", q_ipw_ate, SQL_IPW_ATE),
        QuerySpec("mrr_eval", q_mrr_eval, _sql_mrr_eval()),
        QuerySpec(
            "ql_dirichlet_topk", q_ql_dirichlet_topk,
            _sql_ql_dirichlet_topk(),
        ),
        QuerySpec(
            "ece_calibration", q_ece_calibration, _sql_ece_calibration()
        ),
        QuerySpec("mmd_rff", q_mmd_rff, _sql_mmd_rff()),
        QuerySpec("holt_backtest", q_holt_backtest, SQL_HOLT_BACKTEST),
    ]
