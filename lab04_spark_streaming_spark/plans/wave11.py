"""Round-11 wave (built in driver round 8): graph ranking, record
linkage, fingerprinting and calibrated-prediction queries — the
multi-hop / probabilistic layer over the pairwise primitives of
earlier waves: personalized PageRank and BFS reachability on the
co-purchase graph (beside CC / k-core / LPA / triangles), robust
winnowing document fingerprints (beside MinHash/SimHash), a
Fellegi–Sunter record-linkage readout (beside the deterministic
golden-record merge), split-conformal prediction intervals on the
seasonal-naive backtest, and interpolated Kneser–Ney bigram
probabilities (beside the interpolated-ML bigram LM).

Cross-engine determinism: the PageRank/BFS iterations run entirely in
scaled BIGINT (the textrank_keywords recipe — floor div is identical
in both engines); FS likelihood ratios are add-half-smoothed integer
rationals compared by cross-multiplication; Kneser–Ney uses D = 3/4
so every probability is an exact rational scaled to integers;
winnowing selection is an integer (hash, position) window min;
conformal quantiles are order statistics. Displays only on top.
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
    SPARK_NORM_H,
    SPARK_TOKS,
    SQL_NORM_H,
    SQL_TOKS,
)
from lab04_spark_streaming_spark.sources.files import load_table


# --- shared co-purchase graph ------------------------------------------------
def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric distinct co-purchase edge relation (src, dst) —
    per-order pair generation (order-width bounded), pinned once."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
        )
        # co-partitions on the join key: the distinct and join reuse it
        .repartition(spark.sparkContext.defaultParallelism, "ok")
        .distinct()
    )
    pairs = (
        li.alias("a")
        .join(li.alias("b"), "ok")
        .filter(F.col("a.pk") < F.col("b.pk"))
        .select(F.col("a.pk").alias("u"), F.col("b.pk").alias("v"))
        .distinct()
    )
    return pin(
        pairs.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionAll(
            pairs.select(F.col("v").alias("src"), F.col("u").alias("dst"))
        )
    )


_SQL_COPURCHASE_EDGES = """
li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
pairs AS (
  SELECT DISTINCT a.pk AS u, b.pk AS v
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
),
edges AS (
  SELECT u AS src, v AS dst FROM pairs
  UNION ALL SELECT v AS src, u AS dst FROM pairs
)
"""


# --- personalized PageRank ---------------------------------------------------
_PPR_SCALE = 10**12
_PPR_ITERS = 3
_PPR_TOP = 20


def q_ppr_related_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank "related products" from the
    highest-degree part (Page et al. 1999 / Jeh & Widom 2002,
    public): random walk with 15% restart AT THE SEED ONLY, so mass
    concentrates on the seed's multi-hop neighbourhood — the
    recommendation ranking that sees transitive affinity where
    item_item_cosine sees only direct co-baskets. The power iteration
    is the textrank_keywords integer recipe (pr in 1e-12 units,
    floor-div contributions, teleport mass only at the seed), so
    three iterations stay bit-exact in both engines; top-{k} by the
    INTEGER rank value, seed excluded.

    Scale: graph relations are parts-bounded; each iteration is one
    join + one aggregate on node keys; the seed is a 1-row broadcast
    (orderBy+limit, never a global window)."""
    edges = _copurchase_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    seed = (
        deg.orderBy(F.desc("deg"), "src")
        .limit(1)
        .select(F.col("src").alias("seed"))
    )
    # nodes (deg × seed) is re-joined every iteration — pin it once or
    # each round re-runs the degree aggregate AND the seed TakeOrdered
    nodes = pin(
        deg.select(F.col("src").alias("x"), "deg")
        .crossJoin(F.broadcast(seed))
    )
    pr = nodes.select(
        "x",
        "deg",
        "seed",
        F.when(F.col("x") == F.col("seed"), F.lit(_PPR_SCALE))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("pr"),
    )
    for _ in range(_PPR_ITERS):
        contrib = pr.select(
            F.col("x").alias("src"), F.expr("pr div deg").alias("_c")
        )
        agg = (
            edges.join(contrib, "src")
            .groupBy("dst")
            .agg(F.sum("_c").alias("_s"))
        )
        pr = pin(
            nodes.join(
                agg.select(F.col("dst").alias("x"), "_s"), "x", "left"
            )
            .select(
                "x",
                "deg",
                "seed",
                (
                    F.when(
                        F.col("x") == F.col("seed"),
                        F.expr(f"cast(15 * {_PPR_SCALE} as bigint) div 100"),
                    ).otherwise(F.lit(0))
                    + F.expr("(85 * coalesce(_s, cast(0 as bigint))) div 100")
                ).alias("pr"),
            )
        )
    top = (
        pr.filter(F.col("x") != F.col("seed"))
        .orderBy(F.desc("pr"), "x")
        .limit(_PPR_TOP)
    )
    rk = F.row_number().over(Window.orderBy(F.desc("pr"), "x"))
    return top.withColumn("rank", rk.cast("int")).select(
        "rank", F.col("x").alias("part"), "seed", F.col("pr").alias("ppr_e12")
    )


q_ppr_related_parts.__doc__ = q_ppr_related_parts.__doc__.format(k=_PPR_TOP)


def _sql_ppr_related_parts() -> str:
    parts = [
        f"""
WITH {_SQL_COPURCHASE_EDGES.strip()},
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src),
seed AS (SELECT src AS seed FROM deg ORDER BY deg DESC, src LIMIT 1),
nodes AS (SELECT d.src AS x, d.deg, s.seed FROM deg d, seed s),
pr0 AS (
  SELECT x, deg, seed,
         CASE WHEN x = seed THEN CAST({_PPR_SCALE} AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS pr
  FROM nodes
)"""
    ]
    for i in range(1, _PPR_ITERS + 1):
        parts.append(
            f""",
agg{i} AS (
  SELECT e.dst, CAST(SUM(p.pr // p.deg) AS BIGINT) AS s
  FROM edges e JOIN pr{i - 1} p ON e.src = p.x
  GROUP BY e.dst
),
pr{i} AS (
  SELECT n.x, n.deg, n.seed,
         CAST(CASE WHEN n.x = n.seed
              THEN (15 * {_PPR_SCALE}) // 100 ELSE 0 END
              + (85 * COALESCE(a.s, 0)) // 100 AS BIGINT) AS pr
  FROM nodes n LEFT JOIN agg{i} a ON n.x = a.dst
)"""
        )
    parts.append(
        f"""
SELECT CAST(ROW_NUMBER() OVER (ORDER BY pr DESC, x) AS INTEGER) AS rank,
       x AS part, seed, pr AS ppr_e12
FROM pr{_PPR_ITERS}
WHERE x <> seed
ORDER BY pr DESC, x LIMIT {_PPR_TOP}
"""
    )
    return "".join(parts)


# --- BFS hop distribution ----------------------------------------------------
_BFS_MAX_HOPS = 3


def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first reachability census from the highest-degree part:
    how many parts sit 1, 2, 3 hops away in the co-purchase graph,
    and how many are unreached within {h} hops — the small-world
    probe that tells you whether the PPR neighbourhood above actually
    has structure or everything is 2 hops from everything. Each
    iteration is the relational frontier expansion
    dist' = min(dist, 1 + min over in-neighbours) — pure integer,
    exactly the dedup_clusters relaxation shape with a hop bound
    instead of convergence.

    Scale: node-keyed joins and aggregates; {h} fixed iterations,
    each checkpointed to keep the plan flat."""
    edges = _copurchase_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    seed = (
        deg.orderBy(F.desc("deg"), "src")
        .limit(1)
        .select(F.col("src").alias("x"), F.lit(0).alias("dist"))
    )
    dist = pin(seed)
    for _ in range(_BFS_MAX_HOPS):
        expanded = (
            edges.join(dist.withColumnRenamed("x", "src"), "src")
            .select(
                F.col("dst").alias("x"), (F.col("dist") + 1).alias("dist")
            )
        )
        dist = pin(
            dist.unionByName(expanded)
            .groupBy("x")
            .agg(F.min("dist").alias("dist"))
        )
    hops = dist.groupBy("dist").agg(F.count(F.lit(1)).alias("n_parts"))
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    reached = dist.agg(F.count(F.lit(1)).alias("n_reached"))
    unreached = (
        n_nodes.crossJoin(reached)
        .select(
            F.lit(-1).alias("dist"),
            (F.col("n_nodes") - F.col("n_reached")).alias("n_parts"),
        )
    )
    return hops.unionByName(unreached)


q_bfs_hops.__doc__ = q_bfs_hops.__doc__.format(h=_BFS_MAX_HOPS)


def _sql_bfs_hops() -> str:
    parts = [
        f"""
WITH {_SQL_COPURCHASE_EDGES.strip()},
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src),
dist0 AS (
  SELECT src AS x, 0 AS dist FROM deg ORDER BY deg DESC, src LIMIT 1
)"""
    ]
    for i in range(1, _BFS_MAX_HOPS + 1):
        parts.append(
            f""",
dist{i} AS (
  SELECT x, CAST(MIN(dist) AS INTEGER) AS dist FROM (
    SELECT x, dist FROM dist{i - 1}
    UNION ALL
    SELECT e.dst AS x, d.dist + 1 AS dist
    FROM edges e JOIN dist{i - 1} d ON e.src = d.x
  ) GROUP BY x
)"""
        )
    last = f"dist{_BFS_MAX_HOPS}"
    parts.append(
        f"""
SELECT dist, CAST(COUNT(*) AS BIGINT) AS n_parts FROM {last} GROUP BY dist
UNION ALL
SELECT -1 AS dist,
       (SELECT COUNT(*) FROM deg) - (SELECT COUNT(*) FROM {last}) AS n_parts
"""
    )
    return "".join(parts)


# --- robust winnowing fingerprints ------------------------------------------
_WINNOW_W = 4
_WINNOW_NGRAM = 3


def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the MOSS plagiarism-detector algorithm, public): hash
    every {n}-token shingle, slide a window of {w} consecutive
    hashes, and select each window's minimum (rightmost on ties —
    the robust-winnowing rule, here the integer key (h, −pos) makes
    that one deterministic MIN). Guarantees every match of length ≥
    w+n−1 tokens shares a fingerprint while storing only ~2/(w+1) of
    the hashes — the position-aware complement to MinHash (which
    loses locality). Output: per-doc fingerprint counts + the
    selected-fraction display.

    Scale: per-doc partitioned sliding window over shingle positions;
    the fingerprint relation is the bounded selected set."""
    from lab04_spark_streaming_spark.operators.textops import expr_shingles

    docs = restore_splits(load_table(spark, sf_dir, "documents"), "doc_id")
    grams = docs.withColumn("_toks", F.expr(SPARK_TOKS)).select(
        "doc_id",
        F.posexplode(F.expr(expr_shingles("_toks", _WINNOW_NGRAM))).alias(
            "pos", "g"
        ),
    ).select(
        "doc_id",
        "pos",
        F.expr(
            "cast(conv(substring(md5(g), 1, 8), 16, 10) as bigint)"
        ).alias("h"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(_WINNOW_W - 1), 0)
    )
    # INVERTIBLE integer key (h, rightmost-on-ties): the window min is
    # decoded back to (h, pos), because the selected gram is the
    # argmin of the whole window, not the row the window ends at.
    # pos < 2^20 bound (a million shingles per document) keeps the
    # pack collision-free; h < 2^32 keeps h·2^20 inside int64.
    key = F.col("h") * F.lit(1048576) + (F.lit(1048575) - F.col("pos"))
    # full windows only (MOSS rule): docs shorter than w+n-1 tokens
    # yield no fingerprint — that's the guarantee's lower bound
    selected = (
        grams.withColumn("wmin", F.min(key).over(w))
        .filter(F.col("pos") >= _WINNOW_W - 1)
        .select(
            "doc_id",
            F.expr("wmin div 1048576").alias("h"),
            (F.lit(1048575) - F.pmod("wmin", F.lit(1048576))).alias("pos"),
        )
        .distinct()
    )
    per_doc = grams.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams")
    )
    fp = selected.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fingerprints")
    )
    return (
        per_doc.join(fp, "doc_id", "left_outer")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_fingerprints", F.lit(0)).alias("n_fingerprints"),
            stable_round(
                F.coalesce("n_fingerprints", F.lit(0)).cast("double")
                / F.col("n_grams").cast("double"),
                4,
            ).alias("density"),
        )
    )


q_winnowing_fingerprints.__doc__ = q_winnowing_fingerprints.__doc__.format(
    n=_WINNOW_NGRAM, w=_WINNOW_W
)


def _sql_winnowing_fingerprints() -> str:
    from lab04_spark_streaming_spark.operators.textops import sql_shingles

    return f"""
WITH tok AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
grams AS (
  SELECT doc_id, pos - 1 AS pos,
         CAST(('0x' || substring(md5(g), 1, 8)) AS BIGINT) AS h
  FROM (
    SELECT doc_id,
           generate_subscripts({sql_shingles("toks", _WINNOW_NGRAM)}, 1) AS pos,
           unnest({sql_shingles("toks", _WINNOW_NGRAM)}) AS g
    FROM tok
  )
),
keyed AS (
  SELECT doc_id, pos, h,
         h * 1048576 + (1048575 - pos) AS k
  FROM grams
),
win AS (
  SELECT doc_id, pos,
         MIN(k) OVER w AS wmin
  FROM keyed
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN {_WINNOW_W - 1} PRECEDING AND CURRENT ROW)
),
selected AS (
  SELECT DISTINCT doc_id,
         wmin // 1048576 AS h,
         1048575 - (wmin % 1048576) AS pos
  FROM win
  WHERE pos >= {_WINNOW_W - 1}
),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM grams GROUP BY doc_id
),
fp AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fingerprints
  FROM selected GROUP BY doc_id
)
SELECT p.doc_id, p.n_grams,
       COALESCE(f.n_fingerprints, 0) AS n_fingerprints,
       {sql_stable_round(
           "CAST(COALESCE(f.n_fingerprints, 0) AS DOUBLE)"
           " / CAST(p.n_grams AS DOUBLE)", 4)} AS density
FROM per_doc p LEFT JOIN fp f ON p.doc_id = f.doc_id
"""


# --- split-conformal intervals on the seasonal-naive forecast ---------------
_CONF_ALPHA_PCT = 10  # 90% intervals
_CONF_LAG_DAYS = 7
_CONF_EVAL_DAYS = 7


def q_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals for the seasonal-naive
    hourly forecast (Vovk et al. 2005 / Lei et al. 2018, public):
    calibrate the absolute residual quantile q̂ on the pre-evaluation
    hours (rank ⌈(n+1)·(1−α)⌉ — a pure order statistic on exact
    BIGINT residuals), then report the EMPIRICAL COVERAGE of
    [pred ± q̂] on the held-out last {e} days — the
    distribution-free guarantee check every forecast deployment
    should ship with. All decisions are integer (residual ranks,
    coverage counts); coverage is a display.

    Scale: hour-grid relations throughout; the calibration rank
    window is per-type over calibration hours."""
    ev = load_table(spark, sf_dir, "events")
    hourly = pin(
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("hour"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    end = ev.agg(F.date_trunc("hour", F.max("ts")).alias("end_hour"))
    pred = hourly.select(
        "event_type",
        (F.col("hour") + F.expr(f"interval {_CONF_LAG_DAYS} days")).alias(
            "hour"
        ),
        F.col("cnt").alias("pred"),
    )
    joined = (
        hourly.join(pred, ["event_type", "hour"])
        .crossJoin(F.broadcast(end))
        .select(
            "event_type",
            "hour",
            "cnt",
            "pred",
            F.abs(F.col("cnt") - F.col("pred")).alias("resid"),
            (
                F.col("hour")
                >= F.col("end_hour")
                - F.expr(f"interval {_CONF_EVAL_DAYS} days")
            ).alias("is_eval"),
        )
    )
    cal = joined.filter(~F.col("is_eval"))
    wr = Window.partitionBy("event_type").orderBy("resid", "hour")
    ncal = cal.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_cal"))
    qhat = (
        cal.withColumn("r", F.row_number().over(wr))
        .join(F.broadcast(ncal), "event_type")
        .filter(
            F.col("r") * 100
            >= F.ceil(
                (F.col("n_cal") + 1) * F.lit(100 - _CONF_ALPHA_PCT)
            )
        )
        .groupBy("event_type")
        .agg(F.min("resid").alias("q_hat"), F.max("n_cal").alias("n_cal"))
    )
    evald = joined.filter(F.col("is_eval"))
    return (
        evald.join(F.broadcast(qhat), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n_cal").alias("n_cal"),
            F.max("q_hat").alias("q_hat"),
            F.count(F.lit(1)).alias("n_eval"),
            F.sum(
                F.when(F.col("resid") <= F.col("q_hat"), 1).otherwise(0)
            ).alias("n_covered"),
        )
        .select(
            "event_type",
            "n_cal",
            "q_hat",
            "n_eval",
            "n_covered",
            stable_round(
                F.col("n_covered").cast("double")
                / F.col("n_eval").cast("double"),
                4,
            ).alias("coverage"),
        )
    )


q_conformal_interval.__doc__ = q_conformal_interval.__doc__.format(
    e=_CONF_EVAL_DAYS
)


SQL_CONFORMAL_INTERVAL = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
span AS (SELECT date_trunc('hour', MAX(ts)) AS end_hour FROM events),
pred AS (
  SELECT event_type, hour + INTERVAL {_CONF_LAG_DAYS} DAY AS hour,
         cnt AS pred
  FROM hourly
),
joined AS (
  SELECT h.event_type, h.hour, h.cnt, p.pred,
         ABS(h.cnt - p.pred) AS resid,
         h.hour >= s.end_hour - INTERVAL {_CONF_EVAL_DAYS} DAY AS is_eval
  FROM hourly h
  JOIN pred p ON h.event_type = p.event_type AND h.hour = p.hour
  CROSS JOIN span s
),
cal AS (SELECT * FROM joined WHERE NOT is_eval),
ncal AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_cal
  FROM cal GROUP BY event_type
),
qhat AS (
  SELECT c.event_type, MIN(c.resid) AS q_hat, MAX(n.n_cal) AS n_cal
  FROM (
    SELECT event_type, resid,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY event_type ORDER BY resid, hour) AS BIGINT) AS r
    FROM cal
  ) c JOIN ncal n ON c.event_type = n.event_type
  WHERE c.r * 100 >= CEIL((n.n_cal + 1) * {100 - _CONF_ALPHA_PCT})
  GROUP BY c.event_type
)
SELECT e.event_type, q.n_cal, q.q_hat,
       CAST(COUNT(*) AS BIGINT) AS n_eval,
       CAST(SUM(CASE WHEN e.resid <= q.q_hat THEN 1 ELSE 0 END) AS BIGINT)
         AS n_covered,
       {sql_stable_round(
           "CAST(SUM(CASE WHEN e.resid <= q.q_hat THEN 1 ELSE 0 END)"
           " AS DOUBLE) / COUNT(*)", 4)} AS coverage
FROM joined e JOIN qhat q ON e.event_type = q.event_type
WHERE e.is_eval
GROUP BY e.event_type, q.n_cal, q.q_hat
"""


# --- Fellegi–Sunter record-linkage readout ----------------------------------
_FS_BLOCK_CHARS = 16
_FS_LEN_BUCKET = 32
_FS_TOK_BUCKET = 8


def q_fs_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter probabilistic record linkage (1969, public),
    evaluated against the normalized-digest duplicate truth: block
    candidate pairs on the raw {b}-char prefix, compare three field
    agreements (length bucket, token-count bucket, first token),
    estimate each field's m/u probabilities from the labeled pairs
    with add-half smoothing (so zero cells can't produce 0/0), and
    emit the per-agreement-pattern likelihood-ratio weight and the
    match decision (ratio > 1). Probabilities are exact smoothed
    rationals; each pattern's ratio is one fixed product/division
    expression over those rationals — identical doubles in both
    engines (determinism here never depends on SUMMATION order, only
    on fixed expressions of exact integers); counts are BIGINT.

    Scale: pairs enumerate within prefix blocks only (the
    blocking_eval-measured candidate space); field stats are 3
    constant-size aggregates; the pattern relation is ≤ 2³ rows."""
    docs = pin(
        load_table(spark, sf_dir, "documents").select(
            "doc_id",
            F.expr(SPARK_NORM_H).alias("dg"),
            F.substring("text", 1, _FS_BLOCK_CHARS).alias("blk"),
            (F.col("n_chars") / _FS_LEN_BUCKET).cast("long").alias("lenb"),
            (F.expr(f"size({SPARK_TOKS})") / _FS_TOK_BUCKET)
            .cast("long")
            .alias("tokb"),
            F.expr(f"try_element_at({SPARK_TOKS}, 1)").alias("w1"),
        )
    )
    pairs = pin(
        docs.alias("a")
        .join(docs.alias("b"), "blk")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            (F.col("a.dg") == F.col("b.dg")).alias("is_match"),
            (F.col("a.lenb") == F.col("b.lenb")).alias("g1"),
            (F.col("a.tokb") == F.col("b.tokb")).alias("g2"),
            (
                F.coalesce(F.col("a.w1") == F.col("b.w1"), F.lit(False))
            ).alias("g3"),
        )
    )
    stats = pairs.groupBy().agg(
        F.sum(F.when(F.col("is_match"), 1).otherwise(0)).alias("nm"),
        F.sum(F.when(~F.col("is_match"), 1).otherwise(0)).alias("nu"),
        *[
            F.sum(
                F.when(F.col("is_match") & F.col(g), 1).otherwise(0)
            ).alias(f"m{g}")
            for g in ("g1", "g2", "g3")
        ],
        *[
            F.sum(
                F.when(~F.col("is_match") & F.col(g), 1).otherwise(0)
            ).alias(f"u{g}")
            for g in ("g1", "g2", "g3")
        ],
    )
    patt = pairs.groupBy("g1", "g2", "g3").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(F.col("is_match"), 1).otherwise(0)).alias("n_matches"),
    )

    def ratio(g: str):
        m = (2 * F.col(f"m{g}") + 1).cast("double") / (
            (2 * F.col("nm") + 2).cast("double")
        )
        u = (2 * F.col(f"u{g}") + 1).cast("double") / (
            (2 * F.col("nu") + 2).cast("double")
        )
        return F.when(F.col(g), m / u).otherwise((1.0 - m) / (1.0 - u))

    joined = patt.crossJoin(F.broadcast(stats))
    lr = ratio("g1") * ratio("g2") * ratio("g3")
    return joined.select(
        "g1",
        "g2",
        "g3",
        "n_pairs",
        "n_matches",
        stable_round(F.log2(lr), 4).alias("weight_log2"),
        (lr > 1.0).alias("decide_match"),
    )


q_fs_linkage.__doc__ = q_fs_linkage.__doc__.format(b=_FS_BLOCK_CHARS)


def _sql_fs_linkage() -> str:
    def ratio(g: str) -> str:
        m = f"(CAST(2 * m{g} + 1 AS DOUBLE) / CAST(2 * nm + 2 AS DOUBLE))"
        u = f"(CAST(2 * u{g} + 1 AS DOUBLE) / CAST(2 * nu + 2 AS DOUBLE))"
        return f"CASE WHEN {g} THEN {m} / {u} ELSE (1.0 - {m}) / (1.0 - {u}) END"

    lr = " * ".join(ratio(g) for g in ("g1", "g2", "g3"))
    return f"""
WITH d AS (
  SELECT doc_id, {SQL_NORM_H} AS dg,
         substring(text, 1, {_FS_BLOCK_CHARS}) AS blk,
         CAST(n_chars // {_FS_LEN_BUCKET} AS BIGINT) AS lenb,
         CAST(len({SQL_TOKS}) // {_FS_TOK_BUCKET} AS BIGINT) AS tokb,
         {SQL_TOKS}[1] AS w1
  FROM documents
),
pairs AS (
  SELECT a.dg = b.dg AS is_match,
         a.lenb = b.lenb AS g1,
         a.tokb = b.tokb AS g2,
         COALESCE(a.w1 = b.w1, FALSE) AS g3
  FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
),
stats AS (
  SELECT CAST(SUM(CASE WHEN is_match THEN 1 ELSE 0 END) AS BIGINT) AS nm,
         CAST(SUM(CASE WHEN NOT is_match THEN 1 ELSE 0 END) AS BIGINT) AS nu,
         CAST(SUM(CASE WHEN is_match AND g1 THEN 1 ELSE 0 END) AS BIGINT) AS mg1,
         CAST(SUM(CASE WHEN is_match AND g2 THEN 1 ELSE 0 END) AS BIGINT) AS mg2,
         CAST(SUM(CASE WHEN is_match AND g3 THEN 1 ELSE 0 END) AS BIGINT) AS mg3,
         CAST(SUM(CASE WHEN NOT is_match AND g1 THEN 1 ELSE 0 END) AS BIGINT) AS ug1,
         CAST(SUM(CASE WHEN NOT is_match AND g2 THEN 1 ELSE 0 END) AS BIGINT) AS ug2,
         CAST(SUM(CASE WHEN NOT is_match AND g3 THEN 1 ELSE 0 END) AS BIGINT) AS ug3
  FROM pairs
),
patt AS (
  SELECT g1, g2, g3, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(CASE WHEN is_match THEN 1 ELSE 0 END) AS BIGINT)
           AS n_matches
  FROM pairs GROUP BY g1, g2, g3
)
SELECT g1, g2, g3, n_pairs, n_matches,
       {sql_stable_round(f"log2({lr})", 4)} AS weight_log2,
       {lr} > 1.0 AS decide_match
FROM patt, stats
"""


# --- interpolated Kneser–Ney bigram LM ---------------------------------------
_KN_TOP = 30


def q_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser–Ney bigram probabilities (Kneser & Ney
    1995 / Chen & Goodman 1998, public) for the corpus's top-{k}
    bigrams — the smoothing that backs off to CONTINUATION counts
    ("how many contexts does this word complete") rather than raw
    frequency, which is why it beats the interpolated-ML bigram LM
    (plans/mining) on unseen pairs. With discount D = 3/4 every term
    is an exact rational: scaling by 4·c(w1)·B gives the all-BIGINT
    numerator p_num = max(4·c12 − 3, 0)·B + 3·N1+after(w1)·
    N1+before(w2); p_kn = p_num / (4·c1·B) is one exact division for
    display. Selection is the integer top-{k} by bigram count.

    Scale: bigram fan-out is one per adjacent token pair; all LM
    relations are vocab- or bigram-type-bounded; continuation counts
    are two grouped aggregates on the bigram-type relation."""
    toks = restore_splits(
        load_table(spark, sf_dir, "documents"), "doc_id"
    ).withColumn("_toks", F.expr(SPARK_TOKS))
    bi = pin(
        toks.select(
            F.explode(
                F.expr(
                    "CASE WHEN size(_toks) < 2 THEN"
                    " cast(array() as array<struct<w1:string,w2:string>>)"
                    " ELSE transform(sequence(0, size(_toks) - 2),"
                    " i -> struct(_toks[i] as w1, _toks[i+1] as w2)) END"
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    c1 = bi.groupBy("w1").agg(F.sum("c12").alias("c1"))
    n1a = bi.groupBy("w1").agg(F.count(F.lit(1)).alias("n1a"))
    n1b = bi.groupBy("w2").agg(F.count(F.lit(1)).alias("n1b"))
    btot = bi.agg(F.count(F.lit(1)).alias("b_types"))
    top = bi.orderBy(F.desc("c12"), "w1", "w2").limit(_KN_TOP)
    joined = (
        top.join(c1, "w1")
        .join(n1a, "w1")
        .join(n1b, "w2")
        .crossJoin(F.broadcast(btot))
    )
    p_num = (
        F.greatest(4 * F.col("c12") - 3, F.lit(0)) * F.col("b_types")
        + 3 * F.col("n1a") * F.col("n1b")
    )
    return joined.select(
        "w1",
        "w2",
        "c12",
        "c1",
        "n1a",
        "n1b",
        "b_types",
        p_num.alias("p_num"),
        stable_round(
            p_num.cast("double")
            / (4 * F.col("c1") * F.col("b_types")).cast("double"),
            8,
        ).alias("p_kn"),
    )


q_kneser_ney_bigram.__doc__ = q_kneser_ney_bigram.__doc__.format(k=_KN_TOP)


SQL_KNESER_NEY_BIGRAM = f"""
WITH toks AS (SELECT doc_id, {SQL_TOKS} AS t FROM documents),
bi AS (
  SELECT t[i] AS w1, t[i + 1] AS w2, CAST(COUNT(*) AS BIGINT) AS c12
  FROM (
    SELECT t, unnest(generate_series(1, len(t) - 1)) AS i FROM toks
    WHERE len(t) >= 2
  )
  GROUP BY 1, 2
),
c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM bi GROUP BY w1),
n1a AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS n1a FROM bi GROUP BY w1),
n1b AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1b FROM bi GROUP BY w2),
btot AS (SELECT CAST(COUNT(*) AS BIGINT) AS b_types FROM bi),
top AS (
  SELECT w1, w2, c12 FROM bi ORDER BY c12 DESC, w1, w2 LIMIT {_KN_TOP}
)
SELECT t.w1, t.w2, t.c12, c1.c1, n1a.n1a, n1b.n1b, b.b_types,
       GREATEST(4 * t.c12 - 3, 0) * b.b_types + 3 * n1a.n1a * n1b.n1b
         AS p_num,
       {sql_stable_round(
           "CAST(GREATEST(4 * t.c12 - 3, 0) * b.b_types"
           " + 3 * n1a.n1a * n1b.n1b AS DOUBLE)"
           " / CAST(4 * c1.c1 * b.b_types AS DOUBLE)", 8)} AS p_kn
FROM top t
JOIN c1 ON t.w1 = c1.w1
JOIN n1a ON t.w1 = n1a.w1
JOIN n1b ON t.w2 = n1b.w2
CROSS JOIN btot b
"""


# --- media perceptual-hash near-dup pairs ------------------------------------
_PHASH_BAND_BITS = 15
_PHASH_MAX_HAMMING = 6


def q_media_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate detection over the media table —
    the image-dedup primitive of multimodal curation (LAION-style
    pHash dedup), run through the REAL decode-stage plumbing: the
    60-bit signature is computed in an Arrow-batched mapInPandas
    worker (operators/multimodal.phash_stub — swap the byte math for
    PIL+DCT and nothing downstream changes), then candidates come
    from 4×{bb}-bit HAMMING BANDS (a pair within distance d < 4 must
    agree on ≥ 1 band — the SimHash banding argument) and are
    verified by exact bit_count(xor) ≤ {mh}. All-integer end to end.

    Scale: the band join's shuffle keys are (band_idx, 15-bit chunk) —
    never payloads, never all-pairs; the verify touches candidate
    pairs only; the mapInPandas stage is embarrassingly parallel."""
    from lab04_spark_streaming_spark.operators.multimodal import (
        media_from_documents,
        phash_stub,
    )

    media = media_from_documents(
        restore_splits(load_table(spark, sf_dir, "documents"), "doc_id")
    )
    ph = pin(phash_stub(media))
    bands = ph.select(
        "media_id",
        "phash",
        F.explode(
            F.expr(
                "transform(sequence(0, 3), j -> named_struct("
                "'j', j, 'b', (phash div shiftleft(cast(1 as bigint),"
                f" j * {_PHASH_BAND_BITS}))"
                f" % shiftleft(cast(1 as bigint), {_PHASH_BAND_BITS})))"
            )
        ).alias("band"),
    ).select("media_id", "phash", "band.j", "band.b")
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), ["j", "b"])
        .filter(F.col("x.media_id") < F.col("y.media_id"))
        .select(
            F.col("x.media_id").alias("id_a"),
            F.col("y.media_id").alias("id_b"),
            F.col("x.phash").alias("pa"),
            F.col("y.phash").alias("pb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("pa").bitwiseXOR(F.col("pb")))
    return cand.select(
        "id_a", "id_b", ham.cast("int").alias("hamming")
    ).filter(F.col("hamming") <= _PHASH_MAX_HAMMING)


q_media_phash_pairs.__doc__ = q_media_phash_pairs.__doc__.format(
    bb=_PHASH_BAND_BITS, mh=_PHASH_MAX_HAMMING
)


def _sql_media_phash_pairs() -> str:
    # Byte-exact oracle (ADVICE r8): the Spark side (phash_stub)
    # hashes the UTF-8 BYTES of the payload, so the oracle must
    # extract bytes, not codepoints — hex(encode(text)) + a 2-char
    # hex slice per byte is DuckDB's way to index into a blob (ord/
    # substr on the string would read codepoints and silently depend
    # on an ASCII-only corpus).
    nb = 60
    byte_at = (
        "CAST(('0x' || substring(hx, CAST(2 * ({p}) + 1 AS INTEGER), 2))"
        " AS BIGINT)"
    )
    return f"""
WITH d AS (
  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n
  FROM documents
),
stats AS (
  SELECT media_id, hx, n,
         CASE WHEN n = 0 THEN 0 ELSE
           list_aggregate(list_transform(generate_series(0, n - 1),
             i -> {byte_at.format(p='i')}), 'sum') // n
         END AS m
  FROM d
),
ph AS (
  SELECT media_id,
         CASE WHEN n = 0 THEN CAST(0 AS BIGINT) ELSE
           CAST(list_aggregate(list_transform(generate_series(0, {nb - 1}),
             i -> CASE WHEN {byte_at.format(
                 p=f'CASE WHEN n > 1 THEN (i * (n - 1)) // {nb - 1}'
                   ' ELSE 0 END')} > m
                  THEN CAST(1 AS BIGINT) << CAST(i AS INTEGER)
                  ELSE CAST(0 AS BIGINT) END), 'sum') AS BIGINT)
         END AS phash
  FROM stats
),
bands AS (
  SELECT media_id, phash, j.j AS j,
         (phash // (CAST(1 AS BIGINT) << CAST(j.j * {_PHASH_BAND_BITS} AS INTEGER)))
           % (CAST(1 AS BIGINT) << {_PHASH_BAND_BITS}) AS b
  FROM ph, (SELECT UNNEST([0, 1, 2, 3]) AS j) j
),
cand AS (
  SELECT DISTINCT x.media_id AS id_a, y.media_id AS id_b,
         x.phash AS pa, y.phash AS pb
  FROM bands x JOIN bands y
    ON x.j = y.j AND x.b = y.b AND x.media_id < y.media_id
)
SELECT id_a, id_b, CAST(bit_count(xor(pa, pb)) AS INTEGER) AS hamming
FROM cand
WHERE bit_count(xor(pa, pb)) <= {_PHASH_MAX_HAMMING}
"""


def specs():
    from lab04_spark_streaming_spark.registry import QuerySpec

    return [
        QuerySpec(
            "ppr_related_parts", q_ppr_related_parts, _sql_ppr_related_parts()
        ),
        QuerySpec("bfs_hops", q_bfs_hops, _sql_bfs_hops()),
        QuerySpec(
            "winnowing_fingerprints",
            q_winnowing_fingerprints,
            _sql_winnowing_fingerprints(),
        ),
        QuerySpec(
            "conformal_interval", q_conformal_interval, SQL_CONFORMAL_INTERVAL
        ),
        QuerySpec("fs_linkage", q_fs_linkage, _sql_fs_linkage()),
        QuerySpec(
            "kneser_ney_bigram", q_kneser_ney_bigram, SQL_KNESER_NEY_BIGRAM
        ),
        QuerySpec(
            "media_phash_pairs", q_media_phash_pairs, _sql_media_phash_pairs()
        ),
    ]
