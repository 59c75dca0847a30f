"""Round-16 wave (built in driver round 9): ranking/graph/attribution
completions — Bradley–Terry strength scores from pairwise comparisons
(beside the Mann–Whitney/AUC readout), degree assortativity and
rich-club coefficients of the co-purchase graph (beside triangles,
k-core, LPA and PPR), and data-driven Shapley multi-touch attribution
(beside last-touch and time-decay).

House determinism rules throughout: comparisons and coalition counts
are exact BIGINTs; Shapley weights are exact sixths so the credits
reduce in integers; the tiny BT fixed-point runs a fixed 3 MM
iterations over a |types|²-bounded relation with per-term decimal
reductions; assortativity moments are pure BIGINT sums.
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


def _part_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct undirected co-purchase edges (u < v): parts
    co-occurring in at least one order. Pair generation is a
    per-order self-join — bounded by order width², never parts²
    (same construction as the triangle census, wave9)."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
        )
        # co-partitions on the join key: the distinct and join reuse it
        .repartition(spark.sparkContext.defaultParallelism, "ok")
        .distinct()
    )
    return (
        li.alias("a")
        .join(li.alias("b"), "ok")
        .filter(F.col("a.pk") < F.col("b.pk"))
        .select(F.col("a.pk").alias("u"), F.col("b.pk").alias("v"))
        .distinct()
    )


_EDGES_SQL = """
  SELECT DISTINCT a.pk AS u, b.pk AS v
  FROM (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem) a
  JOIN (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem) b
    ON a.ok = b.ok AND a.pk < b.pk
"""


# --- Bradley–Terry strength scores ---------------------------------------------
_BT_ITERS = 3


def q_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley–Terry strength scores from pairwise comparisons
    (Bradley & Terry 1952; the MM fixed point is Hunter 2004 —
    public; the model behind chess Elo aggregation and modern reward
    -model preference fitting): each user who has BOTH of two event
    types casts one comparison — the type with the strictly higher
    exact per-user mean value wins. The win matrix is exact BIGINT;
    the MM update γ_i ← W_i / Σ_j n_ij/(γ_i+γ_j) runs a fixed
    {it} iterations over the |types|²-bounded matrix with per-term
    decimal casts (order-free reductions), γ⁰ = 1 — identical IEEE
    arithmetic in both engines, so the scores are bit-identical
    without any convergence tolerance. Ranked output.

    Scale: one per-(user, type) aggregate, one per-user self-join
    bounded by |types|² per user, then all iterations run on the
    broadcastable |types|²-relation."""
    per_ut = load_table(spark, sf_dir, "events").groupBy("user_id", "event_type").agg(
        (
            F.sum(F.col("value").cast("decimal(30,6)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("y")
    )
    comp = (
        per_ut.alias("a")
        .join(per_ut.alias("b"), "user_id")
        .filter(F.col("a.event_type") < F.col("b.event_type"))
        .filter(F.col("a.y") != F.col("b.y"))
        .select(
            F.when(F.col("a.y") > F.col("b.y"), F.col("a.event_type"))
            .otherwise(F.col("b.event_type"))
            .alias("winner"),
            F.when(F.col("a.y") > F.col("b.y"), F.col("b.event_type"))
            .otherwise(F.col("a.event_type"))
            .alias("loser"),
        )
    )
    wins = comp.groupBy(
        F.col("winner").alias("i"), F.col("loser").alias("j")
    ).agg(F.count(F.lit(1)).alias("w_ij"))
    # symmetric pair totals n_ij and per-type win totals W_i
    n_pair = pin(
        wins.select("i", "j", "w_ij")
        .unionByName(
            wins.select(
                F.col("j").alias("i"), F.col("i").alias("j"), "w_ij"
            )
        )
        .groupBy("i", "j")
        .agg(F.sum("w_ij").alias("n_ij"))
    )
    wr_ = wins.select(
        F.col("i").alias("wi"), F.col("j").alias("wj"),
        F.col("w_ij").alias("w_w"),
    )
    w_tot = (
        n_pair.join(
            wr_,
            (n_pair.i == wr_.wi) & (n_pair.j == wr_.wj),
            "left_outer",
        )
        .groupBy(F.col("i").alias("t"))
        .agg(F.sum(F.coalesce(F.col("w_w"), F.lit(0))).alias("w"))
    )
    gamma = w_tot.select("t", F.lit(1.0).alias("g"))
    for _ in range(_BT_ITERS):
        gi = gamma.select(F.col("t").alias("i"), F.col("g").alias("gi"))
        gj = gamma.select(F.col("t").alias("j"), F.col("g").alias("gj"))
        denom = (
            n_pair.join(F.broadcast(gi), "i")
            .join(F.broadcast(gj), "j")
            .groupBy(F.col("i").alias("t"))
            .agg(
                F.sum(
                    (
                        F.col("n_ij").cast("double")
                        / (F.col("gi") + F.col("gj"))
                    ).cast("decimal(30,15)")
                )
                .cast("double")
                .alias("den")
            )
        )
        gamma = w_tot.join(denom, "t").select(
            "t",
            F.when(
                F.col("den") > 0,
                F.col("w").cast("double") / F.col("den"),
            )
            .otherwise(F.lit(0.0))
            .alias("g"),
        )
    wr = Window.orderBy(F.desc("g"), "t")
    return gamma.withColumn(
        "rank", F.row_number().over(wr).cast("int")
    ).select(
        "rank",
        F.col("t").alias("event_type"),
        stable_round(F.col("g"), 6).alias("bt_score"),
    )


q_bradley_terry.__doc__ = q_bradley_terry.__doc__.format(it=_BT_ITERS)


def _sql_bradley_terry() -> str:
    # unrolled MM iterations g0 -> g1 -> ... (fixed count, tiny relation)
    its = ""
    prev = "g0"
    for k in range(1, _BT_ITERS + 1):
        its += f""",
den{k} AS (
  SELECT n.i AS t,
         CAST(SUM(CAST(CAST(n.n_ij AS DOUBLE) / (gi.g + gj.g)
                       AS DECIMAL(30,15))) AS DOUBLE) AS den
  FROM n_pair n
  JOIN {prev} gi ON n.i = gi.t
  JOIN {prev} gj ON n.j = gj.t
  GROUP BY n.i
),
g{k} AS (
  SELECT w.t,
         CASE WHEN d.den > 0 THEN CAST(w.w AS DOUBLE) / d.den
              ELSE 0.0 END AS g
  FROM w_tot w JOIN den{k} d ON w.t = d.t
)"""
        prev = f"g{k}"
    return f"""
WITH per_ut AS (
  SELECT user_id, event_type,
         CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*)
           AS y
  FROM events GROUP BY user_id, event_type
),
comp AS (
  SELECT CASE WHEN a.y > b.y THEN a.event_type ELSE b.event_type END
           AS winner,
         CASE WHEN a.y > b.y THEN b.event_type ELSE a.event_type END
           AS loser
  FROM per_ut a JOIN per_ut b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  WHERE a.y <> b.y
),
wins AS (
  SELECT winner AS i, loser AS j, CAST(COUNT(*) AS BIGINT) AS w_ij
  FROM comp GROUP BY winner, loser
),
n_pair AS (
  SELECT i, j, CAST(SUM(w_ij) AS BIGINT) AS n_ij
  FROM (
    SELECT i, j, w_ij FROM wins
    UNION ALL SELECT j AS i, i AS j, w_ij FROM wins
  ) GROUP BY i, j
),
w_tot AS (
  SELECT n.i AS t, CAST(SUM(COALESCE(w.w_ij, 0)) AS BIGINT) AS w
  FROM n_pair n LEFT JOIN wins w ON n.i = w.i AND n.j = w.j
  GROUP BY n.i
),
g0 AS (SELECT t, 1.0 AS g FROM w_tot){its}
SELECT CAST(ROW_NUMBER() OVER (ORDER BY g DESC, t) AS INTEGER) AS rank,
       t AS event_type,
       {sql_stable_round("g", 6)} AS bt_score
FROM {prev}
"""


# --- degree assortativity --------------------------------------------------
def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph (Newman 2002,
    public) — do high-degree parts co-occur with other hubs (r > 0)
    or with the long tail (r < 0)? The Pearson correlation of
    endpoint degrees over the symmetrized edge list; degrees and all
    five moments (n, Σx, Σx², Σxy — the marginals coincide by
    symmetry) are exact BIGINTs, so r is ONE display expression of
    exact integers. One summary row.

    Scale: pair generation per order (width²-bounded); the degree
    join shuffles on node keys; moments reduce the 2|E| endpoint
    rows map-side. The edge pin is ~2 edges per lineitem row — the
    SAME relation whose deserialized pin OOM'd triangle_count's 100x
    probe."""
    edges = pin(_part_edges(spark, sf_dir))
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    pairs = (
        sym.join(deg.select(F.col("node").alias("u"), F.col("d").alias("dx")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("dy")), "v")
    )
    m = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dx").alias("sx"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sx")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return m.select(
        (F.col("n") / 2).cast("bigint").alias("n_edges"),
        stable_round(
            F.when(den > 0, num.cast("double") / den.cast("double")),
            6,
        ).alias("assortativity"),
    )


def _sql_graph_assortativity() -> str:
    return f"""
WITH edges AS ({_EDGES_SQL}),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
  GROUP BY node
),
sym AS (SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges),
pairs AS (
  SELECT du.d AS dx, dv.d AS dy
  FROM sym JOIN deg du ON sym.u = du.node JOIN deg dv ON sym.v = dv.node
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(dx) AS BIGINT) AS sx,
         CAST(SUM(dx * dx) AS BIGINT) AS sxx,
         CAST(SUM(dx * dy) AS BIGINT) AS sxy
  FROM pairs
)
SELECT CAST(n / 2 AS BIGINT) AS n_edges,
       {sql_stable_round(
           "CASE WHEN n * sxx - sx * sx > 0 THEN"
           " CAST(n * sxy - sx * sx AS DOUBLE)"
           " / CAST(n * sxx - sx * sx AS DOUBLE) END", 6)}
         AS assortativity
FROM m
"""


# --- rich-club coefficients -----------------------------------------------
_RICH_KS = [2, 4, 8, 16]


def q_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficients of the co-purchase graph (Colizza et
    al. 2006, public): for each degree threshold k, φ(k) =
    2·E_k / (N_k·(N_k−1)) where N_k nodes have degree > k and E_k
    edges join two such nodes — how densely the hubs talk to each
    other. Every count is an exact BIGINT from one degree relation
    and one per-threshold edge filter; φ is the only division,
    NULL where N_k < 2.

    Scale: the degree relation shuffles on node keys once; the
    4-row threshold grid broadcast-joins against it; edges stream
    map-side against the broadcast hub flags. Both relations are
    pinned: edges is the triangle-count OOM relation (~2 per lineitem
    row), and deg is |parts|-proportional and read three times."""
    edges = pin(_part_edges(spark, sf_dir))
    deg = pin(
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ks = spark.createDataFrame([(k,) for k in _RICH_KS], "k long")
    nk = (
        deg.crossJoin(F.broadcast(ks))
        .filter(F.col("d") > F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_k"))
    )
    ek = (
        edges.join(
            deg.select(F.col("node").alias("u"), F.col("d").alias("du")),
            "u",
        )
        .join(
            deg.select(F.col("node").alias("v"), F.col("d").alias("dv")),
            "v",
        )
        .crossJoin(F.broadcast(ks))
        .filter((F.col("du") > F.col("k")) & (F.col("dv") > F.col("k")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("e_k"))
    )
    return (
        nk.join(ek, "k", "left_outer")
        .select(
            "k",
            "n_k",
            F.coalesce("e_k", F.lit(0)).alias("e_k"),
            stable_round(
                F.when(
                    F.col("n_k") >= 2,
                    F.lit(2.0)
                    * F.coalesce("e_k", F.lit(0)).cast("double")
                    / (
                        F.col("n_k").cast("double")
                        * (F.col("n_k") - 1).cast("double")
                    ),
                ),
                6,
            ).alias("phi"),
        )
    )


def _sql_rich_club() -> str:
    ks = ", ".join(str(k) for k in _RICH_KS)
    return f"""
WITH edges AS ({_EDGES_SQL}),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
  GROUP BY node
),
ks AS (SELECT CAST(UNNEST([{ks}]) AS BIGINT) AS k),
nk AS (
  SELECT k, CAST(COUNT(*) AS BIGINT) AS n_k
  FROM deg CROSS JOIN ks WHERE d > k GROUP BY k
),
ek AS (
  SELECT k, CAST(COUNT(*) AS BIGINT) AS e_k
  FROM edges e
  JOIN deg du ON e.u = du.node
  JOIN deg dv ON e.v = dv.node
  CROSS JOIN ks
  WHERE du.d > k AND dv.d > k
  GROUP BY k
)
SELECT nk.k, nk.n_k, CAST(COALESCE(ek.e_k, 0) AS BIGINT) AS e_k,
       {sql_stable_round(
           "CASE WHEN nk.n_k >= 2 THEN"
           " 2.0 * CAST(COALESCE(ek.e_k, 0) AS DOUBLE)"
           " / (CAST(nk.n_k AS DOUBLE) * CAST(nk.n_k - 1 AS DOUBLE))"
           " END", 6)} AS phi
FROM nk LEFT JOIN ek ON nk.k = ek.k
"""


# --- data-driven Shapley multi-touch attribution ----------------------------
_SHAP_CHANNELS = ["view", "click", "signup"]
_SHAP_WINDOW_S = 3600


def q_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-driven Shapley multi-touch attribution (Shapley 1953;
    the conversion-coalition form is Zhao, Mahboobi & Amin 2018,
    public) — the principled completion of last-touch and time-decay
    (plans/timeseries, wave13): each purchase's coalition is the SET
    of channel types ({ch}) the user touched in the preceding hour;
    v(S) = number of purchases converting with coalition exactly S;
    channel i's credit is the Shapley value over the 3-channel game.
    With |C| = 3 the weights are exact sixths, so 6·φ_i =
    2[v({{i}})−v(∅)] + [v({{i,j}})−v({{j}})] + [v({{i,k}})−v({{k}})]
    + 2[v(C)−v({{j,k}})] is an exact BIGINT — the only doubles are
    the /6 displays. One row per channel plus the coalition census
    is internal.

    Scale: the coalition flags come from one per-user range join
    (purchases × preceding-hour events, bounded by per-user activity,
    the same shape as last-touch attribution); the census is 8 rows;
    the credit arithmetic is constant work."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"),
        F.col("ts").alias("pts"),
        F.col("event_id").alias("pid"),
    )
    touches = ev.filter(
        F.col("event_type").isin(_SHAP_CHANNELS)
    ).select(
        F.col("user_id").alias("tu"),
        F.col("ts").alias("tts"),
        F.col("event_type").alias("ch"),
    )
    flags = (
        purchases.join(
            touches,
            (F.col("pu") == F.col("tu"))
            & (F.col("tts") < F.col("pts"))
            & (
                F.col("tts")
                >= F.col("pts") - F.expr(f"INTERVAL {_SHAP_WINDOW_S} SECONDS")
            ),
            "left_outer",
        )
        .groupBy("pid")
        .agg(
            *[
                F.max(
                    F.when(F.col("ch") == c, 1).otherwise(0)
                ).alias(f"f{i}")
                for i, c in enumerate(_SHAP_CHANNELS)
            ]
        )
    )
    census = flags.groupBy("f0", "f1", "f2").agg(
        F.count(F.lit(1)).alias("v")
    )

    def v(mask: tuple[int, int, int]):
        return F.coalesce(
            F.max(
                F.when(
                    (F.col("f0") == mask[0])
                    & (F.col("f1") == mask[1])
                    & (F.col("f2") == mask[2]),
                    F.col("v"),
                )
            ),
            F.lit(0),
        )

    # 6*phi_i via the exact 3-player Shapley weights (2,1,1,2)/6
    def phi6(i: int):
        j, k = [x for x in range(3) if x != i]

        def m(*on: int):
            mask = [0, 0, 0]
            for x in on:
                mask[x] = 1
            return tuple(mask)

        return (
            2 * (v(m(i)) - v(m()))
            + (v(m(i, j)) - v(m(j)))
            + (v(m(i, k)) - v(m(k)))
            + 2 * (v(m(i, j, k)) - v(m(j, k)))
        )

    agg = census.agg(
        *[phi6(i).alias(f"p6_{i}") for i in range(3)],
        F.sum("v").alias("n_conversions"),
    )
    rows = [
        agg.select(
            F.lit(c).alias("channel"),
            "n_conversions",
            F.col(f"p6_{i}").alias("phi6"),
            stable_round(
                F.col(f"p6_{i}").cast("double") / F.lit(6.0), 6
            ).alias("shapley_credit"),
        )
        for i, c in enumerate(_SHAP_CHANNELS)
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def _sql_shapley_attribution() -> str:
    chans = ", ".join(f"'{c}'" for c in _SHAP_CHANNELS)
    fl = []
    for i, c in enumerate(_SHAP_CHANNELS):
        fl.append(
            f"MAX(CASE WHEN t.ch = '{c}' THEN 1 ELSE 0 END) AS f{i}"
        )
    flags_sql = ",\n         ".join(fl)

    def v(mask):
        cond = " AND ".join(
            f"f{i} = {mask[i]}" for i in range(3)
        )
        return f"COALESCE(MAX(CASE WHEN {cond} THEN v END), 0)"

    def phi6(i):
        j, k = [x for x in range(3) if x != i]

        def m(*on):
            mask = [0, 0, 0]
            for x in on:
                mask[x] = 1
            return mask

        return (
            f"2 * ({v(m(i))} - {v(m())})"
            f" + ({v(m(i, j))} - {v(m(j))})"
            f" + ({v(m(i, k))} - {v(m(k))})"
            f" + 2 * ({v(m(i, j, k))} - {v(m(j, k))})"
        )

    selects = []
    for i, c in enumerate(_SHAP_CHANNELS):
        selects.append(f"""
SELECT '{c}' AS channel, n_conversions,
       CAST(p6_{i} AS BIGINT) AS phi6,
       {sql_stable_round(f"CAST(p6_{i} AS DOUBLE) / 6.0", 6)}
         AS shapley_credit
FROM agg""")
    union = "\nUNION ALL".join(selects)
    return f"""
WITH purchases AS (
  SELECT user_id AS pu, ts AS pts, event_id AS pid
  FROM events WHERE event_type = 'purchase'
),
touches AS (
  SELECT user_id AS tu, ts AS tts, event_type AS ch
  FROM events WHERE event_type IN ({chans})
),
flags AS (
  SELECT p.pid,
         {flags_sql}
  FROM purchases p
  LEFT JOIN touches t
    ON p.pu = t.tu AND t.tts < p.pts
   AND t.tts >= p.pts - INTERVAL {_SHAP_WINDOW_S} SECONDS
  GROUP BY p.pid
),
census AS (
  SELECT f0, f1, f2, CAST(COUNT(*) AS BIGINT) AS v
  FROM flags GROUP BY f0, f1, f2
),
agg AS (
  SELECT CAST(SUM(v) AS BIGINT) AS n_conversions,
         {phi6(0)} AS p6_0,
         {phi6(1)} AS p6_1,
         {phi6(2)} AS p6_2
  FROM census
)
{union}
"""


def specs():
    from lab04_spark_streaming_spark.registry import QuerySpec

    return [
        QuerySpec("bradley_terry", q_bradley_terry, _sql_bradley_terry()),
        QuerySpec(
            "graph_assortativity",
            q_graph_assortativity,
            _sql_graph_assortativity(),
        ),
        QuerySpec("rich_club", q_rich_club, _sql_rich_club()),
        QuerySpec(
            "shapley_attribution",
            q_shapley_attribution,
            _sql_shapley_attribution(),
        ),
    ]
