"""Round-17 wave (built in driver round 9): cluster-quality
evaluation over the k-means family — simplified silhouette and the
Calinski–Harabasz index, both scored on the SAME trained codebook the
IVF/SemDeDup pipeline uses (operators/similarity.kmeans_centroids),
so the numbers evaluate the clustering the engine actually ships.

Everything lives on the shared 1e-7 integer grid: squared distances
are exact BIGINTs, sqrt/divisions are display-path doubles, and every
small-set mean rides per-term decimal casts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lab04_spark_streaming_spark.operators.pinning import pin
from lab04_spark_streaming_spark.functions.guards import (
    sql_stable_round,
    stable_round,
)
from lab04_spark_streaming_spark.operators.similarity import (
    _kmeans_pos,  # noqa: PLC2701 — the shared quantized relation
    kmeans_centroids,
)
from lab04_spark_streaming_spark.plans.pipeline_extras import (
    _SQL_KMEANS_C1,  # the verified unrolled-Lloyd oracle fragment
)
from lab04_spark_streaming_spark.sources.files import load_table

_K = 8


def _dists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cid, dist): exact integer squared L2 to every trained
    centroid — the d2 relation of the kmeans oracle chain."""
    emb = load_table(spark, sf_dir, "embeddings")
    pos = _kmeans_pos(emb, "vec_id", "embedding")
    cent = kmeans_centroids(emb, k=_K, updates=1)
    diff = F.col("x") - F.col("c")
    return pin(
        pos.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "cid")
        .agg(F.sum(diff * diff).alias("dist"))
    )


# --- simplified silhouette ---------------------------------------------------
def q_silhouette_simplified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified silhouette of the trained k-means codebook
    (silhouette: Rousseeuw 1987; the centroid-based simplified form
    is the standard large-scale variant, public — O(n·k) instead of
    the O(n²) pairwise original, which is the only shape that
    survives 100 TB): a(i) = distance to the OWN centroid, b(i) =
    distance to the nearest OTHER centroid, s(i) = (b−a)/max(a,b).
    Both distances are square roots of exact integer-grid BIGINTs
    (identical doubles cross-engine); per-cluster means ride
    per-term decimal casts; the '-1' row is the overall mean — the
    number a training pipeline alerts on when a re-embedding
    degrades cluster structure.

    Scale: one broadcast-centroids distance pass (k·d rows
    broadcast), one k-bounded argmin per vector, two grouped
    means."""
    d = _dists(spark, sf_dir)
    own = d.groupBy("vec_id").agg(
        F.min(F.struct("dist", "cid")).alias("_p")
    ).select(
        "vec_id",
        F.col("_p.cid").alias("cluster"),
        F.col("_p.dist").alias("a2"),
    )
    other = (
        d.join(own, "vec_id")
        .filter(F.col("cid") != F.col("cluster"))
        .groupBy("vec_id")
        .agg(F.min("dist").alias("b2"))
    )
    a = F.sqrt(F.col("a2").cast("double"))
    b = F.sqrt(F.col("b2").cast("double"))
    s = F.when(
        F.greatest(a, b) > 0, (b - a) / F.greatest(a, b)
    ).otherwise(F.lit(0.0))
    scored = own.join(other, "vec_id").select(
        "cluster", s.cast("decimal(20,12)").alias("s")
    )
    per = scored.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        stable_round(
            F.sum("s").cast("double") / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mean_silhouette"),
    )
    overall = scored.agg(
        F.lit(-1).cast("bigint").alias("cluster"),
        F.count(F.lit(1)).alias("n_vecs"),
        stable_round(
            F.sum("s").cast("double") / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mean_silhouette"),
    )
    return per.unionByName(overall)


SQL_SILHOUETTE_SIMPLIFIED = f"""
WITH {_SQL_KMEANS_C1},
d2 AS (
  SELECT p.vec_id, c.cid, CAST(SUM((p.x - c.c) * (p.x - c.c)) AS BIGINT)
           AS dist
  FROM pos p JOIN c1 c ON p.pos = c.pos
  GROUP BY 1, 2
),
own AS (
  SELECT vec_id, cid AS cluster, dist AS a2 FROM (
    SELECT vec_id, cid, dist,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d2) WHERE rn = 1
),
other AS (
  SELECT d.vec_id, MIN(d.dist) AS b2
  FROM d2 d JOIN own o ON d.vec_id = o.vec_id AND d.cid <> o.cluster
  GROUP BY d.vec_id
),
scored AS (
  SELECT o.cluster,
         CAST(CASE WHEN GREATEST(sqrt(CAST(o.a2 AS DOUBLE)),
                                 sqrt(CAST(t.b2 AS DOUBLE))) > 0
              THEN (sqrt(CAST(t.b2 AS DOUBLE)) - sqrt(CAST(o.a2 AS DOUBLE)))
                   / GREATEST(sqrt(CAST(o.a2 AS DOUBLE)),
                              sqrt(CAST(t.b2 AS DOUBLE)))
              ELSE 0.0 END AS DECIMAL(20,12)) AS s
  FROM own o JOIN other t ON o.vec_id = t.vec_id
)
SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       {sql_stable_round(
           "CAST(SUM(s) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)", 6)}
         AS mean_silhouette
FROM scored GROUP BY cluster
UNION ALL
SELECT CAST(-1 AS BIGINT) AS cluster, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       {sql_stable_round(
           "CAST(SUM(s) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)", 6)}
         AS mean_silhouette
FROM scored
"""


# --- Calinski–Harabasz index ---------------------------------------------------
def q_calinski_harabasz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calinski–Harabasz (variance-ratio) index of the trained
    codebook (Calinski & Harabasz 1974, public): CH =
    [B/(k−1)] / [W/(n−k)] with W = Σᵢ ‖xᵢ − c(xᵢ)‖² the exact-BIGINT
    within-cluster sum the assignment already produces, and B =
    Σ_c n_c·‖c_c − μ‖² the between-cluster term against the global
    mean μ (an exact rational per position; the per-position squared
    diffs ride decimal casts). One summary row — the companion number
    to the silhouette that needs no per-vector second pass at all.

    Scale: W falls out of the k-bounded argmin; B is k·d work over
    the broadcast centroid relation."""
    emb = load_table(spark, sf_dir, "embeddings")
    pos = _kmeans_pos(emb, "vec_id", "embedding")
    cent = kmeans_centroids(emb, k=_K, updates=1)
    diff = F.col("x") - F.col("c")
    d = (
        pos.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "cid")
        .agg(F.sum(diff * diff).alias("dist"))
    )
    own = pin(
        d.groupBy("vec_id").agg(
            F.min(F.struct("dist", "cid")).alias("_p")
        ).select(
            "vec_id",
            F.col("_p.cid").alias("cluster"),
            F.col("_p.dist").alias("a2"),
        )
    )
    w_tot = own.agg(
        F.sum("a2").alias("w_ssq"), F.count(F.lit(1)).alias("n")
    )
    n_c = own.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_c"))
    mu = pos.groupBy("pos").agg(
        F.sum("x").alias("sx"), F.count(F.lit(1)).alias("np")
    )
    b_per_c = (
        cent.join(F.broadcast(mu), "pos")
        .select(
            "cid",
            (
                (
                    F.col("c").cast("double")
                    - F.col("sx").cast("double") / F.col("np").cast("double")
                )
                * (
                    F.col("c").cast("double")
                    - F.col("sx").cast("double") / F.col("np").cast("double")
                )
            ).cast("decimal(30,8)").alias("d2"),
        )
        .groupBy("cid")
        .agg(F.sum("d2").cast("double").alias("c_d2"))
    )
    b_tot = (
        b_per_c.join(
            n_c.select(F.col("cluster").alias("cid"), "n_c"), "cid"
        )
        .agg(
            F.sum(
                (F.col("n_c").cast("double") * F.col("c_d2")).cast(
                    "decimal(30,6)"
                )
            )
            .cast("double")
            .alias("b_ssq"),
            F.count(F.lit(1)).alias("k_used"),
        )
    )
    ch = (
        (F.col("b_ssq") / (F.col("k_used") - 1).cast("double"))
        / (
            F.col("w_ssq").cast("double")
            / (F.col("n") - F.col("k_used")).cast("double")
        )
    )
    return w_tot.crossJoin(b_tot).select(
        "n",
        F.col("k_used").alias("k"),
        F.col("w_ssq").cast("bigint").alias("w_ssq"),
        stable_round(
            F.when(
                (F.col("k_used") > 1) & (F.col("n") > F.col("k_used")), ch
            ),
            4,
        ).alias("calinski_harabasz"),
    )


SQL_CALINSKI_HARABASZ = f"""
WITH {_SQL_KMEANS_C1},
d2 AS (
  SELECT p.vec_id, c.cid, CAST(SUM((p.x - c.c) * (p.x - c.c)) AS BIGINT)
           AS dist
  FROM pos p JOIN c1 c ON p.pos = c.pos
  GROUP BY 1, 2
),
own AS (
  SELECT vec_id, cid AS cluster, dist AS a2 FROM (
    SELECT vec_id, cid, dist,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d2) WHERE rn = 1
),
w_tot AS (
  SELECT CAST(SUM(a2) AS BIGINT) AS w_ssq, CAST(COUNT(*) AS BIGINT) AS n
  FROM own
),
n_c AS (
  SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_c FROM own GROUP BY 1
),
mu AS (
  SELECT pos, CAST(SUM(x) AS BIGINT) AS sx, CAST(COUNT(*) AS BIGINT) AS np
  FROM pos GROUP BY pos
),
b_per_c AS (
  SELECT c.cid,
         CAST(SUM(CAST(
           (CAST(c.c AS DOUBLE) - CAST(m.sx AS DOUBLE) / m.np)
           * (CAST(c.c AS DOUBLE) - CAST(m.sx AS DOUBLE) / m.np)
           AS DECIMAL(30,8))) AS DOUBLE) AS c_d2
  FROM c1 c JOIN mu m ON c.pos = m.pos
  GROUP BY c.cid
),
b_tot AS (
  SELECT CAST(SUM(CAST(CAST(n.n_c AS DOUBLE) * b.c_d2 AS DECIMAL(30,6)))
              AS DOUBLE) AS b_ssq,
         CAST(COUNT(*) AS BIGINT) AS k_used
  FROM b_per_c b JOIN n_c n ON b.cid = n.cluster
)
SELECT w.n, b.k_used AS k, w.w_ssq,
       {sql_stable_round(
           "CASE WHEN b.k_used > 1 AND w.n > b.k_used THEN"
           " (b.b_ssq / CAST(b.k_used - 1 AS DOUBLE))"
           " / (CAST(w.w_ssq AS DOUBLE)"
           " / CAST(w.n - b.k_used AS DOUBLE)) END", 4)}
         AS calinski_harabasz
FROM w_tot w CROSS JOIN b_tot b
"""


def specs():
    from lab04_spark_streaming_spark.registry import QuerySpec

    return [
        QuerySpec(
            "silhouette_simplified",
            q_silhouette_simplified,
            SQL_SILHOUETTE_SIMPLIFIED,
        ),
        QuerySpec(
            "calinski_harabasz", q_calinski_harabasz, SQL_CALINSKI_HARABASZ
        ),
    ]
