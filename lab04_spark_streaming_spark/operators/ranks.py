"""Distributed total-order ranking.

``row_number() OVER (ORDER BY ...)`` with no ``PARTITION BY`` funnels
the whole relation through ONE task — fine over a bounded relation
(top-k survivors, char-pair vocab), a scale-killer over an unbounded
one (a web corpus's shingle vocabulary). When the rank genuinely needs
a global total order (e.g. the PPJoin prefix boundary), use the classic
two-pass scheme instead:

  1. range-partition the relation on the order key (RangePartitioner:
     partition i holds a key range strictly below partition i+1's);
  2. rank locally within each range partition;
  3. add per-partition row-count offsets (an N_partitions-sized
     relation — broadcast).

Every step is parallel; nothing larger than one range partition is ever
sorted in a single task. The order key must be a TOTAL order
(deterministic, no ties) — with ties, rows equal across a partition
boundary would receive arbitrary relative ranks run-to-run.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from lab04_spark_streaming_spark.operators.pinning import pin

__all__ = ["global_row_number", "global_ntile"]


def global_row_number(
    df: DataFrame,
    *order: Column | str,
    rank_col: str = "rk",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append ``rank_col`` = 1-based global row number of ``df`` under
    the total order ``order``, without a single-partition window.

    ``order`` accepts column names or Column expressions (e.g.
    ``F.col("df"), F.col("sh")``) and must induce a deterministic total
    order over the rows.
    """
    clash = {"_pid", "_lrk", "_off", rank_col} & set(df.columns)
    if clash:
        raise ValueError(
            f"global_row_number: input already has column(s) "
            f"{sorted(clash)} — rename them or pick another rank_col"
        )
    cols = [F.col(c) if isinstance(c, str) else c for c in order]
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    # The ranged relation is consumed twice (local ranks + offsets) and
    # the two consumers' partition ids MUST agree; RangePartitioner
    # samples its boundaries, so pin one materialization rather than
    # trusting exchange reuse across re-executions.
    ranged = pin(
        df.repartitionByRange(n, *cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    local = ranged.withColumn(
        "_lrk",
        F.row_number().over(Window.partitionBy("_pid").orderBy(*cols)),
    )
    # One row per range partition — the only global window runs over
    # this N_partitions-sized relation, then broadcasts.
    offsets = (
        ranged.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .withColumn(
            "_off",
            F.coalesce(
                F.sum("_cnt").over(
                    Window.orderBy("_pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("_pid", "_off")
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(rank_col, (F.col("_lrk") + F.col("_off")).cast("long"))
        .drop("_pid", "_lrk", "_off")
    )


def global_ntile(
    df: DataFrame,
    n: int,
    *order: Column | str,
    bucket_col: str = "bucket",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append ``bucket_col`` = exact SQL-standard ``ntile(n)`` of
    ``df`` under the total order ``order`` — the distributed twin of
    ``ntile(n) OVER (ORDER BY ...)``, which would otherwise funnel the
    whole relation through one task.

    ntile's bucket assignment is a pure function of (global rank, row
    count): with N rows, the first ``N % n`` buckets hold
    ``ceil(N/n)`` rows and the rest hold ``floor(N/n)``. So the
    single-partition window decomposes into :func:`global_row_number`
    (range-partitioned two-pass rank) plus one broadcast 1-row count
    — bit-identical bucket ids, no global sort in a single task. The
    order must be a deterministic TOTAL order (same contract as
    global_row_number); the bucket is emitted as ``int`` to match
    ``F.ntile``'s IntegerType.
    """
    if n < 1:
        # Mirror native ntile(n)'s analysis-time rejection: n=0 would
        # otherwise surface as a division-by-zero deep in the bucket
        # expression, n<0 as silently nonsensical buckets.
        raise ValueError("global_ntile: n must be >= 1")
    clash = {"_gnt_rk", "_gnt_n", bucket_col} & set(df.columns)
    if clash:
        raise ValueError(
            f"global_ntile: input already has column(s) {sorted(clash)}"
        )
    # Both consumers (rank + count) read one pinned materialization.
    base = pin(df)
    ranked = global_row_number(
        base, *order, rank_col="_gnt_rk", num_partitions=num_partitions
    )
    total = base.agg(F.count(F.lit(1)).alias("_gnt_n"))
    q = F.floor(F.col("_gnt_n") / n).cast("long")  # small-bucket size
    r = (F.col("_gnt_n") - q * n).cast("long")  # number of big buckets
    big_rows = r * (q + 1)  # rows covered by the big buckets
    rk = F.col("_gnt_rk")
    # CASE is lazy in both engines, so the q==0 division in the
    # otherwise-branch is unreachable (N < n puts every row in the
    # first branch: rk <= N = big_rows).
    bucket = F.when(
        rk <= big_rows, F.floor((rk - 1) / (q + 1)) + 1
    ).otherwise(r + F.floor((rk - big_rows - 1) / q) + 1)
    return (
        ranked.crossJoin(F.broadcast(total))
        .withColumn(bucket_col, bucket.cast("int"))
        .drop("_gnt_rk", "_gnt_n")
    )
