"""Stage-3 operator: z-score of each tick against its moving statistics.

Re-expression of the reference's ``zscore_calculator.py``: inner
equi-join ticks to the flat stats on (time, key) (T4), compute the
guarded z-score (P4/P8), re-nest (A2).

Two join semantics are provided:

* :func:`zscore_exact_grid` — the reference's literal semantics
  (zscore_calculator.py:103-109): join key is
  ``tick.event_time == stats.timestamp`` where ``stats.timestamp`` is a
  window END on the slide grid, so only ticks whose (100 ms-rounded)
  event time lands exactly on a 10 s boundary ever match (~1 in 100).
  Faithful-but-odd; preserved for parity (SURVEY.md §3.4).

* :func:`zscore_asof` — the *intended* semantics: each tick joins the
  most recent stats row with ``stats.timestamp <= tick time`` (an as-of
  join). Spark has no as-of join operator; this composes one from
  built-ins: equi-join on the quantized grid slot + window-function
  dedup — no UDF, no custom rule (SURVEY.md §7.7a).

Scale notes (100 TB):
  * Both joins are equi-joins on (time-slot, key) → hash-partitioned
    sort-merge join; AQE converts to broadcast when the stats side is
    small (it is: one row per (slot, key, window) — ~6 rows per key per
    10 s). For a known-small stats side, callers can pass
    ``F.broadcast(stats)``.
  * The as-of variant quantizes BOTH sides to the slide grid first, so
    it stays an equi-join (never a range-join explosion); the
    tie-break dedup is a per-key window function over at most D/S rows.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lab04_spark_streaming_spark.functions.guards import safe_zscore


def zscore_exact_grid(
    ticks: DataFrame,
    stats_flat: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    value_col: str,
) -> DataFrame:
    """Reference-literal join: tick time must EQUAL the stats window end
    (zscore_calculator.py:103-109 — see SURVEY.md §3.4 for why this only
    matches grid-aligned ticks). Output flat:
    (timestamp, *keys, window, zscore_value)."""
    cond = (F.col(f"t.{ts_col}") == F.col("s.timestamp")) & F.lit(True)
    for k in key_cols:
        cond = cond & (F.col(f"t.{k}") == F.col(f"s.{k}"))
    joined = ticks.alias("t").join(stats_flat.alias("s"), cond, "inner")
    return joined.select(
        F.col("s.timestamp").alias("timestamp"),
        *[F.col(f"t.{k}").alias(k) for k in key_cols],
        F.col("s.window").alias("window"),
        safe_zscore(
            F.col(f"t.{value_col}"), F.col("s.avg_value"), F.col("s.std_value")
        ).alias("zscore_value"),
    )


def zscore_asof(
    ticks: DataFrame,
    stats_flat: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    value_col: str,
    slide_seconds: int = 10,
    max_stale_slots: int = 1,
    id_col: str | None = None,
) -> DataFrame:
    """Intended semantics (SURVEY.md §7.7a): each tick × each window
    label joins the latest stats with ``stats.timestamp <= tick_ts``.

    Implementation keeps everything equi-join shaped for scale:
      1. quantize the tick to its containing slide slot;
      2. enumerate candidate slots [slot - max_stale_slots, slot]
         (stats are emitted every slot, so the immediately previous
         slot suffices when the stream has no gaps; ``max_stale_slots``
         widens tolerance to gaps);
      3. equi-join on (candidate_slot, key);
      4. keep the newest matched stats row per (tick, window) via a
         row_number window — bounded work: ≤ max_stale_slots+1 rows.
    """
    slot = (F.floor(F.unix_timestamp(F.col(ts_col)) / slide_seconds)).cast("long")
    cands = ticks.withColumn(
        "_cand_end",
        F.explode(
            F.array(
                *[
                    ((slot - F.lit(i)) * slide_seconds).cast("timestamp")
                    for i in range(max_stale_slots + 1)
                ]
            )
        ),
    )
    cond = F.col("t._cand_end") == F.col("s.timestamp")
    for k in key_cols:
        cond = cond & (F.col(f"t.{k}") == F.col(f"s.{k}"))
    joined = cands.alias("t").join(stats_flat.alias("s"), cond, "inner")
    id_parts = [F.col(f"t.{id_col}")] if id_col else []
    pick = Window.partitionBy(
        *id_parts,
        F.col(f"t.{ts_col}"),
        *[F.col(f"t.{k}") for k in key_cols],
        F.col("s.window"),
    ).orderBy(F.col("s.timestamp").desc())
    id_out = [F.col(f"t.{id_col}").alias(id_col)] if id_col else []
    return (
        joined.withColumn("_rn", F.row_number().over(pick))
        .filter(F.col("_rn") == 1)
        .select(
            *id_out,
            F.col(f"t.{ts_col}").alias("timestamp"),
            *[F.col(f"t.{k}").alias(k) for k in key_cols],
            F.col("s.window").alias("window"),
            safe_zscore(
                F.col(f"t.{value_col}"), F.col("s.avg_value"), F.col("s.std_value")
            ).alias("zscore_value"),
        )
    )


def nest_zscores(flat: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """A2: re-nest flat z-score rows into the wire shape
    (reference: zscore_calculator.py:145-154): one row per
    (timestamp, key) with ``zscores: array<struct<window, zscore_value>>``.
    Sorted for determinism (reference doesn't sort)."""
    return flat.groupBy("timestamp", *key_cols).agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("window"), F.col("zscore_value")))
        ).alias("zscores")
    )
