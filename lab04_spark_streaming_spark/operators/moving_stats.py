"""Stage-2 operator: moving statistics over N sliding windows.

Re-expression of the reference's ``moving_statistic.py`` (the whole
file, esp. lines 52-118): for each configured sliding window, a
streaming-safe ``groupBy(window(ts, dur, slide), *keys)`` computing
``avg`` and sample ``stddev`` with the reference's exact null guards,
the per-window plans unioned, and optionally re-nested into one
``array<struct>`` row per (timestamp, key) via ``collect_list(struct)``.

Mode-agnostic: the input may be a batch DataFrame (driver correctness
harness over the ``events`` table) or a watermarked streaming DataFrame
(Kafka pipeline, see streaming/pipeline.py) — the plan is identical;
only the sink differs. This is the idiomatic Spark shape: one logical
plan, Catalyst incrementalizes it for streaming.

Scale notes (100 TB):
  * Each window agg shuffles on (window, *keys). All N window plans
    share the SAME slide, so they hash-partition on compatible keys;
    Spark runs partial (map-side) aggregation before the exchange, so
    the shuffle carries one partial row per (partition, window, key),
    not raw ticks. With D/S windows per row the state is D/S rows per
    key per window-kind — bounded, watermark-evicted in streaming.
  * The union of N aggs is N independent shuffles of the SAME input
    scan; Spark reuses the scan via ReusedExchange under AQE. For very
    large N, the explode-based variant (`moving_stats_exploded`) does
    ONE shuffle by materializing the (row × window) expansion first —
    trade bandwidth (D/S dup rows) for shuffle count. Both provided;
    bench picks per workload.
  * ``collect_list`` re-nesting shuffles on (timestamp, *keys); element
    order is non-deterministic so we ``sort_array`` for deterministic
    output (reference emits unsorted — documented deviation for
    testability; SURVEY.md §2 A2).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lab04_spark_streaming_spark.functions.guards import (
    exact_moments,
    stats_from_moments,
)

# Reference window set: moving_statistic.py:54-62 — all share a 10 s
# slide ("same slide to avoid watermark conflicts", :52-53).
REFERENCE_WINDOWS: tuple[tuple[str, str], ...] = (
    ("30s", "30 seconds"),
    ("1m", "1 minute"),
    ("5m", "5 minutes"),
    ("15m", "15 minutes"),
    ("30m", "30 minutes"),
    ("1h", "1 hour"),
)
REFERENCE_SLIDE = "10 seconds"


def _stat_exprs(value_col: str):
    """The two guarded statistics (reference: moving_statistic.py:83-87),
    computed from exact decimal moments (functions/guards.py) so results
    are bit-identical across engines and runs."""
    avg, std = stats_from_moments(*exact_moments(F.col(value_col)))
    return avg.alias("avg_value"), std.alias("std_value")


def _one_window_stats(
    df: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    value_col: str,
    label: str,
    duration: str,
    slide: str,
) -> DataFrame:
    """One sliding-window agg plan (reference: moving_statistic.py:67-91)."""
    avg_e, std_e = _stat_exprs(value_col)
    agged = df.groupBy(F.window(F.col(ts_col), duration, slide), *key_cols).agg(
        avg_e, std_e
    )
    return agged.select(
        F.col("window.end").alias("timestamp"),  # window END (ref :81)
        *key_cols,
        F.lit(label).alias("window"),
        "avg_value",
        "std_value",
    )


def moving_stats_flat(
    df: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    value_col: str,
    windows: Sequence[tuple[str, str]] = REFERENCE_WINDOWS,
    slide: str = REFERENCE_SLIDE,
) -> DataFrame:
    """N sliding-window aggs unioned flat (reference: :67-97, T2+T3+A1).

    Output: (timestamp, *key_cols, window, avg_value, std_value) — one
    row per (window-end, key, window-label).
    """
    plans = [
        _one_window_stats(df, ts_col, key_cols, value_col, label, dur, slide)
        for label, dur in windows
    ]
    out = plans[0]
    for p in plans[1:]:
        out = out.union(p)  # by-position union, schemas constructed identical
    return out


def moving_stats_exploded(
    df: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    value_col: str,
    windows: Sequence[tuple[str, str]] = REFERENCE_WINDOWS,
    slide: str = REFERENCE_SLIDE,
) -> DataFrame:
    """Single-shuffle variant of :func:`moving_stats_flat`.

    Expands each row to its (label, window_end) memberships with an
    inline array + explode (no UDF, no extra scan), then does ONE
    groupBy. At 100 TB this replaces N shuffles of partial aggregates
    with one shuffle of D/S-duplicated rows — wins when N is large or
    the input scan is the bottleneck; see bench.py.

    Semantically identical to the unioned variant (verified in tests).
    """
    slide_s = _duration_seconds(slide)
    exploded = df.withColumn(
        "_w",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(label).alias("label"),
                        F.lit(_duration_seconds(dur)).alias("dur_s"),
                    )
                    for label, dur in windows
                ]
            )
        ),
    )
    # Row with time t belongs to windows ending at e = ceil-to-grid
    # offsets; enumerate ends e in (t, t + D] with e ≡ 0 (mod S).
    exploded = exploded.withColumn(
        "_end_epoch",
        F.explode(
            F.sequence(
                (F.floor(F.unix_timestamp(F.col(ts_col)) / slide_s) + 1) * slide_s,
                F.floor(F.unix_timestamp(F.col(ts_col)) / slide_s) * slide_s
                + F.col("_w.dur_s"),
                F.lit(slide_s),
            )
        ),
    )
    avg_e, std_e = _stat_exprs(value_col)
    return (
        exploded.groupBy(
            F.col("_end_epoch"), F.col("_w.label").alias("window"), *key_cols
        )
        .agg(avg_e, std_e)
        .select(
            F.col("_end_epoch").cast("timestamp").alias("timestamp"),
            *key_cols,
            "window",
            "avg_value",
            "std_value",
        )
    )


def nest_window_stats(
    flat: DataFrame,
    key_cols: Sequence[str],
    value_names: tuple[str, str] = ("avg_value", "std_value"),
) -> DataFrame:
    """A2+N1: re-nest flat per-window rows into one array<struct> row per
    (timestamp, key) (reference: moving_statistic.py:100-113).

    ``collect_list`` order is non-deterministic post-shuffle; we
    ``sort_array`` (struct sort = lexicographic on fields, window label
    first) so output is deterministic — the reference does not sort
    (documented deviation, SURVEY.md §2 A2).
    """
    avg_name, std_name = value_names
    return flat.groupBy("timestamp", *key_cols).agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("window"), F.col(avg_name), F.col(std_name)))
        ).alias("windows")
    )


def _duration_seconds(dur: str) -> int:
    """Parse '30 seconds' / '1 minute' / '1 hour' style durations."""
    n_str, unit = dur.split()
    n = int(n_str)
    unit = unit.rstrip("s")
    return n * {"second": 1, "minute": 60, "hour": 3600}[unit]
