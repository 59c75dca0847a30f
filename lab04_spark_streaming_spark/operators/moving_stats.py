"""Stage-2 operator: moving statistics over N sliding windows.

Re-expression of the reference's ``moving_statistic.py`` (the whole
file, esp. lines 52-118): for each configured sliding window, a
streaming-safe ``groupBy(window(ts, dur, slide), *keys)`` computing
``avg`` and sample ``stddev`` with the reference's exact null guards,
the per-window plans unioned, and optionally re-nested into one
``array<struct>`` row per (timestamp, key) via ``collect_list(struct)``.

``moving_stats_flat`` (that union) and ``moving_stats_exploded`` take a
batch DataFrame (the oracle correctness harness over the ``events`` table)
or a watermarked streaming DataFrame and emit the same rows; which one
runs depends on the execution mode:
  * Streaming (``streaming/pipeline.stage2_moving_stats``) uses
    ``moving_stats_exploded``: one stateful aggregate over (window end,
    label, *keys) memberships. The window() union plans an Expand of
    D/S projections per window (3+6+30+90+180+360 = 669 for the
    reference set) that a stream re-plans, ships and compiles on every
    micro-batch, runs one scan and one state store per window, and its
    1h/10s Expand is too large for whole-stage codegen.
  * ``entry()`` serves ``moving_stats_exploded`` too, for the codegen
    reason; the registry's batch queries run ``moving_stats_flat`` or
    the prefix-sum paths of ``operators/moving_stats_fast.py``, as
    ``plans/reference_parity._stats_flat`` picks per window set.
  * Each window agg shuffles on (window, *keys) after a partial
    (map-side) aggregation, so the shuffle carries one partial row per
    (partition, window end, key), not raw ticks; the state is D/S rows
    per key per window, watermark-evicted in streaming.
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
    moment_sums,
    moment_terms,
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
    """Single-aggregate variant of :func:`moving_stats_flat`, same rows.

    Expands each row to its (label, window end) memberships with an
    inline array + ``explode(sequence)`` (no UDF, no extra scan), then
    runs ONE groupBy over (end, label, *keys). The plan's size does not
    depend on Σ D/S, unlike the window() union's Expand.

    Streaming: the window end carries the time column's metadata (as
    ``window()`` copies it onto its struct), so a watermark on
    ``ts_col`` evicts state and drops late memberships by window end.
    The end is the only time column the aggregate sees: with ``ts_col``
    also there, Spark's late-row filter could pick it and drop a
    partially late row whole. The output ``timestamp`` carries no
    metadata, like the union's ``window.end``.
    """
    slide_s = _duration_seconds(slide)
    slot = F.floor(F.unix_timestamp(F.col(ts_col)) / slide_s) * slide_s
    # A tick's slot and moment terms get a select of their own: a select
    # that holds an explode evaluates its other columns after it, once
    # per copy of the row (the casts would run once per membership).
    term_s, term_sq = moment_terms(F.col(value_col))
    ticks = df.select(
        slot.alias("_slot"),
        *key_cols,
        F.col(value_col),
        term_s.alias("_term_s"),
        term_sq.alias("_term_sq"),
    )
    labelled = ticks.select(
        "*",
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
        ).alias("_w"),
    )
    # A row at time t belongs to the windows ending at e in (t, t + D]
    # with e ≡ 0 (mod S).
    ends = labelled.select(
        F.explode(
            F.sequence(
                F.col("_slot") + slide_s,
                F.col("_slot") + F.col("_w.dur_s"),
                F.lit(slide_s),
            )
        ).alias("_end_epoch"),
        *key_cols,
        F.col("_w.label").alias("window"),
        F.col(value_col),
        "_term_s",
        "_term_sq",
    )
    memberships = ends.select(
        F.col("_end_epoch")
        .cast("timestamp")
        .alias("timestamp", metadata=df.schema[ts_col].metadata),
        *key_cols,
        "window",
        value_col,
        "_term_s",
        "_term_sq",
    )
    avg, std = stats_from_moments(
        *moment_sums(F.col(value_col), F.col("_term_s"), F.col("_term_sq"))
    )
    return (
        memberships.groupBy("timestamp", "window", *key_cols)
        .agg(avg.alias("avg_value"), std.alias("std_value"))
        .select(
            F.col("timestamp").alias("timestamp", metadata={}),
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
