"""The prefix-sum scale path must be BIT-identical to the naive
sliding-window operators (same exact-decimal arithmetic, different
plan shape).

Comparisons are Counter multisets over full rows (not dicts keyed on
the natural key): a fast-path regression that emitted duplicate rows
for a key would be silently collapsed by a dict and pass.
"""

from __future__ import annotations

from collections import Counter

import pytest

from lab04_spark_streaming_spark.operators.moving_stats import (
    REFERENCE_WINDOWS,
    moving_stats_exploded,
    moving_stats_flat,
)
from lab04_spark_streaming_spark.operators.moving_stats_fast import (
    moving_stats_flat_fast,
    zscore_asof_fast,
)
from lab04_spark_streaming_spark.operators.zscore import zscore_asof
from lab04_spark_streaming_spark.sources.files import load_table


def _btc_ticks(spark):
    """The reference's real price domain: BTCUSDT ticks above 1e5 (their
    squares need 11 integer digits in the Σv² moment), one far above in a
    later slot, and a second key with a negative value and single-tick
    slots."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [
            (1, t0 + dt.timedelta(seconds=1), "BTCUSDT", 108000.0),
            (2, t0 + dt.timedelta(seconds=4), "BTCUSDT", 108012.5),
            (3, t0 + dt.timedelta(seconds=12), "BTCUSDT", 107990.25),
            (4, t0 + dt.timedelta(seconds=95), "BTCUSDT", 250000.0),
            (5, t0 + dt.timedelta(seconds=3), "ETHUSDT", -12.75),
            (6, t0 + dt.timedelta(seconds=47), "ETHUSDT", 2500.5),
        ],
        "event_id long, ts timestamp, event_type string, value double",
    )


# The three short reference windows: the 1h window()'s 360-way Expand
# alone would cost ~10 s per naive plan here.
_BTC_WINDOWS = REFERENCE_WINDOWS[:3]


def test_fast_paths_equal_naive_on_btc_prices(spark):
    """On BTCUSDT prices (:func:`_btc_ticks`), the exploded single
    aggregate and the prefix-sum path must match the naive operator row
    for row."""
    ev = _btc_ticks(spark)
    naive = moving_stats_flat(ev, "ts", ["event_type"], "value", windows=_BTC_WINDOWS)
    s = Counter(tuple(r) for r in naive.collect())
    assert sum(s.values()) > 0
    for other in (moving_stats_flat_fast, moving_stats_exploded):
        df = other(ev, "ts", ["event_type"], "value", windows=_BTC_WINDOWS)
        assert s == Counter(tuple(r) for r in df.collect()), other.__name__


@pytest.mark.parametrize("chunk_slots", [None, 4])
def test_zscore_asof_fast_equals_naive_on_btc_prices(spark, chunk_slots):
    """The prefix-sum z-score must match the naive as-of join on BTCUSDT
    prices both unchunked (the plan the registry picks for short spans)
    and chunked; ``chunk_slots=4`` makes the 95 s fixture's running
    sums and as-of fills carry across several chunks."""
    ev = _btc_ticks(spark)
    naive = moving_stats_flat(ev, "ts", ["event_type"], "value", windows=_BTC_WINDOWS)
    stats = spark.createDataFrame(naive.collect(), naive.schema)
    naive_z = zscore_asof(
        ev, stats, "ts", ["event_type"], "value", id_col="event_id"
    )
    fast_z = zscore_asof_fast(
        ev, "ts", ["event_type"], "value", windows=_BTC_WINDOWS,
        id_col="event_id", chunk_slots=chunk_slots,
    )
    z = Counter(tuple(r) for r in naive_z.collect())
    assert z == Counter(tuple(r) for r in fast_z.collect())
    assert sum(z.values()) > 0


def test_exploded_aggregate_sums_precast_moment_terms(spark):
    """``moving_stats_exploded`` casts each tick's moment terms once,
    below its explodes, and its aggregate sums those columns: a cast
    inside the aggregate would run once per window membership (669 per
    tick for the reference windows)."""
    ev = _btc_ticks(spark)
    df = moving_stats_exploded(ev, "ts", ["event_type"], "value")
    plan = df._jdf.queryExecution().optimizedPlan().toString().splitlines()
    agg = [ln for ln in plan if ln.lstrip("+- :").startswith("Aggregate")]
    assert len(agg) == 1
    assert "sum(_term_s" in agg[0] and "sum(_term_sq" in agg[0]
    assert "decimal(30," not in agg[0]
    below = plan[max(i for i, ln in enumerate(plan) if "Generate" in ln) + 1:]
    casts = ("as decimal(30,4)) AS _term_s", "as decimal(30,8)) AS _term_sq")
    assert all(any(c in ln for ln in below) for c in casts)


@pytest.mark.parametrize("chunk_slots", [None, 4])
def test_prefix_sums_exact_for_four_decimal_values(spark, chunk_slots):
    """Values with 4 decimal places have 8-decimal squares. Adding or
    subtracting two decimal(38,8) running Σv² sums keeps only scale 7, so
    the prefix-sum path must hold its running sums (and chunk carries) at
    precision 37. ``chunk_slots=4`` carries across 10 chunks."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(t0 + dt.timedelta(seconds=3 * i), "BTCUSDT", 1.2345 + 0.0007 * i)
         for i in range(40)],
        "ts timestamp, event_type string, value double",
    )
    wins = REFERENCE_WINDOWS[:2]
    naive = Counter(
        tuple(r)
        for r in moving_stats_flat(ev, "ts", ["event_type"], "value", windows=wins).collect()
    )
    fast = moving_stats_flat_fast(
        ev, "ts", ["event_type"], "value", windows=wins, chunk_slots=chunk_slots
    )
    assert naive == Counter(tuple(r) for r in fast.collect())
    assert sum(naive.values()) == 31


@pytest.mark.slow
def test_moving_stats_flat_fast_equals_naive(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    slow = moving_stats_flat(ev, "ts", ["event_type"], "value")
    fast = moving_stats_flat_fast(ev, "ts", ["event_type"], "value")
    s = Counter(
        (r.timestamp, r.event_type, r.window, r.avg_value, r.std_value)
        for r in slow.collect()
    )
    f = Counter(
        (r.timestamp, r.event_type, r.window, r.avg_value, r.std_value)
        for r in fast.collect()
    )
    assert s == f


@pytest.mark.slow
def test_zscore_asof_fast_equals_naive(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    slow = zscore_asof(
        ev,
        moving_stats_flat(ev, "ts", ["event_type"], "value"),
        "ts",
        ["event_type"],
        "value",
        slide_seconds=10,
        max_stale_slots=1,
        id_col="event_id",
    )
    fast = zscore_asof_fast(
        ev, "ts", ["event_type"], "value", id_col="event_id"
    )
    s = Counter(
        (r.event_id, r.window, r.timestamp, r.zscore_value)
        for r in slow.collect()
    )
    f = Counter(
        (r.event_id, r.window, r.timestamp, r.zscore_value)
        for r in fast.collect()
    )
    assert s == f


def test_zscore_asof_fast_edge_windows_equals_naive(spark, sf_dir):
    """Window sets the relational offset decode must not mishandle:
    a window whose slot-width ≤ max_stale_slots (its start offset
    collides with the hi side) and two windows whose start offsets
    collide with EACH OTHER across stalenesses (20s@st=1 and 30s@st=0
    both probe offset 4). Both were handled by the old pivot and must
    survive the hi/lo join rewrite."""
    wins = [("10s", "10 seconds"), ("20s", "20 seconds"), ("30s", "30 seconds")]
    ev = load_table(spark, sf_dir, "events")
    slow = zscore_asof(
        ev,
        moving_stats_flat(ev, "ts", ["event_type"], "value", windows=wins),
        "ts",
        ["event_type"],
        "value",
        slide_seconds=10,
        max_stale_slots=1,
        id_col="event_id",
    )
    fast = zscore_asof_fast(
        ev, "ts", ["event_type"], "value", windows=wins, id_col="event_id"
    )
    s = Counter(
        (r.event_id, r.window, r.timestamp, r.zscore_value)
        for r in slow.collect()
    )
    f = Counter(
        (r.event_id, r.window, r.timestamp, r.zscore_value)
        for r in fast.collect()
    )
    assert s == f


def test_asof_join_carry_crosses_empty_chunks(spark):
    """A right payload must carry across chunks that contain no right
    rows at all (regression: the carry relation once only had rows for
    chunks with right rows, so left-only chunks lost the fill)."""
    import datetime as dt

    from lab04_spark_streaming_spark.operators.asof import asof_join

    t0 = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [
            (1, t0, "k"),
            # three chunk-widths later (chunk_s=100): chunks 1-2 empty
            (2, t0 + dt.timedelta(seconds=350), "k"),
        ],
        "event_id long, ts timestamp, key string",
    )
    right = spark.createDataFrame(
        [(t0 - dt.timedelta(seconds=5), "k", 9.0)],
        "ts timestamp, key string, v double",
    )
    got = {
        r.event_id: (r.ts_asof, r.v_asof)
        for r in asof_join(
            left, right, "ts", ["key"], ["v"], chunk_s=100
        ).collect()
    }
    assert got[1] == (t0 - dt.timedelta(seconds=5), 9.0)
    assert got[2] == (t0 - dt.timedelta(seconds=5), 9.0)

    # and the tolerance converts a stale match to NULLs, not a drop
    tol = {
        r.event_id: (r.ts_asof, r.v_asof)
        for r in asof_join(
            left, right, "ts", ["key"], ["v"], tolerance_s=60, chunk_s=100
        ).collect()
    }
    assert tol[1] == (t0 - dt.timedelta(seconds=5), 9.0)
    assert tol[2] == (None, None)


@pytest.mark.slow
def test_zscore_grid_via_asof_stale0_equals_naive_grid(spark, sf_dir):
    """The r7 rewiring of q_zscore_grid: exact-grid join == as-of with
    max_stale_slots=0 over slot-quantized ticks. Assert the served
    plan is bit-equal to the naive expansion-stats + exact-grid join
    it replaced (which OOM'd nothing but ran ~80 s at sf0.1)."""
    from pyspark.sql import functions as F

    from lab04_spark_streaming_spark.operators.moving_stats import (
        moving_stats_flat,
    )
    from lab04_spark_streaming_spark.operators.zscore import (
        zscore_exact_grid,
    )
    from lab04_spark_streaming_spark.plans.reference_parity import (
        q_zscore_grid,
    )
    from lab04_spark_streaming_spark.sources.files import load_table

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    ticks = ev.withColumn(
        "ts", (F.floor(F.unix_timestamp("ts") / 10) * 10).cast("timestamp")
    )
    stats = moving_stats_flat(ev, "ts", ["event_type"], "value")
    naive = zscore_exact_grid(
        ticks, stats, "ts", ["event_type"], "value"
    ).select("timestamp", "event_type", "window", "zscore_value")

    from collections import Counter

    a = Counter(tuple(r) for r in q_zscore_grid(spark, sf_dir).collect())
    b = Counter(tuple(r) for r in naive.collect())
    assert a == b and sum(a.values()) > 0
