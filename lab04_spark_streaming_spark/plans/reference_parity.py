"""Reference-parity queries: the streaming pipeline's semantics expressed
as batch-equivalent queries over the ``events`` table (SURVEY.md §5).

The streaming pipeline itself lives in streaming/; these queries prove
the OPERATOR semantics (windowed stats, guards, grid join, as-of join,
nesting, JSON codec, watermark late-drop) against a DuckDB oracle.

events stands in for ticks: ts → event_time, event_type → symbol,
value → price (FIXTURES.md §B mapping).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lab04_spark_streaming_spark.functions.guards import (
    sql_exact_avg,
    sql_exact_std,
    sql_stable_round,
    stable_round,
)
from lab04_spark_streaming_spark.operators.moving_stats import (
    REFERENCE_WINDOWS,
    _duration_seconds,
    moving_stats_flat,
    nest_window_stats,
)
from lab04_spark_streaming_spark.operators.moving_stats_fast import (
    CHUNK_SLOTS,
    moving_stats_flat_fast,
    zscore_asof_fast,
)
from lab04_spark_streaming_spark.operators.splits import restore_splits
from lab04_spark_streaming_spark.schemas import EVENT_PROPS_SCHEMA
from lab04_spark_streaming_spark.sources.files import load_table, parquet_ts_span_s

# Window subsets. Oracle queries bound their OUTPUT size so they stay
# collectable under the driver's plain (default-heap) SparkSession at
# sf0.01: the short windows run over the full table; the full 6-window
# set runs over a bounded time slice. Together they cover all six
# durations. (Observed: unbounded 6-window flat output is ~4M rows at
# sf0.01 — kills a 1 GiB driver during collect.)
WINDOWS_ALL = REFERENCE_WINDOWS
WINDOWS_SHORT = REFERENCE_WINDOWS[:3]  # 30s, 1m, 5m


def stats_cte(windows=WINDOWS_ALL, until: str | None = None) -> str:
    """DuckDB CTE mirroring Spark's sliding window(ts, dur, '10 seconds')
    over ``events``: a row at time t belongs to windows ENDING at each
    grid point in (t, t + dur]. avg/std are the exact decimal-moment
    expressions matching operators/moving_stats.py (bit-identical
    doubles, no rounding needed)."""
    values = ", ".join(
        f"('{label}', {_duration_seconds(dur)})" for label, dur in windows
    )
    where = f"WHERE e.ts < TIMESTAMP '{until}'" if until else ""
    return f"""
  w(label, dur_s) AS (VALUES {values}),
  expanded AS (
    SELECT e.event_type, e.value, w.label,
           make_timestamp((CAST(floor(epoch(e.ts) / 10) AS BIGINT) * 10 + s.i)
                          * 1000000) AS window_end
    FROM events e
    CROSS JOIN w
    CROSS JOIN LATERAL (SELECT unnest(generate_series(10, w.dur_s, 10)) AS i) s
    {where}
  ),
  stats AS (
    SELECT window_end AS "timestamp", event_type, label AS "window",
           {sql_exact_avg("value")} AS avg_value,
           {sql_exact_std("value")} AS std_value
    FROM expanded
    GROUP BY 1, 2, 3
  )
"""


_STATS_CTE = stats_cte()

_ZGUARD = """CASE WHEN s.std_value IS NULL OR isnan(s.std_value)
                   OR s.std_value = 0.0
             THEN 0.0 ELSE (t.value - s.avg_value) / s.std_value END"""


def _events(
    spark: SparkSession, sf_dir: str, until: str | None = None
) -> DataFrame:
    df = load_table(spark, sf_dir, "events")
    if until:
        df = df.filter(F.col("ts") < F.lit(until).cast("timestamp"))
    return df


def _chunk_slots(sf_dir: str, until: str | None = None) -> int | None:
    """``chunk_slots`` for a prefix-sum query over ``events`` (10 s
    slots) before ``until``: ``CHUNK_SLOTS`` when the footer's ts span
    covers at least two full chunks, or when the footer has no
    statistics; ``None`` (one ordered pass per key) otherwise. Below two
    chunks the carry stages (two pins, two per-chunk summary windows,
    two broadcast carry joins) buy at most a sliver of parallelism."""
    span_s = parquet_ts_span_s(sf_dir, "events", "ts", until=until)
    if span_s is None or span_s // 10 >= 2 * CHUNK_SLOTS:
        return CHUNK_SLOTS
    return None


def _stats_flat(
    spark: SparkSession,
    sf_dir: str,
    windows=WINDOWS_ALL,
    until: str | None = None,
) -> DataFrame:
    """Cost-based choice between the two bit-identical implementations
    (tests/test_fast_path.py asserts equality):

    * naive window()-expansion costs ≈ rows × Σ(D/S) shuffled rows;
    * prefix-sum scale path costs ≈ range_slots × (labels + 2).

    Measured at sf0.1: short windows over the full month favor naive
    (4.5 s vs 10.6 s), the 6-window set favors prefix sums (2.7 s vs
    15.2 s) — so pick by the expansion factor Σ(D/S). The prefix-sum
    path chunks its scans by :func:`_chunk_slots`. The measurements
    behind each branch are in OPTIMIZATION_r14.md and OPTIMIZATION_r15.md."""
    ev = _events(spark, sf_dir, until)
    expansion = sum(_duration_seconds(dur) // 10 for _, dur in windows)
    if expansion >= 100:
        return moving_stats_flat_fast(
            ev,
            "ts",
            ["event_type"],
            "value",
            windows=windows,
            chunk_slots=_chunk_slots(sf_dir, until),
        )
    # The window() union expands through allocation-free codegen Expand
    # (the exploded form allocates an array per row and scaled worse at
    # 10x). Split restoration pays off only on the full-table scan; on
    # an `until`-bounded slice the extra exchange costs more than the
    # single-split expand it parallelizes. A single-exchange "onepass"
    # union (one groupBy over the unioned Expands) lost at 100x.
    if until is None:
        ev = restore_splits(ev, "event_id")
    return moving_stats_flat(ev, "ts", ["event_type"], "value", windows=windows)


# --- A1+T2+T3: sliding windows avg/stddev, flat ---------------------------
# Short windows × full table; long windows × bounded slice — combined
# coverage of all six reference durations with bounded output size.
def q_moving_stats_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _stats_flat(spark, sf_dir, WINDOWS_SHORT)


SQL_MOVING_STATS_FLAT = f"""
WITH {stats_cte(WINDOWS_SHORT)}
SELECT "timestamp", event_type, "window", avg_value, std_value
FROM stats
"""

_LONG_UNTIL = "2024-01-03 00:00:00"


def q_moving_stats_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _stats_flat(spark, sf_dir, WINDOWS_ALL, until=_LONG_UNTIL)


SQL_MOVING_STATS_LONG = f"""
WITH {stats_cte(WINDOWS_ALL, until=_LONG_UNTIL)}
SELECT "timestamp", event_type, "window", avg_value, std_value
FROM stats
"""


# --- T4 (reference-literal): exact-grid equi-join + z-score ---------------
def q_zscore_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference join semantics (zscore_calculator.py:103-109): tick time
    must equal a stats window end. Raw microsecond ticks never align, so
    the tick side is first quantized to its slide-slot start — the batch
    stand-in for the reference's 100 ms-grid ticks (SURVEY.md §3.4)."""
    ev = _events(spark, sf_dir)
    ticks = ev.withColumn(
        "ts", (F.floor(F.unix_timestamp("ts") / 10) * 10).cast("timestamp")
    )
    # Exact-grid join == as-of with ZERO staleness over slot-quantized
    # ticks: the only candidate slot is the tick's own, and the join
    # key (cand_end == stats window END) is identical — so serve it
    # from the prefix-sum as-of path (driver-proven on default heap by
    # q_zscore_asof over the same full-month 6-window load) instead of
    # the naive 669x window expansion, which made this the slowest
    # query in the repo at sf0.1 (~80 s -> ~4 s) and whose fast-stats
    # sibling (moving_stats_flat_fast) OOMs a 1 GiB session on the
    # full month. Equality with the naive grid join is asserted in
    # tests/test_fast_path.py.
    out = zscore_asof_fast(
        ticks,
        "ts",
        ["event_type"],
        "value",
        max_stale_slots=0,
        id_col="event_id",
        chunk_slots=_chunk_slots(sf_dir),
    )
    return out.select("timestamp", "event_type", "window", "zscore_value")


SQL_ZSCORE_GRID = f"""
WITH {_STATS_CTE},
ticks AS (
  SELECT event_type, value,
         make_timestamp(CAST(floor(epoch(ts) / 10) AS BIGINT) * 10 * 1000000) AS ts
  FROM events
)
SELECT s."timestamp", t.event_type, s."window",
       {_ZGUARD} AS zscore_value
FROM ticks t
JOIN stats s
  ON t.ts = s."timestamp" AND t.event_type = s.event_type
"""


# --- §7.7a: as-of join (intended semantics) -------------------------------
def q_zscore_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Served by the prefix-sum implementation (operators/
    moving_stats_fast.py) — bit-identical to the naive
    operators/zscore.zscore_asof (asserted in tests/test_fast_path.py)
    but without the 669-way sliding-window row expansion; the naive
    plan is 5-6x slower at sf0.1 and widens with scale. Its scans chunk
    by :func:`_chunk_slots`."""
    out = zscore_asof_fast(
        _events(spark, sf_dir),
        "ts",
        ["event_type"],
        "value",
        slide_s=10,
        max_stale_slots=1,
        id_col="event_id",
        chunk_slots=_chunk_slots(sf_dir),
    )
    return out.select(
        "event_id", "timestamp", "event_type", "window", "zscore_value"
    )


SQL_ZSCORE_ASOF = f"""
WITH {_STATS_CTE},
cands AS (
  SELECT e.event_id, e.ts, e.event_type, e.value,
         make_timestamp((CAST(floor(epoch(e.ts) / 10) AS BIGINT) - g.i) * 10
                        * 1000000) AS cand_end
  FROM events e
  CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS i) g
)
SELECT t.event_id, t.ts AS "timestamp", t.event_type, s."window",
       {_ZGUARD} AS zscore_value
FROM cands t
JOIN stats s
  ON t.cand_end = s."timestamp" AND t.event_type = s.event_type
QUALIFY row_number() OVER (
  PARTITION BY t.event_id, s."window" ORDER BY s."timestamp" DESC) = 1
"""


# --- A2+N1+N2+S6: nest → JSON encode (full stage-2 output shape) ----------
def q_moving_stats_nested_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-2 wire shape: one row per (timestamp, key) with the window
    array JSON-encoded (reference: moving_statistic.py:100-118). Stats
    are rounded before nesting so the JSON text is cross-engine stable;
    array sorted by window label for determinism."""
    flat = _stats_flat(spark, sf_dir, WINDOWS_SHORT, until=_NEST_UNTIL).select(
        "timestamp",
        "event_type",
        "window",
        stable_round(F.col("avg_value")).alias("avg_value"),
        stable_round(F.col("std_value")).alias("std_value"),
    )
    return nest_window_stats(flat, ["event_type"]).select(
        "timestamp", "event_type", F.to_json(F.col("windows")).alias("windows_json")
    )


_NEST_UNTIL = "2024-01-08 00:00:00"

SQL_MOVING_STATS_NESTED_JSON = f"""
WITH {stats_cte(WINDOWS_SHORT, until=_NEST_UNTIL)},
rounded AS (
  SELECT "timestamp", event_type, "window",
         {sql_stable_round("avg_value")} AS avg_value,
         {sql_stable_round("std_value")} AS std_value
  FROM stats
)
SELECT "timestamp", event_type,
       to_json(list(struct_pack("window" := "window",
                                avg_value := avg_value,
                                std_value := std_value)
                    ORDER BY "window", avg_value, std_value))::VARCHAR AS windows_json
FROM rounded
GROUP BY 1, 2
"""


# --- T1/T5: watermark late-row drop, batch equivalent ---------------------
_WM_CHUNK = 4096  # event_id range per chunk of the two-level scan


def q_watermark_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch model of the 10 s watermark (moving_statistic.py:47): keep
    rows within 10 s of the max event time seen so far in arrival order
    (arrival order = event_id order in the fixture).

    An arrival-order running max is inherently sequential, but a bare
    ``Window.orderBy(event_id)`` funnels the whole table through ONE
    task. Same cure as moving_stats_fast.cumulative_moments: chunk the
    id axis — each event_id-range chunk computes its local running max
    in parallel, a tiny per-chunk summary relation (one row per chunk)
    carries the exclusive prefix max across chunk boundaries, and
    ``greatest(local, carry)`` reassembles the exact global running
    max. The only single-partition window left is over the n/4096-row
    summary, not the data."""
    ev = _events(spark, sf_dir).select("event_id", "ts", "event_type", "value")
    b = ev.withColumn("_chunk", F.floor(F.col("event_id") / _WM_CHUNK))
    local_w = (
        Window.partitionBy("_chunk")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = b.withColumn("_local_max", F.max("ts").over(local_w))
    carry_w = Window.orderBy("_chunk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    carry = (
        b.groupBy("_chunk")
        .agg(F.max("ts").alias("_chunk_max"))
        .select(
            "_chunk", F.max("_chunk_max").over(carry_w).alias("_carry")
        )
    )
    return (
        local.join(F.broadcast(carry), "_chunk")
        .withColumn(
            "max_ts",
            F.greatest(
                F.col("_local_max"), F.coalesce(F.col("_carry"), F.col("_local_max"))
            ),
        )
        .filter(F.col("ts") >= F.col("max_ts") - F.expr("INTERVAL 10 SECONDS"))
        .select("event_id", "ts", "event_type", "value")
    )


SQL_WATERMARK_DROP = """
WITH flagged AS (
  SELECT event_id, ts, event_type, value,
         max(ts) OVER (ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS max_ts
  FROM events
)
SELECT event_id, ts, event_type, value
FROM flagged
WHERE ts >= max_ts - INTERVAL 10 SECOND
"""


# --- S5: JSON decode + project (from_json ≡ reference parse) --------------
def q_json_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return ev.select(
        "event_id",
        F.from_json(F.col("props"), EVENT_PROPS_SCHEMA).getField("k").alias("k"),
    )


SQL_JSON_DECODE = """
SELECT event_id, CAST(json_extract(props, '$.k') AS INTEGER) AS k
FROM events
"""


# --- S6: JSON encode (to_json(struct(...))) -------------------------------
def q_json_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return ev.select(
        "event_id",
        F.to_json(F.struct(F.col("event_id"), F.col("event_type"))).alias("payload"),
    )


SQL_JSON_ENCODE = """
SELECT event_id,
       to_json(struct_pack(event_id := event_id,
                           event_type := event_type))::VARCHAR AS payload
FROM events
"""


# --- Bonus topics semantics (btc-price-higher/lower) ----------------------
def q_first_higher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming first-crossing state op
    (streaming/state.py; reference setup_transform.py:129-130 declares
    the topics but ships no job). Bucketed range join, horizon 60 s."""
    from lab04_spark_streaming_spark.streaming.state import first_crossing_batch

    return first_crossing_batch(
        _events(spark, sf_dir), "ts", ["event_type"], "value", 60, "higher"
    )


SQL_FIRST_HIGHER = """
WITH t AS (
  SELECT event_type, ts, max(value) AS value
  FROM events GROUP BY 1, 2
)
SELECT a.event_type, a.ts, a.value,
       epoch(MIN(b.ts)) - epoch(a.ts) AS seconds_until
FROM t a
LEFT JOIN t b
  ON b.event_type = a.event_type
 AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 60 SECOND
 AND b.value > a.value
GROUP BY a.event_type, a.ts, a.value
"""


def q_asof_generic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic as-of join (operators/asof.py — the reusable form of the
    §3.4 intended semantics, reference zscore_calculator.py:50-73): for
    every event, the most recent 'spike' (value ≥ 250) in its
    event_type, if within the last hour. Right side pre-aggregated to
    one row per (key, ts); DuckDB twin is a native ASOF LEFT JOIN."""
    from lab04_spark_streaming_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir)
    spikes = (
        ev.filter(F.col("value") >= 250)
        .groupBy("event_type", "ts")
        .agg(F.max("value").alias("spike_value"))
    )
    return asof_join(
        ev.select("event_id", "ts", "event_type", "value"),
        spikes,
        ts_col="ts",
        by=["event_type"],
        value_cols=["spike_value"],
        tolerance_s=3600,
    )


SQL_ASOF_GENERIC = """
WITH spikes AS (
  SELECT event_type, ts, max(value) AS spike_value
  FROM events WHERE value >= 250 GROUP BY 1, 2
)
SELECT e.event_id, e.ts, e.event_type, e.value,
       CASE WHEN s.ts >= e.ts - INTERVAL 3600 SECOND THEN s.ts END AS ts_asof,
       CASE WHEN s.ts >= e.ts - INTERVAL 3600 SECOND THEN s.spike_value END
         AS spike_value_asof
FROM events e
ASOF LEFT JOIN spikes s
  ON e.event_type = s.event_type AND e.ts >= s.ts
"""


def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join (operators/asof.py direction="forward"): for
    every event, the NEXT 'spike' (value ≥ 250) in its event_type, if
    within the following hour — the "next event after" lookup that
    pairs with q_asof_generic's backward form. Same chunked union-fill
    scan, reversed order; DuckDB twin is a native forward ASOF JOIN
    (e.ts <= s.ts)."""
    from lab04_spark_streaming_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir)
    spikes = (
        ev.filter(F.col("value") >= 250)
        .groupBy("event_type", "ts")
        .agg(F.max("value").alias("spike_value"))
    )
    return asof_join(
        ev.select("event_id", "ts", "event_type", "value"),
        spikes,
        ts_col="ts",
        by=["event_type"],
        value_cols=["spike_value"],
        tolerance_s=3600,
        suffix="_next",
        direction="forward",
    )


SQL_ASOF_FORWARD = """
WITH spikes AS (
  SELECT event_type, ts, max(value) AS spike_value
  FROM events WHERE value >= 250 GROUP BY 1, 2
)
SELECT e.event_id, e.ts, e.event_type, e.value,
       CASE WHEN s.ts <= e.ts + INTERVAL 3600 SECOND THEN s.ts END AS ts_next,
       CASE WHEN s.ts <= e.ts + INTERVAL 3600 SECOND THEN s.spike_value END
         AS spike_value_next
FROM events e
ASOF LEFT JOIN spikes s
  ON e.event_type = s.event_type AND e.ts <= s.ts
"""


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic point-in-interval join (operators/ranges.py): spike
    events (value ≥ 250) open a 30-minute interval; every dip (value ≤
    150) of the same event_type inside an interval pairs with it.
    Bucketed into a shuffled equi-join on (event_type, bucket) — no
    BroadcastNestedLoopJoin (asserted in tests/test_plans.py), unlike
    what Spark plans for a raw BETWEEN predicate."""
    from lab04_spark_streaming_spark.operators.ranges import interval_join

    ev = _events(spark, sf_dir)
    intervals = ev.filter(F.col("value") >= 250).select(
        F.col("event_id").alias("spike_id"),
        "event_type",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 1800 SECONDS")).alias("end_ts"),
    )
    points = ev.filter(F.col("value") <= 150).select(
        F.col("event_id").alias("dip_id"), "event_type", "ts"
    )
    pairs = interval_join(
        points,
        intervals,
        by=["event_type"],
        point_ts="ts",
        start_col="start_ts",
        end_col="end_ts",
        bucket_s=1800,
    )
    return pairs.select(
        "spike_id",
        "dip_id",
        "event_type",
        (
            F.unix_timestamp("ts") - F.unix_timestamp("start_ts")
        ).alias("secs_after"),
    )


SQL_INTERVAL_JOIN = """
SELECT a.event_id AS spike_id, b.event_id AS dip_id, a.event_type,
       -- floor each epoch BEFORE subtracting (Spark unix_timestamp
       -- truncates per-timestamp; DuckDB's double->int cast ROUNDS)
       CAST(floor(epoch(b.ts)) - floor(epoch(a.ts)) AS BIGINT) AS secs_after
FROM events a
JOIN events b
  ON b.event_type = a.event_type
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1800 SECOND
WHERE a.value >= 250 AND b.value <= 150
"""


def q_first_lower(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The btc-price-lower half of the reference's declared topic pair
    (setup_transform.py:129-130): comparison flipped, same plan."""
    from lab04_spark_streaming_spark.streaming.state import first_crossing_batch

    return first_crossing_batch(
        _events(spark, sf_dir), "ts", ["event_type"], "value", 60, "lower"
    )


SQL_FIRST_LOWER = """
WITH t AS (
  SELECT event_type, ts, max(value) AS value
  FROM events GROUP BY 1, 2
)
SELECT a.event_type, a.ts, a.value,
       epoch(MIN(b.ts)) - epoch(a.ts) AS seconds_until
FROM t a
LEFT JOIN t b
  ON b.event_type = a.event_type
 AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 60 SECOND
 AND b.value < a.value
GROUP BY a.event_type, a.ts, a.value
"""


def specs():
    from lab04_spark_streaming_spark.registry import QuerySpec

    return [
        QuerySpec("moving_stats_flat", q_moving_stats_flat, SQL_MOVING_STATS_FLAT),
        QuerySpec("moving_stats_long_windows", q_moving_stats_long, SQL_MOVING_STATS_LONG),
        QuerySpec("zscore_grid_join", q_zscore_grid, SQL_ZSCORE_GRID),
        QuerySpec("zscore_asof_join", q_zscore_asof, SQL_ZSCORE_ASOF),
        QuerySpec(
            "moving_stats_nested_json",
            q_moving_stats_nested_json,
            SQL_MOVING_STATS_NESTED_JSON,
        ),
        QuerySpec("watermark_late_drop", q_watermark_drop, SQL_WATERMARK_DROP),
        QuerySpec("json_decode_project", q_json_decode, SQL_JSON_DECODE),
        QuerySpec("json_encode_struct", q_json_encode, SQL_JSON_ENCODE),
        QuerySpec("first_crossing_higher", q_first_higher, SQL_FIRST_HIGHER),
        QuerySpec("first_crossing_lower", q_first_lower, SQL_FIRST_LOWER),
        QuerySpec("asof_join_generic", q_asof_generic, SQL_ASOF_GENERIC),
        QuerySpec("asof_join_forward", q_asof_forward, SQL_ASOF_FORWARD),
        QuerySpec("interval_join_spikes", q_interval_join, SQL_INTERVAL_JOIN),
    ]
