"""The 3-stage streaming pipeline, re-expressed Spark-first.

Stage 2 (reference: moving_statistic.py): ticks → watermark → 6
sliding-window stats → nest → JSON → Kafka `btc-price-moving`,
update mode, 5 s trigger.

Stage 3 (reference: zscore_calculator.py): ticks ⋈ stats (stream-stream
inner equi-join, both sides watermarked) → z-score → nest → JSON →
Kafka `btc-price-zscore`, append mode, 5 s trigger.

The transformation bodies are operator functions the batch path also
runs (operators/moving_stats.py, operators/zscore.py) — the streaming
wrapper only adds watermarks and sinks. Stage 2 uses the one-aggregate
variant, which emits the batch window() union's rows (asserted per
micro-batch in tests/test_streaming.py), so the batch oracle harness
validates the streaming semantics (SURVEY.md §5).

The reference chains multiple stateful operators inside single queries
and must disable Spark's correctness check
(spark.sql.streaming.statefulOperator.checkCorrectness.enabled=false,
moving_statistic.py:21, zscore_calculator.py:24). This engine keeps
each stage a separate query decoupled by topics — the flag is
unnecessary — but exposes ``strict_parity_conf`` for bit-for-bit
reference behavior.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from lab04_spark_streaming_spark.operators.moving_stats import (
    REFERENCE_SLIDE,
    REFERENCE_WINDOWS,
    moving_stats_exploded,
    nest_window_stats,
)
from lab04_spark_streaming_spark.operators.zscore import (
    nest_zscores,
    zscore_exact_grid,
)
from lab04_spark_streaming_spark.schemas import MOVING_STATS_SCHEMA, ZSCORE_SCHEMA
from lab04_spark_streaming_spark.streaming.sources import decode_json

WATERMARK = "10 seconds"  # reference: moving_statistic.py:47
KAFKA_TRIGGER = "5 seconds"  # reference: moving_statistic.py:129
CONSOLE_TRIGGER = "10 seconds"  # reference: moving_statistic.py:139


def strict_parity_conf(spark: SparkSession) -> None:
    """Reference parity flag (T6): allows multi-stateful-operator
    chains exactly as the reference runs them. Off by default — the
    decoupled-stage design doesn't need it."""
    spark.conf.set(
        "spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false"
    )


def stage2_moving_stats(
    ticks: DataFrame,
    ts_col: str = "event_time",
    key_cols: Sequence[str] = ("symbol",),
    value_col: str = "price",
    windows=REFERENCE_WINDOWS,
    slide: str = REFERENCE_SLIDE,
    watermark: str = WATERMARK,
    nested: bool = True,
) -> DataFrame:
    """Watermarked 6-window stats (T1+T2+T3+A1+A2). Works on a
    streaming OR batch DataFrame (withWatermark is a no-op in batch).

    One stateful aggregate over (window end, keys, label) memberships
    (``moving_stats_exploded``): the window() union would re-plan,
    ship and compile a Σ D/S-projection Expand (669 for the reference
    windows) and commit one state store per window on every
    micro-batch. Emits the same rows, late drops and state rows."""
    wm = ticks.withWatermark(ts_col, watermark) if ticks.isStreaming else ticks
    flat = moving_stats_exploded(wm, ts_col, list(key_cols), value_col, windows, slide)
    return nest_window_stats(flat, list(key_cols)) if nested else flat


def stage2_wire(ticks: DataFrame, **kwargs) -> DataFrame:
    """Stage-2 output as `btc-price-moving` JSON values, in the
    reference wire shape ``MOVING_STATS_SCHEMA``: timestamp cast to
    string (Spark default format — reference moving_statistic.py:109)
    and ``windows: [{window, avg_price, std_price}]``. The struct cast
    renames the fields at this boundary only; the batch and streaming
    operators keep ``avg_value``/``std_value``.

    Streaming callers note: the nested shape chains stats-agg →
    collect_list-agg (two stateful operators), which Spark's
    correctness check rejects — the reference disables the check
    (moving_statistic.py:20-21) and so must callers of this wire shape
    (call :func:`strict_parity_conf` first). The flat shape
    (``stage2_moving_stats(nested=False)``) needs no such flag and is
    the recommended streaming output and the shape stage 3 consumes."""
    nested = stage2_moving_stats(ticks, **kwargs)
    return nested.select(
        F.to_json(
            F.struct("timestamp", "symbol", "windows").cast(MOVING_STATS_SCHEMA)
        ).alias("value")
    )


def decode_moving_stats(raw: DataFrame) -> DataFrame:
    """`btc-price-moving` values (:func:`stage2_wire`) → the flat stats
    rows stage 3 joins on: (timestamp, symbol, window, avg_value,
    std_value), as ``stage2_moving_stats(nested=False)`` emits them."""
    return (
        decode_json(raw, MOVING_STATS_SCHEMA)
        .select(
            F.to_timestamp("timestamp").alias("timestamp"),
            "symbol",
            F.inline("windows"),
        )
        .withColumnsRenamed({"avg_price": "avg_value", "std_price": "std_value"})
    )


def stage3_zscore(
    ticks: DataFrame,
    stats_flat: DataFrame,
    ts_col: str = "event_time",
    key_cols: Sequence[str] = ("symbol",),
    value_col: str = "price",
    watermark: str = WATERMARK,
    nested: bool = True,
) -> DataFrame:
    """Stream-stream inner equi-join + z-score (T4), reference key
    semantics (tick time == stats window end — SURVEY.md §3.4; use
    operators/zscore.zscore_asof for the intended as-of semantics).
    Both inputs watermarked 10 s (reference: zscore_calculator.py:61,78)."""
    if ticks.isStreaming:
        ticks = ticks.withWatermark(ts_col, watermark)
    if stats_flat.isStreaming:
        stats_flat = stats_flat.withWatermark("timestamp", watermark)
    flat = zscore_exact_grid(ticks, stats_flat, ts_col, list(key_cols), value_col)
    out = nest_zscores(flat, list(key_cols)) if nested else flat
    return out


def stage3_wire(ticks: DataFrame, stats_flat: DataFrame, **kwargs) -> DataFrame:
    """Stage-3 output as `btc-price-zscore` JSON values, in the
    reference wire shape ``ZSCORE_SCHEMA``: timestamp cast to string
    (reference zscore_calculator.py:151) and
    ``zscores: [{window, zscore_price}]``."""
    nested = stage3_zscore(ticks, stats_flat, **kwargs)
    return nested.select(
        F.to_json(
            F.struct("timestamp", "symbol", "zscores").cast(ZSCORE_SCHEMA)
        ).alias("value")
    )


def stream_stream_outer_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    l_ts: str,
    r_ts: str,
    lower_s: int = 0,
    upper_s: int = 0,
    watermark: str = WATERMARK,
    how: str = "left_outer",
) -> DataFrame:
    """Stream-stream OUTER equi-join with a bounded event-time band —
    the enrich-or-emit-anyway pattern (stage3's inner join drops
    unmatched ticks; production monitoring usually wants them kept
    with NULL stats). Structured Streaming requires both watermarks
    plus a time-interval condition so it can bound the join state AND
    know when an unmatched row is FINAL: a left row emits with NULL
    right columns once the right watermark passes
    ``l_ts + upper_s`` — so outer results are correct, just deferred
    by the watermark. State per side is (band + watermark) × rate,
    evicted continuously.

    ``on`` are the equi keys (must exist on both sides); right-side
    non-key columns collide-checked like enrich_stream_temporal."""
    clash = sorted(
        (set(right.columns) - set(on) - {r_ts}) & set(left.columns)
    )
    if clash:
        raise ValueError(
            f"stream_stream_outer_join: right columns {clash} collide "
            "with left columns — alias them before joining."
        )
    if left.isStreaming:
        left = left.withWatermark(l_ts, watermark)
    if right.isStreaming:
        right = right.withWatermark(r_ts, watermark)
    cond = (
        (F.col(f"r.{r_ts}") >= F.col(f"l.{l_ts}") - F.expr(
            f"INTERVAL {lower_s} SECONDS"
        ))
        & (F.col(f"r.{r_ts}") <= F.col(f"l.{l_ts}") + F.expr(
            f"INTERVAL {upper_s} SECONDS"
        ))
    )
    for k in on:
        cond = (F.col(f"l.{k}") == F.col(f"r.{k}")) & cond
    r_cols = [c for c in right.columns if c not in set(on) and c != r_ts]
    return (
        left.alias("l")
        .join(right.alias("r"), cond, how)
        .select("l.*", *[F.col(f"r.{c}") for c in r_cols])
    )


def kafka_sink_options(
    bootstrap_servers: str, topic: str, checkpoint_dir: str
) -> dict[str, str]:
    """Reference sink option contract (moving_statistic.py:123-131),
    pure-function twin of :func:`kafka_sink` so the options are
    testable without the kafka jars."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "topic": topic,
        "checkpointLocation": checkpoint_dir,
    }


def kafka_sink(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint_dir: str,
    output_mode: str,
    trigger: str = KAFKA_TRIGGER,
) -> DataStreamWriter:
    """S7 (reference: moving_statistic.py:123-131). Caller starts it;
    checkpoint dir is mandatory and configurable (the reference
    hard-codes ./tmp — SURVEY.md §4 flags that as a fix)."""
    w = df.writeStream.format("kafka")
    for k, v in kafka_sink_options(bootstrap_servers, topic, checkpoint_dir).items():
        w = w.option(k, v)
    return w.outputMode(output_mode).trigger(processingTime=trigger)


def console_sink(
    df: DataFrame,
    output_mode: str,
    num_rows: int = 3,
    trigger: str = CONSOLE_TRIGGER,
) -> DataStreamWriter:
    """S8 monitoring sink (reference: moving_statistic.py:134-141)."""
    return (
        df.writeStream.format("console")
        .option("numRows", str(num_rows))
        .option("truncate", "false")
        .outputMode(output_mode)
        .trigger(processingTime=trigger)
    )


def streaming_dedup(
    stream: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    watermark: str = WATERMARK,
) -> DataFrame:
    """Streaming exact dedup: drop repeats of the same key arriving
    within the watermark horizon (``dropDuplicatesWithinWatermark`` —
    state is evicted once the watermark passes, so memory is bounded by
    horizon × key rate; plain dropDuplicates on a stream would keep
    state forever). The streaming twin of operators/dedup.exact_dedup
    for ingest-time dedup of an LLM data feed."""
    wm = stream.withWatermark(ts_col, watermark) if stream.isStreaming else stream
    if stream.isStreaming:
        return wm.dropDuplicatesWithinWatermark(list(key_cols))
    return wm.dropDuplicates(list(key_cols))


def ingest_text_pipeline(
    stream: DataFrame,
    ts_col: str = "ingest_ts",
    text_col: str = "text",
    watermark: str = WATERMARK,
) -> DataFrame:
    """Streaming ingest pipeline for an LLM document feed, composed
    ENTIRELY from the batch operators (design rule 1: one operator
    body, two modes): PII scrub (plans/llm regex set) → quality gates
    (token floor, word-length floor, digit ceiling — same thresholds as
    q_quality_filter) → exact dedup on the scrubbed content hash within
    the watermark horizon. Every stage is a stateless per-row
    projection except the final dedup, whose state Spark bounds by the
    watermark; output is append-able to any sink."""
    from lab04_spark_streaming_spark.operators.textops import expr_tokens
    from lab04_spark_streaming_spark.plans.llm import (
        _PII_EMAIL,
        _PII_PHONE,
        _PII_URL,
    )

    toks = expr_tokens("clean_text")
    scrubbed = stream.withColumn(
        "clean_text",
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(text_col, _PII_URL, "<URL>"),
                _PII_EMAIL,
                "<EMAIL>",
            ),
            _PII_PHONE,
            "<PHONE>",
        ),
    )
    gated = scrubbed.filter(
        F.expr(
            f"size({toks}) >= 10 AND "
            f"aggregate({toks}, 0, (a, t) -> a + length(t)) / size({toks}) >= 3.0 "
            "AND length(regexp_replace(clean_text, '[^0-9]', '')) "
            "/ greatest(length(clean_text), 1) <= 0.2"
        )
    ).withColumn("content_hash", F.md5(F.col("clean_text")))
    return streaming_dedup(gated, ["content_hash"], ts_col, watermark)


def foreach_batch_parquet(
    df: DataFrame, out_dir: str, checkpoint_dir: str
):
    """Production sink pattern: each micro-batch lands as parquet via
    foreachBatch (gives exactly-once via the checkpoint + idempotent
    overwrite-by-batch-id layout, and lets one batch write fan out to
    several destinations)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    return (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def memory_sink_once(df: DataFrame, name: str, output_mode: str) -> StreamingQuery:
    """Test helper: run the stream to completion (availableNow) into an
    in-memory table ``name``, block until done and return the query
    (its ``recentProgress`` holds the per-micro-batch metrics)."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def enrich_stream(
    stream: DataFrame,
    dim: DataFrame,
    on: Sequence[str],
    how: str = "left_outer",
) -> DataFrame:
    """Stream-static enrichment join: attach dimension attributes to a
    streaming fact. Spark re-plans the static side each micro-batch, so
    the dimension may be a view over slowly-refreshing storage; with a
    broadcastable dim this stays a stateless map-side join — no
    watermark, no join state, unlike stream-stream joins
    (stage3_zscore). The canonical ingest-pipeline step for tagging an
    LLM data feed with source/tenant/license metadata before
    dedup/quality filtering."""
    return stream.join(F.broadcast(dim), list(on), how)


def enrich_stream_temporal(
    stream: DataFrame,
    scd2_dim: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    how: str = "left_outer",
    broadcast: bool = True,
) -> DataFrame:
    """Stream-static TEMPORAL enrichment: attach the SCD-2 dimension
    row valid AT each event's timestamp — the streaming twin of
    plans/mining.q_scd2_point_in_time, resolved per arriving fact.
    Join predicate is the equi key plus interval containment
    ``valid_from <= ts AND (ts < valid_to OR valid_to IS NULL)``
    (open current rows have NULL valid_to). Stateless: Spark plans the
    equi part as the hash key with the containment as a residual
    filter and re-reads the static side every micro-batch, so the
    dimension may be the live compacted SCD-2 snapshot
    (q_scd2_incremental's output) — late dimension updates are picked
    up on the next trigger without any join state. ``broadcast=True``
    (default) hints the dimension broadcast — right when the (pruned)
    snapshot fits; pass ``broadcast=False`` for a multi-GB snapshot so
    the planner picks a shuffle join instead of OOMing the driver. At
    100 TB of history, feed the PRUNED snapshot (current + recent
    intervals), not the full history."""
    cond = (F.col(f"d.{valid_from}") <= F.col(f"e.{ts_col}")) & (
        (F.col(f"e.{ts_col}") < F.col(f"d.{valid_to}"))
        | F.col(f"d.{valid_to}").isNull()
    )
    for k in key_cols:
        cond = (F.col(f"e.{k}") == F.col(f"d.{k}")) & cond
    dim_cols = [
        c
        for c in scd2_dim.columns
        if c not in set(key_cols)
    ]
    clash = sorted(set(dim_cols) & set(stream.columns))
    if clash:
        raise ValueError(
            "enrich_stream_temporal: dimension attribute column(s) "
            f"{clash} collide with stream columns — the output would "
            "carry duplicate names and break any downstream "
            "select/write by name. Rename or drop them on the "
            "dimension side (join keys are matched and excluded "
            "automatically)."
        )
    dim_side = F.broadcast(scd2_dim) if broadcast else scd2_dim
    return (
        stream.alias("e")
        .join(dim_side.alias("d"), cond, how)
        .select("e.*", *[F.col(f"d.{c}") for c in dim_cols])
    )


def ohlc_stream(
    stream: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    order_col: str = "event_id",
    watermark: str = "10 seconds",
) -> DataFrame:
    """Streaming twin of the batch hourly OHLC bars
    (plans/timeseries.q_ohlc_bars) — and deliberately the DECLARATIVE
    kind of twin: min_by/max_by/min/max/count/sum are all built-in
    aggregates Structured Streaming supports incrementally, so unlike
    the TWAP twin no applyInPandasWithState is needed; the state per
    (key, hour) is one constant-size aggregation buffer, bounded by
    keys × pending hours regardless of event rate. Append mode emits a
    bar only when the watermark passes its hour end, at which point it
    equals the batch bar on on-time data (asserted in
    tests/test_streaming.py). The hour's value sum runs in exact
    decimal, same as batch."""
    w = F.window(F.col(ts_col), "1 hour")
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.col(key_col), w.alias("_w"))
        .agg(
            F.expr(f"min_by({value_col}, struct({ts_col}, {order_col}))").alias(
                "open"
            ),
            F.max(value_col).alias("high"),
            F.min(value_col).alias("low"),
            F.expr(f"max_by({value_col}, struct({ts_col}, {order_col}))").alias(
                "close"
            ),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col(value_col).cast("decimal(10,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            key_col,
            F.col("_w.start").alias("h"),
            "open",
            "high",
            "low",
            "close",
            "n_events",
            "sum_value",
        )
    )


def cms_counters(df: DataFrame, depth: int = 4, width: int = 256) -> DataFrame:
    """Count-min-sketch counters over a documents relation — batch OR
    stream (design rule #1: one operator body, two modes). The token
    stream fans out ×depth through the md5 universal-hash stack and
    reduces to the depth×width counter grid with one sum aggregate —
    exactly the shape Structured Streaming maintains incrementally
    (complete/update mode, constant state: depth×width longs), which
    is the whole point of a sketch: the batch corpus query
    (plans/corpus.q_heavy_hitters_cms) pre-aggregates word counts
    first as a map-side optimization, but chained aggregations are
    unsupported in streaming — the per-token stack here lands on the
    IDENTICAL counters (asserted in tests/test_streaming.py)."""
    from lab04_spark_streaming_spark.operators.textops import (
        SPARK_TOKS,
        expr_hash_int,
    )

    stack_args = ", ".join(
        f"{j}, {expr_hash_int('w', seed=j)} % {width}" for j in range(depth)
    )
    return (
        df.select(F.explode(F.expr(SPARK_TOKS)).alias("w"))
        .select(F.expr(f"stack({depth}, {stack_args}) as (j, bucket)"))
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def join_streams_left_outer(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    left_ts: str,
    right_ts: str,
    tolerance: str = "30 seconds",
    watermark: str = "10 seconds",
) -> DataFrame:
    """Stream-stream LEFT OUTER equi-join with an event-time band —
    the join mode the inner stage-3 join (stage3_zscore) can't cover:
    a left row with no right match within ±tolerance is still emitted
    (right side NULL) once the watermark passes its eligibility bound.
    Both watermarks plus the time-range predicate are REQUIRED — they
    are what lets Spark expire join state and know when an unmatched
    left row can never match, bounding state by rate × (tolerance +
    watermark) instead of the whole stream. The canonical enrich-
    without-dropping shape: ticks tagged with a slow side-channel
    (trade flags, quality labels) that may simply be absent."""
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[key_col] == rw[key_col])
        & (rw[right_ts] >= F.expr(f"{left_ts} - interval {tolerance}"))
        & (rw[right_ts] <= F.expr(f"{left_ts} + interval {tolerance}"))
    )
    return lw.join(rw, cond, "leftOuter").select(
        lw[key_col].alias(key_col),
        lw[left_ts].alias(left_ts),
        *[c for c in rw.columns if c != key_col],
    )


def hll_dau_stream(
    stream: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    watermark: str = "10 seconds",
) -> DataFrame:
    """Streaming hourly approximate-distinct-users — the sketch the
    batch q_hll_dau_hourly (plans/mining.py) maintains incrementally:
    64 conditional MAX aggregates are algebraic, so the whole HLL
    register grid is ONE stateful windowed aggregation with a
    constant-size buffer per (window) — the shape count_distinct can
    never have on a stream. The estimate is a stateless projection
    over the aggregated registers; append mode emits each hour once
    the watermark passes its end, at which point the registers — and
    therefore the md5-derived estimate — equal the batch computation
    bit-for-bit (asserted in tests/test_streaming.py)."""
    from lab04_spark_streaming_spark.plans.mining import (
        hll_dau_agg_columns,
        hll_dau_estimate_cols,
        hll_dau_prepare,
    )

    prepared = hll_dau_prepare(
        stream.withWatermark(ts_col, watermark),
        f"cast({user_col} as string)",
    )
    regs = prepared.groupBy(F.window(F.col(ts_col), "1 hour")).agg(
        *hll_dau_agg_columns()
    )
    return regs.select(
        F.col("window.start").alias("hour_start"), *hll_dau_estimate_cols()
    )


def srm_stream(
    stream: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    watermark: str = "10 seconds",
) -> DataFrame:
    """Streaming twin of the wave-12 sample-ratio-mismatch guardrail
    (plans/wave12.q_srm_check, hourly instead of daily) — SRM
    evaluated where an experimentation platform actually needs it, on
    the live assignment stream, so a broken ramp is caught within an
    hour instead of at the end-of-day batch: the unit is the DISTINCT
    user per hour per arm (dropDuplicatesWithinWatermark on the
    (hour, user) key), the split test is the same all-integer
    cross-multiplied chi-square flag as batch
    ((n0-n1)^2 * den > num * (n0+n1), chi-square(1) at alpha=0.05),
    and append mode emits each hour once the watermark passes its
    end, at which point counts and flag equal the batch computation
    on admitted rows bit-for-bit (asserted in tests/test_streaming.py).

    The dedup watermark is ``1 hour + watermark``, NOT ``watermark``:
    dropDuplicatesWithinWatermark only guarantees dedup of repeats
    whose event times differ by less than its delay, and two sightings
    of one user inside the same hour can be up to an hour apart — a
    10 s dedup horizon would double-count a user who re-appears later
    in the hour across micro-batches (after dedup-state expiry) and
    could false-flag SRM.  The cost is latency, not state shape: each
    hour finalizes once the watermark (max event time − 1h − lateness)
    passes its end, i.e. roughly one window later than a lateness-only
    delay would emit.  Multi-micro-batch re-appearance is pinned by
    test_srm_stream_dedup_across_microbatches.

    State: the per-(hour, user) dedup keys inside the 1h+lateness
    horizon plus one count pair per open hour."""
    from lab04_spark_streaming_spark.functions.guards import stable_round
    from lab04_spark_streaming_spark.plans.wave12 import (
        _SRM_CHI2_DEN,
        _SRM_CHI2_NUM,
    )

    # Interval literals compose textually: "10 seconds" → "1 hour 10
    # seconds" (the window length plus the allowed lateness).
    dedup_horizon = f"1 hour {watermark}"
    deduped = (
        stream.select(
            F.col(ts_col),
            F.date_trunc("hour", F.col(ts_col)).alias("_hour"),
            (F.col(user_col) % 2).alias("_arm"),
            F.col(user_col).alias("_uid"),
        )
        .withWatermark(ts_col, dedup_horizon)
        .dropDuplicatesWithinWatermark(["_hour", "_uid"])
    )
    agg = deduped.groupBy(F.window(F.col(ts_col), "1 hour")).agg(
        F.sum(F.when(F.col("_arm") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("_arm") == 1, 1).otherwise(0)).alias("n1"),
    )
    diff2 = (F.col("n0") - F.col("n1")) * (F.col("n0") - F.col("n1"))
    tot = F.col("n0") + F.col("n1")
    return agg.select(
        F.col("window.start").alias("hour_start"),
        "n0",
        "n1",
        (diff2 * _SRM_CHI2_DEN > F.lit(_SRM_CHI2_NUM) * tot).alias(
            "srm_flag"
        ),
        stable_round(
            F.when(tot > 0, diff2.cast("double") / tot.cast("double")), 6
        ).alias("chi2"),
    )
