"""First-crossing operator — the reference's declared-but-unbuilt bonus
topics ``btc-price-higher`` / ``btc-price-lower``
(setup_transform.py:129-130; semantics inferred per SURVEY.md §1.3):
for each tick, how long until the price first moves strictly
higher (resp. lower), within a bounded horizon.

Two implementations with identical semantics:

* :func:`first_crossing_stream` — true streaming state via
  ``applyInPandasWithState`` (grouped per key, event-time timeout).
  State = the still-unresolved ticks; each micro-batch resolves what it
  can and expires ticks older than the horizon. State size is bounded
  by horizon × tick rate per key.
* :func:`first_crossing_batch` — the batch/oracle twin: a bucketed
  range join (each row joins candidate buckets k, k+1 on an equi key,
  then filters the time range) + min-aggregation. The bucketing keeps
  it an EQUI join — no nested-loop explosion, scales like any hash
  join. This is the general recipe for range joins at 100 TB.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from lab04_spark_streaming_spark.operators.pinning import pin
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

CROSSING_OUTPUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
        StructField("seconds_until", DoubleType()),  # null = never within horizon
    ]
)

def first_crossing_batch(
    df: DataFrame,
    ts_col: str,
    key_cols: list[str],
    value_col: str,
    horizon_s: int = 60,
    direction: str = "higher",
) -> DataFrame:
    """Seconds until the first strictly higher/lower value within
    ``horizon_s``, per key. Bucketed range join: rows in horizon-sized
    bucket k can only be crossed by rows in buckets {k, k+1}, so the
    join key is (key, candidate_bucket) — a plain shuffled equi-join.

    Duplicate-timestamp ticks collapse to ONE row per (key, ts) with
    the max value — the deterministic tie rule shared with
    :func:`first_crossing_stream`, so stream ≡ batch holds even when
    the input carries same-(key, ts) ticks with different values."""
    cmp_ok = (
        (F.col("b.value") > F.col("a.value"))
        if direction == "higher"
        else (F.col("b.value") < F.col("a.value"))
    )
    bucket = lambda c: F.floor(F.unix_timestamp(F.col(c)) / horizon_s)  # noqa: E731
    base = df.groupBy(
        *key_cols, F.col(ts_col).alias("ts")
    ).agg(F.max(F.col(value_col)).alias("value"))
    # Both join sides consume base; without this the scan + dedup
    # shuffle runs twice (broadcast vs shuffle exchange types defeat
    # ReuseExchange). Lazy local checkpoint materializes it once at
    # first action and shares the partitions.
    base = pin(base)
    left = base.select(
        *key_cols,
        "ts",
        "value",
        F.explode(F.array(bucket("ts"), bucket("ts") + 1)).alias("cand_bucket"),
    )
    right = base.select(
        *key_cols,
        "ts",
        "value",
        bucket("ts").alias("cand_bucket"),
    )
    cond = F.col("a.cand_bucket") == F.col("b.cand_bucket")
    for k in key_cols:
        cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
    cond = (
        cond
        & (F.col("b.ts") > F.col("a.ts"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr(f"INTERVAL {horizon_s} SECONDS"))
        & cmp_ok
    )
    joined = left.alias("a").join(right.alias("b"), cond, "left")
    return (
        joined.groupBy(
            *[F.col(f"a.{k}").alias(k) for k in key_cols],
            F.col("a.ts").alias("ts"),
            F.col("a.value").alias("value"),
        )
        .agg(F.min(F.col("b.ts")).alias("first_cross_ts"))
        .select(
            *key_cols,
            "ts",
            "value",
            (
                (
                    F.col("first_cross_ts").cast("double")
                    - F.col("ts").cast("double")
                )
            ).alias("seconds_until"),
        )
    )


def first_crossing_stream(
    ticks: DataFrame,
    ts_col: str,
    key_col: str,
    value_col: str,
    horizon_s: int = 60,
    direction: str = "higher",
    watermark: str = "10 seconds",
) -> DataFrame:
    """Streaming twin via applyInPandasWithState (T-state, SURVEY.md
    §7.7b). Each group's state holds the recent tick tail; a tick's
    answer is EMITTED only once the event-time watermark makes it
    final, so out-of-order arrivals admissible under the watermark can
    never contradict an already-emitted row — batch ≡ stream exactly:

    * a tick with its first known crossing at t2 is final when
      wm ≥ t2 — any still-admissible arrival has event time > wm ≥ t2,
      so no EARLIER crossing can appear;
    * a tick with no known crossing is final (emits null) when
      wm > t + horizon — later arrivals are all out of horizon.

    Already-emitted rows stay in state while they can still serve as
    the crossing for an older pending tick (t_r within any pending
    tick's horizon); state is pruned past that, so its size stays
    bounded by horizon × tick rate per key."""
    fn = _first_crossing_state_fn(horizon_s, direction)

    prepared = ticks.select(
        F.col(key_col).alias("_key"),
        (F.unix_micros(F.col(ts_col))).alias("_ts_us"),
        F.col(value_col).cast("double").alias("_value"),
        F.col(ts_col).alias("_event_time"),
    ).withWatermark("_event_time", watermark)

    return prepared.groupBy("_key").applyInPandasWithState(
        fn,
        outputStructType=CROSSING_OUTPUT_SCHEMA,
        stateStructType=StructType(
            [
                StructField("ts_us", _array_of(LongType())),
                StructField("value", _array_of(DoubleType())),
                StructField("emitted", _array_of(BooleanType())),
            ]
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def _first_crossing_state_fn(horizon_s: int, direction: str):
    """State-transition function behind :func:`first_crossing_stream`,
    module-level so arrival-order/micro-batch-split fuzzing can drive
    it directly with a stubbed GroupState
    (tests/test_streaming_fuzz.py)."""
    higher = direction == "higher"
    hor_us = horizon_s * 1_000_000

    def fn(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            ts_us, vals, emitted = state.get
            rows = {
                int(t): (float(v), bool(e))
                for t, v, e in zip(ts_us, vals, emitted)
            }
        else:
            rows = {}

        for pdf in batches:
            for t, v in zip(pdf["_ts_us"], pdf["_value"]):
                t = int(t)
                v = float(v)
                if t not in rows:
                    rows[t] = (v, False)
                elif not rows[t][1] and v > rows[t][0]:
                    # Deterministic tie rule (shared with the batch twin):
                    # duplicate-(key, ts) ticks collapse to the MAX value,
                    # independent of micro-batch/partition arrival order.
                    # Dups of already-emitted ticks are by definition past
                    # the watermark (the tick was final) — dropped as late.
                    rows[t] = (v, False)

        wm_us = state.getCurrentWatermarkMs() * 1000
        all_rows = sorted((t, v, e) for t, (v, e) in rows.items())
        out: list[tuple[int, float, float | None]] = []
        pending_final_us: list[int] = []  # when each pending row finalizes
        for i, (t, v, emitted_flag) in enumerate(all_rows):
            if emitted_flag:
                continue
            hit_us = None
            for t2, v2, _ in all_rows[i + 1 :]:
                if t2 - t > hor_us:
                    break
                if (v2 > v) if higher else (v2 < v):
                    hit_us = t2
                    break
            if hit_us is not None and hit_us <= wm_us:
                out.append((t, v, (hit_us - t) / 1e6))
                rows[t] = (v, True)
            elif hit_us is None and t + hor_us < wm_us:
                out.append((t, v, None))
                rows[t] = (v, True)
            else:
                pending_final_us.append(
                    hit_us if hit_us is not None else t + hor_us
                )

        # Prune: keep pending rows, plus emitted rows still inside some
        # pending tick's horizon (they may be that tick's crossing).
        pending_ts = [t for t, (v, e) in rows.items() if not e]
        if pending_ts:
            oldest = min(pending_ts)
            keep = sorted(
                (t, v, e) for t, (v, e) in rows.items() if e is False or t > oldest
            )
            state.update((
                [t for t, _, _ in keep],
                [v for _, v, _ in keep],
                [e for _, _, e in keep],
            ))
            # Wake when the earliest pending answer becomes final
            # (strictly above the current watermark, per the API).
            state.setTimeoutTimestamp(
                max(min(pending_final_us) // 1000, wm_us // 1000 + 1)
            )
        elif state.exists:
            state.remove()

        if out:
            yield pd.DataFrame(
                {
                    "key": [str(key[0])] * len(out),
                    "ts": [pd.Timestamp(t, unit="us") for t, _, _ in out],
                    "value": [v for _, v, _ in out],
                    "seconds_until": [s for _, _, s in out],
                }
            )

    return fn


def _array_of(t):
    from pyspark.sql.types import ArrayType

    return ArrayType(t)


SESSION_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_id", LongType()),
        StructField("n_events", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
    ]
)


def sessionize_stream(
    events: DataFrame,
    ts_col: str,
    key_col: str,
    gap_s: int = 1800,
    watermark: str = "10 seconds",
    counter_ttl_s: int | None = None,
) -> DataFrame:
    """Streaming twin of the batch gap-sessionization
    (plans/analytics.q_sessionize) via ``applyInPandasWithState`` —
    custom session semantics the built-in ``session_window`` can't
    express ordinal ids for. A session is EMITTED only once the
    event-time watermark passes ``session_end + gap``: any
    still-admissible arrival has event time > wm, so it can neither
    extend nor bridge into the session — batch ≡ stream exactly,
    including the ordinal ``session_id``: sessions of one key finalize
    strictly in chronological order (a later session's finality bound
    exceeds an earlier one's), so a per-key counter in state reproduces
    the batch running ``sum(new_session)`` numbering.

    Gap comparisons use second-truncated event times (the batch twin
    compares ``cast(ts as long)``); session_start/end keep microsecond
    precision. State = the pending (unemitted) event times (bounded by
    gap × event rate per key) plus, for keys whose sessions have all
    been emitted, a two-scalar ordinal counter retained without any
    timeout (woken only by new data) so future sessions continue the
    batch-equivalent numbering.

    The default counter retention is forever — state grows with the
    total key cardinality of the stream's lifetime (2 scalars/key; see
    PARITY.md "Streaming state retention"). Pass ``counter_ttl_s`` to
    expire an idle key's counter once the watermark passes
    ``last activity + counter_ttl_s``: state becomes bounded by the
    active-key set, at the cost that a key returning after expiry
    restarts its ``session_id`` numbering at 0 (batch/stream ordinal
    parity then only holds within one TTL window)."""
    fn = _sessionize_state_fn(gap_s, counter_ttl_s)

    prepared = events.select(
        F.col(key_col).alias("_key"),
        F.unix_micros(F.col(ts_col)).alias("_ts_us"),
        F.col(ts_col).alias("_event_time"),
    ).withWatermark("_event_time", watermark)

    return prepared.groupBy("_key").applyInPandasWithState(
        fn,
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=StructType(
            [
                StructField("ts_us", _array_of(LongType())),
                StructField("next_id", LongType()),
            ]
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def _sessionize_state_fn(gap_s: int, counter_ttl_s: int | None = None):
    """State-transition function behind :func:`sessionize_stream`,
    module-level so arrival-order/micro-batch-split fuzzing can drive
    it directly with a stubbed GroupState
    (tests/test_streaming_fuzz.py)."""

    def fn(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            ts_stored, next_id = state.get
            ts_list = list(ts_stored)
        else:
            ts_list, next_id = [], 0
        for pdf in batches:
            ts_list.extend(int(t) for t in pdf["_ts_us"])
        ts_list.sort()

        # TTL expiry wake-up: no pending events (finality wake-ups always
        # carry pending state) and no new data → the idle counter's TTL
        # elapsed; drop the two scalars. A later event of this key starts
        # a fresh state with session_id renumbered from 0.
        if counter_ttl_s is not None and state.hasTimedOut and not ts_list:
            state.remove()
            return

        wm_us = state.getCurrentWatermarkMs() * 1000
        sessions: list[list[int]] = []
        for t in ts_list:
            # batch twin: new session when second-truncated gap > gap_s
            if sessions and (
                t // 1_000_000 - sessions[-1][-1] // 1_000_000 > gap_s
            ):
                sessions.append([t])
            elif sessions:
                sessions[-1].append(t)
            else:
                sessions = [[t]]

        # Finality must use the SAME second-truncated gap rule as
        # extension: an admissible event at time t extends a session
        # ending at e iff t//1s − e//1s ≤ gap_s, which is possible
        # while t < (e//1s + gap_s + 1) seconds. Emit only once the
        # watermark has passed that bound — a µs-precision bound
        # (e + gap_us) finalizes up to a second too early and a
        # sub-second admissible arrival could still extend or bridge.
        def final_bound_us(end_us: int) -> int:
            return (end_us // 1_000_000 + gap_s + 1) * 1_000_000

        out: list[tuple[int, int, int, int]] = []
        pending: list[int] = []
        for s in sessions:
            # Finality is prefix-ordered: if a later session satisfies
            # this bound, every earlier one already did.
            if not pending and final_bound_us(s[-1]) <= wm_us:
                out.append((next_id, len(s), s[0], s[-1]))
                next_id += 1
            else:
                pending.extend(s)

        if pending:
            state.update((pending, next_id))
            # earliest pending session's current end bounds its finality
            first_pending_end = next(
                s[-1] for s in sessions if s and s[0] == pending[0]
            )
            state.setTimeoutTimestamp(
                max(final_bound_us(first_pending_end) // 1000, wm_us // 1000 + 1)
            )
        elif next_id:
            # All sessions emitted; keep the ordinal counter so a future
            # event of this key continues the batch-equivalent numbering.
            # Without a TTL set NO timeout — the group is only woken again
            # by new data, never by every micro-batch; retained state is
            # two scalars per key that ever had a session. With a TTL, arm
            # an event-time timeout so an idle key's counter is dropped.
            state.update(([], next_id))
            if counter_ttl_s is not None:
                state.setTimeoutTimestamp(
                    wm_us // 1000 + counter_ttl_s * 1000
                )
        elif state.exists:
            state.remove()

        if out:
            yield pd.DataFrame(
                {
                    "user_id": [int(key[0])] * len(out),
                    "session_id": [i for i, _, _, _ in out],
                    "n_events": [n for _, n, _, _ in out],
                    "session_start": [
                        pd.Timestamp(t, unit="us") for _, _, t, _ in out
                    ],
                    "session_end": [
                        pd.Timestamp(t, unit="us") for _, _, _, t in out
                    ],
                }
            )

    return fn


TWAP_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("hour_start", TimestampType()),
        StructField("n_events", LongType()),
        StructField("span_us", LongType()),
        StructField("twap", DoubleType()),
    ]
)


def twap_stream(
    events: DataFrame,
    ts_col: str,
    key_col: str,
    value_col: str,
    watermark: str = "10 seconds",
) -> DataFrame:
    """Streaming twin of the batch hourly TWAP
    (plans/timeseries.q_time_weighted_avg): each observation holds
    until the next one inside its hour (the last until the hour end),
    weights in integer microseconds. A (key, hour) row is EMITTED only
    once the watermark passes the hour end — no later admissible
    arrival can change its weights — so finalized hours are exactly
    the batch result on on-time data.

    Cross-impl determinism: values are exact cents (2-decimal inputs),
    so the weighted sum is exact integer arithmetic in Python just as
    it is exact decimal arithmetic in the batch plan; the final two
    double divisions are the same IEEE ops. State per key = the pending
    (not-yet-final) hours' events — bounded by event rate × (1 hour +
    watermark)."""
    fn = _twap_state_fn()

    prepared = events.select(
        F.col(key_col).alias("_key"),
        F.unix_micros(F.col(ts_col)).alias("_ts_us"),
        F.col(value_col).alias("_value"),
        F.col(ts_col).alias("_event_time"),
    ).withWatermark("_event_time", watermark)

    return prepared.groupBy("_key").applyInPandasWithState(
        fn,
        outputStructType=TWAP_OUTPUT_SCHEMA,
        stateStructType=StructType(
            [
                StructField("ts_us", _array_of(LongType())),
                StructField("value", _array_of(DoubleType())),
            ]
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def _twap_state_fn():
    """State-transition function behind :func:`twap_stream`,
    module-level so arrival-order/micro-batch-split fuzzing can drive
    it directly with a stubbed GroupState
    (tests/test_streaming_fuzz.py)."""
    hour_us = 3_600_000_000

    def fn(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            ts_stored, val_stored = state.get
            pend = list(zip(ts_stored, val_stored))
        else:
            pend = []
        for pdf in batches:
            pend.extend(
                (int(t), float(v))
                for t, v in zip(pdf["_ts_us"], pdf["_value"])
            )
        pend.sort()
        wm_us = state.getCurrentWatermarkMs() * 1000

        out: list[tuple[int, int, int, float]] = []
        keep: list[tuple[int, float]] = []
        by_hour: dict[int, list[tuple[int, float]]] = {}
        for t, v in pend:
            by_hour.setdefault(t - t % hour_us, []).append((t, v))
        for h0 in sorted(by_hour):
            rows = by_hour[h0]
            if h0 + hour_us <= wm_us:
                sum_cents_w = 0
                sum_w = 0
                for i, (t, v) in enumerate(rows):
                    nxt = rows[i + 1][0] if i + 1 < len(rows) else h0 + hour_us
                    w = nxt - t
                    # exact: 2-decimal value -> integer cents
                    sum_cents_w += round(v * 100) * w
                    sum_w += w
                twap = (float(sum_cents_w) / 100.0) / float(sum_w)
                out.append((h0, len(rows), sum_w, twap))
            else:
                keep.extend(rows)

        if keep:
            state.update(([t for t, _ in keep], [v for _, v in keep]))
            first_h0 = keep[0][0] - keep[0][0] % hour_us
            state.setTimeoutTimestamp(
                max((first_h0 + hour_us) // 1000, wm_us // 1000 + 1)
            )
        elif state.exists:
            state.remove()

        if out:
            yield pd.DataFrame(
                {
                    "user_id": [int(key[0])] * len(out),
                    "hour_start": [
                        pd.Timestamp(h0, unit="us") for h0, _, _, _ in out
                    ],
                    "n_events": [n for _, n, _, _ in out],
                    "span_us": [w for _, _, w, _ in out],
                    "twap": [x for _, _, _, x in out],
                }
            )

    return fn


class EwmaTwsProcessor:
    """StatefulProcessor for ewma_stream_tws, defined module-level so
    its recursion logic is unit-testable WITHOUT the streaming runtime
    (tests/test_streaming.py drives handleInputRows with a stubbed
    ValueState): this container lacks google.protobuf, which the
    transformWithState driver worker imports, so the full-plumbing
    test skips — the same environment-gap pattern as the Kafka jars
    (PARITY.md S4). Inherits StatefulProcessor lazily inside
    ewma_stream_tws to keep this module importable everywhere."""

    def __init__(self, ts_col, key_col, value_col, alpha):
        self._ts = ts_col
        self._key = key_col
        self._val = value_col
        self._alpha = alpha

    def init(self, handle) -> None:
        self._state = handle.getValueState("ewma", "ewma double")

    def handleInputRows(self, key, rows, timer_values):
        prev = None
        if self._state.exists():
            prev = self._state.get()[0]
        for pdf in rows:
            pdf = pdf.sort_values([self._ts, "event_id"])
            out = []
            for x in pdf[self._val]:
                prev = (
                    float(x)
                    if prev is None
                    else (1.0 - self._alpha) * prev + self._alpha * float(x)
                )
                out.append(prev)
            pdf = pdf.assign(ewma=out)
            yield pdf[[self._key, "event_id", self._ts, self._val, "ewma"]]
        if prev is not None:
            self._state.update((prev,))

    def close(self) -> None:
        pass

    def handleInitialState(self, key, initialState, timer_values) -> None:
        pass

    def handleExpiredTimer(self, key, timer_values, expired_timer_info):
        return iter(())


def ewma_stream_tws(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    alpha: float = 0.1,
    watermark: str = "10 seconds",
) -> DataFrame:
    """Recursive streaming EWMA on the Spark 4 arbitrary-state v2 API
    (``transformWithStateInPandas`` + ``StatefulProcessor`` with a
    typed ``ValueState``) — the API generation AFTER
    applyInPandasWithState (which the sessionize/first-crossing/TWAP
    twins use): typed state handles, per-state TTL, timers, and the
    RocksDB state store as a requirement rather than an option. The
    TRULY recursive EWMA y_t = (1−α)·y_{t−1} + α·x_t is the op that
    needs arbitrary state — it is inherently sequential per key, which
    is exactly why the BATCH surface ships the bounded-depth form
    (plans/timeseries.q_ewma_smoothing) instead; here the sequential
    carry is one scalar per key, the canonical streaming shape.

    Ordering contract: rows are processed in (ts, event_id) order
    WITHIN each micro-batch (sorted in the processor) and across
    batches in arrival order — late rows beyond the watermark are
    dropped upstream; in-watermark stragglers fold in arrival order
    (the trade every arbitrary-state streaming op makes).

    Environment: needs google.protobuf (the transformWithState driver
    worker imports it) and the RocksDB state store (the default of
    session.get_spark); where protobuf is absent the
    recursion logic is still covered by the stubbed-state unit test."""
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    out_schema = (
        f"{key_col} bigint, event_id bigint, {ts_col} timestamp, "
        f"{value_col} double, ewma double"
    )

    class _Proc(EwmaTwsProcessor, StatefulProcessor):
        pass

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .transformWithStateInPandas(
            statefulProcessor=_Proc(ts_col, key_col, value_col, alpha),
            outputStructType=out_schema,
            outputMode="append",
            timeMode="none",
        )
    )


SCD2_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("valid_from", TimestampType()),
        StructField("valid_to", TimestampType()),
        StructField("n_events", LongType()),
    ]
)


def scd2_stream(
    events: DataFrame,
    ts_col: str,
    key_col: str,
    attr_col: str,
    watermark: str = "10 seconds",
) -> DataFrame:
    """Streaming twin of the batch SCD-2 interval build
    (plans/mining.q_scd2_intervals) for CLOSED intervals: per key,
    consecutive runs of the same attribute collapse to
    [valid_from, valid_to) and an interval is emitted exactly when the
    event-time watermark STRICTLY passes its exclusive upper bound (the
    next run's first event time). Finality argument, from the MEASURED
    Spark 4 semantics (pinned by tests/test_streaming.py::
    test_scd2_stream_watermark_boundary_semantics): the late filter
    drops an input row iff ts <= filter_wm, where filter_wm LAGS the
    processor-visible getCurrentWatermarkMs() by one micro-batch. For
    any LATER batch, filter_wm has caught up to the wm visible now, so
    a future admissible event has ts > wm_now and cannot touch an
    interval with valid_to <= wm_now; within the CURRENT batch, a
    boundary event that slipped through the lagged filter is merged
    into state before this emission logic runs. The strict valid_to <
    wm bound is therefore conservative — kept because it is cost-free
    (one watermark advance of latency on boundary intervals) and stays
    correct even if Spark moves the predicate to the documented
    ts < wm form. Batch and stream agree bit-for-bit on every emitted
    row. The OPEN current
    run is intentionally never emitted (it is not final); the batch
    twin's ``is_current`` row is what you materialize on demand.

    State = the raw (ts, event_id, attr) triples from the first
    unemitted run onward — bounded by (watermark depth + current run
    span) x per-key event rate. Raw events (not run summaries) are
    retained because an admissible arrival may interleave BETWEEN
    pending events and rewrite the run structure. Runs of one key
    finalize strictly in valid_from order, so emission order matches
    the batch ordering with no ordinal counter needed."""
    fn = _scd2_state_fn()

    prepared = events.select(
        F.col(key_col).alias("_key"),
        F.unix_micros(F.col(ts_col)).alias("_ts_us"),
        F.col("event_id").alias("_eid"),
        F.col(attr_col).alias("_attr"),
        F.col(ts_col).alias("_event_time"),
    ).withWatermark("_event_time", watermark)

    return prepared.groupBy("_key").applyInPandasWithState(
        fn,
        outputStructType=SCD2_OUTPUT_SCHEMA,
        stateStructType=StructType(
            [
                StructField("ts_us", _array_of(LongType())),
                StructField("eid", _array_of(LongType())),
                StructField("attr", _array_of(StringType())),
            ]
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def _scd2_state_fn():
    """State-transition function behind :func:`scd2_stream`,
    module-level so arrival-order/micro-batch-split fuzzing can drive
    it directly with a stubbed GroupState
    (tests/test_streaming_fuzz.py)."""

    def fn(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            ts_s, eid_s, at_s = state.get
            evs = list(zip(ts_s, eid_s, at_s))
        else:
            evs = []
        for pdf in batches:
            evs.extend(
                (int(t), int(e), str(a))
                for t, e, a in zip(pdf["_ts_us"], pdf["_eid"], pdf["_attr"])
            )
        if not evs:
            if state.exists:
                # timeout wake with nothing retained
                state.remove()
            return
        evs.sort()  # (ts_us, event_id, attr) — the batch total order

        wm_us = state.getCurrentWatermarkMs() * 1000
        runs: list[list[Any]] = []  # [attr, from_us, n_events]
        for t, _e, a in evs:
            if runs and runs[-1][0] == a:
                runs[-1][2] += 1
            else:
                runs.append([a, t, 1])

        out: list[tuple[str, int, int, int]] = []
        n_emitted_events = 0
        for i in range(len(runs) - 1):
            valid_to = runs[i + 1][1]
            # STRICT: the late filter's watermark lags the wm visible
            # here by one batch (measured; see docstring), so a
            # boundary event can still be admitted — valid_to == wm is
            # not treated as final.
            if valid_to < wm_us:
                out.append((runs[i][0], runs[i][1], valid_to, runs[i][2]))
                n_emitted_events += runs[i][2]
            else:
                break
        kept = evs[n_emitted_events:]

        # kept always holds at least the open run's events.
        state.update(
            (
                [t for t, _, _ in kept],
                [e for _, e, _ in kept],
                [a for _, _, a in kept],
            )
        )
        n_pending_closed = len(runs) - 1 - len(out)
        if n_pending_closed > 0:
            # first still-pending closed run finalizes at the start of
            # the run after it; wake then (strictly after current wm).
            next_bound_us = runs[len(out) + 1][1]
            state.setTimeoutTimestamp(
                max(next_bound_us // 1000, wm_us // 1000 + 1)
            )
        # else: only the open run remains — woken by new data only.

        if out:
            yield pd.DataFrame(
                {
                    "user_id": [int(key[0])] * len(out),
                    "event_type": [a for a, _, _, _ in out],
                    "valid_from": [
                        pd.Timestamp(f, unit="us") for _, f, _, _ in out
                    ],
                    "valid_to": [
                        pd.Timestamp(v, unit="us") for _, _, v, _ in out
                    ],
                    "n_events": [n for _, _, _, n in out],
                }
            )

    return fn


# --- streaming KMV distinct sketch -----------------------------------------
KMV_OUTPUT_SCHEMA = StructType(
    [
        StructField("hour_start", TimestampType()),
        StructField("n_sketch", LongType()),
        StructField("kth_hash", LongType()),
        StructField("est", DoubleType()),
    ]
)


def _kmv_estimate(n_sketch: int, kth: int, k: int) -> float:
    if n_sketch < k:
        return float(n_sketch)
    if kth <= 0:
        # Degenerate: only reachable at k == 1 when an item's 32-bit
        # md5 prefix is exactly 0 — the sketch holds every hash ≤ the
        # kth (= 0), i.e. just that item; the count is exact (ADVICE
        # r8: avoid the division by zero the batch twin shares).
        return float(n_sketch)
    return float(k - 1) * 4294967296.0 / float(kth)


def kmv_stream(
    events: DataFrame,
    ts_col: str = "ts",
    item_expr: str = "cast(user_id as string)",
    k: int = 256,
    watermark: str = "10 seconds",
) -> DataFrame:
    """Streaming twin of the wave-9 KMV bottom-k distinct sketch
    (plans/wave9.q_kmv_distinct_sketch, per-hour instead of
    per-source): state per hour is the ≤ k smallest DISTINCT 32-bit
    item hashes — constant-size, and MERGEABLE, which is exactly why a
    bottom-k sketch can be maintained per micro-batch: merging a
    batch's hashes into the held sketch and re-truncating to k is the
    same operation as merging two per-partition sketches in the batch
    query. An hour is EMITTED once the event-time watermark passes its
    end; at that point the held sketch equals the batch bottom-k over
    the hour's admitted rows bit-for-bit (md5-derived integers, no
    floats in state), so kth_hash and the estimate match the batch
    computation exactly (asserted in tests/test_streaming.py).

    State size: ≤ k int64 per open hour — independent of row rate,
    the property that distinguishes a sketch from collect_set."""
    fn = _kmv_state_fn(k)

    prepared = events.select(
        F.unix_micros(F.date_trunc("hour", F.col(ts_col))).alias("_h0"),
        F.expr(
            f"cast(conv(substring(md5({item_expr}), 1, 8), 16, 10) as bigint)"
        ).alias("_h"),
        F.col(ts_col).alias("_event_time"),
    ).withWatermark("_event_time", watermark)

    return prepared.groupBy("_h0").applyInPandasWithState(
        fn,
        outputStructType=KMV_OUTPUT_SCHEMA,
        stateStructType=StructType(
            [StructField("sketch", _array_of(LongType()))]
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def _kmv_state_fn(k: int):
    """State-transition function behind :func:`kmv_stream`,
    module-level so arrival-order/micro-batch-split fuzzing can drive
    it directly with a stubbed GroupState
    (tests/test_streaming_fuzz.py)."""
    hour_us = 3_600_000_000

    def fn(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        hs: set[int] = set(state.get[0]) if state.exists else set()
        for pdf in batches:
            hs.update(int(x) for x in pdf["_h"])
        sk = sorted(hs)[:k]
        h0_us = int(key[0])
        wm_us = state.getCurrentWatermarkMs() * 1000
        if h0_us + hour_us <= wm_us:
            if state.exists:
                state.remove()
            if sk:
                kth = sk[-1] if len(sk) == k else -1
                yield pd.DataFrame(
                    {
                        "hour_start": [pd.Timestamp(h0_us, unit="us")],
                        "n_sketch": [len(sk)],
                        "kth_hash": [kth],
                        "est": [
                            _kmv_estimate(
                                len(sk), sk[-1] if sk else -1, k
                            )
                        ],
                    }
                )
        else:
            state.update((sk,))
            state.setTimeoutTimestamp(
                max((h0_us + hour_us) // 1000, wm_us // 1000 + 1)
            )

    return fn


def kmv_bottomk_hourly_batch(
    df: DataFrame,
    ts_col: str = "ts",
    item_expr: str = "cast(user_id as string)",
    k: int = 256,
) -> DataFrame:
    """Batch twin of :func:`kmv_stream` — the same bottom-k per hour
    via a partitioned rank over distinct hashes (the wave-9 query's
    shape on an hour key)."""
    from pyspark.sql import Window

    hh = (
        df.select(
            F.date_trunc("hour", F.col(ts_col)).alias("hour_start"),
            F.expr(
                f"cast(conv(substring(md5({item_expr}), 1, 8), 16, 10)"
                " as bigint)"
            ).alias("h"),
        )
        .distinct()
    )
    w = Window.partitionBy("hour_start").orderBy("h")
    sk = hh.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= k)
    est = F.when(
        F.col("n_sketch") < k, F.col("n_sketch").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) * F.lit(4294967296.0)
        / F.col("kth_hash").cast("double")
    )
    return (
        sk.groupBy("hour_start")
        .agg(
            F.count(F.lit(1)).alias("n_sketch"),
            F.coalesce(
                F.max(F.when(F.col("r") == k, F.col("h"))), F.lit(-1)
            ).alias("kth_hash"),
        )
        .select("hour_start", "n_sketch", "kth_hash", est.alias("est"))
    )


# --- streaming volume-anomaly monitor ---------------------------------------
VOLUME_ANOMALY_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("day", TimestampType()),
        StructField("cnt", LongType()),
        StructField("trailing_days", LongType()),
        StructField("is_anomaly", BooleanType()),
    ]
)


def volume_anomaly_stream(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    trail_days: int = 7,
    sigma: int = 3,
    watermark: str = "10 seconds",
) -> DataFrame:
    """Streaming twin of the wave-10 daily volume-anomaly monitor
    (plans/wave10.q_volume_anomaly) — the alert evaluated where it
    belongs, on the live stream: per event type, hold the open days'
    counts plus the trailing ``trail_days`` FINALIZED daily counts,
    and once the watermark passes a day's end emit that day with the
    all-BIGINT flag (n·x − Σ)² > sigma²·(n·Σx² − Σ²) over the
    trailing window — exactly the batch decision, so finalized days
    match the batch query bit-for-bit on admitted rows (asserted in
    tests/test_streaming.py). Days finalize in order (finality is
    monotone in day), so the trailing buffer in state is always the
    batch's ROWS BETWEEN trail PRECEDING AND 1 PRECEDING frame.

    State per key: ≤ trail_days finalized counts + the open days'
    partial counts — constant-size, independent of event rate. A key
    that goes silent is expired ``trail_days`` after its last
    finalized day (the cleanup-horizon timeout, ADVICE r8); resuming
    after that restarts the trailing window."""
    fn = _volume_anomaly_state_fn(trail_days, sigma)

    prepared = events.select(
        F.col(key_col).alias("_key"),
        F.unix_micros(F.col(ts_col)).alias("_ts_us"),
        F.col(ts_col).alias("_event_time"),
    ).withWatermark("_event_time", watermark)

    return prepared.groupBy("_key").applyInPandasWithState(
        fn,
        outputStructType=VOLUME_ANOMALY_OUTPUT_SCHEMA,
        stateStructType=StructType(
            [
                StructField("trail_days", _array_of(LongType())),
                StructField("trail_cnts", _array_of(LongType())),
                StructField("open_days", _array_of(LongType())),
                StructField("open_cnts", _array_of(LongType())),
            ]
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def _volume_anomaly_state_fn(trail_days: int, sigma: int):
    """State-transition function behind :func:`volume_anomaly_stream`,
    module-level so the timeout/cleanup paths are unit-testable with a
    stubbed GroupState (the closure form would only be reachable
    through a full streaming run, which cannot observe state
    removal)."""
    day_us = 86_400_000_000

    def fn(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            tdays, tcnts, odays, ocnts = state.get
            trail = list(zip(tdays, tcnts))
            open_cnt = dict(zip(odays, ocnts))
        else:
            trail, open_cnt = [], {}
        for pdf in batches:
            for t in pdf["_ts_us"]:
                d0 = int(t) - int(t) % day_us
                open_cnt[d0] = open_cnt.get(d0, 0) + 1
        wm_us = state.getCurrentWatermarkMs() * 1000

        out: list[tuple[int, int, int, bool]] = []
        for d0 in sorted(open_cnt):
            if d0 + day_us <= wm_us:
                x = open_cnt.pop(d0)
                window = [c for _, c in trail[-trail_days:]]
                n = len(window)
                flag = False
                if n >= 3:
                    s, sq = sum(window), sum(c * c for c in window)
                    flag = (n * x - s) ** 2 > sigma * sigma * (
                        n * sq - s * s
                    )
                out.append((d0, x, n, flag))
                trail.append((d0, x))
                trail = trail[-trail_days:]

        if open_cnt:
            days = sorted(open_cnt)
            state.update(
                (
                    [d for d, _ in trail],
                    [c for _, c in trail],
                    days,
                    [open_cnt[d] for d in days],
                )
            )
            state.setTimeoutTimestamp(
                max((days[0] + day_us) // 1000, wm_us // 1000 + 1)
            )
        elif trail and (out or not state.hasTimedOut):
            # Only the finalized trail remains. Keep it (it is the
            # batch query's trailing frame if this key speaks again
            # soon) but BOUND its lifetime: expire trail_days after
            # the last finalized day, so a key that goes silent is
            # cleaned up instead of pinning ≤ trail_days longs in the
            # state store forever (ADVICE r8). A key resuming after
            # that horizon restarts with an empty trailing window —
            # the documented stream/batch parity bound. (``out`` in
            # the condition: a DAY-END timeout that finalized the last
            # open day must re-arm the horizon, not fall through to
            # remove — only the horizon timeout itself, which fires
            # with nothing to finalize, reaches the remove branch.)
            state.update(
                ([d for d, _ in trail], [c for _, c in trail], [], [])
            )
            state.setTimeoutTimestamp(
                max(
                    (trail[-1][0] + (trail_days + 1) * day_us) // 1000,
                    wm_us // 1000 + 1,
                )
            )
        elif state.exists:
            # The cleanup horizon fired (timed out, nothing finalized,
            # no open days): drop the stale trail.
            state.remove()

        if out:
            yield pd.DataFrame(
                {
                    "event_type": [str(key[0])] * len(out),
                    "day": [pd.Timestamp(d, unit="us") for d, _, _, _ in out],
                    "cnt": [x for _, x, _, _ in out],
                    "trailing_days": [n for _, _, n, _ in out],
                    "is_anomaly": [f for _, _, _, f in out],
                }
            )

    return fn
