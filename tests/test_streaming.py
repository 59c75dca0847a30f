"""Structured Streaming smoke tests: the streaming wrappers must agree
with their batch twins on identical data (SURVEY.md §5 strategy), and
watermark/state semantics must behave (late drop, first-crossing)."""

from __future__ import annotations

import datetime as dt
import json
import os
from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from lab04_spark_streaming_spark.operators.moving_stats import (
    REFERENCE_WINDOWS,
    moving_stats_flat,
)
from lab04_spark_streaming_spark.streaming.pipeline import (
    decode_moving_stats,
    memory_sink_once,
    stage2_moving_stats,
    stage2_wire,
    stage3_wire,
    stage3_zscore,
)
from lab04_spark_streaming_spark.streaming.sources import file_stream
from lab04_spark_streaming_spark.streaming.state import (
    first_crossing_batch,
    first_crossing_stream,
)

TICK_SCHEMA = StructType(
    [
        StructField("symbol", StringType()),
        StructField("price", DoubleType()),
        StructField("event_time", TimestampType()),
        StructField("seq", LongType()),
    ]
)

T0 = dt.datetime(2024, 6, 1, 12, 0, 0)


def _ticks(n=120, step_s=1.0, start=T0, symbol="BTCUSDT"):
    rows = []
    for i in range(n):
        price = 67000.0 + ((i * 37) % 100) - 50  # deterministic walk
        rows.append((symbol, price, start + dt.timedelta(seconds=i * step_s), i))
    return rows


@pytest.fixture()
def tick_dir(spark, tmp_path):
    df = spark.createDataFrame(_ticks(), TICK_SCHEMA)
    path = str(tmp_path / "ticks")
    df.coalesce(1).write.parquet(path)
    return path


def _stats_by_key(rows):
    """{(timestamp, symbol, window): (avg, std)} of flat stage-2 rows; a
    later row for a key replaces an earlier one, as update mode does."""
    return {(ts, symbol, window): (avg, std) for ts, symbol, window, avg, std in rows}


def test_stage2_stream_equals_batch(spark, tmp_path):
    """Stage 2 as a stream emits the rows of the batch window() union
    over the same ticks (the three short reference windows: the batch
    side's 1h window() alone plans a 360-way Expand)."""
    rows = _ticks(n=40)
    path = str(tmp_path / "ticks")
    spark.createDataFrame(rows, TICK_SCHEMA).coalesce(1).write.parquet(path)
    windows = REFERENCE_WINDOWS[:3]
    stream = file_stream(spark, path, TICK_SCHEMA)
    assert stream.isStreaming
    flat_stream = stage2_moving_stats(
        stream, "event_time", ["symbol"], "price", windows=windows, nested=False
    )
    memory_sink_once(flat_stream, "stage2_flat", "update")
    got = _stats_by_key(spark.table("stage2_flat").collect())

    batch = spark.createDataFrame(rows, TICK_SCHEMA)
    expected = _stats_by_key(
        moving_stats_flat(batch, "event_time", ["symbol"], "price", windows).collect()
    )
    assert got and got == expected


def test_stage2_wire_shape(spark, tick_dir):
    """The nested wire output chains window-agg → collect_list-agg —
    the exact multi-stateful pattern for which the reference disables
    Spark's correctness check (T6, moving_statistic.py:20-21). We do
    the same here, scoped to this query, via strict_parity_conf."""
    from lab04_spark_streaming_spark.streaming.pipeline import strict_parity_conf

    strict_parity_conf(spark)
    try:
        stream = file_stream(spark, tick_dir, TICK_SCHEMA)
        memory_sink_once(stage2_wire(stream), "stage2_wire", "update")
    finally:
        spark.conf.set(
            "spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "true"
        )
    rows = spark.table("stage2_wire").collect()
    assert rows, "no wire output"
    msg = json.loads(rows[0].value)
    assert set(msg) == {"timestamp", "symbol", "windows"}
    assert isinstance(msg["windows"], list) and msg["windows"]
    assert set(msg["windows"][0]) == {"window", "avg_price", "std_price"}
    # reference wire format: Spark default timestamp string, no 'T'
    assert "T" not in msg["timestamp"]


def test_kafka_codec_round_trip(spark):
    """Stage 3 fed through the `btc-price-moving` codec gives the
    z-scores of stage 3 fed the flat stats directly. Decoding that topic
    by other field names than stage 2 encodes leaves every avg/std NULL,
    and every z-score 0.0."""
    ticks = spark.createDataFrame(_ticks(n=400), TICK_SCHEMA)
    windows = REFERENCE_WINDOWS[:2]
    cols = ["timestamp", "symbol", "window", "avg_value", "std_value"]
    flat = stage2_moving_stats(ticks, windows=windows, nested=False).select(cols)
    decoded = decode_moving_stats(stage2_wire(ticks, windows=windows))
    assert decoded.columns == cols
    assert Counter(decoded.collect()) == Counter(flat.collect())

    direct = stage3_zscore(ticks, flat, nested=False).collect()
    assert any(r.zscore_value != 0.0 for r in direct)
    via_wire = stage3_zscore(ticks, decoded, nested=False).collect()
    assert Counter(via_wire) == Counter(direct)

    # stage3_wire: reference names, timestamp as Spark's string cast
    msgs = [json.loads(r.value) for r in stage3_wire(ticks, decoded).collect()]
    got = Counter(
        (m["timestamp"], m["symbol"], z["window"], z["zscore_price"])
        for m in msgs
        for z in m["zscores"]
    )
    want = Counter((str(r.timestamp), r.symbol, r.window, r.zscore_value) for r in direct)
    assert got == want


def _write_feed(spark, path, blocks, first=0):
    """One parquet file per block under ``path/batch=i`` (i from
    ``first``), with file times pinned in block order (the file source
    reads oldest first); returns the glob to stream."""
    import time as _time

    now = _time.time()
    for i, rows in enumerate(blocks, first):
        sub = path / f"batch={i}"
        spark.createDataFrame(rows, TICK_SCHEMA).coalesce(1).write.parquet(str(sub))
        mtime = now - 300 + i * 10
        for f in sub.iterdir():
            os.utime(f, (mtime, mtime))
    return str(path / "batch=*")


def test_watermark_drops_late_rows(spark, tmp_path):
    """Rows >10 s older than the committed watermark must not produce
    windows (T1/T5). Note Spark's late filter uses the watermark
    committed as of the PREVIOUS batch, so the late file arrives two
    batches after the fresh data that established the watermark
    (verified empirically: a late file in the very next batch is still
    accepted — batch N's filter runs on the watermark of batch N-1)."""
    late = _ticks(n=10, start=T0 - dt.timedelta(seconds=3600))
    feed = _write_feed(
        spark,
        tmp_path / "wm",
        [_ticks(n=60, start=T0), _ticks(n=10, start=T0 + dt.timedelta(seconds=60)), late],
    )
    stream = file_stream(spark, feed, TICK_SCHEMA, max_files_per_trigger=1)
    flat = stage2_moving_stats(
        stream, "event_time", ["symbol"], "price", nested=False
    )
    q = memory_sink_once(flat, "wm_out", "update")
    stamps = [r.timestamp for r in spark.table("wm_out").collect()]
    assert stamps
    # no window end at/before the late block's hour
    cutoff = T0 - dt.timedelta(seconds=1800)
    assert all(t > cutoff for t in stamps)
    # Every window membership of the late block is dropped and counted.
    # The state operator counts rows after the map-side partial
    # aggregation, one per (window, end, key); the 10 late ticks share
    # one 10 s slot, hence all their memberships: D/S per window,
    # 3 + 6 + 30 + 90 + 180 + 360 = 669 for the six reference windows.
    dropped = sum(
        op.numRowsDroppedByWatermark
        for p in q.recentProgress
        for op in p.stateOperators
    )
    assert dropped == 669


def _per_batch(df, checkpoint):
    """Stream ``df`` to completion in update mode; returns
    {batch id: Counter of emitted rows} and the query progress."""
    out = {}

    def collect(batch_df, batch_id):
        out[batch_id] = Counter(tuple(r) for r in batch_df.collect())

    q = (
        df.writeStream.foreachBatch(collect)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return out, q.recentProgress


def test_stage2_one_aggregate_matches_window_union_per_batch(spark, tmp_path):
    """Stage 2 runs as ONE stateful aggregate over window memberships,
    and per micro-batch it emits the same rows, drops the same late
    memberships and keeps the same state rows as the window() union
    over the same watermarked feed. Batch 2 carries ticks 5-14 s behind
    the watermark (some of their windows still open) and ticks ~12 min
    behind it (every window closed); batch 3 ticks 50-59 s behind."""
    from lab04_spark_streaming_spark.streaming.pipeline import WATERMARK

    def at(s):
        return T0 + dt.timedelta(seconds=s)

    feed = _write_feed(
        spark,
        tmp_path / "feed",
        [
            _ticks(n=60, start=at(0)),
            _ticks(n=60, start=at(60)),
            _ticks(n=10, start=at(95)) + _ticks(n=5, start=at(-600))
            + _ticks(n=10, start=at(120)),
            _ticks(n=10, start=at(60)) + _ticks(n=10, start=at(130), symbol="ETHUSDT"),
        ],
    )
    windows = REFERENCE_WINDOWS[:3]
    stage2 = stage2_moving_stats(
        file_stream(spark, feed, TICK_SCHEMA, max_files_per_trigger=1),
        "event_time",
        ["symbol"],
        "price",
        windows=windows,
        nested=False,
    )
    union = moving_stats_flat(
        file_stream(spark, feed, TICK_SCHEMA, max_files_per_trigger=1).withWatermark(
            "event_time", WATERMARK
        ),
        "event_time",
        ["symbol"],
        "price",
        windows,
    )
    assert stage2.schema["timestamp"].metadata == {}
    got, got_progress = _per_batch(stage2, str(tmp_path / "ck_stage2"))
    want, want_progress = _per_batch(union, str(tmp_path / "ck_union"))

    assert got == want
    assert all(len(p.stateOperators) == 1 for p in got_progress)

    def state(progress):
        return {
            p.batchId: (
                sum(op.numRowsDroppedByWatermark for op in p.stateOperators),
                sum(op.numRowsTotal for op in p.stateOperators),
            )
            for p in progress
        }

    per_batch = state(got_progress)
    assert per_batch == state(want_progress)
    assert per_batch[2][0] > 0 and per_batch[3][0] > 0  # both late blocks cut


def test_stage2_restarts_on_its_checkpoint(spark, tmp_path):
    """Stage 2 stopped mid-feed and restarted on the same checkpoint
    ends with the rows of the batch union over the on-time ticks, and
    drops as many late memberships as a run that was never stopped. A
    late block (10 min behind, so all of its windows are closed) comes
    before the stop and another right after the restart, where only the
    restored watermark can cut it. The session writes checkpoint files
    through the FileSystem API (no delete before a rename)."""
    manager = spark.conf.get("spark.sql.streaming.checkpointFileManagerClass")
    assert manager.endswith(".FileSystemBasedCheckpointFileManager")

    def at(s, n=10, symbol="BTCUSDT"):
        return _ticks(n=n, start=T0 + dt.timedelta(seconds=s), symbol=symbol)

    before = [at(0, 60), at(60, 30), at(-600, 5) + at(90)]
    after = [at(-500, 5) + at(100, 20, "ETHUSDT"), at(120, 20)]
    windows = REFERENCE_WINDOWS[:3]

    def run(blocks, name, first=0):
        feed = _write_feed(spark, tmp_path / name, blocks, first)
        stage2 = stage2_moving_stats(
            file_stream(spark, feed, TICK_SCHEMA, max_files_per_trigger=1),
            "event_time",
            ["symbol"],
            "price",
            windows=windows,
            nested=False,
        )
        out, progress = _per_batch(stage2, str(tmp_path / f"ck_{name}"))
        dropped = sum(
            op.numRowsDroppedByWatermark for p in progress for op in p.stateOperators
        )
        return out, dropped

    first, dropped_first = run(before, "feed")
    assert first and dropped_first > 0
    # The restart streams the rest of the feed under the same glob.
    second, dropped_second = run(after, "feed", first=len(before))
    assert second and min(second) > max(first)
    whole, dropped_whole = run(before + after, "whole")

    def final(batches):
        return _stats_by_key(row for bid in sorted(batches) for row in batches[bid])

    on_time = [r for b in before + after for r in b if r[2] >= T0]
    expected = _stats_by_key(
        moving_stats_flat(
            spark.createDataFrame(on_time, TICK_SCHEMA),
            "event_time",
            ["symbol"],
            "price",
            windows,
        ).collect()
    )
    assert final({**first, **second}) == expected == final(whole)
    assert dropped_second > 0
    assert dropped_first + dropped_second == dropped_whole


@pytest.mark.parametrize("direction", ["higher", "lower"])
def test_first_crossing_stream_matches_batch(spark, tmp_path, direction):
    rows = _ticks(n=100, step_s=2.0)
    path = str(tmp_path / "fc")
    spark.createDataFrame(rows, TICK_SCHEMA).coalesce(1).write.parquet(path)

    stream = file_stream(spark, path, TICK_SCHEMA)
    out = first_crossing_stream(
        stream, "event_time", "symbol", "price", horizon_s=20, direction=direction
    )
    memory_sink_once(out, f"fc_out_{direction}", "append")
    streamed = {
        (r.key, r.ts): r.seconds_until for r in spark.table(f"fc_out_{direction}").collect()
    }
    assert streamed, "stateful op emitted nothing"

    batch = first_crossing_batch(
        spark.createDataFrame(rows, TICK_SCHEMA),
        "event_time",
        ["symbol"],
        "price",
        horizon_s=20,
        direction=direction,
    )
    expected = {(r.symbol, r.ts): r.seconds_until for r in batch.collect()}
    for k, v in streamed.items():
        assert k in expected
        if v is None:
            assert expected[k] is None
        else:
            assert expected[k] == pytest.approx(v, abs=1e-6)


def _on_grid(ticks):
    """Ticks quantized to the 10 s slide grid, so the reference's
    exact-grid join key matches (SURVEY.md §3.4)."""
    return ticks.withColumn(
        "event_time",
        (F.floor(F.unix_timestamp("event_time") / 10) * 10).cast("timestamp"),
    )


def _stage3_inputs(spark, tick_rows, stats_rows, tmp_path):
    """Stage 3's two streams: the ticks of ``tick_rows`` on the slide
    grid, and batch stage-2 output (three windows) over ``stats_rows``,
    materialized and re-streamed. Returns them, the tick directory and
    the expected z-score rows for ``stats_rows`` joined with themselves."""
    from lab04_spark_streaming_spark.operators.zscore import zscore_exact_grid

    tick_dir = str(tmp_path / "t3_ticks")
    spark.createDataFrame(tick_rows, TICK_SCHEMA).coalesce(1).write.parquet(tick_dir)
    batch = spark.createDataFrame(stats_rows, TICK_SCHEMA)
    stats_flat = moving_stats_flat(
        batch, "event_time", ["symbol"], "price", windows=REFERENCE_WINDOWS[:3]
    )
    stats_path = str(tmp_path / "t3_stats")
    stats_flat.coalesce(1).write.parquet(stats_path)
    expected = _zscore_rows(
        zscore_exact_grid(_on_grid(batch), stats_flat, "event_time", ["symbol"], "price")
    )
    return (
        _on_grid(file_stream(spark, tick_dir, TICK_SCHEMA)),
        file_stream(spark, stats_path, stats_flat.schema),
        tick_dir,
        expected,
    )


def _zscore_rows(df):
    """The multiset of a z-score relation's (timestamp, symbol, window,
    zscore_value) rows."""
    return Counter(
        (r.timestamp, r.symbol, r.window, r.zscore_value) for r in df.collect()
    )


def test_stage3_stream_stream_join(spark, tmp_path):
    """Stage 3 end-to-end with BOTH sides streaming (T4): ticks stream
    ⋈ stage-2 stats stream on (grid time, symbol), append mode. The join
    keeps its four states (two per side) in one state store per shuffle
    partition."""
    from lab04_spark_streaming_spark.streaming.pipeline import stage3_zscore

    rows = _ticks(n=40)
    ticks, stats, _, expected = _stage3_inputs(spark, rows, rows, tmp_path)
    out = stage3_zscore(ticks, stats, "event_time", ["symbol"], "price", nested=False)
    q = memory_sink_once(out, "stage3_out", "append")
    got = _zscore_rows(spark.table("stage3_out"))
    assert got, "stream-stream join produced nothing"
    assert got == expected
    (join,) = q.lastProgress.stateOperators
    assert join.numStateStoreInstances == join.numShufflePartitions


def test_stage3_checkpoint_keeps_its_state_format(spark, tmp_path):
    """A stage-3 checkpoint started on the heap-backed store with join
    state format 2 (four stores per partition) resumes under the
    session's defaults on its own provider and format, and its output
    continues: Spark restores both from the checkpoint's offset log. A
    file sink, because a memory sink in append mode cannot recover."""
    from lab04_spark_streaming_spark.streaming.pipeline import stage3_zscore

    first_half = _ticks(n=40)
    second_half = _ticks(n=40, start=T0 + dt.timedelta(seconds=40))
    ticks, stats, tick_dir, expected = _stage3_inputs(
        spark, first_half, first_half + second_half, tmp_path
    )
    out_path = str(tmp_path / "t3_out")

    def run_once():
        q = (
            stage3_zscore(ticks, stats, "event_time", ["symbol"], "price", nested=False)
            .writeStream.format("parquet")
            .option("path", out_path)
            .option("checkpointLocation", str(tmp_path / "t3_ck"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        (join,) = q.lastProgress.stateOperators
        assert join.numStateStoreInstances == 4 * join.numShufflePartitions
        return spark.read.parquet(out_path).count()

    legacy = {
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state."
            "HDFSBackedStateStoreProvider"
        ),
        "spark.sql.streaming.join.stateFormatVersion": "2",
    }
    defaults = {k: spark.conf.get(k) for k in legacy}
    for k, v in legacy.items():
        spark.conf.set(k, v)
    try:
        first = run_once()
    finally:
        for k, v in defaults.items():
            spark.conf.set(k, v)
    spark.createDataFrame(second_half, TICK_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(tick_dir)
    assert run_once() > first > 0
    assert _zscore_rows(spark.read.parquet(out_path)) == expected


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Duplicate keys inside the watermark horizon are dropped; the
    survivor set equals batch dropDuplicates on the same data."""
    from lab04_spark_streaming_spark.streaming.pipeline import streaming_dedup

    rows = _ticks(n=40)
    dup = rows + [
        (s, p + 999, t, seq) for (s, p, t, seq) in rows[:15]
    ]  # same (symbol, seq) → dups
    path = str(tmp_path / "dd")
    spark.createDataFrame(dup, TICK_SCHEMA).coalesce(1).write.parquet(path)
    stream = file_stream(spark, path, TICK_SCHEMA)
    out = streaming_dedup(stream, ["symbol", "seq"], "event_time")
    memory_sink_once(out, "dd_out", "append")
    got = spark.table("dd_out").collect()
    assert len(got) == 40
    assert len({(r.symbol, r.seq) for r in got}) == 40


def test_foreach_batch_parquet_sink(spark, tmp_path):
    from lab04_spark_streaming_spark.streaming.pipeline import (
        foreach_batch_parquet,
    )

    rows = _ticks(n=30)
    src = str(tmp_path / "fb_src")
    spark.createDataFrame(rows, TICK_SCHEMA).coalesce(1).write.parquet(src)
    stream = file_stream(spark, src, TICK_SCHEMA)
    out_dir = str(tmp_path / "fb_out")
    q = foreach_batch_parquet(
        stream, out_dir, str(tmp_path / "fb_ckpt")
    ).start()
    q.awaitTermination()
    landed = spark.read.parquet(f"{out_dir}/batch_id=*")
    assert landed.count() == 30


def test_kafka_builder_plan(spark):
    """Kafka isn't running in this container; assert the source builder
    constructs a valid streaming plan (options accepted, schema known)."""
    from lab04_spark_streaming_spark.streaming.sources import kafka_source

    try:
        df = kafka_source(spark, "localhost:9092", "btc-price")
    except Exception as e:  # pragma: no cover - missing kafka package
        pytest.skip(f"kafka source unavailable: {e}")
    assert df.isStreaming
    assert "value" in df.columns


def test_stream_static_enrichment_join(spark, tmp_path):
    """Stream-static join: streaming facts pick up dim attributes with
    no watermark/state; rows without a dim match survive (left outer)."""
    from lab04_spark_streaming_spark.streaming.pipeline import (
        enrich_stream,
        memory_sink_once,
    )

    rows = _ticks(n=20)
    src = str(tmp_path / "en_src")
    spark.createDataFrame(rows, TICK_SCHEMA).coalesce(1).write.parquet(src)
    stream = file_stream(spark, src, TICK_SCHEMA)
    dim = spark.createDataFrame(
        [("BTCUSDT", "crypto", "binance")],
        "symbol string, asset_class string, venue string",
    )
    out = enrich_stream(stream, dim, ["symbol"])
    memory_sink_once(out, "en_out", "append")
    got = spark.table("en_out").collect()
    assert len(got) == 20
    matched = [r for r in got if r.asset_class is not None]
    unmatched = [r for r in got if r.asset_class is None]
    assert all(r.symbol == "BTCUSDT" for r in matched)
    assert all(r.symbol != "BTCUSDT" for r in unmatched)
    assert matched, "expected at least one enriched row"


@pytest.mark.slow
def test_first_crossing_out_of_order_tick_corrects_answer(spark, tmp_path):
    """Regression: a tick admissible under the 10s watermark arrives in
    a LATER micro-batch with an EARLIER crossing time. Eager resolution
    emitted the in-order answer (10s) in batch 1 and could never take
    it back; watermark-deferred resolution holds the row until no
    earlier crossing can still arrive and emits the true 3s."""
    import time

    base = T0
    mk = lambda t, v: ("BTCUSDT", v, base + dt.timedelta(seconds=t), t)  # noqa: E731
    batches = [
        # batch 1: t=10 v=100 sees an in-order crossing at t=20 v=104
        [mk(10, 100.0), mk(12, 90.0), mk(14, 95.0), mk(20, 104.0)],
        # batch 2 (wm=10): late t=13 v=105 — admissible, crosses earlier
        [mk(13, 105.0), mk(30, 101.0), mk(32, 98.0)],
        # batch 3: pushes the watermark past every horizon of interest
        [mk(50, 1.0)],
    ]
    path = str(tmp_path / "fc_ooo")
    for rows in batches:
        spark.createDataFrame(rows, TICK_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(path)
        time.sleep(1.1)  # distinct mtimes -> stable file (= batch) order

    stream = file_stream(spark, path, TICK_SCHEMA, max_files_per_trigger=1)
    out = first_crossing_stream(
        stream, "event_time", "symbol", "price", horizon_s=20, direction="higher"
    )
    memory_sink_once(out, "fc_ooo_out", "append")
    streamed = {
        r.ts: r.seconds_until for r in spark.table("fc_ooo_out").collect()
    }

    t10 = base + dt.timedelta(seconds=10)
    assert t10 in streamed, f"t=10 never resolved; emitted: {sorted(streamed)}"
    assert streamed[t10] == pytest.approx(3.0)

    allrows = [r for b in batches for r in b]
    batch = first_crossing_batch(
        spark.createDataFrame(allrows, TICK_SCHEMA),
        "event_time", ["symbol"], "price", horizon_s=20, direction="higher",
    )
    expected = {r.ts: r.seconds_until for r in batch.collect()}
    for ts, v in streamed.items():
        if v is None:
            assert expected[ts] is None
        else:
            assert expected[ts] == pytest.approx(v, abs=1e-6)


def test_topic_admin_matches_reference_layout():
    """Topic admin parity (reference setup_transform.py:83-131): same
    five topics, partitions=3, replication=1; CLI builder is pure."""
    from lab04_spark_streaming_spark.streaming.admin import (
        PIPELINE_TOPICS,
        ensure_topics,
        topic_commands,
    )

    names = [t.name for t in PIPELINE_TOPICS]
    assert names == [
        "btc-price",
        "btc-price-moving",
        "btc-price-zscore",
        "btc-price-higher",
        "btc-price-lower",
    ]
    assert all(t.partitions == 3 and t.replication_factor == 1 for t in PIPELINE_TOPICS)

    cmds = topic_commands(bootstrap="broker:9092")
    assert len(cmds) == 5
    for cmd, t in zip(cmds, PIPELINE_TOPICS):
        assert cmd[:3] == ["kafka-topics", "--bootstrap-server", "broker:9092"]
        assert "--if-not-exists" in cmd and t.name in cmd
        assert cmd[cmd.index("--partitions") + 1] == "3"

    # Without kafka-python the programmatic path must fail loudly and
    # point at the CLI alternative, not import-error at module load.
    try:
        import kafka  # noqa: F401
    except ImportError:
        import pytest as _pytest

        with _pytest.raises(RuntimeError, match="topic_commands"):
            ensure_topics()


def test_ingest_text_pipeline_stream_equals_batch(spark, tmp_path):
    """The composed ingest pipeline (scrub -> quality gates -> dedup
    within watermark) must produce the same kept set streaming as in
    batch mode on identical data."""
    from lab04_spark_streaming_spark.streaming.pipeline import (
        ingest_text_pipeline,
        memory_sink_once,
    )

    long_tail = " ".join(f"token{i} interesting words here" for i in range(6))
    rows = [
        (0, f"contact alice@example.com about the corpus {long_tail}", T0),
        (1, f"contact alice@example.com about the corpus {long_tail}", T0 + dt.timedelta(seconds=1)),  # dup after scrub
        (2, "short doc", T0 + dt.timedelta(seconds=2)),  # fails token floor
        (3, f"clean document body with plenty of ordinary prose {long_tail}", T0 + dt.timedelta(seconds=3)),
        (4, "1 2 3 4 5 6 7 8 9 10 11 12 13 14 15 16 17 18 19 20 21", T0 + dt.timedelta(seconds=4)),  # digit ceiling
    ]
    schema = "doc_id long, text string, ingest_ts timestamp"
    path = str(tmp_path / "ingest")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(path)

    from pyspark.sql.types import _parse_datatype_string

    stream = file_stream(spark, path, _parse_datatype_string(schema))
    out = ingest_text_pipeline(stream)
    memory_sink_once(out, "ingest_out", "append")
    streamed = {r.doc_id for r in spark.table("ingest_out").collect()}

    batch = ingest_text_pipeline(spark.createDataFrame(rows, schema))
    kept = {r.doc_id for r in batch.collect()}
    assert streamed == kept
    assert 2 not in kept and 4 not in kept  # gates fired
    assert len({0, 1} & kept) == 1  # scrub-identical pair deduped
    got3 = [r for r in spark.table("ingest_out").collect() if r.doc_id == 3]
    assert got3 and "<EMAIL>" not in got3[0].clean_text
    got01 = [r for r in spark.table("ingest_out").collect() if r.doc_id in (0, 1)]
    assert got01 and "<EMAIL>" in got01[0].clean_text


EVENTLIKE_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("event_id", LongType()),
    ]
)


def test_sessionize_stream_matches_batch(spark, tmp_path):
    """Gap-sessionization via applyInPandasWithState must reproduce the
    batch window-function sessionization exactly — ordinal session_id
    included — for every session the watermark has finalized."""
    from pyspark.sql import Window

    from lab04_spark_streaming_spark.streaming.state import sessionize_stream

    gap_s = 60
    rows = []
    eid = 0
    for user in (1, 2):
        t = T0 + dt.timedelta(minutes=user)
        for burst, n in enumerate((3, 1, 4, 2)):
            for i in range(n):
                rows.append((user, t, eid))
                eid += 1
                t += dt.timedelta(seconds=7 * (user + 1))
            t += dt.timedelta(seconds=gap_s + 30 + burst)  # force a split
    path = str(tmp_path / "sess")
    df = spark.createDataFrame(rows, EVENTLIKE_SCHEMA)
    df.coalesce(1).write.parquet(path)

    stream = file_stream(spark, path, EVENTLIKE_SCHEMA)
    out = sessionize_stream(stream, "ts", "user_id", gap_s=gap_s)
    memory_sink_once(out, "sess_out", "append")
    streamed = {
        (r.user_id, r.session_id): (r.n_events, r.session_start, r.session_end)
        for r in spark.table("sess_out").collect()
    }
    assert streamed, "stateful sessionizer emitted nothing"

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    with_gap = df.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
            > gap_s,
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    batch = (
        with_gap.withColumn(
            "session_id",
            F.sum("new_session").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )
    expected = {
        (r.user_id, r.session_id): (r.n_events, r.session_start, r.session_end)
        for r in batch.collect()
    }
    for k, v in streamed.items():
        assert k in expected, k
        assert expected[k] == v, (k, expected[k], v)


@pytest.mark.slow
def test_debounce_stream_twin_matches_batch(spark, tmp_path):
    """The wave-8 batch debounce (plans/wave8.q_debounce_keep_first) is
    a gap-chain with a finer key — so its streaming twin IS
    sessionize_stream keyed on a composite (user, type) key with
    gap=600: every finalized stream session must map 1:1 onto a batch
    burst (same ordinal, same start, n_suppressed = n_events - 1).
    Sentinel far-future events per key push the watermark so all real
    bursts finalize."""
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    from lab04_spark_streaming_spark.plans import wave8
    from lab04_spark_streaming_spark.streaming.state import sessionize_stream

    types = ["view", "click"]
    gap_s = wave8._DEBOUNCE_GAP_S
    rows = []
    eid = 0
    for user in (1, 2):
        for ti, etype in enumerate(types):
            t = T0 + dt.timedelta(minutes=user * 3 + ti)
            for burst, (n, gap_after) in enumerate(
                [(3, gap_s + 1), (1, gap_s), (2, gap_s + 900)]
            ):
                for i in range(n):
                    rows.append((eid, t, user, etype, 1.0, "{}"))
                    eid += 1
                    t += dt.timedelta(seconds=gap_s)  # exactly-gap: chains
                # inner loop already advanced t by gap_s past the last
                # event, so add only the remainder: the real inter-burst
                # gap becomes gap_after exactly (gap_after == gap_s then
                # CHAINS across the burst groups — the boundary case).
                t += dt.timedelta(seconds=gap_after - gap_s)
            # sentinel: finalizes every real burst of this key
            rows.append(
                (eid, T0 + dt.timedelta(days=1, minutes=eid), user, etype,
                 1.0, "{}")
            )
            eid += 1
    d = str(tmp_path / "debounce")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.parquet(f"{d}/events.parquet")

    batch = {
        (r.user_id, r.event_type, r.burst_id): (
            r.burst_start,
            r.n_suppressed,
        )
        for r in wave8.q_debounce_keep_first(spark, d).collect()
    }

    ckey_schema = StructType(
        [
            StructField("ckey", LongType()),
            StructField("ts", TimestampType()),
            StructField("event_id", LongType()),
        ]
    )
    src = str(tmp_path / "debounce_stream")
    spark.createDataFrame(
        [
            (r[2] * 8 + types.index(r[3]), r[1], r[0])
            for r in rows
        ],
        ckey_schema,
    ).coalesce(1).write.parquet(src)
    stream = file_stream(spark, src, ckey_schema)
    out = sessionize_stream(stream, "ts", "ckey", gap_s=gap_s)
    memory_sink_once(out, "debounce_out", "append")
    streamed = {}
    for r in spark.table("debounce_out").collect():
        user, ti = divmod(r.user_id, 8)
        streamed[(user, types[ti], r.session_id)] = (
            r.session_start,
            r.n_events - 1,
        )
    # every real (non-sentinel) batch burst must be emitted identically;
    # sentinel bursts are the lone trailing burst per key.
    real = {
        k: v
        for k, v in batch.items()
        if v[0] < T0 + dt.timedelta(days=1)
    }
    assert real, "fixture produced no real bursts"
    for k, v in real.items():
        assert k in streamed, k
        assert streamed[k] == v, (k, v, streamed[k])


@pytest.mark.slow
def test_interval_union_stream_twin_matches_batch(spark, tmp_path):
    """Equal-width activity intervals make the union-of-intervals
    islands EXACTLY gap-W sessions (next start > running max end
    reduces to gap > W when all widths are W), so sessionize_stream
    with gap = _ACTIVITY_SPAN_S is the streaming twin of the wave-8
    interval-union query: per finalized session, n_events matches the
    island and active seconds = (last - first) + W."""
    from lab04_spark_streaming_spark.plans import wave8
    from lab04_spark_streaming_spark.streaming.state import sessionize_stream

    W = wave8._ACTIVITY_SPAN_S
    rows = []
    eid = 0
    for user in (1, 2):
        t = T0 + dt.timedelta(minutes=user)
        for n, gap_after in [(3, W), (2, W + 1), (1, 2 * W)]:
            for _ in range(n):
                rows.append((eid, t, user, "view", 1.0, "{}"))
                eid += 1
                t += dt.timedelta(seconds=W)  # exactly-W: same island
            t += dt.timedelta(seconds=gap_after - W)
        rows.append(
            (eid, T0 + dt.timedelta(days=1, minutes=eid), user, "view",
             1.0, "{}")
        )
        eid += 1
    d = str(tmp_path / "iu")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.parquet(f"{d}/events.parquet")

    batch = {}
    for r in wave8.q_interval_union_time(spark, d).collect():
        batch[r.user_id] = (r.n_events, r.n_islands, r.active_seconds)

    src = str(tmp_path / "iu_stream")
    spark.createDataFrame(
        [(r[2], r[1], r[0]) for r in rows],
        "user_id long, ts timestamp, event_id long",
    ).coalesce(1).write.parquet(src)
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("event_id", LongType()),
        ]
    )
    stream = file_stream(spark, src, schema)
    out = sessionize_stream(stream, "ts", "user_id", gap_s=W)
    memory_sink_once(out, "iu_out", "append")
    per_user = {}
    for r in spark.table("iu_out").collect():
        n, isl, act = per_user.get(r.user_id, (0, 0, 0))
        span = int(
            (r.session_end - r.session_start).total_seconds()
        ) + W
        per_user[r.user_id] = (n + r.n_events, isl + 1, act + span)
    # the sentinel island (1 event, active W) is finalized-unemitted or
    # emitted depending on watermark; compare only the real islands by
    # subtracting it from the batch side when the stream emitted it.
    for u, (bn, bi, ba) in batch.items():
        sn, si, sa = per_user[u]
        if si == bi - 1:  # sentinel island not yet finalized
            assert (sn, sa) == (bn - 1, ba - W), u
        else:
            assert (sn, si, sa) == (bn, bi, ba), u


@pytest.mark.slow
def test_stream_stream_left_outer_join_emits_unmatched(spark, tmp_path):
    """Outer stream-stream join: matched left rows carry the right
    value; unmatched left rows must STILL emit (NULL right columns)
    once the watermark passes their join band — the semantics the
    inner stage-3 join cannot give. Verified against the identical
    batch left join."""
    from lab04_spark_streaming_spark.streaming.pipeline import (
        memory_sink_once,
        stream_stream_outer_join,
    )

    def at(s):
        return T0 + dt.timedelta(seconds=s)

    left_rows = [
        ("A", at(10), 1.0),
        ("A", at(20), 2.0),   # no right partner
        ("B", at(10), 3.0),
        ("C", at(30), 4.0),   # key absent on the right entirely
        ("A", at(500), 9.9),  # sentinel: advances both watermarks
    ]
    right_rows = [
        ("A", at(10), 100.0),
        ("B", at(12), 300.0),  # inside the +/-5s band of B@10
        ("B", at(25), 301.0),  # outside every band
        ("Z", at(500), 0.0),   # sentinel
    ]
    lp, rp = str(tmp_path / "ssl"), str(tmp_path / "ssr")
    spark.createDataFrame(
        left_rows, "sym string, ts timestamp, px double"
    ).coalesce(1).write.parquet(lp)
    spark.createDataFrame(
        right_rows, "sym string, rts timestamp, stat double"
    ).coalesce(1).write.parquet(rp)

    from pyspark.sql.types import (
        DoubleType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    ls = StructType(
        [
            StructField("sym", StringType()),
            StructField("ts", TimestampType()),
            StructField("px", DoubleType()),
        ]
    )
    rs = StructType(
        [
            StructField("sym", StringType()),
            StructField("rts", TimestampType()),
            StructField("stat", DoubleType()),
        ]
    )
    out = stream_stream_outer_join(
        file_stream(spark, lp, ls),
        file_stream(spark, rp, rs),
        on=["sym"],
        l_ts="ts",
        r_ts="rts",
        lower_s=5,
        upper_s=5,
    )
    memory_sink_once(out, "ss_outer", "append")
    got = {
        (r.sym, r.ts, r.px, r.stat)
        for r in spark.table("ss_outer").collect()
        if r.ts < T0 + dt.timedelta(seconds=400)  # drop sentinels
    }

    batch_out = stream_stream_outer_join(
        spark.createDataFrame(left_rows, ls),
        spark.createDataFrame(right_rows, rs),
        on=["sym"],
        l_ts="ts",
        r_ts="rts",
        lower_s=5,
        upper_s=5,
    )
    expected = {
        (r.sym, r.ts, r.px, r.stat)
        for r in batch_out.collect()
        if r.ts < T0 + dt.timedelta(seconds=400)
    }
    assert got == expected
    # the unmatched rows really are present with NULL right columns
    assert ("A", T0 + dt.timedelta(seconds=20), 2.0, None) in got
    assert ("C", T0 + dt.timedelta(seconds=30), 4.0, None) in got
    # and the matched one carries its stat
    assert ("A", T0 + dt.timedelta(seconds=10), 1.0, 100.0) in got


def test_kafka_source_options_contract():
    """Broker-free contract test (VERDICT r5 item 2): the options the
    builder passes to the Kafka reader must equal the reference's
    (moving_statistic.py:32-39 — subscribe, startingOffsets=latest,
    failOnDataLoss=false), checked without the kafka jars."""
    from lab04_spark_streaming_spark.streaming.sources import (
        kafka_source_options,
    )

    opts = kafka_source_options("localhost:9092", "btc-price")
    assert opts == {
        "kafka.bootstrap.servers": "localhost:9092",
        "subscribe": "btc-price",
        "startingOffsets": "latest",
        "failOnDataLoss": "false",
    }
    with_bp = kafka_source_options(
        "k1:9092,k2:9092", "btc-price", max_offsets_per_trigger=50_000
    )
    assert with_bp["maxOffsetsPerTrigger"] == "50000"
    assert with_bp["kafka.bootstrap.servers"] == "k1:9092,k2:9092"


def test_kafka_sink_options_contract():
    from lab04_spark_streaming_spark.streaming.pipeline import (
        kafka_sink_options,
    )

    assert kafka_sink_options("localhost:9092", "btc-price-moving", "/ck") == {
        "kafka.bootstrap.servers": "localhost:9092",
        "topic": "btc-price-moving",
        "checkpointLocation": "/ck",
    }


def test_kafka_jars_conf_empty_and_populated(tmp_path):
    """kafka_jars_conf: {} with no jars (safe to pass unconditionally);
    a comma-joined spark.jars once jars are dropped in."""
    from lab04_spark_streaming_spark.session import kafka_jars_conf

    assert kafka_jars_conf(str(tmp_path)) == {}
    (tmp_path / "spark-sql-kafka-0-10_2.13-4.1.2.jar").write_bytes(b"")
    (tmp_path / "kafka-clients-3.4.1.jar").write_bytes(b"")
    conf = kafka_jars_conf(str(tmp_path))
    jars = conf["spark.jars"].split(",")
    assert len(jars) == 2 and all(j.endswith(".jar") for j in jars)


def test_sessionize_stream_rocksdb_state(spark, tmp_path):
    """The stateful sessionizer runs on the session's default state
    store, RocksDBStateStoreProvider — the provider a 100 TB keyspace
    needs (disk-backed, bounded memory) instead of the heap-backed
    store."""
    from lab04_spark_streaming_spark.streaming.state import sessionize_stream

    rows = [
        (1, T0 + dt.timedelta(seconds=s), i)
        for i, s in enumerate((0, 10, 20, 200, 210, 500))
    ]
    path = str(tmp_path / "rocks_src")
    spark.createDataFrame(rows, EVENTLIKE_SCHEMA).coalesce(1).write.parquet(path)

    stream = file_stream(spark, path, EVENTLIKE_SCHEMA)
    out = sessionize_stream(stream, "ts", "user_id", gap_s=60)
    q = memory_sink_once(out, "rocks_sess_out", "append")
    got = {
        (r.user_id, r.session_id): r.n_events
        for r in spark.table("rocks_sess_out").collect()
    }
    # Only the RocksDB provider reports rocksdb* metrics.
    (op,) = q.lastProgress.stateOperators
    assert any(k.startswith("rocksdb") for k in op.customMetrics), op.customMetrics
    # Watermark finalizes the first two sessions (3 + 2 events); the
    # trailing event's session stays open in state.
    assert got[(1, 0)] == 3 and got[(1, 1)] == 2


@pytest.mark.slow
def test_sessionize_counter_ttl_expires(spark, tmp_path):
    """counter_ttl_s bounds sessionize state by the active-key set: an
    idle key's two-scalar ordinal counter is dropped once the watermark
    passes last activity + TTL, so the key's next session restarts
    session_id numbering at 0 (the documented renumbering trade-off,
    PARITY.md "stateful streaming sessionization")."""
    import time as _time

    from lab04_spark_streaming_spark.streaming.state import sessionize_stream

    gap_s = 60
    # One micro-batch per file; mtimes force the batch order. user 1 has
    # a session at T0 and another at T0+3000s; user 9 events only push
    # the watermark forward between them. TTL=120 s expires user 1's
    # counter at wm T0+510 (armed when session A emits at wm T0+390),
    # well before the second session arrives.
    files = [
        [(1, T0 + dt.timedelta(seconds=s), i) for i, s in enumerate((0, 5, 10))],
        [(9, T0 + dt.timedelta(seconds=400), 100)],
        [(9, T0 + dt.timedelta(seconds=1000), 101)],
        [(9, T0 + dt.timedelta(seconds=2000), 102)],
        [(1, T0 + dt.timedelta(seconds=3000 + s), 200 + i)
         for i, s in enumerate((0, 5))],
        [(9, T0 + dt.timedelta(seconds=4000), 103)],
        [(9, T0 + dt.timedelta(seconds=5000), 104)],
    ]
    path = tmp_path / "ttl_src"
    now = _time.time()
    for i, rows in enumerate(files):
        sub = str(path / f"f{i}")
        spark.createDataFrame(rows, EVENTLIKE_SCHEMA).coalesce(1).write.parquet(sub)
        mtime = now - 700 + i * 100
        for f in (path / f"f{i}").iterdir():
            os.utime(f, (mtime, mtime))

    stream = file_stream(
        spark, str(path / "f*"), EVENTLIKE_SCHEMA, max_files_per_trigger=1
    )
    out = sessionize_stream(
        stream, "ts", "user_id", gap_s=gap_s, counter_ttl_s=120
    )
    memory_sink_once(out, "ttl_sess_out", "append")
    user1 = sorted(
        (r.session_start, r.session_id, r.n_events)
        for r in spark.table("ttl_sess_out").collect()
        if r.user_id == 1
    )
    assert len(user1) == 2, f"expected both user-1 sessions emitted: {user1}"
    (_, id_a, n_a), (_, id_b, n_b) = user1
    assert (id_a, n_a) == (0, 3)
    # Counter expired between the sessions -> numbering restarted at 0
    # (it would be 1 had the counter been retained).
    assert (id_b, n_b) == (0, 2)


def test_twap_stream_matches_batch(spark, tmp_path):
    """Streaming hourly TWAP (applyInPandasWithState) must reproduce
    the batch twap_hourly exactly — including the exact-cents weighted
    arithmetic — for every hour the watermark has finalized."""
    from pyspark.sql.types import DoubleType as _D

    from lab04_spark_streaming_spark.plans.timeseries import twap_hourly
    from lab04_spark_streaming_spark.streaming.state import twap_stream

    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("event_id", LongType()),
            StructField("value", _D()),
        ]
    )
    rows = []
    eid = 0
    for user in (1, 2):
        t = T0 + dt.timedelta(minutes=3 * user)
        for i in range(40):
            rows.append((user, t, eid, round(5.0 + ((eid * 37) % 100) / 7.0, 2)))
            eid += 1
            t += dt.timedelta(seconds=500 + 13 * user + i)  # spans ~3 hours
    path = str(tmp_path / "twap_src")
    df = spark.createDataFrame(rows, schema)
    df.coalesce(1).write.parquet(path)

    stream = file_stream(spark, path, schema)
    out = twap_stream(stream, "ts", "user_id", "value")
    memory_sink_once(out, "twap_out", "append")
    streamed = {
        (r.user_id, r.hour_start): (r.n_events, r.span_us, r.twap)
        for r in spark.table("twap_out").collect()
    }
    assert streamed, "stateful TWAP emitted nothing"

    expected = {
        (r.user_id, r.hour_start): (r.n_events, r.span_us, r.twap)
        for r in twap_hourly(df).collect()
    }
    for k, v in streamed.items():
        assert k in expected, k
        assert expected[k] == v, (k, expected[k], v)
    # the final (unfinalizable) hour of each user stays in state
    assert len(streamed) >= len(expected) - 2


@pytest.mark.slow
def test_twap_stream_multi_microbatch_out_of_order(spark, tmp_path):
    """One hour's observations split across micro-batches, with the
    later batch delivering an EARLIER event time (admissible under a
    30 min lateness watermark): the pending-state merge must re-sort
    and produce the same hold-until-next weights as the batch twin —
    the TWAP recursion is order-sensitive, so a merge that appended
    without re-sorting would mis-weight all three observations.
    Weights: 10.00 for 10 min, 30.00 for 10 min, 20.00 for 35 min
    -> TWAP = 1100/55 = 20.0 exactly."""
    from pyspark.sql.types import DoubleType as _D

    from lab04_spark_streaming_spark.plans.timeseries import twap_hourly
    from lab04_spark_streaming_spark.streaming.state import twap_stream

    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("event_id", LongType()),
            StructField("value", _D()),
        ]
    )
    H = T0.replace(minute=0, second=0)
    d = tmp_path / "twap_mb"
    d.mkdir()

    def write(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(d / name)
        )

    write("a", [(1, H + dt.timedelta(minutes=5), 0, 10.00),
                (1, H + dt.timedelta(minutes=25), 1, 20.00)])
    # batch 2: event-time BETWEEN batch 1's events (out-of-order
    # arrival, admissible: 30 min watermark > the 10 min lateness)
    write("b", [(1, H + dt.timedelta(minutes=15), 2, 30.00)])
    write("c", [(999, H + dt.timedelta(hours=2), 3, 1.00)])  # closes H

    stream = file_stream(spark, str(d / "*"), schema,
                         max_files_per_trigger=1)
    out = twap_stream(stream, "ts", "user_id", "value",
                      watermark="30 minutes")
    memory_sink_once(out, "twap_mb_out", "append")
    streamed = {
        (r.user_id, r.hour_start): (r.n_events, r.span_us, r.twap)
        for r in spark.table("twap_mb_out").collect()
    }
    rows = [(1, H + dt.timedelta(minutes=5), 0, 10.00),
            (1, H + dt.timedelta(minutes=15), 2, 30.00),
            (1, H + dt.timedelta(minutes=25), 1, 20.00)]
    expected = {
        (r.user_id, r.hour_start): (r.n_events, r.span_us, r.twap)
        for r in twap_hourly(spark.createDataFrame(rows, schema)).collect()
    }
    assert streamed[(1, H)] == expected[(1, H)]
    assert streamed[(1, H)] == (3, 55 * 60_000_000, 20.0)


def test_ohlc_stream_matches_batch(spark, tmp_path):
    """Declarative streaming OHLC bars must equal the batch
    q_ohlc_bars aggregate for every watermark-finalized hour — same
    min_by/max_by open/close semantics, same exact-decimal sum."""
    from pyspark.sql.types import DoubleType as _D

    from lab04_spark_streaming_spark.streaming.pipeline import ohlc_stream

    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("event_id", LongType()),
            StructField("value", _D()),
        ]
    )
    rows = []
    eid = 0
    for user in (1, 2):
        t = T0 + dt.timedelta(minutes=2 * user)
        for i in range(50):
            rows.append((user, t, eid, round(9.0 + ((eid * 41) % 90) / 9.0, 2)))
            eid += 1
            t += dt.timedelta(seconds=400 + 11 * user)  # spans ~5 hours
    path = str(tmp_path / "ohlc_src")
    df = spark.createDataFrame(rows, schema)
    df.coalesce(1).write.parquet(path)

    stream = file_stream(spark, path, schema)
    out = ohlc_stream(stream)
    memory_sink_once(out, "ohlc_out", "append")
    streamed = {
        (r.user_id, r.h): (r.open, r.high, r.low, r.close, r.n_events, r.sum_value)
        for r in spark.table("ohlc_out").collect()
    }
    assert streamed, "streaming OHLC emitted nothing"

    batch = df.select(
        "user_id",
        F.date_trunc("hour", F.col("ts")).alias("h"),
        "ts",
        "event_id",
        "value",
    ).groupBy("user_id", "h").agg(
        F.expr("min_by(value, struct(ts, event_id))").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.expr("max_by(value, struct(ts, event_id))").alias("close"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(10,2)")).cast("double").alias("sum_value"),
    )
    expected = {
        (r.user_id, r.h): (r.open, r.high, r.low, r.close, r.n_events, r.sum_value)
        for r in batch.collect()
    }
    for k, v in streamed.items():
        assert k in expected, k
        assert expected[k] == v, (k, expected[k], v)
    # only the last (unfinalizable) hour per user may be withheld
    assert len(streamed) >= len(expected) - 2


def test_cms_counters_stream_matches_batch(spark, tmp_path):
    """The CMS counter grid maintained incrementally by a streaming
    aggregation (complete mode, constant depth×width state) must equal
    the batch counters over the same documents — and therefore every
    min-over-rows estimate the batch heavy-hitters query derives."""
    from pyspark.sql.types import StringType

    from lab04_spark_streaming_spark.streaming.pipeline import cms_counters

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    words = ["spark", "join", "merge", "table", "row", "data", "fast"]
    rows = [
        (i, " ".join(words[(i * 7 + k) % len(words)] for k in range(1 + i % 9)))
        for i in range(60)
    ]
    path = str(tmp_path / "cms_src")
    df = spark.createDataFrame(rows, schema)
    df.coalesce(1).write.parquet(path)

    stream = file_stream(spark, path, schema)
    memory_sink_once(cms_counters(stream), "cms_out", "complete")
    streamed = {
        (r.j, r.bucket): r.c for r in spark.table("cms_out").collect()
    }
    expected = {(r.j, r.bucket): r.c for r in cms_counters(df).collect()}
    assert streamed == expected
    assert sum(streamed.values()) == sum(len(t.split()) for _, t in rows) * 4


@pytest.mark.slow
def test_stream_stream_left_outer_emits_unmatched(spark, tmp_path):
    """Left-outer stream-stream join (band ±30 s): matched left rows
    carry the right payload; unmatched ones are emitted with NULLs
    once a later file advances the watermark past their bound —
    nothing is silently dropped, unlike the inner stage-3 join."""
    from pyspark.sql.types import DoubleType as _D

    from lab04_spark_streaming_spark.streaming.pipeline import (
        join_streams_left_outer,
    )

    lschema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("lts", TimestampType()),
            StructField("lval", _D()),
        ]
    )
    rschema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("rts", TimestampType()),
            StructField("tag", LongType()),
        ]
    )
    lpath, rpath = str(tmp_path / "lo_l"), str(tmp_path / "lo_r")
    # File 1: left rows at t=0..4 min; rights only for even minutes.
    l1 = [(1, T0 + dt.timedelta(minutes=i), float(i)) for i in range(5)]
    r1 = [(1, T0 + dt.timedelta(minutes=i), 100 + i) for i in (0, 2, 4)]
    spark.createDataFrame(l1, lschema).coalesce(1).write.mode("append").parquet(lpath)
    spark.createDataFrame(r1, rschema).coalesce(1).write.mode("append").parquet(rpath)
    # File 2: far-future sentinels push both watermarks past file 1.
    far = T0 + dt.timedelta(hours=6)
    spark.createDataFrame([(9, far, -1.0)], lschema).coalesce(1).write.mode(
        "append"
    ).parquet(lpath)
    spark.createDataFrame([(9, far, -1)], rschema).coalesce(1).write.mode(
        "append"
    ).parquet(rpath)

    out = join_streams_left_outer(
        file_stream(spark, lpath, lschema, max_files_per_trigger=1),
        file_stream(spark, rpath, rschema, max_files_per_trigger=1),
        "user_id",
        "lts",
        "rts",
    )
    memory_sink_once(out, "lo_out", "append")
    got = {
        (r.user_id, r.lts.minute): (r.tag)
        for r in spark.table("lo_out").collect()
        if r.user_id == 1
    }
    # Even minutes matched their tag; odd minutes emitted with NULL.
    assert got.get((1, 0)) == 100 and got.get((1, 2)) == 102
    assert (1, 1) in got and got[(1, 1)] is None
    assert (1, 3) in got and got[(1, 3)] is None


def test_ewma_tws_processor_recursion_with_stubbed_state():
    """The transformWithState EWMA processor's recursion — including
    the cross-batch ValueState carry — verified by driving
    handleInputRows directly with a stubbed state (google.protobuf,
    which the real transformWithState driver worker imports, is absent
    from this container; the full-plumbing test below skips — same
    environment-gap pattern as the Kafka jars)."""
    import pandas as pd

    from lab04_spark_streaming_spark.streaming.state import EwmaTwsProcessor

    class StubState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    class StubHandle:
        def __init__(self):
            self.state = StubState()

        def getValueState(self, name, schema, ttlDurationMs=None):
            return self.state

    proc = EwmaTwsProcessor("ts", "user_id", "value", alpha=0.1)
    handle = StubHandle()
    proc.init(handle)

    t0 = dt.datetime(2024, 6, 1)
    vals1 = [3.0, 9.0, 6.0, 0.0]
    vals2 = [12.0, 3.0]
    pdf1 = pd.DataFrame(
        {
            "user_id": [1] * 4,
            # deliberately unsorted: the processor must sort by (ts, event_id)
            "ts": [t0 + dt.timedelta(seconds=s_) for s_ in (30, 0, 20, 10)],
            "event_id": [3, 0, 2, 1],
            "value": [vals1[3], vals1[0], vals1[2], vals1[1]],
        }
    )
    out1 = pd.concat(list(proc.handleInputRows((1,), iter([pdf1]), None)))
    pdf2 = pd.DataFrame(
        {
            "user_id": [1, 1],
            "ts": [t0 + dt.timedelta(seconds=s_) for s_ in (40, 50)],
            "event_id": [4, 5],
            "value": vals2,
        }
    )
    out2 = pd.concat(list(proc.handleInputRows((1,), iter([pdf2]), None)))

    prev = None
    expected = []
    for v in vals1 + vals2:
        prev = v if prev is None else 0.9 * prev + 0.1 * v
        expected.append(prev)
    got = list(out1.sort_values("event_id")["ewma"]) + list(out2["ewma"])
    assert len(got) == 6
    for g, e in zip(got, expected):
        assert abs(g - e) < 1e-12, (g, e)
    # the carry survived in state for the next batch
    assert abs(handle.state.get()[0] - expected[-1]) < 1e-12


def _protobuf_available() -> bool:
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _protobuf_available(),
    reason="transformWithState driver worker needs google.protobuf "
    "(absent from this container; recursion covered by the stubbed-"
    "state unit test above)",
)
def test_ewma_tws_end_to_end(spark, tmp_path):
    """Full transformWithStateInPandas plumbing (RocksDB-backed) —
    runs wherever protobuf is installed."""
    from pyspark.sql.types import DoubleType as _D

    from lab04_spark_streaming_spark.streaming.state import ewma_stream_tws

    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("event_id", LongType()),
            StructField("value", _D()),
        ]
    )
    rows = [
        (1, T0 + dt.timedelta(seconds=5 * i), i, float(i % 7)) for i in range(10)
    ]
    path = str(tmp_path / "ewma_tws_src")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(path)
    out = ewma_stream_tws(file_stream(spark, path, schema), alpha=0.1)
    memory_sink_once(out, "ewma_tws_e2e", "append")
    got = {r.event_id: r.ewma for r in spark.table("ewma_tws_e2e").collect()}
    prev = None
    for i in range(10):
        v = float(i % 7)
        prev = v if prev is None else 0.9 * prev + 0.1 * v
        assert abs(got[i] - prev) < 1e-12


def test_scd2_stream_matches_batch(spark, tmp_path):
    """Streaming SCD-2 run collapse must reproduce the batch
    gaps-and-islands build exactly for every interval the watermark
    has closed: same (event_type, valid_from, valid_to, n_events) per
    user, in the same order."""
    from pyspark.sql import Window
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from lab04_spark_streaming_spark.streaming.state import scd2_stream

    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("event_id", LongType()),
            StructField("event_type", StringType()),
        ]
    )
    rows = []
    eid = 0
    for user in (1, 2):
        t = T0 + dt.timedelta(minutes=user)
        for run, (etype, n) in enumerate(
            [("a", 3), ("b", 1), ("a", 4), ("c", 2), ("b", 3)]
        ):
            for _ in range(n):
                rows.append((user, t, eid, etype))
                eid += 1
                t += dt.timedelta(seconds=5 * (user + 1))
        # far-future flush event advances the watermark past every
        # earlier boundary, closing the first four runs; itself stays
        # the open current run.
        rows.append((user, t + dt.timedelta(hours=2), eid, "z"))
        eid += 1
    path = str(tmp_path / "scd2")
    df = spark.createDataFrame(rows, schema)
    df.coalesce(1).write.parquet(path)

    stream = file_stream(spark, path, schema)
    out = scd2_stream(stream, "ts", "user_id", "event_type")
    memory_sink_once(out, "scd2_out", "append")
    streamed = sorted(
        (r.user_id, r.valid_from, r.event_type, r.valid_to, r.n_events)
        for r in spark.table("scd2_out").collect()
    )
    assert streamed, "scd2 stream emitted nothing"
    # final global watermark: max event time - 10s (default watermark);
    # only intervals with valid_to <= wm are final. That excludes the
    # run closed by the globally-latest flush event itself.
    wm_final = max(r[1] for r in rows) - dt.timedelta(seconds=10)
    assert len(streamed) == 9

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w2 = Window.partitionBy("user_id").orderBy("valid_from")
    batch_closed = (
        df.withColumn(
            "chg",
            F.when(
                F.lag("event_type").over(w).isNull()
                | (F.lag("event_type").over(w) != F.col("event_type")),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "run",
            F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "run")
        .agg(
            F.first("event_type").alias("event_type"),
            F.min("ts").alias("valid_from"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            "event_type",
            "valid_from",
            F.lead("valid_from").over(w2).alias("valid_to"),
            "n_events",
        )
        .filter(F.col("valid_to").isNotNull())
    )
    expected = sorted(
        (r.user_id, r.valid_from, r.event_type, r.valid_to, r.n_events)
        for r in batch_closed.collect()
        if r.valid_to <= wm_final
    )
    assert streamed == expected


@pytest.mark.slow
def test_scd2_stream_interleaved_late_arrival_rewrites_runs(spark, tmp_path):
    """The reason state retains RAW events: an admissible event that
    lands between pending events must rewrite the run structure.
    Batch 1 delivers a@t100 and a@t300 (one pending run); batch 2
    interleaves b@t200 — the final history must be a|b|a, not a|b."""
    import os
    import time as _time

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from lab04_spark_streaming_spark.streaming.state import scd2_stream

    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("event_id", LongType()),
            StructField("event_type", StringType()),
        ]
    )

    def at(s):
        return T0 + dt.timedelta(seconds=s)

    files = [
        [(1, at(100), 0, "a"), (1, at(300), 1, "a")],
        [(1, at(200), 2, "b")],  # admissible: wm lag is 300 s
        [(1, at(5000), 3, "z")],  # flush: closes everything before it
    ]
    path = tmp_path / "scd2_late"
    now = _time.time()
    for i, rows in enumerate(files):
        sub = str(path / f"f{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(sub)
        mtime = now - 700 + i * 100
        for f in (path / f"f{i}").iterdir():
            os.utime(f, (mtime, mtime))

    stream = file_stream(
        spark, str(path / "f*"), schema, max_files_per_trigger=1
    )
    out = scd2_stream(stream, "ts", "user_id", "event_type", watermark="300 seconds")
    memory_sink_once(out, "scd2_late_out", "append")
    got = sorted(
        (r.valid_from, r.event_type, r.valid_to, r.n_events)
        for r in spark.table("scd2_late_out").collect()
    )
    # the a@300 run closed at t=5000 stays pending: final wm is
    # 5000-300 = 4700 < its valid_to. The first two intervals prove the
    # rewrite: a[100,200) n=1 (NOT a[100,300) n=2) and the interleaved
    # b[200,300).
    assert got == [
        (at(100), "a", at(200), 1),
        (at(200), "b", at(300), 1),
    ]


def test_quality_classifier_runs_unchanged_as_stream(spark, tmp_path):
    """Zero-shuffle per-row plans are batch/stream agnostic by
    construction: the hashing-trick classifier's exact projection runs
    over a document file stream and must emit the same rows the batch
    query produces — the unification that makes every stateless
    curation op in this repo a streaming ingest stage for free."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from lab04_spark_streaming_spark.plans.mining import q_quality_classifier
    from lab04_spark_streaming_spark.sources.files import load_table
    from tests.conftest import SF_DIR

    src = SF_DIR
    d = tmp_path / "docs_stream"
    d.mkdir()
    load_table(spark, src, "documents").select("doc_id", "text").coalesce(
        1
    ).write.parquet(str(d / "documents.parquet"))

    batch = {
        (r["doc_id"], r["score_num"], r["passes"])
        for r in q_quality_classifier(spark, str(d)).collect()
    }

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    stream = file_stream(spark, str(d / "documents.parquet"), schema)
    assert stream.isStreaming
    # the SAME builder the batch query uses — load_table is the only
    # batch-specific piece.
    from lab04_spark_streaming_spark.plans.mining import score_documents

    scored = score_documents(stream).select("doc_id", "score_num", "passes")
    memory_sink_once(scored, "qc_stream_out", "append")
    streamed = {
        (r.doc_id, r.score_num, r.passes)
        for r in spark.table("qc_stream_out").collect()
    }
    assert streamed == batch


def test_hll_dau_stream_matches_batch(spark, tmp_path):
    """The streamed per-hour HLL estimates must equal the batch
    register computation exactly (md5-derived registers, same 64-max
    aggregation body) for every watermark-closed hour."""
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    from lab04_spark_streaming_spark.plans.mining import q_hll_dau_hourly
    from lab04_spark_streaming_spark.streaming.pipeline import hll_dau_stream

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
        ]
    )
    rows = []
    eid = 0
    for h in range(3):
        for u in range(5 + 7 * h):
            rows.append(
                (eid, T0 + dt.timedelta(hours=h, minutes=u % 60), u * 13 + h)
            )
            eid += 1
    # flush event far ahead closes all three hours
    rows.append((eid, T0 + dt.timedelta(hours=6), 999))
    d = tmp_path / "dau"
    d.mkdir()
    df = spark.createDataFrame(rows, schema)
    df.coalesce(1).write.parquet(str(d / "events.parquet"))

    stream = file_stream(spark, str(d / "events.parquet"), schema)
    out = hll_dau_stream(stream, "ts", "user_id")
    memory_sink_once(out, "dau_out", "append")
    streamed = {
        r.hour_start: r.hll_est for r in spark.table("dau_out").collect()
    }
    assert len(streamed) >= 3  # the three full hours are closed

    batch = {
        r["hour_start"]: r["hll_est"]
        for r in q_hll_dau_hourly(spark, str(d)).collect()
    }
    for hour, est in streamed.items():
        assert batch[hour] == est, (hour, batch[hour], est)


@pytest.mark.slow
def test_scd2_stream_watermark_boundary_semantics(spark, tmp_path):
    """Pins the MEASURED Spark 4 late-row semantics the scd2 finality
    rule depends on (probed empirically, r7): applyInPandasWithState
    drops an input row iff ts <= filter_wm, where filter_wm LAGS the
    processor-visible getCurrentWatermarkMs() by one micro-batch. Two
    consequences, one user each:

    * user 2: an event at ts == wm arriving in the FIRST batch after
      the watermark advances is still ADMITTED (its batch's filter_wm
      is one batch old) and must rewrite the pending run — so an
      interval with valid_to == wm is not yet final, which is why
      emission requires valid_to < wm strictly.
    * user 1: the same boundary event arriving one batch LATER is
      dropped by the filter (filter_wm has caught up), so the run
      stays at 2 events; the held interval then emits once the
      watermark strictly passes 10.

    Either way stream output equals the batch build over exactly the
    rows Spark admitted."""
    import time as _time

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from lab04_spark_streaming_spark.streaming.state import scd2_stream

    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("event_id", LongType()),
            StructField("event_type", StringType()),
        ]
    )

    def at(s):
        return T0 + dt.timedelta(seconds=s)

    base = lambda u, off: [  # noqa: E731
        (u, at(0), off + 0, "a"),
        (u, at(5), off + 1, "a"),
        (u, at(10), off + 10, "b"),
        (u, at(20), off + 20, "z"),
    ]
    files = [
        base(1, 0) + base(2, 100),
        # first batch AFTER wm advanced to 10: filter_wm is still 0 —
        # user 2's boundary a@10 (id < b's) is admitted and joins run a.
        [(2, at(10), 105, "a"), (1, at(20), 21, "z")],
        # one batch later filter_wm == 10: user 1's identical boundary
        # event is dropped.
        [(1, at(10), 5, "a")],
        [(1, at(40), 30, "z"), (2, at(40), 130, "z")],
        [(1, at(40), 31, "z"), (2, at(40), 131, "z")],
    ]
    path = tmp_path / "scd2_boundary"
    now = _time.time()
    for i, rows in enumerate(files):
        sub = str(path / f"f{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(sub)
        mtime = now - 700 + i * 100
        for f in (path / f"f{i}").iterdir():
            os.utime(f, (mtime, mtime))

    stream = file_stream(
        spark, str(path / "f*"), schema, max_files_per_trigger=1
    )
    out = scd2_stream(stream, "ts", "user_id", "event_type")
    memory_sink_once(out, "scd2_boundary_out", "append")
    got = sorted(
        (r.user_id, r.valid_from, r.event_type, r.valid_to, r.n_events)
        for r in spark.table("scd2_boundary_out").collect()
    )
    assert got == [
        (1, at(0), "a", at(10), 2),  # boundary event dropped by Spark
        (1, at(10), "b", at(20), 1),
        (2, at(0), "a", at(10), 3),  # boundary event admitted: rewrite
        (2, at(10), "b", at(20), 1),
    ]


@pytest.mark.slow
def test_sessionize_checkpoint_stop_resume_continues_state(spark, tmp_path):
    """Operational recovery: a stateful streaming query stopped after a
    checkpointed availableNow run and RESTARTED from the same
    checkpoint must resume its state store — the pending-session
    buffer AND the ordinal counter — not recompute from zero. The
    proof is the session_id numbering: the post-restart sessions
    continue 1, 2 (a cold start would renumber from 0). Sink is a
    parquet file sink (exactly-once via checkpoint + atomic file
    manifest), the production shape."""
    from lab04_spark_streaming_spark.streaming.state import sessionize_stream

    gap_s = 60
    in_path = str(tmp_path / "sess_in")
    out_path = str(tmp_path / "sess_out_files")
    cp = str(tmp_path / "sess_cp")

    def at(s):
        return T0 + dt.timedelta(seconds=s)

    def run_once(rows):
        spark.createDataFrame(rows, EVENTLIKE_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(in_path)
        stream = file_stream(spark, in_path, EVENTLIKE_SCHEMA)
        q = (
            sessionize_stream(stream, "ts", "user_id", gap_s=gap_s)
            .writeStream.format("parquet")
            .option("path", out_path)
            .option("checkpointLocation", cp)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # run 1: burst A (3 events) + a far flush that finalizes it
    run_once(
        [
            (1, at(0), 0),
            (1, at(7), 1),
            (1, at(14), 2),
            (1, at(3600), 3),
        ]
    )
    first = {
        (r.user_id, r.session_id): (r.n_events, r.session_start, r.session_end)
        for r in spark.read.parquet(out_path).collect()
    }
    assert first == {(1, 0): (3, at(0), at(14))}

    # run 2 (fresh query object, same checkpoint): burst C + far flush.
    # Finalizes the pending flush-1 session (id 1) and burst C (id 2).
    run_once(
        [
            (1, at(7200), 4),
            (1, at(7207), 5),
            (1, at(14400), 6),
        ]
    )
    both = {
        (r.user_id, r.session_id): (r.n_events, r.session_start, r.session_end)
        for r in spark.read.parquet(out_path).collect()
    }
    assert both == {
        (1, 0): (3, at(0), at(14)),
        (1, 1): (1, at(3600), at(3600)),
        (1, 2): (2, at(7200), at(7207)),
    }


def test_enrich_stream_temporal_matches_batch_point_in_time(spark, tmp_path):
    """Temporal stream-static enrichment must resolve each event to the
    SCD-2 dimension row whose [valid_from, valid_to) contains its
    timestamp — identical to the same join run in batch — with NULL
    attributes for events outside every interval (left_outer) and
    open current rows (NULL valid_to) matching everything from their
    valid_from on."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from lab04_spark_streaming_spark.streaming.pipeline import (
        enrich_stream_temporal,
    )

    def at(s):
        return T0 + dt.timedelta(seconds=s)

    dim_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("valid_from", TimestampType()),
            StructField("valid_to", TimestampType()),
            StructField("tier", StringType()),
        ]
    )
    dim = spark.createDataFrame(
        [
            (1, at(0), at(100), "bronze"),
            (1, at(100), at(200), "silver"),
            (1, at(200), None, "gold"),  # open current row
            (2, at(50), at(150), "basic"),
        ],
        dim_schema,
    )
    ev_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("event_id", LongType()),
        ]
    )
    events = [
        (1, at(10), 0),  # bronze
        (1, at(100), 1),  # boundary: silver (valid_from inclusive)
        (1, at(199), 2),  # silver
        (1, at(500), 3),  # gold (open row)
        (2, at(60), 4),  # basic
        (2, at(10), 5),  # before every interval -> NULL
        (3, at(10), 6),  # unknown key -> NULL
    ]
    path = str(tmp_path / "temporal_in")
    spark.createDataFrame(events, ev_schema).coalesce(1).write.parquet(path)

    stream = file_stream(spark, path, ev_schema)
    out = enrich_stream_temporal(stream, dim, ["user_id"], "ts")
    memory_sink_once(out, "temporal_out", "append")
    got = {
        r.event_id: r.tier for r in spark.table("temporal_out").collect()
    }
    assert got == {
        0: "bronze",
        1: "silver",
        2: "silver",
        3: "gold",
        4: "basic",
        5: None,
        6: None,
    }
    # batch twin: identical semantics off-stream
    batch = enrich_stream_temporal(
        spark.createDataFrame(events, ev_schema), dim, ["user_id"], "ts"
    )
    assert {r.event_id: r.tier for r in batch.collect()} == got


def test_enrich_stream_temporal_rejects_colliding_dim_columns(spark):
    """A dimension attribute named like a stream column would produce
    duplicate output names (ADVICE r7) — the builder must refuse up
    front with a clear error instead of emitting an ambiguous frame."""
    import pytest as _pytest

    from lab04_spark_streaming_spark.streaming.pipeline import (
        enrich_stream_temporal,
    )

    def at(s):
        return T0 + dt.timedelta(seconds=s)

    dim = spark.createDataFrame(
        [(1, at(0), None, 9.9)],
        "user_id long, valid_from timestamp, valid_to timestamp, "
        "ts double",  # 'ts' collides with the stream's event-time col
    )
    stream = spark.createDataFrame(
        [(1, at(10), 0)], "user_id long, ts timestamp, event_id long"
    )
    with _pytest.raises(ValueError, match="collide with stream columns"):
        enrich_stream_temporal(stream, dim, ["user_id"], "ts")


@pytest.mark.slow
def test_sessionize_rocksdb_checkpoint_stop_resume(spark, tmp_path):
    """Stop/resume recovery on the RocksDB state store with changelog
    checkpointing — the 100 TB configuration (r6 wired it; this is the
    first cross-restart exercise): the second run must reload state
    from the checkpoint's RocksDB snapshot+changelog and continue the
    ordinal numbering exactly like the heap-backed store does."""
    from lab04_spark_streaming_spark.streaming.state import sessionize_stream

    gap_s = 60
    in_path = str(tmp_path / "rsess_in")
    out_path = str(tmp_path / "rsess_out")
    cp = str(tmp_path / "rsess_cp")

    def at(s):
        return T0 + dt.timedelta(seconds=s)

    def run_once(rows):
        spark.createDataFrame(rows, EVENTLIKE_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(in_path)
        q = (
            sessionize_stream(
                file_stream(spark, in_path, EVENTLIKE_SCHEMA),
                "ts",
                "user_id",
                gap_s=gap_s,
            )
            .writeStream.format("parquet")
            .option("path", out_path)
            .option("checkpointLocation", cp)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once([(1, at(0), 0), (1, at(7), 1), (1, at(14), 2), (1, at(3600), 3)])
    run_once([(1, at(7200), 4), (1, at(7207), 5), (1, at(14400), 6)])
    got = {
        (r.user_id, r.session_id): (r.n_events, r.session_start)
        for r in spark.read.parquet(out_path).collect()
    }
    assert got == {
        (1, 0): (3, at(0)),
        (1, 1): (1, at(3600)),
        (1, 2): (2, at(7200)),
    }


def test_kmv_stream_matches_batch(spark, tmp_path):
    """The streamed per-hour bottom-k KMV sketch must equal the batch
    partitioned-rank computation exactly (same md5-derived integer
    hashes, same k-truncation) for every watermark-closed hour —
    including an hour with fewer than k distinct items (sketch exact)
    and one with more (kth_hash picked)."""
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    from lab04_spark_streaming_spark.streaming.state import (
        kmv_bottomk_hourly_batch,
        kmv_stream,
    )

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
        ]
    )
    k = 16
    rows = []
    eid = 0
    # hour 0: 7 distinct users (< k, sketch exact); hour 1: 40 (> k);
    # hour 2: 40 with half overlapping hour 1's ids (distinct hashing)
    for h, n_users in [(0, 7), (1, 40), (2, 40)]:
        for u in range(n_users):
            uid = u if h < 2 else u + 20
            rows.append(
                (eid, T0 + dt.timedelta(hours=h, minutes=u % 60), uid)
            )
            eid += 1
    rows.append((eid, T0 + dt.timedelta(hours=6), 999))  # flush
    d = tmp_path / "kmv"
    d.mkdir()
    df = spark.createDataFrame(rows, schema)
    df.coalesce(1).write.parquet(str(d / "events.parquet"))

    stream = file_stream(spark, str(d / "events.parquet"), schema)
    out = kmv_stream(stream, "ts", "cast(user_id as string)", k=k)
    memory_sink_once(out, "kmv_out", "append")
    streamed = {
        r.hour_start: (r.n_sketch, r.kth_hash, r.est)
        for r in spark.table("kmv_out").collect()
    }
    assert len(streamed) >= 3

    batch = {
        r.hour_start: (r.n_sketch, r.kth_hash, r.est)
        for r in kmv_bottomk_hourly_batch(
            df, "ts", "cast(user_id as string)", k=k
        ).collect()
    }
    for hour, got in streamed.items():
        assert batch[hour] == got, (hour, batch[hour], got)
    # the sub-k hour is exact
    sub_k = streamed[T0.replace(minute=0, second=0)]
    assert sub_k[0] == 7 and sub_k[2] == 7.0


@pytest.mark.slow
def test_kmv_stream_checkpoint_stop_resume_merges_state(spark, tmp_path):
    """Custom array-state restore: a KMV sketch built before a
    checkpointed stop must MERGE with post-restart arrivals for the
    same hour — the held bottom-k hash array (variable-length
    array<long> state, a different restore shape from sessionize's
    scalar-tuple state) has to round-trip the checkpoint. Run 1 sees
    users 0..9 in hour 0 (hour stays open, sketch state persisted);
    run 2, restarted from the same checkpoint, sees users 5..14 and a
    closing sentinel. The emitted hour must carry all 15 distinct
    users' hashes (state lost on restart would leave only run 2's 10)
    and equal the batch computation over BOTH runs' rows."""
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    from lab04_spark_streaming_spark.streaming.state import (
        kmv_bottomk_hourly_batch,
        kmv_stream,
    )

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
        ]
    )
    k = 16
    in_path = str(tmp_path / "kmv_cp_in")
    out_path = str(tmp_path / "kmv_cp_out")
    cp = str(tmp_path / "kmv_cp_ck")

    def run_once(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_path)
        q = (
            kmv_stream(
                file_stream(spark, in_path, schema),
                "ts",
                "cast(user_id as string)",
                k=k,
            )
            .writeStream.format("parquet")
            .option("path", out_path)
            .option("checkpointLocation", cp)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    b1 = [(i, T0 + dt.timedelta(minutes=i), i) for i in range(10)]
    b2 = [
        (100 + i, T0 + dt.timedelta(minutes=30 + i), 5 + i)
        for i in range(10)
    ] + [(200, T0 + dt.timedelta(hours=6), 999)]
    run_once(b1)
    run_once(b2)

    streamed = {
        r.hour_start: (r.n_sketch, r.kth_hash, r.est)
        for r in spark.read.parquet(out_path).collect()
    }
    batch = {
        r.hour_start: (r.n_sketch, r.kth_hash, r.est)
        for r in kmv_bottomk_hourly_batch(
            spark.createDataFrame(b1 + b2, schema),
            "ts",
            "cast(user_id as string)",
            k=k,
        ).collect()
    }
    assert streamed[T0] == batch[T0]
    assert streamed[T0][0] == 15  # all 15 distinct users, both runs


def test_volume_anomaly_stream_matches_batch(spark, tmp_path):
    """Streamed daily volume-anomaly rows must equal the batch query's
    (type, day) rows exactly — counts, trailing-window sizes AND the
    integer 3-sigma flag — for every watermark-closed day, including a
    genuine spike day that must flag."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from lab04_spark_streaming_spark.plans.wave10 import q_volume_anomaly
    from lab04_spark_streaming_spark.streaming.state import (
        volume_anomaly_stream,
    )

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    day0 = dt.datetime(2024, 6, 1, 0, 0, 0)
    rows = []
    eid = 0
    # steady ~10/day for 9 days, then a 60-event spike on day 9
    for d in range(10):
        n = 60 if d == 9 else 10 + (d % 3)
        for i in range(n):
            rows.append(
                (
                    eid,
                    day0 + dt.timedelta(days=d, minutes=i),
                    i,
                    "click",
                    1.0,
                    "{}",
                )
            )
            eid += 1
    rows.append(
        (eid, day0 + dt.timedelta(days=20), 0, "click", 1.0, "{}")
    )  # flush
    d = tmp_path / "vol"
    d.mkdir()
    df = spark.createDataFrame(rows, schema)
    df.coalesce(1).write.parquet(str(d / "events.parquet"))

    stream = file_stream(spark, str(d / "events.parquet"), schema)
    out = volume_anomaly_stream(stream, "ts", "event_type")
    memory_sink_once(out, "vol_out", "append")
    streamed = {
        (r.event_type, r.day.date()): (r.cnt, r.trailing_days, r.is_anomaly)
        for r in spark.table("vol_out").collect()
    }
    assert len(streamed) >= 10

    batch = {
        (r.event_type, r.day): (r.cnt, r.trailing_days, r.is_anomaly)
        for r in q_volume_anomaly(spark, str(d)).collect()
    }
    for k, got in streamed.items():
        assert batch[k] == got, (k, batch[k], got)
    # the spike day flags in both
    assert streamed[("click", (day0 + dt.timedelta(days=9)).date())][2]


@pytest.mark.slow
def test_volume_anomaly_stream_multi_microbatch(spark, tmp_path):
    """Days arriving INCREMENTALLY across micro-batches (one 2-day
    file per batch) must finalize with the same trailing window and
    flag as the single-batch run: the trailing buffer lives in state
    across batches, so a restart-shaped bug (trail rebuilt from only
    the current batch) would compute the spike flag against a
    truncated window.  Same data shape as the single-batch test —
    steady ~10/day for 9 days then a 60-event day-9 spike — and the
    same batch oracle."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from lab04_spark_streaming_spark.plans.wave10 import q_volume_anomaly
    from lab04_spark_streaming_spark.streaming.state import (
        volume_anomaly_stream,
    )

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    day0 = dt.datetime(2024, 6, 1, 0, 0, 0)
    d = tmp_path / "vol_mb"
    d.mkdir()
    all_rows = []
    eid = 0
    for pair in range(5):  # files a..e: days 0-1, 2-3, 4-5, 6-7, 8-9
        rows = []
        for dd in (2 * pair, 2 * pair + 1):
            n = 60 if dd == 9 else 10 + (dd % 3)
            for i in range(n):
                rows.append(
                    (
                        eid,
                        day0 + dt.timedelta(days=dd, minutes=i),
                        i,
                        "click",
                        1.0,
                        "{}",
                    )
                )
                eid += 1
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(d / f"{chr(97 + pair)}_days")
        )
        all_rows += rows
    flush = [(eid, day0 + dt.timedelta(days=20), 0, "click", 1.0, "{}")]
    spark.createDataFrame(flush, schema).coalesce(1).write.parquet(
        str(d / "f_flush")
    )
    all_rows += flush

    stream = file_stream(spark, str(d / "*"), schema,
                         max_files_per_trigger=1)
    out = volume_anomaly_stream(stream, "ts", "event_type")
    memory_sink_once(out, "vol_mb_out", "append")
    streamed = {
        (r.event_type, r.day.date()): (r.cnt, r.trailing_days, r.is_anomaly)
        for r in spark.table("vol_mb_out").collect()
    }
    assert len(streamed) >= 10

    # batch oracle over the union of all files
    bd = tmp_path / "vol_mb_batch"
    bd.mkdir()
    spark.createDataFrame(all_rows, schema).coalesce(1).write.parquet(
        str(bd / "events.parquet")
    )
    batch = {
        (r.event_type, r.day): (r.cnt, r.trailing_days, r.is_anomaly)
        for r in q_volume_anomaly(spark, str(bd)).collect()
    }
    for k, got in streamed.items():
        assert batch[k] == got, (k, batch[k], got)
    assert streamed[("click", (day0 + dt.timedelta(days=9)).date())][2]


def test_volume_anomaly_state_cleanup_paths():
    """The r8 ADVICE fix: a key whose open days have all finalized
    must keep its trail WITH a cleanup-horizon timeout (not forever),
    a day-end timeout that finalizes the last open day must re-arm
    that horizon (not drop a live key's trail), and the horizon
    timeout itself must remove the state. Driven directly against the
    state-transition function with a stubbed GroupState."""
    import pandas as pd

    from lab04_spark_streaming_spark.streaming.state import (
        _volume_anomaly_state_fn,
    )

    DAY_US = 86_400_000_000

    class StubState:
        def __init__(self, value=None, wm_ms=0, timed_out=False):
            self._v = value
            self.wm_ms = wm_ms
            self.hasTimedOut = timed_out
            self.timeout_ms = None
            self.removed = False

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

        def remove(self):
            self.removed = True
            self._v = None

        def getCurrentWatermarkMs(self):
            return self.wm_ms

        def setTimeoutTimestamp(self, ms):
            self.timeout_ms = ms

    fn = _volume_anomaly_state_fn(trail_days=7, sigma=3)
    batch = lambda ts_list: iter(  # noqa: E731
        [pd.DataFrame({"_ts_us": pd.Series(ts_list, dtype="int64")})]
    )

    # 1. Data for day 0; watermark past day end → day finalizes, no
    #    open days remain → trail kept with the cleanup-horizon
    #    timeout (day0 end + trail_days more days).
    st = StubState(wm_ms=(DAY_US + 1) // 1000)
    out = list(fn(("view",), batch([100, 200, 300]), st))
    assert len(out) == 1 and int(out[0]["cnt"].iloc[0]) == 3
    assert st.exists and not st.removed
    tdays, tcnts, odays, ocnts = st.get
    assert list(tcnts) == [3] and list(odays) == []
    assert st.timeout_ms == (0 + 8 * DAY_US) // 1000

    # 2. The cleanup horizon fires (timed out, no data, no open days)
    #    → state removed.
    st2 = StubState(
        value=([0], [3], [], []),
        wm_ms=(8 * DAY_US + 1) // 1000,
        timed_out=True,
    )
    out2 = list(fn(("view",), iter([]), st2))
    assert out2 == [] and st2.removed

    # 3. A DAY-END timeout that finalizes the last open day: emits,
    #    keeps the trail, re-arms the horizon — must NOT remove.
    st3 = StubState(
        value=([0], [3], [DAY_US], [5]),
        wm_ms=(2 * DAY_US + 1) // 1000,
        timed_out=True,
    )
    out3 = list(fn(("view",), iter([]), st3))
    assert len(out3) == 1 and int(out3[0]["cnt"].iloc[0]) == 5
    assert not st3.removed and st3.exists
    assert st3.timeout_ms == (DAY_US + 8 * DAY_US) // 1000

    # 4. Open day still pending → day-end timeout armed as before.
    st4 = StubState(wm_ms=1)
    list(fn(("view",), batch([5 * DAY_US + 7]), st4))
    assert st4.exists and st4.timeout_ms == (6 * DAY_US) // 1000


def test_srm_stream_matches_batch(spark, tmp_path):
    """Streamed hourly SRM rows must equal the batch computation on
    admitted rows exactly — distinct-user counts per arm AND the
    all-integer chi-square flag — for every watermark-closed hour,
    including a deliberately skewed hour that must flag."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from lab04_spark_streaming_spark.plans.wave12 import (
        _SRM_CHI2_DEN,
        _SRM_CHI2_NUM,
    )
    from lab04_spark_streaming_spark.streaming.pipeline import srm_stream

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    t0 = dt.datetime(2024, 6, 1, 0, 0, 0)
    rows = []
    eid = 0
    # hour 0: balanced 30/30 (users 0..59, each seen twice -> dedup
    # matters); hour 1: skewed 40 even vs 3 odd -> must flag.
    for u in range(60):
        for rep in range(2):
            rows.append(
                (eid, t0 + dt.timedelta(minutes=u % 50, seconds=rep),
                 u, "view", 1.0, "{}")
            )
            eid += 1
    for u in range(80):
        if u % 2 == 0 or u in (1, 3, 5):
            rows.append(
                (eid, t0 + dt.timedelta(hours=1, minutes=u % 50),
                 u, "view", 1.0, "{}")
            )
            eid += 1
    rows.append((eid, t0 + dt.timedelta(hours=6), 999, "view", 1.0, "{}"))
    d = tmp_path / "srm"
    d.mkdir()
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
        str(d / "events.parquet")
    )

    stream = file_stream(spark, str(d / "events.parquet"), schema)
    out = srm_stream(stream, "ts", "user_id")
    memory_sink_once(out, "srm_out", "append")
    streamed = {
        r.hour_start: (r.n0, r.n1, r.srm_flag, r.chi2)
        for r in spark.table("srm_out").collect()
    }
    assert len(streamed) >= 2

    batch_df = (
        spark.read.parquet(str(d / "events.parquet"))
        .select(
            F.date_trunc("hour", "ts").alias("hour_start"),
            (F.col("user_id") % 2).alias("arm"),
            "user_id",
        )
        .distinct()
        .groupBy("hour_start")
        .agg(
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n0"),
            F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n1"),
        )
    )
    from lab04_spark_streaming_spark.functions.guards import stable_round

    diff2 = (F.col("n0") - F.col("n1")) * (F.col("n0") - F.col("n1"))
    tot = F.col("n0") + F.col("n1")
    batch = {
        r.hour_start: (r.n0, r.n1, r.srm_flag, r.chi2)
        for r in batch_df.select(
            "hour_start",
            "n0",
            "n1",
            (diff2 * _SRM_CHI2_DEN > F.lit(_SRM_CHI2_NUM) * tot).alias(
                "srm_flag"
            ),
            stable_round(
                F.when(tot > 0, diff2.cast("double") / tot.cast("double")), 6
            ).alias("chi2"),
        ).collect()
    }
    for k, got in streamed.items():
        assert batch[k] == got, (k, batch[k], got)
    assert streamed[t0][:3] == (30, 30, False)
    assert streamed[t0 + dt.timedelta(hours=1)][2] is True


@pytest.mark.slow
def test_srm_stream_dedup_across_microbatches(spark, tmp_path):
    """A user re-appearing LATE in the same hour, in a LATER
    micro-batch, must still count once: the dedup horizon is
    1 hour + lateness, not just the lateness watermark (a 10 s dedup
    horizon would expire the key and double-count — the round-9
    advisor's scenario).  Five single-file micro-batches
    (maxFilesPerTrigger=1, lexicographic arrival): batch 0 sees users
    0..9 at hh:00; batch 1 advances the watermark (hh:40); batch 2
    (hh:45) runs state eviction under that advanced watermark — with a
    10 s dedup horizon the hh:00 keys are now EXPIRED; batch 3 re-sends
    users 0..4 at hh:50 (dup, 50 min later) plus new user 100; batch 4
    is a far-future sentinel that closes the hour.  Verified sharp:
    under the pre-fix 10 s horizon this arrival order yields (11, 7) —
    users 0..4 double-counted — vs the correct (8, 5)."""
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    from lab04_spark_streaming_spark.streaming.pipeline import srm_stream

    t0 = dt.datetime(2024, 6, 1, 0, 0, 0)
    d = tmp_path / "srm_mb"
    d.mkdir()

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(d / name)
        )

    b0 = [(i, t0, i, "view", 1.0, "{}") for i in range(10)]
    b1 = [(50, t0 + dt.timedelta(minutes=40), 102, "view", 1.0, "{}")]
    b2 = [(51, t0 + dt.timedelta(minutes=45), 104, "view", 1.0, "{}")]
    b3 = [
        (100 + i, t0 + dt.timedelta(minutes=50), i, "view", 1.0, "{}")
        for i in range(5)
    ] + [(200, t0 + dt.timedelta(minutes=50), 100, "view", 1.0, "{}")]
    b4 = [(300, t0 + dt.timedelta(hours=6), 999, "view", 1.0, "{}")]
    write_batch("a_batch0", b0)
    write_batch("b_batch1", b1)
    write_batch("c_batch2", b2)
    write_batch("d_batch3", b3)
    write_batch("e_batch4", b4)

    stream = file_stream(
        spark, str(d / "*"), schema, max_files_per_trigger=1
    )
    out = srm_stream(stream, "ts", "user_id")
    memory_sink_once(out, "srm_mb_out", "append")
    got = {
        r.hour_start: (r.n0, r.n1)
        for r in spark.table("srm_mb_out").collect()
    }
    # Users 0..9 + 100 + 102 + 104: eight even (0,2,4,6,8,100,102,104),
    # five odd (1,3,5,7,9); the re-sent users must NOT be re-counted.
    assert got[t0] == (8, 5), got


def test_srm_stream_rocksdb_state(spark, tmp_path):
    """The SRM guardrail's two state stores — the
    dropDuplicatesWithinWatermark dedup keys and the windowed count
    aggregation — run on the session's default RocksDBStateStoreProvider,
    the provider an unbounded (hour, user) dedup keyspace needs at scale."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from lab04_spark_streaming_spark.streaming.pipeline import srm_stream

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    t0 = dt.datetime(2024, 6, 1, 0, 0, 0)
    rows = []
    eid = 0
    for u in range(40):  # balanced 20/20, each user seen twice
        for rep in range(2):
            rows.append(
                (eid, t0 + dt.timedelta(minutes=u % 50, seconds=rep),
                 u, "view", 1.0, "{}")
            )
            eid += 1
    rows.append((eid, t0 + dt.timedelta(hours=6), 999, "view", 1.0, "{}"))
    path = str(tmp_path / "srm_rocks")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(path)

    out = srm_stream(file_stream(spark, path, schema), "ts", "user_id")
    memory_sink_once(out, "srm_rocks_out", "append")
    got = {
        r.hour_start: (r.n0, r.n1, r.srm_flag)
        for r in spark.table("srm_rocks_out").collect()
    }
    assert got[t0] == (20, 20, False)


@pytest.mark.slow
def test_srm_stream_checkpoint_stop_resume_dedup(spark, tmp_path):
    """Operational recovery for the SRM guardrail: a user first seen
    BEFORE a checkpointed stop and re-sent AFTER the restart must still
    count once — the dropDuplicatesWithinWatermark key state has to
    survive the restart via the checkpoint (losing it would re-admit
    the re-sent users and read 10,7 instead of 7,5 for the hour).
    Parquet file sink (exactly-once manifest), availableNow runs."""
    from lab04_spark_streaming_spark.streaming.pipeline import srm_stream

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    t0 = dt.datetime(2024, 6, 1, 0, 0, 0)
    in_path = str(tmp_path / "srm_cp_in")
    out_path = str(tmp_path / "srm_cp_out")
    cp = str(tmp_path / "srm_cp_ck")

    def run_once(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_path)
        q = (
            srm_stream(file_stream(spark, in_path, schema), "ts", "user_id")
            .writeStream.format("parquet")
            .option("path", out_path)
            .option("checkpointLocation", cp)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # run 1: users 0..9 at hh:00 + a watermark-advancing row at hh:40.
    run_once(
        [(i, t0, i, "view", 1.0, "{}") for i in range(10)]
        + [(50, t0 + dt.timedelta(minutes=40), 102, "view", 1.0, "{}")]
    )
    # run 2 (restart from checkpoint): re-send users 0..4 at hh:50,
    # add user 100, and close the hour with a far-future sentinel.
    run_once(
        [
            (100 + i, t0 + dt.timedelta(minutes=50), i, "view", 1.0, "{}")
            for i in range(5)
        ]
        + [(200, t0 + dt.timedelta(minutes=50), 100, "view", 1.0, "{}")]
        + [(300, t0 + dt.timedelta(hours=6), 999, "view", 1.0, "{}")]
    )
    got = {
        r.hour_start: (r.n0, r.n1)
        for r in spark.read.parquet(out_path).collect()
    }
    # evens 0,2,4,6,8,100,102 = 7; odds 1,3,5,7,9 = 5; the five
    # re-sent users must be deduped against the RESTORED state.
    assert got[t0] == (7, 5), got
