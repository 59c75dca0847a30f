"""``stream_btc``: the reference's stage-2 → stage-3 pipeline.

Stage 2 reads the seeded tick feed through ``file_stream`` one 5 s
file per micro-batch, computes the six reference windows with a 10 s
watermark in update mode, and writes each micro-batch to a parquet
directory through foreachBatch (the stand-in for ``btc-price-moving``).
The feed is a closed loop: file i+1 is dropped into the source
directory when micro-batch i has written its output, so each
micro-batch starts after the previous one. Stage 3 then joins the tick
stream with that directory (stream-stream, exact grid) and writes the
z-scores the same way.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from collections import Counter

from harness import NULL_TRACER, cpu_s
from inputs import FIRST_LATE_FILE, make_feed, write_feed_file

# Micro-batches of each stage that warm the JVM up before measuring:
# a stage-2 micro-batch still costs ~25% more CPU in the second batch
# than from the third on. Warm-up counts into setup_s.
S2_WARMUP = 2
S3_WARMUP = 1
# Stage 2 reads at least this many tick files (one per micro-batch),
# which include the first late re-sends; stage 3 at least S3_MIN_FILES.
# Its batches are short, so it gets enough of them for a steady median.
S2_MIN_FILES = max(S2_WARMUP + 2, FIRST_LATE_FILE + 1)
S3_MIN_FILES = 12
MAX_FILES = 64


def _tick_schema():
    from pyspark.sql.types import (
        DoubleType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    return StructType([
        StructField("symbol", StringType()),
        StructField("price", DoubleType()),
        StructField("event_time", TimestampType()),
    ])


def _parquet_sink(out_dir: str, cpu_marks: list[float]):
    """Writes each micro-batch to its own directory, then records the
    program's CPU seconds so far: consecutive marks bound one
    micro-batch's CPU time."""
    def write_batch(batch_df, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")
        cpu_marks.append(cpu_s())

    return write_batch


def _batch_cpu_ms(cpu_marks: list[float]) -> list[float]:
    """CPU ms of each micro-batch: the first mark is taken as the query
    starts."""
    return [(b - a) * 1e3 for a, b in zip(cpu_marks, cpu_marks[1:])]


class StreamRun:
    """One pass of the pipeline over a fresh feed in ``work``."""

    def __init__(self, spark, seed: int, seconds: float, work: str,
                 tracer=NULL_TRACER,
                 min_files: int = S2_MIN_FILES,
                 s3_min_files: int = S3_MIN_FILES,
                 s2_warmup: int = S2_WARMUP):
        self.spark = spark
        self.seconds = seconds
        self.min_files = min_files
        self.s3_min_files = s3_min_files
        self.s2_warmup = s2_warmup
        self.s3_warmup = S3_WARMUP
        self.tracer = tracer
        self.dirs = {k: os.path.join(work, k) for k in
                     ("feed", "feed3", "stats", "zscore", "ck2", "ck3")}
        for d in self.dirs.values():
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(self.dirs["feed"])
        os.makedirs(self.dirs["feed3"])
        self.feed = make_feed(seed, MAX_FILES)
        self.t_base = time.time() - 3600
        self.files_s2 = 0
        self.files_s3 = 0
        self.s2_progress: list[dict] = []
        self.s3_progress: list[dict] = []
        self.s2_cpu_marks: list[float] = []
        self.s3_cpu_marks: list[float] = []
        self.checks: dict[str, bool] = {}
        self.details: dict[str, float] = {}

    def _drop_file(self, i: int) -> None:
        write_feed_file(self.feed, i, self.dirs["feed"], self.t_base + i)
        self.files_s2 = i + 1

    def stage2(self) -> None:
        from lab04_spark_streaming_spark.streaming.pipeline import stage2_moving_stats
        from lab04_spark_streaming_spark.streaming.sources import file_stream

        tr = self.tracer
        self._drop_file(0)
        ticks = file_stream(self.spark, self.dirs["feed"], _tick_schema(),
                            max_files_per_trigger=1)
        with tr.span("plans.build:stage2", group="build-stage2"):
            stats = stage2_moving_stats(ticks, nested=False)
        sink = _parquet_sink(self.dirs["stats"], self.s2_cpu_marks)
        clock = {}

        def write_batch(batch_df, batch_id: int) -> None:
            sink(batch_df, batch_id)
            now = time.perf_counter()
            measured = batch_id + 1 - self.s2_warmup
            if measured == 0:
                clock["steady_from"] = now
            # Closed loop: the next file arrives once this batch is out,
            # until min_files have been read and no further micro-batch
            # of the average length fits in the measuring time.
            more = self.files_s2 < self.min_files
            if not more and measured > 0:
                spent = now - clock["steady_from"]
                more = spent + spent / measured <= self.seconds
            if batch_id + 1 == self.files_s2 and more:
                self._drop_file(self.files_s2)

        self.s2_cpu_marks.append(cpu_s())
        q = (stats.writeStream.queryName("s2")
             .foreachBatch(write_batch).outputMode("update")
             .option("checkpointLocation", self.dirs["ck2"]).start())
        try:
            # Returns once a trigger finds no new file, i.e. after the
            # last micro-batch has committed; it waits in the JVM, so the
            # wait costs no CPU.
            q.processAllAvailable()
        finally:
            q.stop()
        self.s2_progress = list(q.recentProgress)

    def stage3(self) -> None:
        from lab04_spark_streaming_spark.streaming.pipeline import stage3_zscore
        from lab04_spark_streaming_spark.streaming.sources import file_stream

        n3 = max(self.files_s2, self.s3_min_files)
        for i in range(n3):
            write_feed_file(self.feed, i, self.dirs["feed3"], self.t_base + i)
        stats_schema = self.spark.read.parquet(self.dirs["stats"]).schema
        ticks = file_stream(self.spark, self.dirs["feed3"], _tick_schema(),
                            max_files_per_trigger=1)
        stats = file_stream(self.spark, self.dirs["stats"], stats_schema)
        with self.tracer.span("plans.build:stage3", group="build-stage3"):
            z = stage3_zscore(ticks, stats.drop("batch_id"), nested=False)
        self.s3_cpu_marks.append(cpu_s())
        q = (z.writeStream.queryName("s3")
             .foreachBatch(_parquet_sink(self.dirs["zscore"], self.s3_cpu_marks)).outputMode("append")
             .option("checkpointLocation", self.dirs["ck3"])
             .trigger(availableNow=True).start())
        try:
            q.awaitTermination(90)
            if q.exception() is not None:
                raise q.exception()
        finally:
            q.stop()
        self.s3_progress = list(q.recentProgress)
        self.files_s3 = n3

    # --- checks -----------------------------------------------------------

    def _on_time(self, n_files: int) -> list[tuple]:
        return [("BTCUSDT", t, p) for i in range(n_files) for t, p in self.feed.on_time[i]]

    def verify(self) -> None:
        """Stage 2: the last version of every (timestamp, symbol, window)
        row equals ``moving_stats_flat`` on the on-time ticks, so no late
        tick opened or changed a window. Stage 3: the z-score rows equal
        ``zscore_exact_grid`` on the on-time ticks and every stats row
        written. Late ticks must show as rows dropped by the watermark.
        The batch operators are run as their Python twins."""
        import twins

        stats = [tuple(r) for r in self.spark.read.parquet(self.dirs["stats"]).select(
            "timestamp", "symbol", "window", "avg_value", "std_value", "batch_id").collect()]
        got2: dict = {}
        for ts, sym, label, avg, std, batch in stats:
            if (ts, sym, label) not in got2 or batch > got2[ts, sym, label][0]:
                got2[ts, sym, label] = (batch, avg, std)
        want2 = twins.moving_stats_flat(self._on_time(self.files_s2))
        worst = 0.0
        for key in set(got2) & set(want2):
            for g, w in zip(got2[key][1:], want2[key]):
                worst = max(worst, abs(g - w) / max(abs(w), 1e-9))
        # Equal up to the shortest-decimal rendering of v*v (half-up at
        # 8 decimals), where a JDK and Python may differ in a last digit.
        self.checks["stage2_equals_batch"] = set(got2) == set(want2) and worst < 1e-9
        self.details["s2_late_windows"] = float(len(set(got2) - set(want2)))
        self.details["s2_max_rel_diff"] = worst

        want3 = Counter(twins.zscore_exact_grid(self._on_time(self.files_s3),
                                                [row[:5] for row in stats]))
        got3 = Counter()
        if glob.glob(os.path.join(self.dirs["zscore"], "*", "*.parquet")):
            got3 = Counter(tuple(r) for r in self.spark.read.parquet(self.dirs["zscore"])
                           .select("timestamp", "symbol", "window", "zscore_value").collect())
        self.checks["stage3_equals_batch"] = got3 == want3 and sum(want3.values()) > 0
        self.details["s3_rows"] = float(sum(got3.values()))

        late = sum(len(self.feed.late[i]) for i in range(self.files_s2))
        dropped = sum(op.get("numRowsDroppedByWatermark", 0)
                      for p in self.s2_progress for op in p["stateOperators"])
        self.details["s2_late_ticks"] = float(late)
        self.details["s2_rows_dropped"] = float(dropped)
        if self.files_s2 > FIRST_LATE_FILE:
            self.checks["late_ticks_dropped"] = late > 0 and dropped > 0

    # --- metrics ----------------------------------------------------------

    @staticmethod
    def steady(progress: list[dict], warmup: int) -> list[dict]:
        """Data micro-batches after the query's warm-up ones."""
        return [p for p in progress if p["numInputRows"] > 0 and p["batchId"] >= warmup]

    @staticmethod
    def warmup_ms(progress: list[dict], warmup: int) -> float:
        return float(sum(p["durationMs"]["triggerExecution"]
                         for p in progress if p["batchId"] < warmup))

    def samples(self) -> dict:
        """Per steady micro-batch, of each stage: wall ms
        (``triggerExecution``) and CPU ms."""
        return {
            "s2_wall_ms": [p["durationMs"]["triggerExecution"]
                           for p in self.steady(self.s2_progress, self.s2_warmup)],
            "s3_wall_ms": [p["durationMs"]["triggerExecution"]
                           for p in self.steady(self.s3_progress, self.s3_warmup)],
            "s2_cpu_ms": _batch_cpu_ms(self.s2_cpu_marks)[self.s2_warmup:],
            "s3_cpu_ms": _batch_cpu_ms(self.s3_cpu_marks)[self.s3_warmup:],
        }

    def warmup_s(self) -> float:
        """Wall time of the warm-up micro-batches of both stages."""
        return (self.warmup_ms(self.s2_progress, self.s2_warmup)
                + self.warmup_ms(self.s3_progress, self.s3_warmup)) / 1e3

    def ticks_per_file(self) -> float:
        return self.feed.ticks_in(self.files_s2) / self.files_s2

    def run(self) -> "StreamRun":
        # The feed stops after the last measured file; a no-data
        # micro-batch that only advances the watermark would then run
        # at the end of each stage. It emits nothing in update or
        # append mode, so it is switched off rather than timed.
        self.spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
        with self.tracer.span("stream.stage2"):
            self.stage2()
        with self.tracer.span("stream.stage3"):
            self.stage3()
        with self.tracer.span("stream.verify"):
            self.verify()
        return self
