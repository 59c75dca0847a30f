"""``batch_ticks``: the tick operators as batch queries over ``events``.

One pass runs the nine registry queries below, always in the order
listed: a pass in a fresh JVM pays the JIT compilation of the code its
queries share, and how that cost falls depends on the order (in
seed-permuted orders, a pass's CPU time ranged from 65 to 84 s). The
seed therefore changes nothing here. Each query's timed action computes an order-independent digest
over every output column (a row count and the sum of a 64-bit hash of
the whole row), so no column can be pruned, and the digest is checked
against the one pinned in ``digests.json``.
"""

from __future__ import annotations

import json
import os
import time

from harness import NULL_TRACER, cpu_s, wrapped_load_table

QUERIES = [
    "moving_stats_flat",
    "moving_stats_long_windows",
    "zscore_asof_join",
    "moving_stats_nested_json",
    "first_crossing_higher",
    "sessionize_gap30m",
    "concurrent_active_30m",
    "scd2_intervals",
    "holt_backtest",
]
# The same moving-stats and z-score stages the stream runs, here over
# the whole table as one batch; they feed s2/s3_batch_cpu_ms_p50. Stage
# 2 is the sum of the three moving-stats queries: one alone spreads
# ~0.25 of its median over runs of the same code.
STAGE2_QUERIES = ("moving_stats_flat", "moving_stats_long_windows", "moving_stats_nested_json")
STAGE3_QUERIES = ("zscore_asof_join",)

EVENTS_ROWS = 4_000
# One pass per run, in the JVM just set up: what a batch job launched on
# its own pays, JIT compilation included. It costs ~1.7x the CPU of a
# second pass, but its total varies less from run to run: the JVM's
# warm-up work is about the same in every run, while how much of it is
# left for a second pass is not. Measured on a 4-core VM, the spread of
# a pass's CPU time over runs, as a share of its median, is 0.04 for
# first passes, 0.15 for second ones and 0.20 for each query's best of
# a second and a third.
PASSES = 1
DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")


def digest(df) -> list:
    """[rows, sum of xxhash64 over all columns] — one Spark job that
    reads every column of every row; equal multisets give equal
    digests whatever the partitioning."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(f"`{c}`") for c in df.columns]).cast("decimal(38,0)")
    r = df.select(h.alias("h")).agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")).first()
    return [int(r["n"]), str(r["s"] if r["s"] is not None else 0)]


def warm_up(spark, events_dir: str) -> None:
    """Part of the set-up: one query over ``events`` through the paths
    every query shares (parquet scan, window, shuffle, aggregate,
    digest), so that their first-use cost lands in set-up and not on
    the first query."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.read.parquet(events_dir)
    w = Window.partitionBy("event_type").orderBy("ts")
    digest(df.withColumn("prev", F.lag("value").over(w)))


def load_digests(path: str = DIGESTS) -> dict:
    with open(path) as fh:
        return json.load(fh)


class BatchTicks:
    def __init__(self, spark, events_dir: str, pinned: dict, tracer=NULL_TRACER):
        from lab04_spark_streaming_spark.registry import queries

        self.spark = spark
        self.events_dir = events_dir
        self.pinned = pinned
        self.tracer = tracer
        registry = queries()
        self.fns = {name: registry[name] for name in QUERIES}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run_query(self, name: str, pass_no: int) -> dict:
        """Build then act on one query; returns its wall and CPU
        seconds."""
        tr = self.tracer
        self.attempted += 1
        # Every query starts from a collected heap, so that no query pays
        # for a collection of the garbage an earlier one left.
        self.spark._jvm.System.gc()
        c0 = cpu_s()
        t0 = time.perf_counter()
        try:
            with tr.span(f"plans.build:{name}", group=f"build-{name}-{pass_no}"):
                df = self.fns[name](self.spark, self.events_dir)
            t1 = time.perf_counter()
            with tr.span(f"exec.action:{name}", group=f"exec-{name}-{pass_no}"):
                got = digest(df)
            t2 = time.perf_counter()
            c2 = cpu_s()
        except Exception as exc:  # a failing query is a failed operation
            self.failed += 1
            self.errors.append(f"{name}: {type(exc).__name__}: {exc}"[:500])
            return {"name": name, "ok": False, "build_s": 0.0, "action_s": 0.0,
                    "wall_s": time.perf_counter() - t0, "cpu_s": cpu_s() - c0}
        ok = got == self.pinned.get(name)
        if not ok:
            self.failed += 1
            self.errors.append(f"{name}: digest {got} != pinned {self.pinned.get(name)}")
        return {"name": name, "ok": ok, "build_s": t1 - t0, "action_s": t2 - t1,
                "wall_s": t2 - t0, "cpu_s": c2 - c0}

    def run_pass(self, pass_no: int) -> dict:
        t0 = time.perf_counter()
        with self.tracer.span(f"pass:{pass_no}"):
            if self.tracer.enabled:
                with wrapped_load_table(self.tracer):
                    per = [self.run_query(n, pass_no) for n in QUERIES]
            else:
                per = [self.run_query(n, pass_no) for n in QUERIES]
        return {"pass_s": time.perf_counter() - t0, "queries": per}


def run(spark, pinned: dict, events_dir: str,
        tracer=NULL_TRACER, passes: int = PASSES) -> tuple[BatchTicks, list[dict]]:
    """Checked passes over the events table."""
    bench = BatchTicks(spark, events_dir, pinned, tracer)
    return bench, [bench.run_pass(i + 1) for i in range(passes)]
