"""The measured part of a run, shared by the untraced and traced runs:
the session set-up, the workload, and its end-to-end metrics.

Every figure but ``setup_s`` is measured twice, on two clocks: the
program's CPU time (the end-to-end metrics, named ``*_cpu_*``) and wall
time (printed to stderr, and per layer as ``wall.*`` in the traced run).
On a machine shared with other work, wall time grows with whatever else
takes the cores, by up to 1.6x on a 4-core box with three busy
neighbours, while CPU time stays within a few percent; so the bounded
metrics are on the CPU clock.
"""

from __future__ import annotations

import os
import time

import harness
from harness import WORK, geomean, median

# The figures of one clock, and the names of their CPU versions: the
# end-to-end metrics, with setup_s.
CPU_NAMES = {
    "pass_s": "pass_cpu_s",
    "query_s_geomean": "query_cpu_s_geomean",
    "ticks_per_s": "ticks_per_cpu_s",
    "s2_batch_ms_p50": "s2_batch_cpu_ms_p50",
    "s3_batch_ms_p50": "s3_batch_cpu_ms_p50",
}
UNITS = {"setup_s": "s", "pass_cpu_s": "s", "query_cpu_s_geomean": "s",
         "ticks_per_cpu_s": "1/s", "s2_batch_cpu_ms_p50": "ms", "s3_batch_cpu_ms_p50": "ms"}


def figures(query_s: dict[str, float], s2: tuple, s3: tuple, ticks: float) -> dict:
    """One clock's figures from the seconds of each query of a pass:
    their sum, their geometric mean, ``ticks`` per second of the pass,
    and the sums of the queries ``s2`` and of ``s3`` in ms."""
    pass_s = sum(query_s.values())
    return {
        "pass_s": pass_s,
        "query_s_geomean": geomean(list(query_s.values())),
        "ticks_per_s": ticks / pass_s,
        "s2_batch_ms_p50": sum(query_s[q] for q in s2) * 1e3,
        "s3_batch_ms_p50": sum(query_s[q] for q in s3) * 1e3,
    }


def batch_figures(one_pass: dict, rows: int) -> dict[str, dict]:
    """Per clock, the figures of one pass."""
    from batch_ticks import STAGE2_QUERIES, STAGE3_QUERIES

    out = {}
    for clock in ("cpu", "wall"):
        q_s = {q["name"]: q[f"{clock}_s"] for q in one_pass["queries"]}
        out[clock] = figures(q_s, STAGE2_QUERIES, STAGE3_QUERIES, rows * len(q_s))
    return out


def stream_figures(sr) -> dict[str, dict]:
    """Per clock, the median steady micro-batch of each stage; a pass is
    one 5 s file through both stages."""
    smp = sr.samples()
    out = {}
    for clock in ("cpu", "wall"):
        q = {"s2": median(smp[f"s2_{clock}_ms"]) / 1e3, "s3": median(smp[f"s3_{clock}_ms"]) / 1e3}
        out[clock] = figures(q, ("s2",), ("s3",), sr.ticks_per_file())
    return out


def end_to_end(setup_s: float, figs: dict[str, dict]) -> dict:
    return {"setup_s": setup_s, **{CPU_NAMES[k]: v for k, v in figs["cpu"].items()}}


class Outcome:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def add_batch(self, bench) -> None:
        self.attempted += bench.attempted
        self.failed += bench.failed
        self.errors += bench.errors

    def add_stream(self, sr) -> None:
        self.attempted += len(sr.s2_progress) + len(sr.s3_progress)
        bad = [k for k, ok in sr.checks.items() if not ok]
        self.failed += len(bad)
        self.errors += [f"stream check failed: {k} {sr.details}" for k in bad]


def stream_session(cpus: int, **kwargs):
    """Streaming state is partitioned once, when a query first starts:
    one shuffle partition per core, as the reference's local[4]. On 4
    cores the library's default of 32 makes each stage-2 micro-batch
    about 2.4x slower, more than the benchmark's time budget allows."""
    return harness.Session("perfbench-stream", shuffle_partitions=cpus, **kwargs)


def run_batch(args, sess, tracer, out: Outcome, passes=None) -> list[dict]:
    import batch_ticks

    pinned = batch_ticks.load_digests(args.digests)
    bench, done = batch_ticks.run(sess.spark, pinned, args.events_dir, tracer,
                                  passes or batch_ticks.PASSES)
    out.add_batch(bench)
    return done


def run_stream(args, sess, tracer, out: Outcome, seconds=None, **kwargs):
    from stream_btc import StreamRun

    kwargs.setdefault("min_files", args.s2_min_files)
    sr = StreamRun(sess.spark, args.seed, args.seconds if seconds is None else seconds,
                   os.path.join(WORK, "stream"), tracer, **kwargs).run()
    out.add_stream(sr)
    return sr


def measure(args, cpus, out: Outcome, imports_s: float) -> tuple[dict, dict]:
    """The untraced run: one cold set-up, then the workload. Returns the
    end-to-end metrics and the figures on both clocks."""
    if args.workload == "batch_ticks":
        import batch_ticks

        sess, setup_s = harness.cold_setup(
            lambda: harness.Session("perfbench-batch"), imports_s)
        try:
            t0 = time.perf_counter()
            batch_ticks.warm_up(sess.spark, args.events_dir)
            setup_s += time.perf_counter() - t0
            passes = run_batch(args, sess, harness.NULL_TRACER, out)
        finally:
            sess.close()
        figs = batch_figures(passes[0], args.events_rows)
        return end_to_end(setup_s, figs), figs
    sess, setup_s = harness.cold_setup(lambda: stream_session(cpus), imports_s)
    try:
        sr = run_stream(args, sess, harness.NULL_TRACER, out)
    finally:
        sess.close()
    # The set-up includes the warm-up micro-batches of both stream
    # queries.
    figs = stream_figures(sr)
    return end_to_end(setup_s + sr.warmup_s(), figs), figs
