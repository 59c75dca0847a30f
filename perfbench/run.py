"""Benchmark of the streaming pipeline and the batch tick queries.

    python3 perfbench/run.py --workload stream_btc --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
under ``.perfbench_work/``; the last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics of BENCHMARK.json; ``--trace 1`` runs the
workload untraced, traced and on ``local[1]``, and reports the
per-layer metrics (see ``traced.py``). The workloads are ``stream_btc.py`` and
``batch_ticks.py``; BENCHMARK.json says why each was chosen.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

# Naive timestamps (inputs, collected rows) all read as UTC, like the
# library's session time zone.
os.environ["TZ"] = "UTC"
time.tzset()

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]  # the benchmark, then the library

import harness  # noqa: E402
from harness import WORK  # noqa: E402

WORKLOADS = ("stream_btc", "batch_ticks")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # Internal: the tiny-size runs of selftest.py.
    hidden = argparse.SUPPRESS
    ap.add_argument("--s2-min-files", type=int, default=None, help=hidden)
    ap.add_argument("--events-rows", type=int, default=None, help=hidden)
    ap.add_argument("--digests", default=None, help=hidden)
    args = ap.parse_args(argv)

    try:
        import lab04_spark_streaming_spark.session  # noqa: F401  (imports pyspark)
    except ImportError as exc:
        print(f"perfbench: the library is not importable from {harness.ROOT}: {exc}",
              file=sys.stderr)
        return 2
    # Part of every set-up: a fresh process pays it before its session.
    imports_s = time.perf_counter() - T_PROCESS

    import batch_ticks
    import inputs
    import measure
    import stream_btc
    import traced

    cpus = len(os.sched_getaffinity(0))
    harness.prepare_env(cpus)
    args.s2_min_files = args.s2_min_files or stream_btc.S2_MIN_FILES
    args.jvm_log = os.path.join(WORK, f"jvm-{args.workload}.log")
    if args.trace:
        # The Spark JVM inherits stderr: its log is where failed
        # code-generation compiles show (s2.codegen_fallbacks).
        sys.stderr = os.fdopen(os.dup(2), "w")  # the benchmark's own messages
        fd = os.open(args.jvm_log, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
        os.dup2(fd, 2)
        os.close(fd)
    args.events_rows = args.events_rows or batch_ticks.EVENTS_ROWS
    args.digests = args.digests or batch_ticks.DIGESTS
    args.events_dir = os.path.join(WORK, f"events-{args.events_rows}")
    if args.workload == "batch_ticks":
        inputs.write_events(args.events_dir, args.events_rows)

    out = measure.Outcome()
    try:
        if args.trace:
            metrics = traced.run(args, cpus, out, imports_s)
        else:
            values, figs = measure.measure(args, cpus, out, imports_s)
            metrics = {k: {"value": float(v), "unit": measure.UNITS[k]}
                       for k, v in values.items()}
            print("perfbench: wall clock " + json.dumps(figs["wall"]), file=sys.stderr)
    finally:
        harness.stop_jvm()
    for e in out.errors:
        print(f"perfbench: {e}", file=sys.stderr)
    print(json.dumps({"correct": out.failed == 0, "attempted": out.attempted,
                      "failed": out.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
