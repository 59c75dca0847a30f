"""Self-test of the benchmark harness at tiny size.

    python3 perfbench/selftest.py

Checks, in a few minutes:
  * the Python twins used by the stream checks equal the library's
    batch ``moving_stats_flat`` and ``zscore_exact_grid`` on a seeded
    feed, row for row;
  * on a 1,000-row ``events`` table (sf0.001's row count) with digests
    pinned for it, ``batch_ticks`` is correct and prints every
    end-to-end metric of BENCHMARK.json with its unit, traced and
    untraced;
  * a perturbed pinned digest makes the run report a failure;
  * ``stream_btc`` over a 30 s feed is correct and prints every metric.
Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

os.environ["TZ"] = "UTC"
time.tzset()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import harness  # noqa: E402

TINY_ROWS = 1_000
FEED_30S_FILES = 6


def check(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        raise SystemExit(1)


def twin_parity(spark) -> None:
    import twins
    from inputs import make_feed
    from lab04_spark_streaming_spark.operators.moving_stats import moving_stats_flat
    from lab04_spark_streaming_spark.operators.zscore import zscore_exact_grid
    from stream_btc import _tick_schema

    feed = make_feed(7, 6)
    ticks = [("BTCUSDT", t, p) for f in feed.on_time for t, p in f]
    df = spark.createDataFrame([(s, p, t) for s, t, p in ticks], _tick_schema())
    stats = moving_stats_flat(df, "event_time", ["symbol"], "price")
    got = {(r[0], r[1], r[2]): (r[3], r[4]) for r in stats.collect()}
    check(got == twins.moving_stats_flat(ticks), "moving_stats_flat twin equals the library")
    rows = [tuple(r) for r in stats.collect()]
    z = zscore_exact_grid(df, stats, "event_time", ["symbol"], "price").collect()
    want = sorted(twins.zscore_exact_grid(ticks, rows))
    check(sorted(tuple(r) for r in z) == want and want,
          "zscore_exact_grid twin equals the library")


def run_bench(*argv: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), *argv]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, timeout=300)
    check(proc.returncode == 0, f"run.py {' '.join(argv)} exits 0")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_metrics(result: dict, declared: list[dict], what: str) -> None:
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    want = {m["name"]: m["unit"] for m in declared}
    check(got == want, f"{what}: every metric printed with its declared unit")
    check(all(isinstance(v["value"], float) for v in result["metrics"].values()),
          f"{what}: every value is a number")


def main() -> None:
    import batch_ticks
    import inputs
    import pin_digests

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    harness.prepare_env(len(os.sched_getaffinity(0)))
    events_dir = os.path.join(harness.WORK, f"events-{TINY_ROWS}")
    inputs.write_events(events_dir, TINY_ROWS)
    sess = harness.Session("perfbench-selftest")
    sess.open()
    try:
        twin_parity(sess.spark)
        digests = pin_digests.pin(sess.spark, events_dir)
    finally:
        sess.close()
        harness.stop_jvm()
    pinned = os.path.join(harness.WORK, "selftest-digests.json")
    with open(pinned, "w") as fh:
        json.dump(digests, fh)

    tiny = ["--events-rows", str(TINY_ROWS), "--digests", pinned]
    res = run_bench("--workload", "batch_ticks", "--seed", "1", "--seconds", "1",
                    "--trace", "0", *tiny)
    check(res["correct"] and res["failed"] == 0
          and res["attempted"] == batch_ticks.PASSES * len(batch_ticks.QUERIES),
          "batch_ticks is correct")
    check_metrics(res, spec["end_to_end"], "batch_ticks --trace 0")

    name = batch_ticks.QUERIES[0]
    perturbed = {**digests, name: [digests[name][0], str(int(digests[name][1]) + 1)]}
    with open(pinned, "w") as fh:
        json.dump(perturbed, fh)
    res = run_bench("--workload", "batch_ticks", "--seed", "1", "--seconds", "1",
                    "--trace", "0", *tiny)
    check(not res["correct"] and res["failed"] / res["attempted"] > 0,
          "a perturbed pinned digest gives fail_frac > 0")

    res = run_bench("--workload", "stream_btc", "--seed", "1", "--seconds", "0",
                    "--trace", "0", "--s2-min-files", str(FEED_30S_FILES))
    check(res["correct"] and res["failed"] == 0, "stream_btc over a 30 s feed is correct")
    check_metrics(res, spec["end_to_end"], "stream_btc --trace 0")

    with open(pinned, "w") as fh:
        json.dump(digests, fh)
    res = run_bench("--workload", "batch_ticks", "--seed", "1", "--seconds", "1",
                    "--trace", "1", *tiny)
    check(res["correct"], "traced batch_ticks is correct")
    check_metrics(res, spec["per_layer"], "batch_ticks --trace 1")
    print("selftest passed")


if __name__ == "__main__":
    main()
