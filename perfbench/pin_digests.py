"""Pin the output digests of the ``batch_ticks`` queries.

    python3 perfbench/pin_digests.py [--rows N] [--out PATH]

Generates the fixed-seed ``events`` table, computes every query's
digest with Spark, cross-checks each result against the registry's
DuckDB oracle SQL (row multisets compared cell by cell), and writes
the digests as JSON. Run it when the events generator or a query's
output legitimately changes; a run of ``run.py`` fails when its
digests differ from the pinned ones.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import math
import os
import sys
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]  # the benchmark, then the library

import harness  # noqa: E402


def _cell(v):
    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return "0" if v == 0.0 else repr(v)
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if hasattr(v, "asDict"):
        return _cell(list(v))
    if isinstance(v, dict):
        return _cell(list(v.values()))
    return repr(v)


def _rows(rows, cols) -> Counter:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(_cell(r[i]) for i in order) for r in rows)


def pin(spark, events_dir: str) -> dict:
    import duckdb

    from batch_ticks import QUERIES, digest
    from lab04_spark_streaming_spark.registry import oracle_sql, queries

    fns, sqls = queries(), oracle_sql()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{events_dir}/events.parquet')")
    out = {}
    for name in QUERIES:
        df = fns[name](spark, events_dir)
        out[name] = digest(df)
        if sqls.get(name):
            got = _rows(df.collect(), df.columns)
            res = con.execute(sqls[name])
            cols = [d[0] for d in res.description]
            want = _rows(res.fetchall(), cols)
            status = "matches DuckDB" if got == want else "DIFFERS from DuckDB"
            if got != want:
                raise SystemExit(f"{name}: Spark result {status}")
        else:
            status = "no oracle SQL"
        print(f"{name}: {out[name]} ({status})", file=sys.stderr)
    return out


def main() -> None:
    import batch_ticks
    import inputs

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--rows", type=int, default=batch_ticks.EVENTS_ROWS)
    ap.add_argument("--out", default=batch_ticks.DIGESTS)
    args = ap.parse_args()
    harness.prepare_env(len(os.sched_getaffinity(0)))
    events_dir = os.path.join(harness.WORK, f"events-{args.rows}")
    inputs.write_events(events_dir, args.rows)
    sess = harness.Session("perfbench-pin")
    sess.open()
    try:
        digests = pin(sess.spark, events_dir)
    finally:
        sess.close()
        harness.stop_jvm()
    with open(args.out, "w") as fh:
        json.dump(digests, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
