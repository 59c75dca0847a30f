"""Seeded inputs: the BTCUSDT tick feed and the batch ``events`` table.

Everything here is plain pyarrow/numpy: the program under test only
ever sees the files written, never the generator.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- tick feed ---------------------------------------------------------------

FEED_T0 = dt.datetime(2025, 6, 1, 12, 0, 0)  # on the 10 s slide grid
TICK_MS = 100  # reference cadence: one tick per 100 ms
TICKS_PER_FILE = 50  # 5 s of ticks = one reference trigger
PRICE_FLOOR = 100_000.0
# A late tick is re-sent this long after its event time: past the
# longest window (1 h) plus the 10 s watermark, so every window it
# falls in has already been finalized and the watermark must drop it.
LATE_BY = dt.timedelta(hours=1, minutes=10)
LATE_SHARE = 0.01
FIRST_LATE_FILE = 2

TICK_SCHEMA = pa.schema(
    [
        ("symbol", pa.string()),
        ("price", pa.float64()),
        ("event_time", pa.timestamp("us")),
    ]
)


@dataclass
class Feed:
    """The ticks of a seeded feed, file by file: ``on_time[i]`` and
    ``late[i]`` are lists of (event_time, price) written to file i."""

    on_time: list[list[tuple[dt.datetime, float]]] = field(default_factory=list)
    late: list[list[tuple[dt.datetime, float]]] = field(default_factory=list)

    def ticks_in(self, n_files: int) -> int:
        return sum(len(self.on_time[i]) + len(self.late[i]) for i in range(n_files))


def make_feed(seed: int, n_files: int) -> Feed:
    """BTCUSDT random walk near 108,000 (kept above 1e5, 2-decimal
    prices), 100 ms ticks, 5 s per file. About 1% of ticks are re-sent
    late, from file 2 on: a micro-batch drops late rows by the
    watermark of the batch before it, which is unset for files 0 and 1.
    File 2 always re-sends at least one."""
    rng = np.random.default_rng(seed)
    price = 108_000.0 + float(rng.uniform(-500, 500))
    feed = Feed()
    for f in range(n_files):
        on_time = []
        for i in range(TICKS_PER_FILE):
            step = float(rng.normal(0.0, 2.5))
            price = price + step if price + step > PRICE_FLOOR else price - step
            price = round(price, 2)
            ts = FEED_T0 + dt.timedelta(milliseconds=TICK_MS * (f * TICKS_PER_FILE + i))
            on_time.append((ts, price))
        late = []
        if f >= FIRST_LATE_FILE:
            picks = rng.random(TICKS_PER_FILE) < LATE_SHARE
            if f == FIRST_LATE_FILE and not picks.any():
                picks[int(rng.integers(TICKS_PER_FILE))] = True
            late = [(ts - LATE_BY, p) for (ts, p), hit in zip(on_time, picks) if hit]
        feed.on_time.append(on_time)
        feed.late.append(late)
    return feed


def write_feed_file(feed: Feed, i: int, out_dir: str, mtime: float) -> str:
    """Write file ``i`` of the feed (late re-sends mixed in by arrival
    order) with modification time ``mtime``; the file source orders by
    it."""
    rows = feed.on_time[i] + feed.late[i]
    table = pa.table(
        {
            "symbol": ["BTCUSDT"] * len(rows),
            "price": [p for _, p in rows],
            "event_time": pa.array([t for t, _ in rows], pa.timestamp("us")),
        },
        schema=TICK_SCHEMA,
    )
    path = os.path.join(out_dir, f"ticks-{i:05d}.parquet")
    tmp = os.path.join(out_dir, f".ticks-{i:05d}.tmp")
    pq.write_table(table, tmp)
    os.utime(tmp, (mtime, mtime))
    os.replace(tmp, path)  # the stream never sees a half-written file
    return path


# --- batch events table ------------------------------------------------------

EVENTS_SEED = 20240101  # fixed: the pinned output digests depend on it
# The shape of the sf0.1 testdata ``events`` table, read from it with
# DuckDB: 100,000 rows; ts uniform over the 30 days from 2024-01-01
# (mean gap 26 s) and increasing with event_id; user_id uniform over
# 1,500 users (66.7 rows each); five event types, uniform; value
# exponential with mean 50 (median 34.8, p99 228), 2 decimals;
# props '{"k": K}' with K uniform in [0, 100).
SF01_ROWS = 100_000
SF01_DAYS = 30
SF01_USERS = 1_500
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EVENTS_START = dt.datetime(2024, 1, 1)
VALUE_MEAN = 50.0
PROPS_K = 100


def write_events(out_dir: str, n_rows: int, seed: int = EVENTS_SEED) -> str:
    """``events.parquet`` shaped as the first ``n_rows`` rows of the sf0.1
    table: a time slice of it. Every density per unit of time is sf0.1's
    (rows per 10 s window and per event type, events per user per hour,
    the 1,500 users); only the totals shrink with the slice, i.e. the
    time span (30 days · n_rows / 100k) and with it rows per user and
    the length of the hourly series."""
    rng = np.random.default_rng(seed)
    span_us = SF01_DAYS * 86_400 * 1_000_000 * n_rows // SF01_ROWS
    offs = np.sort(rng.integers(0, span_us, n_rows))
    start_us = int((EVENTS_START - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    n_users = SF01_USERS
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n_rows, dtype=np.int64)),
            "ts": pa.array(start_us + offs, pa.int64()).cast(pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_rows, dtype=np.int64)),
            "event_type": pa.array(
                [EVENT_TYPES[i] for i in rng.integers(0, len(EVENT_TYPES), n_rows)]
            ),
            "value": pa.array(np.round(rng.exponential(VALUE_MEAN, n_rows), 2)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, PROPS_K, n_rows)]
            ),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "events.parquet")
    pq.write_table(table, path)
    return path
