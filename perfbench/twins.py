"""Pure-Python twins of the batch operators the stream is checked
against, so the check costs no Spark plan of its own.

``moving_stats_flat`` repeats the arithmetic of the library's batch
operator of the same name with the reference windows: exact decimal
moments (``functions/guards.exact_avg``/``exact_std``), with the
double → decimal casts Spark makes (shortest decimal form, half-up).
``zscore_exact_grid`` repeats ``operators/zscore.zscore_exact_grid``
with ``guards.safe_zscore``.
"""

from __future__ import annotations

import datetime as dt
import math
from decimal import ROUND_HALF_UP, Decimal

WINDOWS = (("30s", 30), ("1m", 60), ("5m", 300), ("15m", 900), ("30m", 1800), ("1h", 3600))
SLIDE_S = 10
EPOCH = dt.datetime(1970, 1, 1)
_US = dt.timedelta(microseconds=1)


def _dec(x: float, scale: int) -> Decimal:
    return Decimal(repr(x)).quantize(Decimal(1).scaleb(-scale), ROUND_HALF_UP)


def moving_stats_flat(ticks) -> dict:
    """ticks: iterable of (symbol, event_time, price). Returns
    {(window_end, symbol, label): (avg_value, std_value)}."""
    slide = SLIDE_S * 1_000_000
    groups: dict[tuple, list[float]] = {}
    for sym, ts, price in ticks:
        us = (ts - EPOCH) // _US
        first_start = us - us % slide
        for label, dur_s in WINDOWS:
            dur = dur_s * 1_000_000
            for k in range(dur // slide):
                end = first_start - k * slide + dur
                groups.setdefault((EPOCH + end * _US, sym, label), []).append(price)
    out = {}
    for key, vals in groups.items():
        n = len(vals)
        s = float(sum(_dec(v, 4) for v in vals))
        sq = float(sum(_dec(v * v, 8) for v in vals))
        avg = s / n
        std = 0.0 if n <= 1 else math.sqrt(max((sq - s * s / n) / (n - 1), 0.0))
        out[key] = (avg, std)
    return out


def zscore_exact_grid(ticks, stats) -> list[tuple]:
    """ticks: (symbol, event_time, price); stats: (timestamp, symbol,
    window, avg_value, std_value) rows, every version. Returns
    (timestamp, symbol, window, zscore_value) rows."""
    by_key: dict[tuple, list[tuple]] = {}
    for ts, sym, label, avg, std in stats:
        by_key.setdefault((ts, sym), []).append((label, avg, std))
    out = []
    for sym, ts, price in ticks:
        for label, avg, std in by_key.get((ts, sym), ()):
            bad = std is None or math.isnan(std) or std == 0.0
            out.append((ts, sym, label, 0.0 if bad else (price - avg) / std))
    return out
