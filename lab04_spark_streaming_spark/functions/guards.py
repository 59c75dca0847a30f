"""Null/NaN/zero guards and the exact moment arithmetic behind every
windowed avg/stddev.

The reference guards every statistic it emits (sample stddev over a
1-row group is NULL; a z-score with std 0/NULL/NaN would be ±inf/NaN):

  * avg  → ``coalesce(avg, 0.0)``          (moving_statistic.py:84)
  * std  → ``when(isnull|isnan, 0.0)``     (moving_statistic.py:86-87)
  * z    → ``when(std bad, 0.0).otherwise((price-avg)/std)``
                                           (zscore_calculator.py:127-133)

:func:`exact_avg` and :func:`sql_exact_std` keep the avg/std guards'
semantics but compute from exact decimal moments. This module is the
only place that knows the moment format (:func:`moment_terms`, summed by
:func:`moment_sums`; :func:`exact_moments` composes the two) and the
avg/std-from-moments arithmetic (:func:`stats_from_moments`): the
window() union, the exploded variant and both prefix-sum paths
(operators/moving_stats_fast.py) all go through them, and the DuckDB
twins read the same decimal type strings.

These are pure Catalyst expressions — they stay inside whole-stage
codegen, cost nothing at scale, and are shared by the batch and
streaming plans.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def bad_std(std: Column) -> Column:
    """Predicate: std is unusable for a z-score (zscore_calculator.py:128)."""
    return F.isnull(std) | F.isnan(std) | (std == F.lit(0.0))


def safe_zscore(value: Column, avg: Column, std: Column) -> Column:
    """(value - avg) / std, forced to 0.0 when std is 0/NULL/NaN
    (zscore_calculator.py:127-133)."""
    return F.when(bad_std(std), F.lit(0.0)).otherwise((value - avg) / std)


# --- Exact (cross-engine bit-identical) moment aggregates ------------------
# Plain double SUM/AVG/STDDEV are order-dependent (parallel summation), so
# two engines legitimately disagree in the last ulps — fatal for the
# value-hash oracle when a result sits on a rounding boundary (e.g. the
# exact half 63.92125). These variants compute the aggregate from EXACT
# decimal moments: per-row casts are deterministic, decimal summation is
# order-independent, and the final double arithmetic is identical IEEE on
# identical inputs — so Spark and DuckDB produce bit-identical doubles
# and no output rounding is needed at all. Still fully incremental
# (sum/count/sumsq) → streaming- and partial-agg-friendly.
#
# Moment format (one type string each, read by both engines): v at scale
# 4, v·v at twice that scale so a 4-decimal value squares exactly.
# Precision 30 leaves 22 integer digits for the square, so |v| < 1e11 —
# BTCUSDT's ~1e5 prices included.
_V_DEC = "DECIMAL(30,4)"
_SQ_DEC = "DECIMAL(30,8)"
# Running (prefix) sums of Σv and Σv²: precision 37, one digit under
# Spark's cap, so adding or subtracting two keeps every scale digit.
# Two decimal(38,s) operands keep only max(38 − integer digits, min(s, 6))
# of them: decimal(38,8) ± decimal(38,8) is decimal(38,7).
RUNNING_DEC = {"s": "DECIMAL(37,4)", "sq": "DECIMAL(37,8)"}


def moment_terms(c: Column) -> tuple[Column, Column]:
    """The per-row moment terms (v::decimal(30,4), (v·v)::decimal(30,8))."""
    return c.cast(_V_DEC), (c * c).cast(_SQ_DEC)


def moment_sums(
    c: Column, term_s: Column, term_sq: Column
) -> tuple[Column, Column, Column]:
    """The moments (count(v), Σ term_s, Σ term_sq) of per-row terms made
    by :func:`moment_terms`. Computing the terms before a row is
    replicated (an explode) casts each value once, not once per copy."""
    return F.count(c), F.sum(term_s), F.sum(term_sq)


def exact_moments(c: Column) -> tuple[Column, Column, Column]:
    """The per-row moment sums (count(v), Σ v::decimal(30,4),
    Σ (v·v)::decimal(30,8))."""
    return moment_sums(c, *moment_terms(c))


def stats_from_moments(n: Column, s: Column, sq: Column) -> tuple[Column, Column]:
    """(avg, sample stddev) from exact moments (n, Σv, Σv²), guarded like
    the reference: empty → avg 0.0; 1-row or empty → std 0.0. Std is
    sqrt((Σv² − (Σv)²/n)/(n−1)), clamped at 0."""
    sd = s.cast("double")
    sqd = sq.cast("double")
    avg = F.when(n == 0, F.lit(0.0)).otherwise(sd / n)
    var = (sqd - sd * sd / n) / (n - F.lit(1))
    std = F.when(n <= 1, F.lit(0.0)).otherwise(F.sqrt(F.greatest(var, F.lit(0.0))))
    return avg, std


def exact_avg(c: Column) -> Column:
    """Order-independent avg with the reference's null→0.0 guard."""
    return stats_from_moments(*exact_moments(c))[0]


def sql_exact_avg(col: str) -> str:
    """DuckDB SQL mirroring :func:`exact_avg` expression-for-expression."""
    return (
        f"CASE WHEN COUNT({col}) = 0 THEN 0.0 "
        f"ELSE CAST(SUM(CAST({col} AS {_V_DEC})) AS DOUBLE) / COUNT({col}) END"
    )


def stable_round(c: Column, digits: int = 4) -> Column:
    """Cross-engine-stable round: floor(x*10^d + 0.5)/10^d computed in
    double. Unlike F.round (decimal-string HALF_UP) vs DuckDB round
    (binary), this is the same IEEE expression in both engines, so equal
    inputs give bit-equal outputs. Use only for display-style rounding
    (JSON payloads); oracle queries prefer exact moments + no rounding."""
    p = float(10**digits)
    return F.floor(c * F.lit(p) + F.lit(0.5)) / F.lit(p)


def sql_stable_round(col: str, digits: int = 4) -> str:
    """DuckDB SQL mirroring :func:`stable_round`. ``col`` is
    parenthesized before the scale multiply — a compound expression
    with a top-level +/- would otherwise bind only its last factor to
    the scale (caught live on ``a - b * c / d``)."""
    p = float(10**digits)
    return f"floor(({col}) * {p} + 0.5) / {p}"


def sql_exact_std(col: str) -> str:
    """DuckDB SQL of the sample stddev of :func:`stats_from_moments`
    over :func:`exact_moments`, expression for expression."""
    s = f"CAST(SUM(CAST({col} AS {_V_DEC})) AS DOUBLE)"
    sq = f"CAST(SUM(CAST({col} * {col} AS {_SQ_DEC})) AS DOUBLE)"
    n = f"COUNT({col})"
    return (
        f"CASE WHEN {n} <= 1 THEN 0.0 "
        f"ELSE sqrt(greatest(({sq} - {s} * {s} / {n}) / ({n} - 1), 0.0)) END"
    )
