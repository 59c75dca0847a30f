"""Scale-path implementation of the sliding-window statistics.

Spark's built-in sliding ``window()`` physically EXPANDS each input row
into duration/slide copies (a 360-way Expand for 1h/10s — visible in
explain()). Correct, but at 100 TB the shuffle carries
rows × Σ(D_i/S) duplicates — the dominant cost of the reference
pipeline's plan (measured: 48 s of a 77 s bench at sf0.1).

This module computes identical results from per-slot prefix sums:

  1. bucket   — ONE shuffle: groupBy (key, 10 s slot) → exact decimal
                moments (n, Σv, Σv²). Output size is bounded by
                time-range/slide × keys, INDEPENDENT of row count —
                the crucial property at scale.
  2. cumsum   — per-key running moments ordered by slot (window
                function; one shuffle by key, partition-local sort).
  3. probe    — any window [e−D, e) statistic is cum(e−1) − cum(e−1−D/S),
                an as-of lookup into the sparse slot axis, implemented
                as union + last_value(ignoreNulls) — still no expansion.

The two ordered passes (cumsum, as-of fill) run either once per key or,
with ``chunk_slots``, as two-level scans over slot-range chunks. The
registry's queries chunk only when the parquet footer says their time
axis spans at least two chunks (plans/reference_parity._chunk_slots).

Moments and avg/std come from functions/guards.exact_moments and
stats_from_moments — the same arithmetic as the window() union — so
results are bit-identical to it (asserted in tests and against the
DuckDB oracle). The running sums and chunk carries are held at
guards.RUNNING_DEC (precision 37): Spark keeps only scale 7 when it adds
or subtracts two decimal(38,8) values, which would round a 4-decimal
value's square.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from lab04_spark_streaming_spark.functions.guards import (
    RUNNING_DEC,
    exact_moments,
    safe_zscore,
    stats_from_moments,
)
from lab04_spark_streaming_spark.operators.moving_stats import (
    REFERENCE_WINDOWS,
    _duration_seconds,
)
from lab04_spark_streaming_spark.operators.pinning import pin


# Slot-range chunk width for parallel prefix scans. A per-key ordered
# pass (cumsum / as-of fill) serializes on key cardinality — with few
# keys and a long time axis most cores idle. Chunking by slot range
# restores parallelism: each (key, chunk) sorts independently, and a
# tiny per-chunk summary table (one row per chunk) carries the running
# state across chunk boundaries. 16384 slots ≈ 1.9 days at 10 s. On an
# axis shorter than two chunks the carry stages buy at most a sliver of
# parallelism, so the registry's queries then run one pass per key
# (plans/reference_parity._chunk_slots).
CHUNK_SLOTS = 16384

# Moment suffixes: bucket columns _n/_s/_sq, running sums _cn/_cs/_csq.
_MOMENTS = ("n", "s", "sq")
_CUM_COLS = tuple(f"_c{m}" for m in _MOMENTS)


def _running(c: Column, moment: str) -> Column:
    """A running sum of moment ``moment`` ("n", "s" or "sq") at its
    running-sum type (guards.RUNNING_DEC), so that sums of and
    differences between two running sums stay exact."""
    return c.cast(RUNNING_DEC[moment]) if moment in RUNNING_DEC else c


def bucket_moments(
    df: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    value_col: str,
    slide_s: int = 10,
) -> DataFrame:
    """Stage 1: exact moments per (key, slot). The only row-count-
    proportional shuffle in the pipeline (with map-side partial agg)."""
    n, s, sq = exact_moments(F.col(value_col))
    return (
        df.withColumn("_slot", F.floor(F.unix_timestamp(F.col(ts_col)) / slide_s))
        .groupBy(*key_cols, "_slot")
        .agg(n.alias("_n"), s.alias("_s"), sq.alias("_sq"))
    )


def cumulative_moments(
    buckets: DataFrame,
    key_cols: Sequence[str],
    chunk_slots: int | None = None,
) -> DataFrame:
    """Stage 2: per-key running moments (decimal sums stay exact).

    ``chunk_slots=None`` (default): one ordered window per key — the
    cheapest plan when the slot axis is short, but it serializes on key
    cardinality (5 keys → 5 busy cores no matter the cluster).

    ``chunk_slots=N`` — chunk-parallel two-level prefix sum: each
    (key, N-slot chunk) cumsums independently, and an exclusive running
    total over the tiny per-chunk summary relation (one row per chunk)
    is broadcast back as the chunk's carry-in, so parallelism follows
    the time axis. Costs ~3 extra small stages — the registry's queries
    chunk only when the parquet footer's ts span covers at least two
    chunks (plans/reference_parity._chunk_slots)."""
    if chunk_slots is None:
        w = (
            Window.partitionBy(*key_cols)
            .orderBy("_slot")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        return buckets.select(
            *key_cols,
            "_slot",
            *[_running(F.sum(f"_{m}").over(w), m).alias(f"_c{m}") for m in _MOMENTS],
        )
    # Two consumers below (partial cumsum + per-chunk totals); the
    # bucket relation is occupied-slot-sized, so a lazy lineage cut is
    # cheap at any scale and halves the upstream scan/agg replay.
    b = pin(buckets.withColumn("_chunk", F.floor(F.col("_slot") / chunk_slots)))
    win = (
        Window.partitionBy(*key_cols, "_chunk")
        .orderBy("_slot")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    part = b.select(
        *key_cols,
        "_chunk",
        "_slot",
        *[_running(F.sum(f"_{m}").over(win), m).alias(f"_c{m}") for m in _MOMENTS],
    )
    totals = b.groupBy(*key_cols, "_chunk").agg(
        *[F.sum(f"_{m}").alias(f"_t{m}") for m in _MOMENTS]
    )
    cw = (
        Window.partitionBy(*key_cols)
        .orderBy("_chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = totals.select(
        *key_cols,
        "_chunk",
        *[
            _running(F.coalesce(F.sum(f"_t{m}").over(cw), F.lit(0)), m).alias(f"_k{m}")
            for m in _MOMENTS
        ],
    )
    return part.join(F.broadcast(carry), [*key_cols, "_chunk"]).select(
        *key_cols,
        "_slot",
        *[
            _running(F.col(f"_c{m}") + F.col(f"_k{m}"), m).alias(f"_c{m}")
            for m in _MOMENTS
        ],
    )


def asof_cum_lookup(
    cums: DataFrame,
    probes: DataFrame,
    key_cols: Sequence[str],
    chunk_slots: int | None = None,
) -> DataFrame:
    """For each probe (key, slot) return the cumulative moments through
    that slot (zeros when no bucket precedes it), preserving any extra
    payload columns the probe rows carry. Union + ordered
    last_value(ignoreNulls) — no expansion.

    ``chunk_slots=None``: one fill pass per key (serializes on key
    cardinality — fine for short slot axes; the registry's queries pick
    by plans/reference_parity._chunk_slots). ``chunk_slots=N``: each
    (key, N-slot chunk) fills independently in parallel; probes that
    precede their chunk's first bucket are patched from a per-chunk
    carry (the last bucket cum of any earlier chunk — an exclusive
    running window over the tiny one-row-per-chunk summary relation,
    broadcast back), so parallelism follows the time axis."""
    cum_types = {c: cums.schema[c].dataType for c in _CUM_COLS}
    pay = [
        (f.name, f.dataType)
        for f in probes.schema.fields
        if f.name not in (*key_cols, "_slot")
    ]

    b_side = cums.select(
        *key_cols,
        F.col("_slot").cast("long").alias("_slot"),
        F.lit(1).alias("_isb"),
        *_CUM_COLS,
        *[F.lit(None).cast(t).alias(n) for n, t in pay],
    )
    p_side = probes.select(
        *key_cols,
        F.col("_slot").cast("long").alias("_slot"),
        F.lit(0).alias("_isb"),
        *[F.lit(None).cast(cum_types[c]).alias(c) for c in _CUM_COLS],
        *[F.col(n) for n, _ in pay],
    )
    zero = {c: F.lit(0).cast(cum_types[c]) for c in _CUM_COLS}

    if chunk_slots is None:
        # _isb desc orders a bucket BEFORE probes at the same slot: the
        # as-of is ≤, so a bucket at the probe slot counts.
        w = (
            Window.partitionBy(*key_cols)
            .orderBy(F.col("_slot"), F.col("_isb").desc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        return (
            b_side.unionByName(p_side)
            .select(
                *key_cols,
                "_slot",
                "_isb",
                *[
                    F.coalesce(
                        F.last(c, ignorenulls=True).over(w), zero[c]
                    ).alias(c)
                    for c in _CUM_COLS
                ],
                *[n for n, _ in pay],
            )
            .filter(F.col("_isb") == 0)
            .drop("_isb")
        )

    # Consumed by the fill window AND the chunk-domain distinct —
    # cut lineage once.
    u = pin(
        b_side.unionByName(p_side)
        .withColumn("_chunk", F.floor(F.col("_slot") / chunk_slots))
    )
    w = (
        Window.partitionBy(*key_cols, "_chunk")
        .orderBy(F.col("_slot"), F.col("_isb").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = u.select(
        *key_cols,
        "_slot",
        "_chunk",
        "_isb",
        *[F.last(c, ignorenulls=True).over(w).alias(c) for c in _CUM_COLS],
        *[n for n, _ in pay],
    ).filter(F.col("_isb") == 0)

    summ = (
        cums.withColumn("_chunk", F.floor(F.col("_slot") / chunk_slots))
        .groupBy(*key_cols, "_chunk")
        .agg(F.max(F.struct("_slot", *_CUM_COLS)).alias("_m"))
    )
    chunk_domain = u.select(*key_cols, "_chunk").distinct()
    cw = (
        Window.partitionBy(*key_cols)
        .orderBy("_chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = chunk_domain.join(summ, [*key_cols, "_chunk"], "left_outer").select(
        *key_cols,
        "_chunk",
        F.last("_m", ignorenulls=True).over(cw).alias("_carry"),
    )
    return filled.join(F.broadcast(carry), [*key_cols, "_chunk"]).select(
        *key_cols,
        "_slot",
        *[
            F.coalesce(F.col(c), F.col(f"_carry.{c}"), zero[c]).alias(c)
            for c in _CUM_COLS
        ],
        *[n for n, _ in pay],
    )


def moving_stats_flat_fast(
    df: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    value_col: str,
    windows: Sequence[tuple[str, str]] = REFERENCE_WINDOWS,
    slide_s: int = 10,
    chunk_slots: int | None = None,
) -> DataFrame:
    """Prefix-sum equivalent of operators/moving_stats.moving_stats_flat
    (bit-identical output, asserted in tests). Instead of expanding
    every ROW into Σ(D/S) window memberships, candidate window ends are
    enumerated from each key's [min_slot, max_slot] range — work bounded
    by time-range/slide × keys × windows, independent of row count.

    By default both ordered passes (cumsum, as-of fill) run once per
    key; with ``chunk_slots`` they are slot-range chunked (two-level
    scans), so parallelism follows the time axis rather than the key
    cardinality."""
    buckets = bucket_moments(df, ts_col, key_cols, value_col, slide_s)
    cums = cumulative_moments(buckets, key_cols, chunk_slots=chunk_slots)
    dmax = max(_duration_seconds(d) // slide_s for _, d in windows)

    bounds = buckets.groupBy(*key_cols).agg(
        F.min("_slot").alias("_lo"), F.max("_slot").alias("_hi")
    )
    probes = bounds.select(
        *key_cols,
        F.explode(
            F.sequence(F.col("_lo") - dmax, F.col("_hi") + dmax - 1)
        ).alias("_slot"),
    )
    looked = asof_cum_lookup(cums, probes, key_cols, chunk_slots=chunk_slots)

    wspec = ", ".join(
        f"struct('{label}' as label, {_duration_seconds(dur) // slide_s} as dslots)"
        for label, dur in windows
    )
    ends = (
        bounds.withColumn("_w", F.explode(F.expr(f"array({wspec})")))
        .select(
            *key_cols,
            F.col("_w.label").alias("window"),
            F.col("_w.dslots").alias("_dslots"),
            F.explode(
                F.sequence(F.col("_lo") + 1, F.col("_hi") + F.col("_w.dslots"))
            ).alias("_end"),
        )
    )
    hi = looked.select(
        *key_cols,
        F.col("_slot").alias("_hi_slot"),
        *[F.col(f"_c{m}").alias(f"_h{m}") for m in _MOMENTS],
    )
    lo = looked.select(
        *key_cols,
        F.col("_slot").alias("_lo_slot"),
        *[F.col(f"_c{m}").alias(f"_l{m}") for m in _MOMENTS],
    )
    j = (
        ends.withColumn("_hi_slot", F.col("_end") - 1)
        .withColumn("_lo_slot", F.col("_end") - 1 - F.col("_dslots"))
        .join(hi, [*key_cols, "_hi_slot"])
        .join(lo, [*key_cols, "_lo_slot"])
    )
    n, s, sq = (F.col(f"_h{m}") - F.col(f"_l{m}") for m in _MOMENTS)
    avg, std = stats_from_moments(n, s, sq)
    return (
        j.filter(n > 0)
        .select(
            (F.col("_end") * slide_s).cast("timestamp").alias("timestamp"),
            *key_cols,
            "window",
            avg.alias("avg_value"),
            std.alias("std_value"),
        )
    )


def zscore_asof_fast(
    ticks: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    value_col: str,
    windows: Sequence[tuple[str, str]] = REFERENCE_WINDOWS,
    slide_s: int = 10,
    max_stale_slots: int = 1,
    id_col: str | None = None,
    chunk_slots: int | None = CHUNK_SLOTS,
) -> DataFrame:
    """Prefix-sum equivalent of operators/zscore.zscore_asof over
    moving_stats_flat: for each tick × window label, the z-score
    against the most recent non-empty window ending ≤ the tick's slot
    (falling back ≤ ``max_stale_slots``).

    Every cumulative moment a tick needs lives at a fixed slot offset:
    for staleness s the window ending at slot e−s covers cum(e−1−s) −
    cum(e−1−s−D/S). The distinct offsets across all windows × stales
    (2 + 2·|windows| by default) become one probe row each, and a
    single as-of fill resolves them all:

      1. bucket    — ONE row-count-proportional shuffle → exact decimal
                     moments per (key, slot).
      2. cumsum    — per-key running moments (output bounded by
                     occupied slots, not rows).
      3. union-fill — probe rows for the DISTINCT (key, end-slot) pairs
                     (not per tick: every tick in a slot needs the same
                     lookups, so fill work scales with occupied slots ×
                     offsets and is INDEPENDENT of tick density — the
                     property that matters at 100 TB) union the sparse
                     cum rows; one ordered last_value(ignoreNulls) pass
                     gives every probe its as-of cum.
      4. pivot+join — per-(key, end-slot) hash agg collapses the probe
                     rows to one struct per offset; window stats are
                     moment differences, freshest non-empty staleness
                     wins; explode emits a (key, end-slot, window) stats
                     relation that ticks join on (key, end-slot) — both
                     sides hash-partitioned on the same key, one
                     shuffle each.

    With ``chunk_slots`` (default CHUNK_SLOTS) the cumsum and fill
    passes are slot-range chunked: each (key, chunk) fills independently
    and a per-chunk carry (last bucket cum before the chunk — a tiny
    summary window) patches probes that precede their chunk's first
    bucket, so parallelism scales with the time axis instead of the key
    count. ``chunk_slots=None`` runs each pass once per key, the cheaper
    plan below two chunks. Output verified bit-equal to
    the naive operator (tests/test_fast_path.py) and to the DuckDB
    oracle."""
    buckets = bucket_moments(ticks, ts_col, key_cols, value_col, slide_s)
    # cums feeds the fill union AND the per-chunk carry summary (and the
    # whole subtree is consumed twice again via the hi/lo split below) —
    # without lineage cuts the plan replayed the parquet scan 34 times
    # at sf0.1 (0 ReusedExchange: exchange reuse does not fire across
    # these differently-shaped subtrees). Occupied-slot-sized → cheap to
    # materialize at any scale.
    cums = pin(cumulative_moments(buckets, key_cols, chunk_slots=chunk_slots))

    offs = sorted(
        {1 + st for st in range(max_stale_slots + 1)}
        | {
            1 + st + _duration_seconds(dur) // slide_s
            for st in range(max_stale_slots + 1)
            for _, dur in windows
        }
    )

    out_id = [F.col(id_col)] if id_col else []
    base = ticks.select(
        *out_id,
        F.col(ts_col).alias("timestamp"),
        *[F.col(k) for k in key_cols],
        F.col(value_col).alias("_v"),
        F.floor(F.unix_timestamp(F.col(ts_col)) / slide_s).alias("_end0"),
    )
    if not id_col:
        # Without a row identity, exact-duplicate ticks collapse to one
        # output row (the historical contract of the pivoted variant,
        # whose final groupBy keyed on (timestamp, key, value)).
        base = base.distinct()
    # Probe DISTINCT (key, end-slot) pairs only: ticks sharing a slot
    # share every lookup, so the fill/pivot workload is bounded by
    # occupied slots × offsets regardless of tick density.
    probes = (
        base.select(*key_cols, "_end0")
        .distinct()
        .withColumn("_off", F.explode(F.array(*[F.lit(o) for o in offs])))
        .withColumn("_slot", (F.col("_end0") - F.col("_off")).cast("long"))
    )
    # hi and lo both consume the resolved probes; cut lineage so the fill pass
    # runs once.
    resolved = pin(asof_cum_lookup(cums, probes, key_cols, chunk_slots=chunk_slots))

    # Assemble window stats RELATIONALLY instead of via a wide pivoted
    # when-tree: the earlier pivot variants (42 max-when aggregates, or
    # a map pivot probed by ~84 getItem calls inside nested whens) spent
    # more driver time in Catalyst analysis/codegen of the giant
    # expression tree than the executors spent running it. Here the
    # resolved probes stay long-form: the two "window end" offsets
    # (1 + staleness) join the per-(window, staleness) "window start"
    # offsets on (key, end-slot, staleness), moments subtract row-wise
    # with flat arithmetic, and the freshest non-empty staleness wins
    # via min_by. Every expression is a handful of nodes.
    hi = resolved.filter(F.col("_off") <= 1 + max_stale_slots).select(
        *key_cols,
        "_end0",
        (F.col("_off") - 1).alias("_st"),
        *[F.col(c).alias(f"_h{c[1:]}") for c in _CUM_COLS],
    )
    # _off → (window label, staleness) decode for the lo side
    # (off = 1 + st + dslots). NOT injective in general — two windows
    # whose dslots differ by ≤ max_stale_slots share an offset, and a
    # window with dslots ≤ max_stale_slots shares an offset with the hi
    # side — so decode by broadcast-joining a tiny literal (off, window,
    # st) relation: collisions fan out into one row per combination,
    # non-lo (hi-only) offsets drop out in the inner join, and the whole
    # decode stays inside whole-stage codegen (a per-row higher-order
    # filter/explode over the literal array measured ~30% slower here).
    combos = ticks.sparkSession.createDataFrame(
        [
            (1 + st + _duration_seconds(dur) // slide_s, label, st)
            for label, dur in windows
            for st in range(max_stale_slots + 1)
        ],
        "_off int, window string, _st int",
    )
    lo = resolved.join(F.broadcast(combos), "_off").select(
        *key_cols,
        "_end0",
        "window",
        "_st",
        *[F.col(c).alias(f"_l{c[1:]}") for c in _CUM_COLS],
    )
    j = hi.join(lo, [*key_cols, "_end0", "_st"])
    n, s, sq = (F.col(f"_h{c[1:]}") - F.col(f"_l{c[1:]}") for c in _CUM_COLS)
    avg, std = stats_from_moments(n, s, sq)
    # Freshest (smallest staleness) non-empty window per (key, slot,
    # window). The join partitions on (key, _end0, _st) while this groupBy
    # clusters on (key, _end0, window), so Spark inserts one more exchange
    # here — acceptable because the input is already reduced to
    # occupied-slot size (probes × windows, not raw events).
    stats = (
        j.filter(n > 0)
        .select(
            *key_cols,
            "_end0",
            "window",
            "_st",
            avg.alias("_avg1"),
            std.alias("_std1"),
        )
        .groupBy(*key_cols, "_end0", "window")
        .agg(
            F.min_by(F.struct("_avg1", "_std1"), F.col("_st")).alias("_p"),
        )
        .select(
            *key_cols,
            "_end0",
            "window",
            F.col("_p._avg1").alias("_avg"),
            F.col("_p._std1").alias("_std"),
        )
    )
    # Ticks → per-slot stats: both sides hash-partition on the join key,
    # and the stats side stays occupied-slots-sized however many ticks
    # land per slot.
    return base.join(stats, [*key_cols, "_end0"]).select(
        *([F.col(id_col)] if id_col else []),
        "timestamp",
        *key_cols,
        "window",
        safe_zscore(F.col("_v"), F.col("_avg"), F.col("_std")).alias(
            "zscore_value"
        ),
    )
