"""Property-based robustness: random corpora and tick series through
the same cross-engine / brute-force oracles the fixture tests use.
Catches input-shape edge cases a fixed fixture can't (empty docs,
unicode, punctuation runs, ties in tick values).

Examples are capped small: each Spark round-trip costs ~1s, so the
budget goes to input diversity, not example count.
"""

from __future__ import annotations

import datetime as dt
import os

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from lab04_spark_streaming_spark.plans import llm, wave7, wave8, wave14, wave15, wave16
from tests.oracle_harness import compare_query

# Mix of scripts, digits, punctuation, whitespace — and '' docs.
_WORD = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyzABCDEFGHIJ0123456789äöüßéàçñ中文.,!?'\"()-@#",
    min_size=1,
    max_size=8,
)
_DOC = st.lists(_WORD, min_size=0, max_size=25).map(" ".join)
_CORPUS = st.lists(_DOC, min_size=1, max_size=8)

_PROP_QUERIES = [
    (llm.q_text_metrics, llm.SQL_TEXT_METRICS),
    (llm.q_fingerprint, llm.SQL_FINGERPRINT),
    (llm.q_dedup_exact, llm.SQL_DEDUP_EXACT),
    (llm.q_jaccard_pairs, llm.SQL_JACCARD_PAIRS),
    (llm.q_token_count_bpe, llm.SQL_TOKEN_COUNT_BPE),
    (llm.q_pii_scrub, llm.SQL_PII_SCRUB),
    # r7 wave: the log-bearing and snapshot-split queries have the
    # richest edge-case surface (empty docs -> ln(0); corpora with no
    # 2-char word -> NULL BPE merge; single-doc snapshots).
    (wave7.q_length_theil_by_source, wave7.SQL_LENGTH_THEIL),
    (wave7.q_source_kl_divergence, wave7.SQL_SOURCE_KL),
    (wave7.q_bpe_encode_apply, wave7.SQL_BPE_ENCODE_APPLY),
    (wave7.q_vocab_novelty_snapshot, wave7.SQL_VOCAB_NOVELTY),
    (wave7.q_cross_source_duplication, wave7.SQL_CROSS_SOURCE_DUPLICATION),
    # r8 wave: association/selection queries — the membership tests are
    # integer, but empty docs, hapax-only vocabularies, single-source
    # degenerate splits and all-equal frequencies (zero Zipf variance)
    # are exactly the guard paths worth fuzzing.
    (wave8.q_pmi_word_pairs, wave8.SQL_PMI_WORD_PAIRS),
    (wave8.q_chi2_terms_by_source, wave8.SQL_CHI2_TERMS),
    (wave8.q_zipf_slope_by_source, wave8.SQL_ZIPF_SLOPE),
    (wave8.q_mixing_weights_temperature, wave8.SQL_MIXING_WEIGHTS),
    (wave8.q_vocab_coverage_topk, wave8.SQL_VOCAB_COVERAGE),
    # r9 wave-14 IR/calibration: query terms absent from the whole
    # corpus (cf = 0 -> the continuity-corrected LM path), empty
    # top-k relations, empty docs (dl = 0 bins), all-one-label
    # calibration cells.
    (wave14.q_mrr_eval, wave14._sql_mrr_eval()),
    (wave14.q_ql_dirichlet_topk, wave14._sql_ql_dirichlet_topk()),
    (wave14.q_ece_calibration, wave14._sql_ece_calibration()),
]


@pytest.mark.slow
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus=_CORPUS)
def test_random_corpus_cross_engine_parity(spark, tmp_path_factory, corpus):
    d = str(tmp_path_factory.mktemp("propdocs"))
    # two sources: exercises the per-source splits (chi2, KL, mixing)
    # and the cross-source queries with a non-degenerate catalog
    rows = [
        (i, t, "en", f"s{i % 2}", len(t)) for i, t in enumerate(corpus)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "documents.parquet")
    )
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{d}/documents.parquet/*.parquet')"
        )
        for fn, sql in _PROP_QUERIES:
            compare_query(spark, con, fn, sql, d)
    finally:
        con.close()


_T0 = dt.datetime(2024, 6, 1, 12, 0, 0)


def _brute_first_crossing(ticks, horizon_s, direction):
    """O(n²) reference: for each tick, seconds until the first strictly
    higher/lower value within the horizon, else None."""
    out = {}
    for t, v in ticks:
        hit = None
        for t2, v2 in ticks:
            if t < t2 <= t + dt.timedelta(seconds=horizon_s):
                if (v2 > v) if direction == "higher" else (v2 < v):
                    if hit is None or t2 < hit:
                        hit = t2
        out[t] = (hit - t).total_seconds() if hit else None
    return out


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    offsets=st.lists(
        st.integers(min_value=0, max_value=120), min_size=1, max_size=30, unique=True
    ),
    # small value domain on purpose: ties are the interesting case
    vals=st.lists(st.integers(min_value=0, max_value=5), min_size=30, max_size=30),
    direction=st.sampled_from(["higher", "lower"]),
)
def test_first_crossing_batch_matches_bruteforce(spark, offsets, vals, direction):
    from lab04_spark_streaming_spark.streaming.state import first_crossing_batch

    ticks = [
        (_T0 + dt.timedelta(seconds=o), float(v)) for o, v in zip(offsets, vals)
    ]
    rows = [("K", v, t, i) for i, (t, v) in enumerate(ticks)]
    df = spark.createDataFrame(
        rows, "symbol string, price double, event_time timestamp, seq long"
    )
    got = {
        r.ts: r.seconds_until
        for r in first_crossing_batch(
            df, "event_time", ["symbol"], "price", 40, direction
        ).collect()
    }
    expected = _brute_first_crossing(ticks, 40, direction)
    assert got.keys() == expected.keys()
    for ts in expected:
        if expected[ts] is None:
            assert got[ts] is None, ts
        else:
            assert got[ts] == pytest.approx(expected[ts], abs=1e-6), ts


# --- random event series through the time-series oracles --------------------
_EV_OFFSET_US = st.integers(min_value=0, max_value=3 * 3600 * 1_000_000)


@pytest.mark.slow
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    # duplicate (user, ts) pairs, exact hour boundaries, and value ties
    # are all admissible — the interesting determinism cases.
    offs=st.lists(_EV_OFFSET_US, min_size=1, max_size=40),
    users=st.lists(st.integers(min_value=1, max_value=3), min_size=40, max_size=40),
    cents=st.lists(st.integers(min_value=0, max_value=2000), min_size=40, max_size=40),
    types=st.lists(
        st.sampled_from(["view", "click", "purchase", "error", "signup"]),
        min_size=40,
        max_size=40,
    ),
)
def test_random_events_timeseries_cross_engine_parity(
    spark, tmp_path_factory, offs, users, cents, types
):
    from lab04_spark_streaming_spark.plans import timeseries as tsp

    d = str(tmp_path_factory.mktemp("propevents"))
    rows = [
        (
            i,
            _T0 + dt.timedelta(microseconds=off),
            users[i],
            types[i],
            cents[i] / 100.0,
            '{"k": 1}',
        )
        for i, off in enumerate(offs)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "events.parquet")
    )
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{d}/events.parquet/*.parquet')"
        )
        for fn, sql in [
            (tsp.q_funnel_steps, tsp.SQL_FUNNEL_STEPS),
            (tsp.q_moving_median, tsp.SQL_MOVING_MEDIAN),
            (tsp.q_ewma_smoothing, tsp._sql_ewma()),
            (tsp.q_time_weighted_avg, tsp.SQL_TIME_WEIGHTED_AVG),
            (tsp.q_gap_fill_locf, tsp.SQL_GAP_FILL_LOCF),
            (tsp.q_gap_fill_interp, tsp.SQL_GAP_FILL_INTERP),
            (tsp.q_mad_outliers, tsp.SQL_MAD_OUTLIERS),
            # r7: entropy (log-bearing) and the moments-merge IVM
            (wave7.q_user_event_entropy, wave7.SQL_USER_EVENT_ENTROPY),
            (
                wave7.q_stats_rollup_incremental,
                wave7.SQL_STATS_ROLLUP_INCREMENTAL,
            ),
            # r8: the temporal-coverage layer — duplicate timestamps,
            # exact gap boundaries and single-event users are the
            # chain/island/grid edge cases.
            (wave8.q_debounce_keep_first, wave8.SQL_DEBOUNCE),
            (wave8.q_interval_union_time, wave8.SQL_INTERVAL_UNION),
            (wave8.q_concurrent_active_30m, wave8.SQL_CONCURRENT_ACTIVE),
            (wave8.q_missing_hours_by_type, wave8.SQL_MISSING_HOURS),
            (wave8.q_deseasonal_outliers, wave8.SQL_DESEASONAL_OUTLIERS),
            (wave8.q_ab_test_welch, wave8.SQL_AB_TEST_WELCH),
            (wave8.q_cuped_adjustment, wave8.SQL_CUPED),
            (wave8.q_cdc_apply_latest, wave8.SQL_CDC_APPLY),
            (
                wave8.q_funnel_time_to_convert,
                wave8.SQL_FUNNEL_TIME_TO_CONVERT,
            ),
            # r9 wave-14 causal/distribution layer: degenerate arms
            # (one-arm buckets -> every IPW bucket excluded), all
            # events on one side of the DiD cutoff (NULL cell means),
            # zero-view jackknife replicates (excluded), sub-k KMV
            # exact branch, single-hour Holt series (no forecast
            # rows), sparse Lorenz/t-closeness bins.
            (wave14.q_lorenz_curve, wave14.SQL_LORENZ_CURVE),
            (wave14.q_t_closeness_audit, wave14.SQL_T_CLOSENESS_AUDIT),
            (wave14.q_diff_in_diff, wave14.SQL_DIFF_IN_DIFF),
            (wave14.q_jackknife_ratio, wave14.SQL_JACKKNIFE_RATIO),
            (wave14.q_kmv_set_ops, wave14.SQL_KMV_SET_OPS),
            (wave14.q_ipw_ate, wave14.SQL_IPW_ATE),
            (wave14.q_holt_backtest, wave14.SQL_HOLT_BACKTEST),
            # r9 wave-15 monitoring layer: one-sided splits (the fuzz
            # window sits entirely AFTER the train cutoff -> empty
            # train/model/baseline paths), single-hour grids (Fano
            # n = 1, zero seasonal variance), ln over corrected bins.
            (wave15.q_psi_drift, wave15.SQL_PSI_DRIFT),
            (wave15.q_markov_next_eval, wave15.SQL_MARKOV_NEXT_EVAL),
            (wave15.q_fano_burstiness, wave15.SQL_FANO_BURSTINESS),
            (wave15.q_seasonal_strength, wave15.SQL_SEASONAL_STRENGTH),
            (wave15.q_pinball_eval, wave15.SQL_PINBALL_EVAL),
            # r9 wave-16: comparison-free users (every comparison a
            # tie -> empty win matrix -> empty BT output), zero
            # purchases (empty Shapley census -> null totals).
            (wave16.q_bradley_terry, wave16._sql_bradley_terry()),
            (
                wave16.q_shapley_attribution,
                wave16._sql_shapley_attribution(),
            ),
        ]:
            compare_query(spark, con, fn, sql, d)
    finally:
        con.close()


# --- random embeddings through the ANN / k-means oracles --------------------
@pytest.mark.slow
@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    # milli-precision components in [-1, 1]; duplicates and near-ties
    # are admissible (the tie-break rules are the point). Component 0 is
    # pinned non-zero so no vector has norm 0 (0/0 cosine ordering is
    # engine-dependent and a zero vector is degenerate input anyway).
    comps=st.lists(
        st.lists(
            st.integers(min_value=-1000, max_value=1000),
            min_size=31,
            max_size=31,
        ),
        min_size=18,
        max_size=30,
    ),
)
def test_random_embeddings_ann_cross_engine_parity(
    spark, tmp_path_factory, comps
):
    from lab04_spark_streaming_spark.registry import all_specs

    d = str(tmp_path_factory.mktemp("propemb"))
    rows = [
        (i, [0.25] + [c / 1000.0 for c in cs], i % 3)
        for i, cs in enumerate(comps)
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "embeddings.parquet")
    )
    by_name = {s.name: s for s in all_specs()}
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{d}/embeddings.parquet/*.parquet')"
        )
        for name in [
            "kmeans_clusters",
            "pq_codes",
            "ann_pq_adc_topk",
            "ann_ivfpq_topk",
            "knn_fold_topk_ids",
            "knn_cosine_topk",
            "ann_ivf_trained_topk",
            # r7: per-label centroid drift on the same grid
            "embedding_centroid_shift",
            # r8: label-aware mining over the shared cell-pair fragment
            "hard_negative_mining",
            "label_noise_knn",
            # r9: cluster-quality evals over the same trained codebook
            # and the RFF-MMD two-sample (the 32-dim fuzz vectors use
            # the weight grid's 0..31 positions — a deterministic
            # subset in both engines)
            "silhouette_simplified",
            "calinski_harabasz",
            "mmd_rff",
        ]:
            s = by_name[name]
            compare_query(spark, con, s.fn, s.sql, d)
    finally:
        con.close()


_R6_CORPUS_QUERIES = "char_entropy word_repetition word_cooccurrence bpe_pair_counts heavy_hitters_cms dedup_incremental bloom_membership textrank_keywords".split()


@pytest.mark.slow
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus=_CORPUS)
def test_r6_corpus_queries_random_parity(spark, tmp_path_factory, corpus):
    """Round-6 corpus surface through random corpora (empty docs,
    unicode, punctuation runs): every new query must hold cross-engine
    parity on shapes the fixtures never produce."""
    from lab04_spark_streaming_spark.registry import all_specs

    d = str(tmp_path_factory.mktemp("r6propdocs"))
    rows = [(i, t, "en", "src", len(t)) for i, t in enumerate(corpus)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "documents.parquet")
    )
    specs = {s.name: s for s in all_specs()}
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{d}/documents.parquet/*.parquet')"
        )
        for name in _R6_CORPUS_QUERIES:
            s = specs[name]
            try:
                compare_query(spark, con, s.fn, s.sql, d)
            except AssertionError as e:
                raise AssertionError(f"{name}: {e}") from e
    finally:
        con.close()


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    keys=st.lists(
        st.integers(min_value=-50, max_value=50), min_size=0, max_size=60
    ),
    nparts=st.integers(min_value=1, max_value=12),
)
def test_global_row_number_property(spark, keys, nparts):
    """Distributed two-pass rank == enumerate(sorted) for arbitrary
    (duplicate-heavy) key lists under a total order (key, uid), any
    partition count — including ties straddling range-partition
    boundaries."""
    from pyspark.sql import functions as F

    from lab04_spark_streaming_spark.operators.ranks import global_row_number

    rows = [(k, i) for i, k in enumerate(keys)]
    if not rows:
        df = spark.range(0).select(
            F.col("id").alias("k"), F.col("id").alias("uid")
        )
    else:
        df = spark.createDataFrame(rows, "k long, uid long")
    got = {
        (r.k, r.uid): r.rk
        for r in global_row_number(
            df, "k", "uid", num_partitions=nparts
        ).collect()
    }
    expected = {ku: i + 1 for i, ku in enumerate(sorted(rows))}
    assert got == expected


@pytest.mark.slow
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    # cents-quantized prices in a narrow band and a small size domain:
    # equal-price and equal-size ties are the interesting dominance
    # cases, so force collisions.
    parts=st.lists(
        st.tuples(
            st.integers(min_value=90000, max_value=90400),  # price cents
            st.integers(min_value=1, max_value=6),  # size
        ),
        min_size=1,
        max_size=40,
    ),
)
def test_skyline_pareto_matches_bruteforce(spark, tmp_path_factory, parts):
    """Chunk-scanned skyline == O(n²) dominance scan, including
    equal-price/equal-size tie handling (a part is dominated iff a
    strictly cheaper part has >= size, or an equal-priced part has
    strictly greater size; exact duplicates all survive)."""
    import os as _os

    from lab04_spark_streaming_spark.plans import wave7

    d = str(tmp_path_factory.mktemp("propparts"))
    rows = [
        (i, f"part{i}", "B", "T", sz, cents / 100.0)
        for i, (cents, sz) in enumerate(parts)
    ]
    spark.createDataFrame(
        rows,
        "p_partkey long, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double",
    ).coalesce(1).write.mode("overwrite").parquet(
        _os.path.join(d, "part.parquet")
    )
    got = {
        r.p_partkey for r in wave7.q_skyline_pareto(spark, d).collect()
    }
    vals = {i: (c / 100.0, s) for i, (c, s) in enumerate(parts)}
    expected = {
        i
        for i, (p, s) in vals.items()
        if not any(
            (p2 < p and s2 >= s) or (p2 == p and s2 > s)
            for j, (p2, s2) in vals.items()
            if j != i
        )
    }
    assert got == expected


# --- the rollup merge path, exercised deterministically ---------------------
def test_stats_rollup_merge_path_on_straddling_hour(
    spark, tmp_path_factory
):
    """The full-outer moment-ADD merge in q_stats_rollup_incremental
    must be exercised, not just the disjoint-union halves: build a
    fixture where one (hour, event_type) group straddles the cutoff
    (rows in BOTH base and delta), one is base-only, one delta-only,
    and check (a) the straddle really lands on both sides of
    _ROLLUP_CUTOFF, (b) merged result == full recompute oracle."""
    cut = dt.datetime.fromisoformat(wave7._ROLLUP_CUTOFF)
    assert cut != cut.replace(minute=0, second=0, microsecond=0), (
        "cutoff must be OFF the hour boundary or the merge path is "
        "dead code (ADVICE r7)"
    )
    rows = [
        # straddling hour: same (hour, type) group before AND after cut
        (1, cut - dt.timedelta(minutes=10), 1, "view", 1.25, "{}"),
        (2, cut + dt.timedelta(minutes=10), 2, "view", 2.50, "{}"),
        (3, cut + dt.timedelta(minutes=20), 1, "view", 4.75, "{}"),
        # base-only group (previous hour)
        (4, cut - dt.timedelta(hours=2), 1, "click", 3.00, "{}"),
        # delta-only group (next hour)
        (5, cut + dt.timedelta(hours=2), 2, "click", 5.00, "{}"),
    ]
    d = str(tmp_path_factory.mktemp("rollupmerge"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "events.parquet")
    )
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{d}/events.parquet/*.parquet')"
        )
        compare_query(
            spark,
            con,
            wave7.q_stats_rollup_incremental,
            wave7.SQL_STATS_ROLLUP_INCREMENTAL,
            d,
        )
    finally:
        con.close()
    # (a): the straddling group exists on both sides of the cutoff.
    hour = (cut - dt.timedelta(minutes=10)).replace(
        minute=0, second=0, microsecond=0
    )
    n_pre = sum(1 for r in rows if r[1] < cut and r[3] == "view")
    n_post = sum(1 for r in rows if r[1] >= cut and r[3] == "view")
    assert hour == cut.replace(minute=0, second=0, microsecond=0)
    assert n_pre >= 1 and n_post >= 1


# --- concurrency: carried-over hour peaks (code-review r8 finding) ----------
def test_concurrent_active_carried_hour_peak(spark, tmp_path_factory):
    """An hour whose peak concurrency is CARRIED from the previous
    hour's events (review scenario: a burst at 00:50-00:59, one lone
    event at 01:45) must report the carried peak via the hour-start
    probe rows — and hours that have no events but live carried
    activity must appear with n_events = 0. Oracle: brute-force step
    function evaluated at every event time and hour boundary."""
    from lab04_spark_streaming_spark.plans import wave8

    W = wave8._ACTIVE_WINDOW_S
    base = dt.datetime(2024, 3, 5, 0, 50, 0)
    evs = [base + dt.timedelta(seconds=30 * i) for i in range(10)]
    evs.append(dt.datetime(2024, 3, 5, 1, 45, 0))
    # cross-midnight carry case too: 23:55 burst -> 00:xx next day
    evs += [
        dt.datetime(2024, 3, 6, 23, 55, 0) + dt.timedelta(seconds=60 * i)
        for i in range(4)
    ]
    rows = [
        (i, t, 1, "view", 1.0, "{}") for i, t in enumerate(evs)
    ]
    d = str(tmp_path_factory.mktemp("concpeak"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "events.parquet")
    )
    got = {
        (r.hour, ): (r.peak_concurrency, r.n_events)
        for r in wave8.q_concurrent_active_30m(spark, d).collect()
    }

    # brute force: closed activity interval [t, t+W]; sample at every
    # event time and hour start
    eps = sorted(int(t.timestamp()) for t in evs)

    def conc_at(s):
        return sum(1 for e in eps if e <= s <= e + W)

    hours = sorted({e - e % 3600 for e in eps} | {
        h
        for e in eps
        for h in range(e - e % 3600, e + W + 3600, 3600)
    })
    expected = {}
    for h in hours:
        samples = [conc_at(h)] + [
            conc_at(e) for e in eps if h <= e < h + 3600
        ]
        peak = max(samples)
        n_ev = sum(1 for e in eps if h <= e < h + 3600)
        if peak > 0:
            expected[(dt.datetime.utcfromtimestamp(h),)] = (peak, n_ev)
    assert got == expected
    # the named review scenario: hour 01:00 carries the 10-burst peak
    assert got[(dt.datetime(2024, 3, 5, 1, 0),)][0] >= 10
    # cross-midnight: 00:00 hour next day carries the 23:55 burst
    assert (dt.datetime(2024, 3, 7, 0, 0),) in got


def test_media_phash_parity_on_non_ascii_corpus(spark, tmp_path_factory):
    """The phash oracle must hash UTF-8 BYTES, exactly like the Spark
    side's binary payload (ADVICE r8: an ord/substr oracle reads
    codepoints and only agrees on ASCII corpora). Multi-byte text —
    accents, CJK, emoji — must still hash-match cross-engine."""
    from lab04_spark_streaming_spark.plans import wave11

    texts = [
        "héllo wörld — ümlauts everywhere",
        "héllo wörld — ümlauts everywhere",  # exact dup: 1 sure pair
        "日本語のテキストです。データ重複排除。",
        "mixed ascii and 中文 plus emoji 🎉🎉🎉",
        "plain ascii control row",
        "",  # n_bytes = 0 branch
    ]
    rows = [(i, t, "xx", "s0", len(t)) for i, t in enumerate(texts)]
    d = str(tmp_path_factory.mktemp("phashnonascii"))
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "documents.parquet")
    )
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{d}/documents.parquet/*.parquet')"
        )
        compare_query(
            spark,
            con,
            wave11.q_media_phash_pairs,
            wave11._sql_media_phash_pairs(),
            d,
        )
        # the exact-dup pair must be present (hamming 0)
        got = {
            (r.id_a, r.id_b, r.hamming)
            for r in wave11.q_media_phash_pairs(spark, d).collect()
        }
        assert (0, 1, 0) in got
    finally:
        con.close()
