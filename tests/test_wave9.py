"""Wave-9 robustness: random corpora/event streams through the same
cross-engine oracles (edge cases a fixed fixture can't hit: tied
values, empty docs, stopword-only docs, sub-k sketch scopes), plus
independent brute-force references for the statistics (KS, MWU, Gini,
triangles, blocking combinatorics, PPS inclusion)."""

from __future__ import annotations

import datetime as dt
import hashlib
import os
from itertools import combinations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from lab04_spark_streaming_spark.plans import wave9
from tests.oracle_harness import compare_query

_T0 = dt.datetime(2024, 6, 1, 12, 0, 0)

_EVENT_QUERIES = [
    (wave9.q_ks_two_sample, wave9.SQL_KS_TWO_SAMPLE),
    (wave9.q_mann_whitney_u, wave9.SQL_MANN_WHITNEY_U),
    (wave9.q_gini_concentration, wave9.SQL_GINI_CONCENTRATION),
    (wave9.q_sax_words, wave9.SQL_SAX_WORDS),
    (wave9.q_sequence_patterns, wave9.SQL_SEQUENCE_PATTERNS),
    (wave9.q_l_diversity_audit, wave9.SQL_L_DIVERSITY),
    (wave9.q_zonemap_pruning, wave9.SQL_ZONEMAP_PRUNING),
]

_DOC_QUERIES = [
    (wave9.q_blocking_eval, wave9.SQL_BLOCKING_EVAL),
    (wave9.q_dsir_weights, wave9.SQL_DSIR_WEIGHTS),
    (wave9.q_rake_keywords, wave9.SQL_RAKE_KEYWORDS),
    (wave9.q_perplexity_buckets, wave9.SQL_PERPLEXITY_BUCKETS),
    (wave9.q_compaction_bins, wave9.SQL_COMPACTION_BINS),
    (wave9.q_kmv_distinct_sketch, wave9.SQL_KMV_DISTINCT_SKETCH),
    (wave9.q_weighted_sample, wave9.SQL_WEIGHTED_SAMPLE),
]


@pytest.mark.slow
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    offs=st.lists(
        st.integers(min_value=0, max_value=90_000_000_000),
        min_size=2,
        max_size=40,
        unique=True,
    ),
    data=st.data(),
)
def test_random_events_wave9_parity(spark, tmp_path_factory, offs, data):
    n = len(offs)
    users = data.draw(
        st.lists(
            st.integers(min_value=0, max_value=4), min_size=n, max_size=n
        )
    )
    # small value domain on purpose: KS/MWU tie paths are the point
    cents = data.draw(
        st.lists(
            st.integers(min_value=-300, max_value=30_000),
            min_size=n,
            max_size=n,
        )
    )
    types = data.draw(
        st.lists(
            st.sampled_from(["click", "view", "purchase"]),
            min_size=n,
            max_size=n,
        )
    )
    d = str(tmp_path_factory.mktemp("w9events"))
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
        for fn, sql in _EVENT_QUERIES:
            compare_query(spark, con, fn, sql, d)
    finally:
        con.close()


_WORD = st.text(
    alphabet="abcdefghij0123456789 the of and.,!?",
    min_size=0,
    max_size=12,
)
_DOC = st.lists(_WORD, min_size=0, max_size=15).map(" ".join)


@pytest.mark.slow
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus=st.lists(_DOC, min_size=1, max_size=10))
def test_random_corpus_wave9_parity(spark, tmp_path_factory, corpus):
    d = str(tmp_path_factory.mktemp("w9docs"))
    rows = [
        (i, t, "en", f"src{i % 3}", len(t)) for i, t in enumerate(corpus)
    ]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "documents.parquet")
    )
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{d}/documents.parquet/*.parquet')"
        )
        for fn, sql in _DOC_QUERIES:
            compare_query(spark, con, fn, sql, d)
    finally:
        con.close()


# --- brute-force references -------------------------------------------------
def _write_events(spark, d, vals_a, vals_b):
    rows = []
    eid = 0
    for v in vals_a:
        rows.append(
            (eid, _T0 + dt.timedelta(seconds=eid), 1, "click", float(v), "{}")
        )
        eid += 1
    for v in vals_b:
        rows.append(
            (eid, _T0 + dt.timedelta(seconds=eid), 2, "view", float(v), "{}")
        )
        eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "events.parquet")
    )


@pytest.mark.slow
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals_a=st.lists(
        st.integers(min_value=0, max_value=6), min_size=1, max_size=20
    ),
    vals_b=st.lists(
        st.integers(min_value=0, max_value=6), min_size=1, max_size=20
    ),
)
def test_ks_and_mwu_match_bruteforce(
    spark, tmp_path_factory, vals_a, vals_b
):
    d = str(tmp_path_factory.mktemp("w9brute"))
    _write_events(spark, d, vals_a, vals_b)
    na, nb = len(vals_a), len(vals_b)
    # KS: sup over sample points of |F_a - F_b|, scaled by na*nb
    points = sorted(set(vals_a) | set(vals_b))
    d_num = max(
        abs(
            sum(1 for x in vals_a if x <= p) * nb
            - sum(1 for x in vals_b if x <= p) * na
        )
        for p in points
    )
    # MWU: 2*U_a = 2*wins + ties (pairwise definition)
    wins = sum(1 for a in vals_a for b in vals_b if a > b)
    ties = sum(1 for a in vals_a for b in vals_b if a == b)
    u2 = 2 * wins + ties

    ks = {
        (r.t1, r.t2): r
        for r in wave9.q_ks_two_sample(spark, d).collect()
    }
    mwu = {
        (r.t1, r.t2): r
        for r in wave9.q_mann_whitney_u(spark, d).collect()
    }
    row = ks[("click", "view")]
    assert (row.na, row.nb, row.d_num) == (na, nb, d_num)
    row = mwu[("click", "view")]
    assert (row.na, row.nb, row.u2) == (na, nb, u2)


@pytest.mark.slow
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    counts=st.lists(
        st.integers(min_value=1, max_value=9), min_size=1, max_size=12
    )
)
def test_gini_matches_bruteforce(spark, tmp_path_factory, counts):
    d = str(tmp_path_factory.mktemp("w9gini"))
    rows = []
    eid = 0
    for uid, c in enumerate(counts):
        for _ in range(c):
            rows.append(
                (
                    eid,
                    _T0 + dt.timedelta(seconds=eid),
                    uid,
                    "click",
                    1.0,
                    "{}",
                )
            )
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "events.parquet")
    )
    xs = sorted(counts)
    n, s = len(xs), sum(xs)
    num = 2 * sum((i + 1) * x for i, x in enumerate(xs)) - (n + 1) * s
    row = wave9.q_gini_concentration(spark, d).collect()[0]
    assert (row.n_users, row.total_events, row.gini_num) == (n, s, num)
    assert abs(row.gini - num / (n * s)) < 1e-4


@pytest.mark.slow
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=8),
            st.integers(min_value=0, max_value=8),
        ),
        min_size=0,
        max_size=25,
    )
)
def test_triangle_count_matches_bruteforce(spark, tmp_path_factory, edges):
    """Feed a synthetic lineitem where each 'order' is one edge (two
    parts) — the co-purchase graph IS the random graph."""
    d = str(tmp_path_factory.mktemp("w9tri"))
    rows = []
    for ok, (u, v) in enumerate(edges):
        rows.append((ok, u, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", _T0))
        rows.append((ok, v, 1, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", _T0))
    if not rows:  # empty lineitem still must produce one (0,0,0) row
        rows.append((0, 0, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", _T0))
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "lineitem.parquet")
    )
    eset = {frozenset(e) for e in edges if e[0] != e[1]}
    nodes = sorted({x for e in eset for x in e})
    tri = sum(
        1
        for a, b, c in combinations(nodes, 3)
        if {a, b} in eset and {a, c} in eset and {b, c} in eset
    )
    row = wave9.q_triangle_count(spark, d).collect()[0]
    assert row.n_edges == len(eset)
    assert row.n_triangles == tri


@pytest.mark.slow
def test_triangle_pins_store_serialized(spark, sf_dir, monkeypatch):
    """The r11 pin-storage rule: triangle_count's row-proportional
    multi-consumer pins (pairs/oriented/adj) must store SERIALIZED —
    the default deserialized level buffers each partition as a vector
    of row objects before storing, which OOM'd a 24g heap at the 100x
    scale tier (32 concurrent unroll vectors over ~120M pinned pair
    rows; scripts/scale_probe.py, round 11).

    r12 (advisor): the pin ids are captured EXACTLY by spying on
    ``DataFrame.localCheckpoint`` (persist registers at call time, so
    the persistent-RDD id diff around each call is the pin) — the
    assert no longer sweeps up unrelated caches Spark may create —
    and every pin is unpersisted at test end so the session-scoped
    fixture carries no leftover checkpointed blocks."""
    # patch the CONCRETE class — in Spark 4 pyspark.sql.DataFrame is an
    # abstract facade and classic sessions use a subclass that
    # overrides localCheckpoint, so patching the base is a silent no-op
    DataFrame = type(spark.range(1))

    from lab04_spark_streaming_spark.plans import wave7

    sc = spark.sparkContext

    def _pids():
        # fresh snapshot each call — getPersistentRDDs() is a copy
        return {
            int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()
        }

    pin_ids: set[int] = set()
    orig = DataFrame.localCheckpoint

    def spy(self, *a, **k):
        before = _pids()
        out = orig(self, *a, **k)
        pin_ids.update(_pids() - before)
        return out

    from lab04_spark_streaming_spark.plans import (
        llm,
        pipeline_extras,
        wave8,
        wave10,
        wave13,
        wave16,
    )

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy)
    try:
        # Every pin on these paths must store serialized
        # (tests/test_pin_policy.py enforces the same rule statically).
        for fn in (
            wave9.q_triangle_count,
            wave7.q_copurchase_lift,
            llm.q_dedup_clusters,
            pipeline_extras.q_dedup_keep_best,
            wave10.q_item_item_cosine,
            llm.q_decontamination_containment,
            wave16.q_graph_assortativity,
            wave16.q_rich_club,
            wave13.q_heaps_law,
            wave13.q_tukey_fences,
            pipeline_extras.q_semdedup_keep_best,
            wave8.q_hard_negative_mining,
            wave8.q_label_noise_knn,
        ):
            got = set(pin_ids)
            fn(spark, sf_dir).count()
            mine = pin_ids - got
            assert mine, f"{fn.__name__}: expected localCheckpoint pins"
            cached = [
                i
                for i in sc._jsc.sc().getRDDStorageInfo()
                if i.id() in mine and i.numCachedPartitions() > 0
            ]
            assert cached, f"{fn.__name__}: expected pins cached"
            deser = [
                i.name() for i in cached if i.storageLevel().deserialized()
            ]
            assert not deser, f"{fn.__name__} deserialized pins: {deser}"
    finally:
        jmap = sc._jsc.getPersistentRDDs()
        for rid in sorted(pin_ids):
            rdd = jmap.get(rid)
            if rdd is not None:
                rdd.unpersist(False)


def test_copurchase_edge_estimate_errs_safe(spark, sf_dir):
    """The broadcast branch's footer-stats edge estimate must be an
    UPPER bound on the actual distinct co-purchase edge count (the
    unsafe direction is undercounting, which force-broadcasts a huge
    adjacency), and the measured density must sit near the
    ``_EDGES_PER_ROW`` constant so fixture-generator drift (wider
    orders) is caught here rather than as a 100x OOM (r11 advisor
    item; the width-aware second estimator covers drift the constant
    misses)."""
    from pyspark.sql import functions as F

    from lab04_spark_streaming_spark.sources.files import (
        load_table,
        parquet_row_count,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    actual = (
        li.alias("a")
        .join(li.alias("b"), "ok")
        .filter(F.col("a.pk") < F.col("b.pk"))
        .select("a.pk", "b.pk")
        .distinct()
        .count()
    )
    est = wave9._estimate_copurchase_edges(sf_dir)
    assert est >= actual, (
        f"edge estimate {est} undercounts actual {actual} — broadcast "
        "branch would force-broadcast an adjacency bigger than planned"
    )
    rows = parquet_row_count(sf_dir, "lineitem")
    assert actual / rows <= wave9._EDGES_PER_ROW, (
        f"fixture density drifted: {actual / rows:.2f} edges/row exceeds "
        f"the _EDGES_PER_ROW={wave9._EDGES_PER_ROW} constant — re-measure "
        "and update the constant (and re-check _BCAST_EDGE_CAP margin)"
    )


def test_triangle_broadcast_branch_follows_footer_stats(
    spark, sf_dir, monkeypatch
):
    """The broadcast-vs-shuffle branch is driven by the lineitem
    parquet footer (est. edges = 2 x rows vs the 3M cap), not by an
    eager count() job (r11).  Below the cap the adjacency joins carry
    an explicit broadcast hint (BroadcastHashJoin in the INITIAL
    plan — checkpointed leaves report unknown size, so only the hint
    can produce it statically); past the cap the hint is absent and
    the same plan runs as a shuffle join."""
    import contextlib
    import io

    def plan_of(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    small = plan_of(wave9.q_triangle_count(spark, sf_dir))
    assert "BroadcastHashJoin" in small

    monkeypatch.setattr(
        wave9, "parquet_row_count", lambda _d, _n: 10_000_000
    )
    big = plan_of(wave9.q_triangle_count(spark, sf_dir))
    assert "BroadcastHashJoin" not in big


def test_blocking_eval_matches_bruteforce(spark, tmp_path_factory):
    import re

    docs = [
        "Hello World  extra",
        "hello world extra",  # norm-dup of 0, same 16-raw-prefix? no
        "Hello World  extra",  # raw-dup of 0
        "something else",
        "Something ELSE",
    ]
    d = str(tmp_path_factory.mktemp("w9blk"))
    rows = [(i, t, "en", "s", len(t)) for i, t in enumerate(docs)]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "documents.parquet")
    )

    def norm(t):
        return re.sub("[^a-z0-9]+", " ", t.lower()).strip()

    def npairs(groups):
        from collections import Counter

        c = Counter(groups)
        return sum(m * (m - 1) // 2 for m in c.values())

    truth = npairs([norm(t) for t in docs])
    cand = npairs([t[:16] for t in docs])
    inter = npairs([(norm(t), t[:16]) for t in docs])
    row = wave9.q_blocking_eval(spark, d).collect()[0]
    assert (row.n_truth_pairs, row.n_cand_pairs, row.n_inter) == (
        truth,
        cand,
        inter,
    )
    assert row.pair_completeness == pytest.approx(inter / truth, abs=1e-6)


def test_weighted_sample_matches_bruteforce(spark, sf_dir):
    import duckdb as dd

    con = dd.connect()
    docs = con.execute(
        f"SELECT doc_id, n_chars FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    con.close()
    sw = sum(w for _, w in docs)
    nt = len(docs) * 200 // 1000
    expected = set()
    for did, w in docs:
        h = int(
            hashlib.md5(f"ws|{did}".encode()).hexdigest()[:8], 16
        )
        if h * sw < nt * w * 4294967296:
            expected.add(did)
    got = {
        r.doc_id for r in wave9.q_weighted_sample(spark, sf_dir).collect()
    }
    assert got == expected


def test_kmv_merge_property(spark, sf_dir):
    """The merged '__all__' sketch must equal the k smallest hashes of
    the union of the per-source sketches — recomputed here in Python
    from the raw corpus, independent of the SQL."""
    import re

    import duckdb as dd

    con = dd.connect()
    docs = con.execute(
        f"SELECT source, text FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    con.close()
    per_src: dict[str, set[int]] = {}
    for src, text in docs:
        toks = [t for t in re.split("[^a-z0-9]+", text.lower()) if t]
        per_src.setdefault(src, set()).update(
            int(hashlib.md5(t.encode()).hexdigest()[:8], 16) for t in toks
        )
    k = wave9._KMV_K
    sketches = {s: sorted(hs)[:k] for s, hs in per_src.items()}
    merged = sorted({h for hs in sketches.values() for h in hs})[:k]
    rows = {
        r.source: r for r in wave9.q_kmv_distinct_sketch(spark, sf_dir).collect()
    }
    allrow = rows["__all__"]
    assert allrow.n_sketch == len(merged)
    if len(merged) == k:
        assert allrow.kth_hash == merged[-1]
    for s, sk in sketches.items():
        assert rows[s].n_sketch == len(sk)
        assert rows[s].n_exact == len(per_src[s])


def test_matryoshka_recall_bounds(spark, sf_dir):
    rows = wave9.q_matryoshka_recall(spark, sf_dir).collect()
    assert len(rows) == wave9._MATRYOSHKA_QUERIES
    for r in rows:
        assert 0 <= r.n_overlap <= wave9._MATRYOSHKA_K
        assert 0.0 <= r.recall_at_k <= 1.0


@pytest.mark.slow
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vecs=st.lists(
        st.lists(
            st.integers(min_value=-100, max_value=100),
            min_size=4,
            max_size=4,
        ),
        min_size=1,
        max_size=15,
    )
)
def test_kcenter_matches_bruteforce(spark, tmp_path_factory, vecs):
    d = str(tmp_path_factory.mktemp("w9kc"))
    rows = [(i, [x / 10.0 for x in v], 0) for i, v in enumerate(vecs)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "embeddings.parquet")
    )
    # brute-force greedy farthest-point on the same quantized grid —
    # quantization must round-trip float32 first (the parquet column
    # is array<float>; 2.4 stored as float32 reads back 2.40000009…)
    import math
    import struct

    def f32(x):
        return struct.unpack("f", struct.pack("f", x))[0]

    def quant(v):
        return [math.floor(f32(x / 10.0) * 1e7 + 0.5) for x in v]

    pts = {i: quant(v) for i, v in enumerate(vecs)}

    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    sel = [0]
    expected = [(0, 0, None)]
    mind = {i: d2(p, pts[0]) for i, p in pts.items()}
    for step in range(1, wave9._KCENTER_K):
        far = max(mind, key=lambda i: (mind[i], -i))
        expected.append((step, far, mind[far]))
        sel.append(far)
        for i, p in pts.items():
            mind[i] = min(mind[i], d2(p, pts[far]))
    got = sorted(
        (r.step, r.vec_id, r.radius_sq)
        for r in wave9.q_kcenter_coreset(spark, d).collect()
    )
    assert got == sorted(expected)


def test_poisson_bootstrap_ci_brackets_mean(spark, sf_dir):
    row = wave9.q_poisson_bootstrap(spark, sf_dir).collect()[0]
    assert row.n_reps == wave9._BOOT_REPS
    assert row.ci_lo <= row.ci_hi
    # the observed mean should land inside (or at worst at the edge
    # of) its own bootstrap interval on any non-adversarial sample
    assert row.ci_lo <= row.mean_obs <= row.ci_hi


def test_rrf_fusion_rank_consistency(spark, sf_dir):
    rows = wave9.q_rrf_fusion(spark, sf_dir).collect()
    assert len(rows) == wave9._RRF_TOP
    scores = [r.rrf_score for r in sorted(rows, key=lambda r: r.rank)]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        assert r.r_lex is not None or r.r_vec is not None


def test_sequence_patterns_consistency(spark, sf_dir):
    rows = {
        r.pattern_name: r
        for r in wave9.q_sequence_patterns(spark, sf_dir).collect()
    }
    totals = {r.n_sessions for r in rows.values()}
    assert len(totals) == 1  # every pattern sees the same session set
    # no_purchase is the complement of "contains purchase", and
    # view_then_purchase only matches sessions that contain purchase
    n = totals.pop()
    assert (
        rows["view_then_purchase"].n_matched
        <= n - rows["no_purchase"].n_matched
    )
