"""Wave-11 robustness: brute-force references for the graph walks
(integer PPR, BFS hops), the winnowing selection rule, Kneser–Ney
arithmetic, and Fellegi–Sunter decisions, plus a random-corpus
cross-engine fuzz for the document-side queries."""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import re
from collections import Counter

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from lab04_spark_streaming_spark.plans import wave11
from tests.oracle_harness import compare_query

_T0 = dt.datetime(2024, 6, 1, 0, 0, 0)


def _write_lineitem_edges(spark, d, edges):
    rows = []
    for ok, (u, v) in enumerate(edges):
        rows.append((ok, u, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", _T0))
        rows.append((ok, v, 1, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", _T0))
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "lineitem.parquet")
    )


@pytest.mark.slow
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=7),
            st.integers(min_value=0, max_value=7),
        ).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=15,
    )
)
def test_ppr_and_bfs_match_bruteforce(spark, tmp_path_factory, edges):
    d = str(tmp_path_factory.mktemp("w11g"))
    _write_lineitem_edges(spark, d, edges)
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    deg = {x: len(ns) for x, ns in adj.items()}
    seed = max(deg, key=lambda x: (deg[x], -x))

    # integer PPR, exactly the floor-div recipe
    SCALE = wave11._PPR_SCALE
    pr = {x: (SCALE if x == seed else 0) for x in deg}
    for _ in range(wave11._PPR_ITERS):
        contrib = {x: pr[x] // deg[x] for x in deg}
        s = {x: sum(contrib[n] for n in adj[x]) for x in deg}
        pr = {
            x: ((15 * SCALE) // 100 if x == seed else 0)
            + (85 * s[x]) // 100
            for x in deg
        }
    expected_top = sorted(
        ((p, x) for x, p in pr.items() if x != seed),
        key=lambda t: (-t[0], t[1]),
    )[: wave11._PPR_TOP]
    got = [
        (r.ppr_e12, r.part)
        for r in sorted(
            wave11.q_ppr_related_parts(spark, d).collect(),
            key=lambda r: r.rank,
        )
    ]
    assert got == expected_top

    # BFS hop histogram
    dist = {seed: 0}
    frontier = [seed]
    for h in range(1, wave11._BFS_MAX_HOPS + 1):
        nxt = []
        for x in frontier:
            for n in adj[x]:
                if n not in dist:
                    dist[n] = h
                    nxt.append(n)
        frontier = nxt
    expected_hist = Counter(dist.values())
    expected_hist[-1] = len(deg) - len(dist)
    got_hist = {
        r.dist: r.n_parts for r in wave11.q_bfs_hops(spark, d).collect()
    }
    assert got_hist == dict(expected_hist)


def test_winnowing_matches_bruteforce(spark, sf_dir):
    """Recompute winnowing selection in Python (same md5 hashes, same
    (h, rightmost) window-min rule) for every fixture document."""
    import duckdb as dd

    con = dd.connect()
    docs = con.execute(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    con.close()
    w, n = wave11._WINNOW_W, wave11._WINNOW_NGRAM
    expected = {}
    for did, text in docs:
        toks = [t for t in re.split("[^a-z0-9]+", text.lower()) if t]
        grams = [
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        ]
        hs = [
            int(hashlib.md5(g.encode()).hexdigest()[:8], 16) for g in grams
        ]
        sel = set()
        for end in range(w - 1, len(hs)):
            window = [
                (hs[p] * 1048576 + (1048575 - p), p)
                for p in range(end - w + 1, end + 1)
            ]
            k, p = min(window)
            sel.add((hs[p], p))
        expected[did] = (len(grams), len(sel))
    got = {
        r.doc_id: (r.n_grams, r.n_fingerprints)
        for r in wave11.q_winnowing_fingerprints(spark, sf_dir).collect()
    }
    assert got == expected


def test_kneser_ney_probabilities_sum_structure(spark, sf_dir):
    """KN arithmetic identities: p_num/(4·c1·B) reproduces the
    interpolated formula recomputed in exact fractions."""
    from fractions import Fraction

    rows = wave11.q_kneser_ney_bigram(spark, sf_dir).collect()
    assert len(rows) == wave11._KN_TOP
    for r in rows:
        d = Fraction(3, 4)
        p = (
            max(Fraction(r.c12) - d, 0) / r.c1
            + (d * r.n1a / r.c1) * Fraction(r.n1b, r.b_types)
        )
        assert Fraction(r.p_num, 4 * r.c1 * r.b_types) == p
        assert abs(r.p_kn - float(p)) < 1e-7
        assert 0 < p <= 1


def test_fs_linkage_decisions(spark, sf_dir):
    rows = wave11.q_fs_linkage(spark, sf_dir).collect()
    assert rows
    total = sum(r.n_pairs for r in rows)
    assert total > 0
    for r in rows:
        # decision is sign-consistent with the emitted log-weight
        assert (r.weight_log2 > 0) == r.decide_match or abs(
            r.weight_log2
        ) < 1e-9
        assert 0 <= r.n_matches <= r.n_pairs
    # with true matches present, the all-agree pattern carries the
    # highest weight (matches agree on every field, so every m_i is
    # near 1; with NO matches all m_i collapse to the smoothed 1/2
    # and the ordering is u-driven — nothing to assert then)
    if sum(r.n_matches for r in rows) > 0:
        by_patt = {(r.g1, r.g2, r.g3): r.weight_log2 for r in rows}
        if (True, True, True) in by_patt:
            assert by_patt[(True, True, True)] == max(by_patt.values())


_WORD = st.text(alphabet="abcdef 123.,", min_size=0, max_size=10)
_DOC = st.lists(_WORD, min_size=0, max_size=12).map(" ".join)


@pytest.mark.slow
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus=st.lists(_DOC, min_size=1, max_size=8))
def test_random_corpus_wave11_parity(spark, tmp_path_factory, corpus):
    d = str(tmp_path_factory.mktemp("w11docs"))
    rows = [
        (i, t, "en", f"src{i % 2}", len(t)) for i, t in enumerate(corpus)
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
        for fn, sql in [
            (
                wave11.q_winnowing_fingerprints,
                wave11._sql_winnowing_fingerprints(),
            ),
            (wave11.q_fs_linkage, wave11._sql_fs_linkage()),
            (wave11.q_kneser_ney_bigram, wave11.SQL_KNESER_NEY_BIGRAM),
        ]:
            compare_query(spark, con, fn, sql, d)
    finally:
        con.close()
