"""Wave-12 robustness: brute-force references for the experimentation
guardrails (SRM flags, OBF z, QTE order statistics, stratified ATE)
and the IR metrics (NDCG/MAP recomputed in exact fractions), plus a
random-events cross-engine fuzz."""

from __future__ import annotations

import datetime as dt
import math
import os
import re
from fractions import Fraction

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from lab04_spark_streaming_spark.plans import wave12
from tests.oracle_harness import compare_query

_T0 = dt.datetime(2024, 6, 1, 0, 0, 0)

_EVENT_QUERIES = [
    (wave12.q_srm_check, wave12.SQL_SRM_CHECK),
    (wave12.q_obrien_fleming, wave12._sql_obrien_fleming()),
    (wave12.q_qte_deciles, wave12.SQL_QTE_DECILES),
    (wave12.q_stratified_ate, wave12.SQL_STRATIFIED_ATE),
]


@pytest.mark.slow
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    offs=st.lists(
        st.integers(min_value=0, max_value=30 * 86400),
        min_size=2,
        max_size=50,
        unique=True,
    ),
    data=st.data(),
)
def test_random_events_wave12_parity(spark, tmp_path_factory, offs, data):
    n = len(offs)
    users = data.draw(
        st.lists(st.integers(min_value=0, max_value=6), min_size=n, max_size=n)
    )
    cents = data.draw(
        st.lists(
            st.integers(min_value=-500, max_value=50_000),
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
    d = str(tmp_path_factory.mktemp("w12ev"))
    rows = [
        (
            i,
            _T0 + dt.timedelta(seconds=off),
            users[i],
            types[i],
            cents[i] / 100.0,
            "{}",
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


def test_srm_flag_matches_bruteforce(spark, sf_dir):
    import duckdb as dd

    con = dd.connect()
    rows = con.execute(
        "SELECT CAST(ts AS DATE), user_id % 2, COUNT(DISTINCT user_id) "
        f"FROM read_parquet('{sf_dir}/events.parquet') GROUP BY 1, 2"
    ).fetchall()
    con.close()
    daily: dict = {}
    for day, arm, c in rows:
        daily.setdefault(day, [0, 0])[int(arm)] = c
    got = {
        r.day: (r.n0, r.n1, r.srm_flag)
        for r in wave12.q_srm_check(spark, sf_dir).collect()
    }
    assert got.keys() == daily.keys()
    for day, (n0, n1) in daily.items():
        flag = (n0 - n1) ** 2 * 100000 > 384146 * (n0 + n1)
        assert got[day] == (n0, n1, flag), day


def test_qte_deciles_match_order_stats(spark, sf_dir):
    import duckdb as dd

    con = dd.connect()
    vals = {
        t: [
            r[0]
            for r in con.execute(
                "SELECT value FROM "
                f"read_parquet('{sf_dir}/events.parquet') "
                f"WHERE event_type = '{t}' ORDER BY value, event_id"
            ).fetchall()
        ]
        for t in ("click", "view")
    }
    con.close()

    def q(vs, d):
        n = len(vs)
        # min value whose rank satisfies r*10 >= d*n
        r = math.ceil(d * n / 10)
        return vs[r - 1]

    got = {r.d: (r.q_a, r.q_b) for r in wave12.q_qte_deciles(spark, sf_dir).collect()}
    assert set(got) == set(range(1, 10))
    for d in range(1, 10):
        qa, qb = q(vals["click"], d), q(vals["view"], d)
        assert abs(got[d][0] - qa) < 1e-6, d
        assert abs(got[d][1] - qb) < 1e-6, d


def test_stratified_ate_pooled_consistency(spark, sf_dir):
    rows = {r.stratum: r for r in wave12.q_stratified_ate(spark, sf_dir).collect()}
    strata = [r for s, r in rows.items() if s != -1]
    pooled = rows[-1]
    assert pooled.n_users == sum(r.n_users for r in strata)
    n_total = pooled.n_users
    expect = sum(
        (r.effect or 0.0) * r.n_users / n_total
        for r in strata
        if r.effect is not None
    )
    if all(r.effect is not None for r in strata):
        assert abs(pooled.effect - expect) < 1e-4


def test_retrieval_eval_matches_bruteforce(spark, sf_dir):
    """Recompute BM25 top-k, NDCG@k and MAP@k in Python from the raw
    corpus (exact Fractions for the metric sums)."""
    import duckdb as dd

    from lab04_spark_streaming_spark.plans.corpus import (
        _BM25_B,
        _BM25_K1,
        _BM25_TERMS,
    )

    con = dd.connect()
    docs = con.execute(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    con.close()
    toks = {
        did: [t for t in re.split("[^a-z0-9]+", text.lower()) if t]
        for did, text in docs
    }
    n_docs = len(docs)
    avgdl = sum(len(t) for t in toks.values()) / n_docs
    df = {
        q: sum(1 for t in toks.values() if q in t) for q in _BM25_TERMS
    }
    k1, b = _BM25_K1, _BM25_B
    scores = {}
    for did, t in toks.items():
        if not any(q in t for q in _BM25_TERMS):
            continue  # the engine's tf relation only holds matching docs
        s = 0.0
        for q in _BM25_TERMS:
            tf = t.count(q)
            if tf == 0:
                continue
            idf = math.log(1.0 + (n_docs - df[q] + 0.5) / (df[q] + 0.5))
            s += idf * (tf * (k1 + 1)) / (
                tf + k1 * (1 - b + b * len(t) / avgdl)
            )
        scores[did] = math.floor(s * 10000.0 + 0.5)
    rel = {
        did: len(set(t) & set(_BM25_TERMS)) for did, t in toks.items()
    }
    ranked = sorted(scores, key=lambda d: (-scores[d], d))[: wave12._IR_K]

    # replicate the engines' per-term decimal(20,10) quantization
    def q10(x: float) -> Fraction:
        return Fraction(round(x * 10**10), 10**10)

    dcg = sum(
        (q10(rel[d] / math.log2(i + 2)) for i, d in enumerate(ranked)),
        Fraction(0),
    )
    ideal = sorted(rel, key=lambda d: (-rel[d], d))[: wave12._IR_K]
    idcg = sum(
        (q10(rel[d] / math.log2(i + 2)) for i, d in enumerate(ideal)),
        Fraction(0),
    )
    hits = 0
    ap_sum = Fraction(0)
    for i, d in enumerate(ranked, start=1):
        if rel[d] > 0:
            hits += 1
            ap_sum += q10(hits / i)
    n_relevant = sum(1 for d in rel if rel[d] > 0)
    row = wave12.q_retrieval_eval(spark, sf_dir).collect()[0]
    assert row.n_relevant == n_relevant
    assert row.hits_at_k == hits
    assert abs(row.ndcg_at_k - float(dcg / idcg)) < 1e-5
    assert abs(
        row.map_at_k - float(ap_sum / min(n_relevant, wave12._IR_K))
    ) < 1e-5
