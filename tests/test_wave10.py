"""Wave-10 robustness: random-events cross-engine fuzz plus
independent brute-force references (Kaplan–Meier product-limit,
trailing-window anomaly flags, rendezvous movement law, quantile
rank-error bound)."""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from lab04_spark_streaming_spark.plans import wave10
from tests.oracle_harness import compare_query

_T0 = dt.datetime(2024, 6, 1, 0, 0, 0)

_EVENT_QUERIES = [
    (wave10.q_volume_anomaly, wave10.SQL_VOLUME_ANOMALY),
    (wave10.q_kaplan_meier, wave10.SQL_KAPLAN_MEIER),
    (wave10.q_seasonal_naive_eval, wave10.SQL_SEASONAL_NAIVE_EVAL),
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
        max_size=60,
        unique=True,
    ),
    data=st.data(),
)
def test_random_events_wave10_parity(spark, tmp_path_factory, offs, data):
    n = len(offs)
    users = data.draw(
        st.lists(st.integers(min_value=0, max_value=5), min_size=n, max_size=n)
    )
    types = data.draw(
        st.lists(
            st.sampled_from(["click", "view"]), min_size=n, max_size=n
        )
    )
    d = str(tmp_path_factory.mktemp("w10ev"))
    rows = [
        (
            i,
            _T0 + dt.timedelta(seconds=off),
            users[i],
            types[i],
            1.0,
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


def test_kaplan_meier_matches_product_limit(spark, sf_dir):
    """Recompute the product-limit estimator in Python from the raw
    events and require agreement to the display grain."""
    import duckdb as dd

    con = dd.connect()
    rows = con.execute(
        "SELECT user_id, MIN(CAST(ts AS DATE)) AS f, MAX(CAST(ts AS DATE)) AS l"
        f" FROM read_parquet('{sf_dir}/events.parquet') GROUP BY user_id"
    ).fetchall()
    end = con.execute(
        f"SELECT MAX(CAST(ts AS DATE)) FROM read_parquet('{sf_dir}/events.parquet')"
    ).fetchone()[0]
    con.close()
    lifetimes = [
        ((l - f).days, (end - l).days > wave10._KM_CENSOR_DAYS)
        for _, f, l in rows
    ]
    durs = sorted({d for d, _ in lifetimes})
    at_risk = len(lifetimes)
    s = 1.0
    expected = {}
    for t in durs:
        d_t = sum(1 for d, ch in lifetimes if d == t and ch)
        m_t = sum(1 for d, _ in lifetimes if d == t)
        s *= 1.0 - d_t / at_risk
        expected[t] = (at_risk, d_t, m_t - d_t, s)
        at_risk -= m_t
    got = {
        r.dur: (r.n_at_risk, r.n_churned, r.n_censored_here, r.survival)
        for r in wave10.q_kaplan_meier(spark, sf_dir).collect()
    }
    assert got.keys() == expected.keys()
    for t, (n, d_t, c, s) in expected.items():
        gn, gd, gc, gs = got[t]
        assert (gn, gd, gc) == (n, d_t, c), t
        assert abs(gs - s) < 1e-4, t


def test_volume_anomaly_matches_bruteforce(spark, sf_dir):
    import duckdb as dd

    con = dd.connect()
    daily = con.execute(
        "SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) FROM "
        f"read_parquet('{sf_dir}/events.parquet') GROUP BY 1, 2 ORDER BY 1, 2"
    ).fetchall()
    con.close()
    by_type: dict[str, list[tuple]] = {}
    for t, day, c in daily:
        by_type.setdefault(t, []).append((day, c))
    expected = {}
    for t, series in by_type.items():
        for i, (day, x) in enumerate(series):
            trail = [c for _, c in series[max(0, i - 7) : i]]
            n = len(trail)
            flag = False
            if n >= 3:
                s, sq = sum(trail), sum(c * c for c in trail)
                flag = (n * x - s) ** 2 > 9 * (n * sq - s * s)
            expected[(t, day)] = (x, n, flag)
    got = {
        (r.event_type, r.day): (r.cnt, r.trailing_days, r.is_anomaly)
        for r in wave10.q_volume_anomaly(spark, sf_dir).collect()
    }
    assert got == expected


def test_rendezvous_movement_law(spark, sf_dir):
    """Growing 8 → 9 shards must move keys ONLY into the new shard
    (no key changes owner between surviving shards), and the totals
    must account for every document."""
    rows = wave10.q_rendezvous_sharding(spark, sf_dir).collect()
    import duckdb as dd

    con = dd.connect()
    n_docs = con.execute(
        f"SELECT COUNT(*) FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchone()[0]
    con.close()
    assert sum(r.n_at_grown for r in rows) == n_docs
    for r in rows:
        if r.shard < wave10._RDV_SHARDS:
            assert r.n_moved_in == 0, r  # movement only into the new shard
        else:
            assert r.n_stayed == 0, r

    # cross-check one doc's assignment in python
    def shard_of(doc_id, n):
        return max(
            range(n),
            key=lambda s: (
                int(
                    hashlib.md5(f"rdv|{doc_id}|{s}".encode()).hexdigest()[:8],
                    16,
                )
                * 16
                + (15 - s)
            ),
        )

    moved = sum(
        1 for i in range(n_docs) if shard_of(i, 8) != shard_of(i, 9)
    )
    got_moved = sum(r.n_moved_in for r in rows)
    assert got_moved == moved


def test_quantile_merge_error_within_bound(spark, sf_dir):
    """The merged equi-depth summary's rank error at any probe is
    bounded by the total summary stride: Σ_sources ceil(n_s/k)."""
    import duckdb as dd

    con = dd.connect()
    sizes = [
        r[0]
        for r in con.execute(
            "SELECT COUNT(*) FROM "
            f"read_parquet('{sf_dir}/documents.parquet') GROUP BY source"
        ).fetchall()
    ]
    con.close()
    bound = sum(math.ceil(n / wave10._QM_PER_PART) for n in sizes)
    rows = wave10.q_quantile_merge_eval(spark, sf_dir).collect()
    assert {r.pct for r in rows} == set(wave10._QM_PROBES)
    for r in rows:
        assert r.rank_err_x100 <= bound * 100, (r, bound)


def test_item_item_cosine_symmetry_and_bounds(spark, sf_dir):
    rows = wave10.q_item_item_cosine(spark, sf_dir).collect()
    assert rows, "non-empty at fixture scale"
    for r in rows:
        assert 0.0 < r.cosine <= 1.0
        assert r.n_uv >= wave10._ITEM_MIN_SUPPORT
        assert 1 <= r.rank <= wave10._ITEM_TOP_K


def test_feature_info_gain_bounds(spark, sf_dir):
    rows = wave10.q_feature_info_gain(spark, sf_dir).collect()
    assert len(rows) == 64
    for r in rows:
        # IG is nonnegative up to display rounding, bounded by H(label)
        assert r.info_gain >= -1e-3, r
        assert r.info_gain <= r.h_label + 1e-3, r
