"""Semantic ground-truth + physical-plan audits for the mining waves
(plans/mining.py — span dedup, similarity joins, classifiers, LM
scores, profiling/DQ, graph ops, SCD-2, sketches, attribution,
contrastive pairs, BPE).

Oracle parity for every registered query is covered by
tests/test_oracle_parity.py; these tests pin the SEMANTICS against
independent recomputations and the plan shapes against the 100 TB
design notes in the docstrings.
"""

from __future__ import annotations

import hashlib
from collections import defaultdict

import pytest

from lab04_spark_streaming_spark.plans import mining
from tests.test_plans import plan_of


# --- helpers ----------------------------------------------------------------
def _toks(text: str) -> list[str]:
    import re

    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]


def _shingle_set(text: str, n: int = 3) -> set[str]:
    t = _toks(text)
    return {" ".join(t[i : i + n]) for i in range(len(t) - n + 1)}


def _mem_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# --- span_dedup_c4 ----------------------------------------------------------
def test_span_dedup_bans_only_frequent_spans(spark, tmp_path):
    """A span repeated 3x corpus-wide is removed everywhere; spans at
    2 occurrences survive. Verified on a hand-built corpus written to
    parquet (the query loads via load_table)."""
    boiler = "copy right all rights"  # exactly one 4-token span
    rows = [
        (0, boiler + " alpha beta gamma delta"),
        (1, boiler + " epsilon zeta eta theta"),
        (2, boiler + " iota kappa lam mu"),
        (3, "unique words here only four more words now"),
    ]
    d = tmp_path / "sf"
    d.mkdir()
    _mem_docs(spark, rows).write.parquet(str(d / "documents.parquet"))
    out = {
        r["doc_id"]: r
        for r in mining.q_span_dedup_c4(spark, str(d)).collect()
    }
    # docs 0-2: 2 spans each, the boilerplate one banned (freq 3)
    for i in range(3):
        assert out[i]["n_spans"] == 2
        assert out[i]["n_removed"] == 1
    assert out[3]["n_removed"] == 0
    # kept text of doc 0 is its second span only
    exp = hashlib.md5(b"alpha beta gamma delta").hexdigest()
    assert out[0]["kept_digest"] == exp


def test_span_dedup_docs_side_zero_shuffle(spark, sf_dir):
    """The documents side reaches the banned-set broadcast join without
    an Exchange: one scan, projections, a broadcast nested-loop (1-row
    build side), final project. The only Exchange in the whole plan is
    the banned-span frequency groupBy."""
    plan = plan_of(mining.q_span_dedup_c4(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    # exactly the digest-frequency hash agg exchanges (partial+final
    # pair counts as one boundary) plus the single-row global agg.
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "SortMergeJoin" not in plan


# --- jaccard_prefix_join ----------------------------------------------------
def test_prefix_join_is_exact_vs_brute_force(spark, sf_dir):
    """Prefix filtering must lose NOTHING: pairs == brute-force exact
    Jaccard >= 0.8 pairs recomputed in Python over the same corpus."""
    from lab04_spark_streaming_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    sets = {
        r["doc_id"]: _shingle_set(r["text"])
        for r in docs
        if len(_toks(r["text"])) >= 3
    }
    expected = set()
    ids = sorted(sets)
    inv = defaultdict(list)
    for i in ids:
        for sh in sets[i]:
            inv[sh].append(i)
    cand = {
        (a, b)
        for lst in inv.values()
        for a in lst
        for b in lst
        if a < b
    }
    for a, b in cand:
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if union and 10 * inter >= 8 * union:
            expected.add((a, b))
    got = {
        (r["doc_a"], r["doc_b"])
        for r in mining.q_jaccard_prefix_join(spark, sf_dir).collect()
    }
    assert got == expected
    assert len(got) > 0  # the corpus plants near-dups; must find them


def test_prefix_join_plan_broadcasts_rank_no_cartesian(spark, sf_dir):
    plan = plan_of(mining.q_jaccard_prefix_join(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan  # the df-rank relation


# --- minhash_error ----------------------------------------------------------
def test_minhash_error_bounds_and_identity(spark, sf_dir):
    rows = mining.q_minhash_error(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert 0.0 <= r["est_jaccard"] <= 1.0
        assert 0.0 < r["exact_jaccard"] <= 1.0
        assert abs(
            abs(r["est_jaccard"] - r["exact_jaccard"]) - r["abs_err"]
        ) < 1e-12
        # identical sets hash to identical signatures: exact 1 => est 1
        if r["exact_jaccard"] == 1.0:
            assert r["est_jaccard"] == 1.0


# --- quality_classifier -----------------------------------------------------
def _hash_int(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def test_quality_classifier_matches_python_recompute(spark, sf_dir):
    from lab04_spark_streaming_spark.sources.files import load_table

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .limit(20)
        .collect()
    )
    got = {
        r["doc_id"]: r
        for r in mining.q_quality_classifier(spark, sf_dir).collect()
    }
    for d in docs:
        toks = _toks(d["text"])
        num = sum(
            _hash_int(f"qw|{_hash_int(f'qb|{w}') % 256}") % 2001 - 1000
            for w in toks
        )
        assert got[d["doc_id"]]["score_num"] == num
        assert got[d["doc_id"]]["n_tokens"] == len(toks)


def test_quality_classifier_zero_shuffle(spark, sf_dir):
    plan = plan_of(mining.q_quality_classifier(spark, sf_dir))
    assert "Exchange" not in plan


# --- bigram LM --------------------------------------------------------------
def test_bigram_logprob_count_relations_broadcast(spark, sf_dir):
    plan = plan_of(mining.q_bigram_logprob(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_bigram_logprob_in_sane_range(spark, sf_dir):
    rows = mining.q_bigram_logprob(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        # -log2 p of an interpolated LM over a ~40-word vocab
        assert 0.0 < r["avg_neg_log2p"] < 20.0


# --- profiler & DQ ----------------------------------------------------------
def test_data_profile_single_scan_and_values(spark, sf_dir):
    from lab04_spark_streaming_spark.sources.files import load_table

    # plan BEFORE executing: post-collect AQE explain prints the final
    # plan and the initial plan, double-counting every node.
    plan = plan_of(mining.q_data_profile(spark, sf_dir))
    # one pass over lineitem: a single scan NODE — which "formatted"
    # prints twice (once in the tree, once in the detail section).
    assert plan.count("(1) Scan parquet") == 1
    assert plan.count("Scan parquet") == 2
    prof = {
        r["col_name"]: r for r in mining.q_data_profile(spark, sf_dir).collect()
    }
    li = load_table(spark, sf_dir, "lineitem")
    n = li.count()
    assert all(p["n_rows"] == n for p in prof.values())
    assert prof["l_returnflag"]["n_distinct"] == 3
    assert prof["l_quantity"]["min_num"] >= 1.0
    assert prof["l_returnflag"]["avg_len"] == 1.0


def test_dq_checks_all_pass_on_clean_testdata(spark, sf_dir):
    rows = mining.q_dq_checks(spark, sf_dir).collect()
    assert len(rows) == 5
    assert all(r["passed"] for r in rows)
    assert all(r["metric"] == 1.0 for r in rows)
    ref = next(r for r in rows if r["check_name"].startswith("referential"))
    assert ref["n_bad"] == 0


def test_dq_referential_catches_orphans(spark, tmp_path):
    """Plant an orphan o_custkey and assert the check fails it."""
    import pyspark.sql.functions as F
    from lab04_spark_streaming_spark.sources.files import load_table

    src = "/root/testdata/sf0.001"
    d = tmp_path / "sf"
    d.mkdir()
    orders = load_table(spark, src, "orders")
    orders.withColumn(
        "o_custkey",
        F.when(F.col("o_orderkey") % 97 == 0, F.lit(10**12)).otherwise(
            F.col("o_custkey")
        ),
    ).write.parquet(str(d / "orders.parquet"))
    for t in ("customer", "lineitem"):
        load_table(spark, src, t).write.parquet(str(d / f"{t}.parquet"))
    rows = {r["check_name"]: r for r in mining.q_dq_checks(spark, str(d)).collect()}
    ref = rows["referential:o_custkey->customer"]
    assert not ref["passed"] and ref["n_bad"] > 0
    assert rows["uniqueness:o_orderkey"]["passed"]


# --- k-core -----------------------------------------------------------------
def test_kcore_matches_python_peel_and_converged(spark, sf_dir):
    """Recompute the k-core fixpoint in Python from the same edge
    relation and assert (a) the 5-round unroll has converged (the
    fixpoint needs <= 3 rounds at every test SF) and (b) membership +
    degrees agree exactly."""
    edges = mining._kcore_edges(spark, sf_dir).collect()
    adj = defaultdict(set)
    for r in edges:
        adj[r["src"]].add(r["dst"])
        adj[r["dst"]].add(r["src"])
    nodes = set(adj)
    while True:
        kill = {n for n in nodes if len(adj[n] & nodes) < mining._KCORE_K}
        if not kill:
            break
        nodes -= kill
    expected = {n: len(adj[n] & nodes) for n in nodes}
    got = {
        r["doc_id"]: r["core_deg"]
        for r in mining.q_kcore_docs(spark, sf_dir).collect()
    }
    assert got == expected
    assert len(got) > 0


def test_kcore_plan_no_cartesian(spark, sf_dir):
    plan = plan_of(mining.q_kcore_docs(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rep_docs_one_representative_per_cluster(spark, sf_dir):
    """The dedup-before-graph base (r14): exactly one member of every
    near-dup cluster survives (the keep-best winner — longest by
    n_chars, doc_id tie-break), every unclustered doc survives, and no
    doc appears twice."""
    from lab04_spark_streaming_spark.plans.llm import q_dedup_clusters
    from lab04_spark_streaming_spark.sources.files import load_table

    docs = {
        r["doc_id"]: r["n_chars"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "n_chars")
        .collect()
    }
    clusters = defaultdict(list)
    for r in q_dedup_clusters(spark, sf_dir).collect():
        clusters[r["cluster_id"]].append(r["doc_id"])
    clustered = {d for mem in clusters.values() for d in mem}
    expected = set(docs) - clustered
    for mem in clusters.values():
        expected.add(max(mem, key=lambda d: (docs[d], -d)))
    kept = [r["doc_id"] for r in mining._rep_docs(spark, sf_dir).collect()]
    assert len(kept) == len(set(kept))
    assert set(kept) == expected


@pytest.mark.slow
def test_kcore_deduped_equals_peel_over_rep_graph(spark, sf_dir):
    """The deduped k-core must equal the exact peel recomputed in
    Python over the edge relation built from the representative doc
    set — i.e. the variant differs from q_kcore_docs ONLY in its
    input corpus."""
    reps = mining._rep_docs(spark, sf_dir)
    edges = mining._kcore_edges(spark, sf_dir, docs=reps).collect()
    adj = defaultdict(set)
    for r in edges:
        adj[r["src"]].add(r["dst"])
        adj[r["dst"]].add(r["src"])
    nodes = set(adj)
    while True:
        kill = {n for n in nodes if len(adj[n] & nodes) < mining._KCORE_K}
        if not kill:
            break
        nodes -= kill
    expected = {n: len(adj[n] & nodes) for n in nodes}
    got = {
        r["doc_id"]: r["core_deg"]
        for r in mining.q_kcore_docs_deduped(spark, sf_dir).collect()
    }
    assert got == expected


# --- wave 4: SCD2 / HLL merge / SNM / LPA -----------------------------------
def test_scd2_intervals_tile_and_alternate(spark, sf_dir):
    """Per user: intervals tile (valid_to == next valid_from), exactly
    one open current interval, and consecutive intervals never share
    an event_type (else they'd be one run)."""
    rows = mining.q_scd2_intervals(spark, sf_dir).collect()
    by_user = defaultdict(list)
    for r in rows:
        by_user[r["user_id"]].append(r)
    assert len(by_user) > 0
    for user, ivs in by_user.items():
        ivs.sort(key=lambda r: r["valid_from"])
        assert sum(1 for r in ivs if r["is_current"]) == 1
        assert ivs[-1]["is_current"] and ivs[-1]["valid_to"] is None
        for a, b in zip(ivs, ivs[1:]):
            assert a["valid_to"] == b["valid_from"]
            assert a["event_type"] != b["event_type"]


def test_scd2_single_exchange(spark, sf_dir):
    """All windows + the agg share the user_id partitioning: one
    shuffle total."""
    plan = plan_of(mining.q_scd2_intervals(spark, sf_dir))
    # "formatted" prints each node once in the tree ("Exchange (2)")
    # and once as a detail header ("(2) Exchange") — count the headers.
    import re

    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_hll_merge_equals_global_sketch(spark, sf_dir):
    """THE mergeability property: register-wise max of per-source
    sketches == the sketch of the whole corpus, so the merged estimate
    must equal plans/corpus.q_hll_distinct's global estimate
    bit-for-bit (same m, same hash, same estimator)."""
    from lab04_spark_streaming_spark.plans.corpus import q_hll_distinct

    by_src = {
        r["source"]: r for r in mining.q_hll_by_source(spark, sf_dir).collect()
    }
    merged = by_src["__merged__"]
    glob = q_hll_distinct(spark, sf_dir).collect()[0]
    assert merged["hll_est"] == glob["hll_est"]
    assert merged["n_exact"] == glob["n_exact"]
    # per-source sketches exist and are plausible
    assert len(by_src) >= 3
    assert all(r["within_bound"] for r in by_src.values())


def test_snm_candidate_volume_and_recall(spark, sf_dir):
    """Candidate volume is bounded by n*w (the SNM point); on this
    corpus the planted near-dups sort adjacently, so every exact
    Jaccard>=0.8 pair that shares a first token must be among the
    candidates."""
    from lab04_spark_streaming_spark.sources.files import load_table

    cands = mining.q_snm_candidates(spark, sf_dir).collect()
    n_docs = (
        load_table(spark, sf_dir, "documents")
        .selectExpr("doc_id", "array_remove(split(lower(text), '[^a-z0-9]+'), '') toks")
        .filter("size(toks) >= 3")
        .count()
    )
    assert len(cands) <= n_docs * mining._SNM_WINDOW
    high = {(r["doc_a"], r["doc_b"]) for r in cands if r["jaccard"] >= 0.8}
    assert len(high) > 0
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in mining.q_jaccard_prefix_join(spark, sf_dir).collect()
    }
    # SNM found every planted pair on this corpus (first tokens match)
    assert high == exact


def test_lpa_communities_respect_components(spark, sf_dir):
    """Any two nodes with the same LPA label after 4 sync rounds must
    be in the same connected component (labels travel only along
    edges), and communities must be at least as fine as components."""
    edges = mining._kcore_edges(spark, sf_dir).collect()
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in edges:
        parent[find(r["src"])] = find(r["dst"])
    rows = mining.q_lpa_communities(spark, sf_dir).collect()
    comp_of_label = {}
    n_communities = len({r["community"] for r in rows})
    for r in rows:
        c = find(r["doc_id"])
        lbl = r["community"]
        assert comp_of_label.setdefault(lbl, c) == c
        assert r["community_size"] >= 1
    n_components = len({find(n) for n in parent})
    assert n_communities >= n_components


@pytest.mark.slow
def test_lpa_deduped_respects_components_of_rep_graph(spark, sf_dir):
    """The deduped LPA must satisfy the same label/component invariant
    over the REPRESENTATIVE edge relation, and must label only
    representative docs (no eliminated near-dup member may appear)."""
    reps = {r["doc_id"] for r in mining._rep_docs(spark, sf_dir).collect()}
    edges = mining._kcore_edges(
        spark, sf_dir, docs=mining._rep_docs(spark, sf_dir)
    ).collect()
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in edges:
        parent[find(r["src"])] = find(r["dst"])
    rows = mining.q_lpa_communities_deduped(spark, sf_dir).collect()
    assert rows and {r["doc_id"] for r in rows} <= reps
    comp_of_label = {}
    for r in rows:
        assert comp_of_label.setdefault(r["community"], find(r["doc_id"])) == find(
            r["doc_id"]
        )


def test_readme_registry_count_matches():
    """README's stated registered-query count must track the registry
    (VERDICT r5 item 8 hygiene)."""
    from lab04_spark_streaming_spark.registry import all_specs

    n = len(all_specs())
    readme = open("README.md").read()
    assert f"{n} queries" in readme


# --- wave 5: attribution / reconciliation / seasonal ------------------------
def test_attribution_matches_python_recompute(spark, sf_dir):
    """Last-touch credit recomputed in Python: for every purchase, the
    latest click of the same user with click.ts <= purchase.ts and
    within 3600 s."""
    from lab04_spark_streaming_spark.sources.files import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    ).collect()
    clicks = defaultdict(list)
    for r in ev:
        if r["event_type"] == "click":
            clicks[r["user_id"]].append((r["ts"], r["event_id"]))
    for v in clicks.values():
        v.sort()
    got = mining.q_attribution_last_touch(spark, sf_dir).collect()
    purchases = [r for r in ev if r["event_type"] == "purchase"]
    assert len(got) == len(purchases)
    byid = {r["event_id"]: r for r in got}
    import bisect
    import datetime as dt

    for p in purchases:
        row = byid[p["event_id"]]
        cl = clicks.get(p["user_id"], [])
        i = bisect.bisect_right(cl, (p["ts"], float("inf"))) - 1
        if i >= 0 and (p["ts"] - cl[i][0]) <= dt.timedelta(seconds=3600):
            # deterministic payload: max event_id at that ts
            best_ts = cl[i][0]
            best_id = max(e for t, e in cl if t == best_ts)
            assert row["attributed"] and row["click_ts"] == best_ts
            assert row["click_id"] == best_id
        else:
            assert not row["attributed"] and row["click_ts"] is None


def test_reconcile_full_outer_classes(spark, sf_dir):
    """Clean TPC-H-ish data: every order has lines and every line has
    an order header -> a single 'both' class... unless the generator
    orphans some; in any case the class counts must tie out to the
    table counts."""
    from lab04_spark_streaming_spark.sources.files import load_table

    rows = {r["presence"]: r for r in
            mining.q_reconcile_orders_lineitem(spark, sf_dir).collect()}
    n_orders = load_table(spark, sf_dir, "orders").count()
    n_line_orders = (
        load_table(spark, sf_dir, "lineitem").select("l_orderkey").distinct().count()
    )
    total_header = sum(
        r["n_orders"] for k, r in rows.items() if k in ("both", "header_only")
    )
    total_lines = sum(
        r["n_orders"] for k, r in rows.items() if k in ("both", "lines_only")
    )
    assert total_header == n_orders
    assert total_lines == n_line_orders
    plan = plan_of(mining.q_reconcile_orders_lineitem(spark, sf_dir))
    assert "FullOuter" in plan


def test_seasonal_factors_weighted_mean_is_one(spark, sf_dir):
    """The event-count-weighted mean of the seasonal factors is exactly
    the overall mean over the overall mean ~= 1 (up to the double
    division); also 24 hours per type, all factors positive."""
    rows = mining.q_seasonal_factors(spark, sf_dir).collect()
    by_type = defaultdict(list)
    for r in rows:
        by_type[r["event_type"]].append(r)
    assert len(by_type) == 5
    for t, rs in by_type.items():
        assert len(rs) == 24
        assert all(r["seasonal_factor"] > 0 for r in rs)
        n = sum(r["n_events"] for r in rs)
        weighted = sum(r["hourly_mean"] * r["n_events"] for r in rs) / n
        overall = rs[0]["hourly_mean"] / rs[0]["seasonal_factor"]
        assert abs(weighted - overall) < 1e-6 * abs(overall)


def test_fuzzy_matches_agree_with_exact_jaccard(spark, sf_dir):
    """Two independent similarity definitions (bounded-prefix edit
    distance <= 20% vs shingle Jaccard >= 0.8) must agree on this
    corpus's planted near-dups — a cross-validation of both rules."""
    fuzzy = {
        (r["doc_a"], r["doc_b"])
        for r in mining.q_snm_fuzzy_matches(spark, sf_dir).collect()
        if r["is_match"]
    }
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in mining.q_jaccard_prefix_join(spark, sf_dir).collect()
    }
    assert fuzzy == exact and len(fuzzy) > 0


def test_contrastive_pairs_semantics(spark, sf_dir):
    """Positives are above the threshold, hard negatives below it;
    every anchor row exists; positive partner is the semdedup dup
    threshold's nearest neighbor within the cell."""
    rows = mining.q_contrastive_pairs(spark, sf_dir).collect()
    from lab04_spark_streaming_spark.sources.files import load_table

    assert len(rows) == load_table(spark, sf_dir, "embeddings").count()
    n_pos = 0
    for r in rows:
        if r["pos_id"] is not None:
            n_pos += 1
            assert r["pos_cos"] >= mining._CONTRAST_TAU
            assert r["pos_id"] != r["anchor"]
        if r["neg_id"] is not None:
            assert r["neg_cos"] < mining._CONTRAST_TAU
            assert r["neg_id"] != r["anchor"]
        if r["pos_id"] is not None and r["neg_id"] is not None:
            assert r["pos_cos"] > r["neg_cos"]
    assert n_pos > 0  # planted near-dups must yield positives


def test_scd2_point_in_time_matches_interval_scan(spark, sf_dir):
    """Every probe's state must equal a brute-force containment scan
    of the intervals (valid_from <= t < valid_to, open current)."""
    hist = mining.q_scd2_intervals(spark, sf_dir).collect()
    by_user = defaultdict(list)
    for r in hist:
        by_user[r["user_id"]].append(r)
    got = mining.q_scd2_point_in_time(spark, sf_dir).collect()
    assert len(got) > 0
    for r in got:
        t = r["probe_ts"]
        exp = None
        for iv in by_user[r["user_id"]]:
            if iv["valid_from"] <= t and (
                iv["valid_to"] is None or t < iv["valid_to"]
            ):
                exp = iv["event_type"]
                break
        assert r["state_at_probe"] == exp, (r, exp)


def test_bpe_second_merge_matches_python(spark, sf_dir):
    """Recompute both BPE iterations in Python (greedy leftmost
    non-overlapping merge) and compare the ranked second-iteration
    pair counts exactly."""
    from collections import Counter

    from lab04_spark_streaming_spark.sources.files import load_table

    words = Counter()
    for r in load_table(spark, sf_dir, "documents").select("text").collect():
        words.update(_toks(r["text"]))
    first = Counter()
    for w, c in words.items():
        for i in range(len(w) - 1):
            first[w[i : i + 2]] += c
    merge1 = sorted(first.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
    second = Counter()
    for w, c in words.items():
        symbols = []
        i = 0
        while i < len(w):
            if w[i : i + 2] == merge1:
                symbols.append(merge1)
                i += 2
            else:
                symbols.append(w[i])
                i += 1
        for a, b in zip(symbols, symbols[1:]):
            second[a + b] += c
    expected = sorted(second.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = sorted(
        mining.q_bpe_second_merge(spark, sf_dir).collect(),
        key=lambda r: r["rank"],
    )
    assert [(r["pair"], r["n_occurrences"]) for r in got] == expected
    assert all(r["merge1"] == merge1 for r in got)


def test_mining_queries_survive_empty_tables(spark, tmp_path):
    """Every mining query must return an empty (or
    degenerate-but-valid) result on EMPTY input — not throw. Empty
    partitions are routine at 100 TB (a new date partition, a filtered
    branch); an operator that crashes on them is not deployable.
    Schemas come from the canonical STAR_TABLE_CONTRACT so a testdata
    schema change updates this sweep automatically."""
    from lab04_spark_streaming_spark.schemas import STAR_TABLE_CONTRACT

    d = tmp_path / "empty_sf"
    d.mkdir()
    for table in ("documents", "events", "embeddings"):
        ddl = ", ".join(
            f"{c} {typ}" for c, typ in STAR_TABLE_CONTRACT[table]
        )
        spark.createDataFrame([], ddl).write.parquet(
            str(d / f"{table}.parquet")
        )
    queries = [
        mining.q_span_dedup_c4,
        mining.q_jaccard_prefix_join,
        mining.q_minhash_error,
        mining.q_quality_classifier,
        mining.q_bigram_logprob,
        mining.q_kcore_docs,
        mining.q_snm_candidates,
        mining.q_snm_fuzzy_matches,
        mining.q_lpa_communities,
        mining.q_hll_by_source,
        mining.q_bpe_second_merge,
        mining.q_scd2_intervals,
        mining.q_seasonal_factors,
        # asof-backed paths: empty left AND empty right partitions
        mining.q_attribution_last_touch,
        mining.q_scd2_point_in_time,
        # embeddings-driven
        mining.q_contrastive_pairs,
        mining.q_path_transitions,
    ]
    for fn in queries:
        assert fn(spark, str(d)).count() == 0, fn.__name__


def test_scd2_tiebreak_same_timestamp_runs(spark, tmp_path):
    """Review regression (r6): runs sharing a valid_from (identical
    timestamps with alternating types) must order deterministically by
    run id — zero-length intervals tile in event order and only the
    last same-instant run carries forward."""
    import datetime as dt

    T = dt.datetime(2024, 6, 1, 12, 0, 0)
    rows = [
        (0, T, 1, "a"),
        (1, T, 1, "b"),
        (2, T, 1, "a"),
        (3, T + dt.timedelta(seconds=10), 1, "b"),
    ]
    d = tmp_path / "sf"
    d.mkdir()
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    ).write.parquet(str(d / "events.parquet"))
    got = [
        (r["event_type"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in sorted(
            mining.q_scd2_intervals(spark, str(d)).collect(),
            key=lambda r: (
                r["valid_from"],
                r["is_current"],
                r["event_type"],
                r["valid_to"] or dt.datetime.max,
            ),
        )
    ]
    T10 = T + dt.timedelta(seconds=10)
    assert (got[0], got[3]) == (("a", T, T, False), ("b", T10, None, True))
    # middle two: both start at T; exactly one carries to T10
    assert {g[0] for g in got[:3]} == {"a", "b"}
    assert sorted(g[2] for g in got[:3]) == [T, T, T10]
    # point-in-time query survives the duplicate (user, valid_from)
    pit = mining.q_scd2_point_in_time(spark, str(d)).collect()
    for r in pit:
        if r["probe_ts"] >= T10:
            assert r["state_at_probe"] == "b"
        elif r["probe_ts"] >= T:
            assert r["state_at_probe"] == "a"


def test_path_transitions_probabilities_sum_to_one(spark, sf_dir):
    rows = mining.q_path_transitions(spark, sf_dir).collect()
    assert rows
    by_from = defaultdict(list)
    for r in rows:
        by_from[r["from_type"]].append(r)
        assert 0.0 < r["p_next"] <= 1.0
        assert r["n_pair"] <= r["n_from"]
    for f, rs in by_from.items():
        assert sum(r["n_pair"] for r in rs) == rs[0]["n_from"]
        assert abs(sum(r["p_next"] for r in rs) - 1.0) < 1e-9


def test_golden_records_survivorship_rules(spark, sf_dir):
    """Survivor = longest text (ties -> min doc_id); provenance lists
    are sorted distinct; n_members ties out to the cluster sizes."""
    from lab04_spark_streaming_spark.plans.llm import q_dedup_clusters
    from lab04_spark_streaming_spark.sources.files import load_table

    comp = {
        r["doc_id"]: r["cluster_id"]
        for r in q_dedup_clusters(spark, sf_dir).collect()
    }
    meta = {
        r["doc_id"]: r
        for r in load_table(spark, sf_dir, "documents")
        .selectExpr("doc_id", "source", "lang", "length(text) len")
        .collect()
        if r["doc_id"] in comp
    }
    golden = mining.q_golden_records(spark, sf_dir).collect()
    assert len(golden) == len(set(comp.values()))
    by_cluster = defaultdict(list)
    for d, c in comp.items():
        by_cluster[c].append(d)
    for g in golden:
        members = by_cluster[g["cluster_id"]]
        assert g["n_members"] == len(members)
        exp_survivor = min(
            members, key=lambda d: (-meta[d]["len"], d)
        )
        assert g["survivor_id"] == exp_survivor
        assert g["max_len"] == max(meta[d]["len"] for d in members)
        assert g["sources"] == ",".join(
            sorted({meta[d]["source"] for d in members})
        )


def test_scd2_incremental_equals_full_rebuild(spark, tmp_path):
    """Hand-built edge cases around the cutoff: the open run extends
    across it (same type), closes at it (type change), a user exists
    only before, one only after — the merge must equal the full
    rebuild in every case."""
    import datetime as dt

    C = dt.datetime(2024, 1, 16, 0, 0, 0)

    def at(days):
        return C + dt.timedelta(days=days)

    rows = [
        # user 1: open 'a' run extends across the cutoff, then closes
        (0, at(-2), 1, "a"),
        (1, at(-1), 1, "a"),
        (2, at(1), 1, "a"),
        (3, at(2), 1, "b"),
        # user 2: type change right at the first delta event
        (4, at(-3), 2, "x"),
        (5, at(1), 2, "y"),
        # user 3: only old events (dimension passes through)
        (6, at(-5), 3, "q"),
        (7, at(-4), 3, "r"),
        # user 4: only new events (fresh user)
        (8, at(3), 4, "z"),
        (9, at(4), 4, "z"),
    ]
    d = tmp_path / "sf"
    d.mkdir()
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    ).write.parquet(str(d / "events.parquet"))
    full = sorted(
        tuple(r)
        for r in mining.q_scd2_intervals(spark, str(d)).collect()
    )
    inc = sorted(
        tuple(r)
        for r in mining.q_scd2_incremental(spark, str(d)).collect()
    )
    assert inc == full
    # spot-check: user 1's 'a' run spans the cutoff with 3 events
    a_run = next(r for r in full if r[0] == 1 and r[1] == "a")
    assert a_run[4] == 3


def test_pca_power_top_matches_python_replication(spark, sf_dir):
    """Exact replication: the same quantized power iteration in
    numpy/Python must reproduce component_q bit-for-bit (verifies the
    distributed implementation); and the Rayleigh quotient must
    improve from the all-ones start (the power-iteration invariant).
    NOTE the fixture embeddings are near-isotropic (flat spectrum), so
    3 rounds do NOT converge to the true eigenvector — convergence
    speed is a property of the data's eigengap, not the operator."""
    import numpy as np

    from lab04_spark_streaming_spark.sources.files import load_table

    emb = np.array(
        [
            r["embedding"]
            for r in load_table(spark, sf_dir, "embeddings")
            .orderBy("vec_id")
            .collect()
        ],
        dtype=np.float64,
    )
    q = np.floor(emb * 1e7 + 0.5).astype(np.int64).astype(object)  # exact ints
    n, d = q.shape
    S = q.sum(axis=0)
    G = n * (q.T @ q) - np.outer(S, S)  # exact integer covariance num
    v = np.full(d, 10**6, dtype=object)
    for _ in range(3):
        u = G @ v
        mabs = max(abs(x) for x in u)
        v = np.array(
            [
                int(np.floor(float(x) / float(mabs) * 1e6 + 0.5))
                for x in u
            ],
            dtype=object,
        )
    got = {
        r["pos"]: r["component_q"]
        for r in mining.q_pca_power_top(spark, sf_dir).collect()
    }
    assert [got[i] for i in range(d)] == list(v)

    # Rayleigh quotient improves vs the start vector
    Gf = np.array([[float(x) for x in row] for row in G])
    ones = np.ones(d)
    vf = np.array([float(x) for x in v])
    rq = lambda x: (x @ Gf @ x) / (x @ x)
    assert rq(vf) > rq(ones)
    plan = plan_of(mining.q_pca_power_top(spark, sf_dir))
    assert "CartesianProduct" not in plan
