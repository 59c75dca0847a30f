"""Physical-plan audits: the plans must be the ones we designed for
scale, not merely correct ones (SURVEY.md §7, 100 TB checklist).

Each assertion pins a property that silently regressing would hurt at
1000 executors: filter pushdown into parquet, column pruning, broadcast
joins for dims, TakeOrderedAndProject for global top-k, semi/anti join
physical operators, and whole-stage codegen presence.
"""

from __future__ import annotations

import os

import pytest

from lab04_spark_streaming_spark.plans import analytics, llm
from lab04_spark_streaming_spark.sources.files import load_table

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR_AUDIT = os.environ.get(
    "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"
)


def plan_of(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q1_pushdown_and_pruning(spark, sf_dir):
    plan = plan_of(analytics.q1_pricing_summary(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # Projection pruned to the 7 needed columns — no full-row scan.
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read and "l_suppkey" not in read
    assert "l_quantity" in read and "l_tax" in read


def test_q5_all_dims_broadcast(spark, sf_dir):
    plan = plan_of(analytics.q5_local_supplier(spark, sf_dir))
    # 5 joins total: 4 dims broadcast; only the lineitem⨝orders fact
    # join may shuffle.
    assert plan.count("BroadcastHashJoin") >= 4
    assert plan.count("SortMergeJoin") <= 1


def test_semi_anti_join_operators(spark, sf_dir):
    assert "LeftSemi" in plan_of(analytics.q_semi_join(spark, sf_dir))
    assert "LeftAnti" in plan_of(analytics.q_anti_join(spark, sf_dir))


def test_topk_avoids_global_sort(spark, sf_dir):
    plan = plan_of(analytics.q_sort_limit(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_knn_scan_prunes_label(spark, sf_dir):
    plan = plan_of(llm.q_knn_cosine_topk(spark, sf_dir))
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read and all("label" not in l for l in read)


def test_multimodal_meta_prunes_nothing_extra(spark, sf_dir):
    # documents scan: lang/source not needed by the media projection.
    plan = plan_of(llm.q_multimodal_meta(spark, sf_dir))
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read and all("source" not in l for l in read)


def test_dedup_shuffle_carries_hash_not_text(spark, sf_dir):
    """exact_dedup must project text away before the exchange — the
    shuffle moves (hash, id), not document bodies."""
    from lab04_spark_streaming_spark.operators.dedup import exact_dedup

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(exact_dedup(docs))
    ex = [l for l in plan.splitlines() if "hashpartitioning" in l]
    assert ex and all("text" not in l for l in ex)


@pytest.mark.slow
def test_moving_stats_exploded_variant_agrees(spark, sf_dir):
    """The single-shuffle exploded variant (operators/moving_stats.py)
    must agree with the unioned variant."""
    from lab04_spark_streaming_spark.operators.moving_stats import (
        moving_stats_exploded,
        moving_stats_flat,
    )

    ev = load_table(spark, sf_dir, "events").limit(500)
    a = {
        (r.timestamp, r.event_type, r.window): (r.avg_value, r.std_value)
        for r in moving_stats_flat(ev, "ts", ["event_type"], "value").collect()
    }
    b = {
        (r.timestamp, r.event_type, r.window): (r.avg_value, r.std_value)
        for r in moving_stats_exploded(ev, "ts", ["event_type"], "value").collect()
    }
    assert a == b


def test_entry_plan_has_no_wide_expand(spark):
    """The flagship entry() plan must contain NO Expand node: the
    6-window union's 1h/10s window() expands 360-way, whose generated
    switch-case exceeds janino's 64 KB method limit and silently falls
    back to interpreted evaluation (r9 driver logs) — entry() therefore
    serves the same bit-identical result through explode(sequence)
    (Generate), which stays inside whole-stage codegen."""
    import __spark_entry__ as e

    plan = plan_of(e.entry(spark))
    assert "Expand" not in plan, "entry() regressed to the window() Expand plan"
    assert "Generate" in plan  # the explode(sequence) row enumeration


@pytest.mark.slow
def test_headline_plans_codegen_fallback_free(sf_dir):
    """No headline plan may fall back to interpreted evaluation: janino
    logs `ERROR CodeGenerator: Failed to compile` (method > 64 KB, e.g.
    a 360-way sliding-window Expand) and Spark silently runs the stage
    un-codegen'd — correct, but the widest operator of the pipeline
    loses whole-stage codegen exactly where 100x scale needs it.  The
    failure is PLAN-dependent, not data-dependent, so executing every
    bench headline at sf0.001 exercises the same generated code the
    sf0.1 bench runs.  The JVM writes the error to the fd 2 it
    inherited at spawn, which pytest's capfd can NOT see (the gateway
    outlives per-test capture), so the audit runs in a fresh
    subprocess with piped stderr.  (Verified sharp: the pre-r10
    entry() plan — the naive 6-window union — trips this exact
    message at sf0.001 under the same session confs.)"""
    import subprocess
    import sys

    script = """
import sys
sys.path.insert(0, {root!r})
import bench
from lab04_spark_streaming_spark.registry import queries
from lab04_spark_streaming_spark.session import get_spark

spark = get_spark(app_name="codegen-audit", shuffle_partitions=8)
q = queries()
for name in bench.HEADLINE:
    q[name](spark, {sf_dir!r}).count()
print("CODEGEN_AUDIT_DONE")
""".format(root=REPO_ROOT, sf_dir=SF_DIR_AUDIT)
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert "CODEGEN_AUDIT_DONE" in proc.stdout, proc.stderr[-3000:]
    bad = [
        l for l in proc.stderr.splitlines() if "Failed to compile" in l
    ]
    assert not bad, bad


def test_tpch_full_dims_broadcast_no_cartesian(spark, sf_dir):
    """Every query in the full TPC-H suite: dimension joins broadcast,
    no CartesianProduct/BroadcastNestedLoopJoin sneaks in (the scalar
    thresholds in Q11/Q15/Q17/Q22 are 1-row broadcasts, which Spark
    plans as BroadcastNestedLoopJoin — allowed only for those)."""
    from lab04_spark_streaming_spark.plans import tpch_full

    scalar_thr = {"q11_important_volume", "q15_top_supplier",
                  "q17_small_qty_revenue", "q22_global_sales"}
    for s in tpch_full.specs():
        plan = plan_of(s.fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, s.name
        if s.name not in scalar_thr:
            assert "BroadcastNestedLoopJoin" not in plan, s.name


def test_tpch_q21_semi_anti_shape(spark, sf_dir):
    from lab04_spark_streaming_spark.plans import tpch_full

    plan = plan_of(tpch_full.q21_suppliers_waiting(spark, sf_dir))
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_tpch_q10_topk_heap(spark, sf_dir):
    from lab04_spark_streaming_spark.plans import tpch_full

    plan = plan_of(tpch_full.q10_returned_items(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_ivf_centroids_broadcast(spark, sf_dir):
    """IVF assignment must broadcast the codebook — the vector side
    never shuffles before the (id, cell) reduction."""
    from lab04_spark_streaming_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    plan = plan_of(ivf_topk(emb, query_id=0, k=10))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ivf_cosines_agree_with_exact_baseline(spark, sf_dir):
    """Every (vec_id, cosine) the IVF search returns must carry exactly
    the cosine the brute-force baseline computes for that id — IVF may
    MISS neighbors (recall tradeoff) but must never mis-score one."""
    from lab04_spark_streaming_spark.operators.similarity import (
        exact_cosine_topk_vs_id,
        ivf_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    exact = {
        r.vec_id: r.cosine
        for r in exact_cosine_topk_vs_id(emb, query_id=0, k=n).collect()
    }
    got = ivf_topk(emb, query_id=0, k=10).collect()
    assert got, "IVF returned no rows"
    for r in got:
        assert exact[r.vec_id] == r.cosine, (r.vec_id, exact[r.vec_id], r.cosine)


def test_kmeans_centroids_broadcast_each_iteration(spark, sf_dir):
    """Every k-means iteration must broadcast the centroid relation —
    the vector side never shuffles on anything but its own (id, cid) /
    (cid, pos) aggregations, and no assignment step degenerates into a
    cartesian product."""
    from lab04_spark_streaming_spark.operators.similarity import kmeans_assign

    emb = load_table(spark, sf_dir, "embeddings")
    plan = plan_of(kmeans_assign(emb, k=8, iters=2))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_kmeans_two_rounds_not_degenerate(spark, sf_dir):
    """Iteration must do something: after two rounds every vector is
    assigned exactly once, more than one cluster survives, and the
    round-2 assignment differs from round-1 (the update moved at least
    one centroid on the fixture)."""
    from lab04_spark_streaming_spark.operators.similarity import kmeans_assign

    emb = load_table(spark, sf_dir, "embeddings")
    one = {r.vec_id: r.cluster for r in kmeans_assign(emb, k=8, iters=1).collect()}
    two = {r.vec_id: r.cluster for r in kmeans_assign(emb, k=8, iters=2).collect()}
    assert len(one) == len(two) == emb.count()
    assert len(set(two.values())) > 1
    assert one != two


def test_kmeans_assign_packed_bit_identical(spark, sf_dir):
    """kmeans_assign_packed must return the SAME rows as the
    positional-join kmeans_assign for every (k, iters) — same seeds,
    same integer-grid distances, same lower-cid tie-break, same
    round-half-up update. The packed form exists purely to cut the
    assignment's row volume (n·d·k → n); any divergence is a bug, and
    SemDeDup's oracle (which unrolls the positional form in SQL)
    would catch it only via an opaque hash mismatch."""
    from lab04_spark_streaming_spark.operators.similarity import (
        kmeans_assign,
        kmeans_assign_packed,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    for k, iters in [(8, 1), (8, 2), (23, 2)]:
        a = {tuple(r) for r in kmeans_assign(emb, k=k, iters=iters).collect()}
        b = {
            tuple(r)
            for r in kmeans_assign_packed(emb, k=k, iters=iters).collect()
        }
        assert a == b, (k, iters)


def test_semdedup_pair_join_is_equi_not_cartesian(spark, sf_dir):
    """SemDeDup's within-cell pair stage must be an equi join on
    (pos, kcluster) — never a cartesian/nested-loop product — and the
    k-means centroid joins must broadcast."""
    from lab04_spark_streaming_spark.plans.pipeline_extras import (
        q_semdedup_keep_best,
    )

    plan = plan_of(q_semdedup_keep_best(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semdedup_scaled_cell_count_rule_matches_oracle(spark, sf_dir, tmp_path):
    """SemDeDup's cell count is data-dependent (k = smallest k with
    k² ≥ n): the Python rule the Spark builder uses and the integer
    subquery the DuckDB oracle embeds must agree on every n, including
    perfect squares and the degenerate 0/1 (float ceil(sqrt(n)) would
    NOT — sqrt of a perfect square may land an ulp either side per
    engine). Also pins parquet_row_count: footer-exact for the shipped
    single-file tables AND for a Spark-written directory of parts."""
    import math

    import duckdb

    from lab04_spark_streaming_spark.sources.files import parquet_row_count

    con = duckdb.connect()
    for n in [0, 1, 2, 3, 4, 5, 8, 9, 24, 25, 499, 500, 2000, 640_000]:
        k_py = math.isqrt(max(n - 1, 0)) + 1
        k_sql = con.execute(
            "SELECT MIN(i) FROM range(1, 2000000) t(i) WHERE i * i >= ?",
            [n],
        ).fetchone()[0]
        assert k_py == k_sql, n
        assert k_py * k_py >= n and (k_py - 1) * (k_py - 1) < max(n, 1)
    con.close()

    emb = load_table(spark, sf_dir, "embeddings")
    n_emb = emb.count()
    assert parquet_row_count(sf_dir, "embeddings") == n_emb
    out = str(tmp_path / "emb_parts")
    emb.repartition(4).write.parquet(f"{out}/embeddings.parquet")
    assert parquet_row_count(out, "embeddings") == n_emb


def test_trained_ivf_scores_match_exact_baseline(spark, sf_dir):
    """IVF over the k-means codebook may miss neighbors (recall) but
    every (vec_id, cosine) it returns must equal the brute-force score
    for that id, and the centroid join must broadcast."""
    from lab04_spark_streaming_spark.operators.similarity import (
        exact_cosine_topk_vs_id,
        ivf_topk,
        kmeans_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cent = kmeans_centroids(emb, k=8, updates=1)
    ivf = ivf_topk(emb, query_id=0, k=10, n_cells=8, n_probe=2, centroids=cent)
    plan = plan_of(ivf)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    n = emb.count()
    exact = {
        r.vec_id: r.cosine
        for r in exact_cosine_topk_vs_id(emb, query_id=0, k=n).collect()
    }
    got = ivf.collect()
    assert got, "trained IVF returned no rows"
    for r in got:
        assert exact[r.vec_id] == r.cosine, (r.vec_id, exact[r.vec_id], r.cosine)


def test_fold_topk_matches_anchor_ids(spark, sf_dir):
    """The production zip_with-fold top-k (what bench.py measures) must
    return the same ids in the same rank order as the integer-quantized
    posexplode anchor (what the driver oracle checks) — the two differ
    only in sub-quantum cosine noise, never in ranking. Its plan must
    also stay shuffle-free up to the top-k: no posexplode expansion."""
    from lab04_spark_streaming_spark.operators.similarity import (
        cosine_topk_vs_id_fold,
        exact_cosine_topk_vs_id,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    fold = cosine_topk_vs_id_fold(emb, query_id=0, k=10)
    assert "posexplode" not in plan_of(fold)
    fold_ids = [r.vec_id for r in fold.collect()]
    anchor_ids = [
        r.vec_id for r in exact_cosine_topk_vs_id(emb, query_id=0, k=10).collect()
    ]
    assert fold_ids == anchor_ids


def test_embedding_pairs_lsh_shape_and_recall(spark, sf_dir):
    """The REGISTERED dedup_embedding_pairs query must be the scale-safe
    banded-SRP pipeline: candidates from a (band, band_key) bucket join,
    verify on candidates only — never the O(n²·d) position self-join.
    And on the fixture its output must equal the all-pairs recall
    oracle exactly (recall is deterministic: md5-seeded literal signs)."""
    from collections import Counter

    from lab04_spark_streaming_spark.operators.similarity import (
        embedding_near_dup_pairs,
        embedding_near_dup_pairs_lsh,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    lsh = embedding_near_dup_pairs_lsh(emb, threshold=0.4)
    plan = plan_of(lsh)
    assert "band_key" in plan, "candidate bucket join missing from plan"
    assert "CartesianProduct" not in plan
    # verify stage must fold full arrays, not explode positions
    assert "posexplode" not in plan

    allp = Counter(
        (r.id_a, r.id_b, r.cosine)
        for r in embedding_near_dup_pairs(emb, threshold=0.4).collect()
    )
    got = Counter((r.id_a, r.id_b, r.cosine) for r in lsh.collect())
    assert got == allp


def test_watermark_drop_no_global_window_over_data(spark, sf_dir):
    """The arrival-order running max must be chunk-partitioned: the
    window that scans the events table orders by event_id WITHIN a
    _chunk partition; the only unpartitioned window is over the tiny
    per-chunk summary relation (grouped: one row per 4096 ids)."""
    import re

    from lab04_spark_streaming_spark.plans import reference_parity as rp

    plan = plan_of(rp.q_watermark_drop(spark, sf_dir))
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "no window in plan"
    data_specs = [s for s in specs if "event_id" in s]
    assert data_specs and all(s.startswith("_chunk") for s in data_specs)


def test_simhash_pairs_band_join_no_cartesian(spark, sf_dir):
    """Candidate generation must be the (band, band_val) bucket join —
    never a cross product of signatures."""
    from lab04_spark_streaming_spark.operators.dedup import simhash_pairs

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(simhash_pairs(docs))
    assert "band_val" in plan
    assert "CartesianProduct" not in plan


def test_decontamination_prunes_same_source_in_join(spark, sf_dir):
    """The cross-group predicate must sit in the shingle join, not in a
    post-join filter over the aggregated pairs (same-source pairs never
    reach the pair aggregation)."""
    from lab04_spark_streaming_spark.plans import llm

    plan = plan_of(llm.q_decontamination_pairs(spark, sf_dir))
    cond_lines = [l for l in plan.splitlines() if "Join condition" in l]
    assert any("_grp" in l for l in cond_lines), cond_lines


def test_stratified_sample_filter_reaches_scan(spark, sf_dir):
    """The hash-keep predicate is a pure row expression: it must be
    evaluated at the scan (no shuffle, no join in the plan at all)."""
    from lab04_spark_streaming_spark.plans import llm

    plan = plan_of(llm.q_stratified_sample(spark, sf_dir))
    assert "Exchange" not in plan
    assert "ReadSchema" in plan


def test_asof_generic_no_global_window_over_data(spark, sf_dir):
    """asof_join's ordered fill must be (key, chunk)-partitioned; only
    the per-chunk summary relation may use a key-only window."""
    import re

    from lab04_spark_streaming_spark.plans import reference_parity as rp

    plan = plan_of(rp.q_asof_generic(spark, sf_dir))
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    data_specs = [s for s in specs if "_is_left" in s]  # the fill scan
    assert data_specs and all("_chunk" in s for s in data_specs)


def test_train_test_split_zero_shuffle(spark, sf_dir):
    """Hash split is a pure per-row expression — no Exchange at all."""
    from lab04_spark_streaming_spark.plans import pipeline_extras as px

    plan = plan_of(px.q_train_test_split(spark, sf_dir))
    assert "Exchange" not in plan


def test_ngram_repetition_zero_shuffle_and_pruned(spark, sf_dir):
    """Repetition signals are per-row HOF expressions; the scan must
    read only (doc_id, text)."""
    from lab04_spark_streaming_spark.plans import pipeline_extras as px

    plan = plan_of(px.q_ngram_repetition(spark, sf_dir))
    assert "Exchange" not in plan
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read and all("n_chars" not in l and "lang" not in l for l in read)


def test_embedding_normalize_zero_shuffle(spark, sf_dir):
    from lab04_spark_streaming_spark.plans import pipeline_extras as px

    plan = plan_of(px.q_embedding_normalize(spark, sf_dir))
    assert "Exchange" not in plan
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read and all("label" not in l for l in read)


def test_quota_and_packing_single_source_shuffle(spark, sf_dir):
    """Both group-by-source ops shuffle exactly once, on source, and
    the exchange carries ids/counts — never document text."""
    from lab04_spark_streaming_spark.plans import pipeline_extras as px

    for q in (px.q_domain_quota_sample, px.q_sequence_packing):
        plan = plan_of(q(spark, sf_dir))
        ex = [l for l in plan.splitlines() if "hashpartitioning" in l]
        assert ex and all("text" not in l for l in ex), q.__name__


def test_driver_contract_shape():
    """The driver consumes __spark_entry__ blind: every oracle name must
    be a registered query, entry/queries/oracle_sql must be present,
    and the stamp-priority prefix must name real queries (all_specs
    asserts that internally — importing is the check)."""
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    assert callable(e.entry)
    assert set(o) <= set(q)
    assert len(q) >= 102
    assert all(callable(fn) for fn in q.values())
    assert all(isinstance(sql, str) and sql.strip() for sql in o.values())


def test_timeseries_no_cartesian_or_bnlj(spark, sf_dir):
    """r6 time-series surface: the EWMA rank-band join must stay an
    equi join on the user key with a residual (never a nested loop),
    the gap-fill must use the as-of union-fill scan (never a range
    join), and the funnel's stage joins must all be key joins."""
    from lab04_spark_streaming_spark.plans import timeseries as tsp

    for fn in (
        tsp.q_ewma_smoothing,
        tsp.q_gap_fill_locf,
        tsp.q_funnel_steps,
        tsp.q_mad_outliers,
        tsp.q_time_weighted_avg,
    ):
        plan = plan_of(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BroadcastNestedLoopJoin" not in plan, fn.__name__


def test_histogram_prunes_to_single_column(spark, sf_dir):
    """The fixed-bound histogram reads exactly one lineitem column."""
    plan = plan_of(analytics.q_histogram_bins(spark, sf_dir))
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read and all(
        "struct<l_extendedprice:double>" in l for l in read
    ), read


def test_funnel_scans_prune_to_three_columns(spark, sf_dir):
    """Every funnel scan carries at most (user_id, ts, event_type) —
    value/props never leave the parquet reader."""
    from lab04_spark_streaming_spark.plans import timeseries as tsp

    plan = plan_of(tsp.q_funnel_steps(spark, sf_dir))
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read
    for l in read:
        assert "value" not in l and "props" not in l, l


def test_oov_vocab_join_is_broadcast(spark, sf_dir):
    """The top-100 vocabulary must come back as a broadcast (map-side
    membership probe) — a shuffle join on the token key would re-shuffle
    the full exploded token relation a second time."""
    plan = plan_of(llm.q_oov_rate(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pq_adc_rank_quality_and_plan(spark, sf_dir):
    """PQ ADC is approximate by design; on the fixture corpus (whose
    distance spectrum is nearly flat — top-10 and top-50 true
    distances differ by ~15%, so strict recall@10 is the wrong bar)
    the picks must still concentrate in the true top decile: median
    true-L2 rank ≤ 60 of ~500, and ≥6 of 10 picks inside the true
    top-100. Random selection would put the median near 250. Plan
    side: codebooks and the ADC lookup table must broadcast — never a
    shuffle or nested-loop join against the code relation."""
    from pyspark.sql import functions as F

    from lab04_spark_streaming_spark.operators.similarity import (
        _quantized_pos,
        ann_pq_adc_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    topk = ann_pq_adc_topk(emb, query_id=0, k=10, m=4)
    plan = plan_of(topk)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan

    pos = _quantized_pos(emb, "vec_id", "embedding")
    q = pos.filter(F.col("vec_id") == 0).select(
        "pos", F.col("x").alias("qx")
    )
    d = (
        pos.join(F.broadcast(q), "pos")
        .groupBy("vec_id")
        .agg(
            F.sum(
                (F.col("x") - F.col("qx")) * (F.col("x") - F.col("qx"))
            ).alias("d2")
        )
        .filter(F.col("vec_id") != 0)
    )
    true_d2 = {r.vec_id: r.d2 for r in d.collect()}
    ranked = sorted(true_d2, key=lambda v: (true_d2[v], v))
    picks = [r.vec_id for r in topk.collect()]
    ranks = sorted(ranked.index(v) + 1 for v in picks)
    assert len(ranks) == 10
    median_rank = (ranks[4] + ranks[5]) / 2
    assert median_rank <= 60, ranks
    assert sum(1 for r in ranks if r <= 100) >= 6, ranks


def test_ivfpq_rank_quality_and_plan(spark, sf_dir):
    """Residual IVF-PQ: same approximation-quality bar as plain PQ
    (median true-L2 rank of the picks ≤ 60 of ~500, ≥6 of 10 in the
    true top-100 — the residual coding should do no worse than
    no-coarse-quantizer PQ), and the index-shape invariants: probe set,
    codebooks and LUT broadcast; no cartesian/nested-loop join."""
    from pyspark.sql import functions as F

    from lab04_spark_streaming_spark.operators.similarity import (
        _quantized_pos,
        ann_ivfpq_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    topk = ann_ivfpq_topk(emb, query_id=0, k=10)
    plan = plan_of(topk)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan

    pos = _quantized_pos(emb, "vec_id", "embedding")
    q = pos.filter(F.col("vec_id") == 0).select("pos", F.col("x").alias("qx"))
    d = (
        pos.join(F.broadcast(q), "pos")
        .groupBy("vec_id")
        .agg(
            F.sum(
                (F.col("x") - F.col("qx")) * (F.col("x") - F.col("qx"))
            ).alias("d2")
        )
        .filter(F.col("vec_id") != 0)
    )
    true_d2 = {r.vec_id: r.d2 for r in d.collect()}
    ranked = sorted(true_d2, key=lambda v: (true_d2[v], v))
    picks = [r.vec_id for r in topk.collect()]
    ranks = sorted(ranked.index(v) + 1 for v in picks)
    assert len(ranks) == 10
    median_rank = (ranks[4] + ranks[5]) / 2
    assert median_rank <= 60, ranks
    assert sum(1 for r in ranks if r <= 100) >= 6, ranks


def test_r6_wave2_events_plan_hygiene(spark, sf_dir):
    """Round-6 second wave (events): no cartesian/BNLJ anywhere; the
    OHLC bars are ONE hash aggregate with partial_min_by map-side
    combine (no window expansion); retention's count-distinct groups
    only days² rows; the cross-series corr self-join is an equi join
    on the hour."""
    from lab04_spark_streaming_spark.plans import timeseries as tsp

    for fn in (
        tsp.q_retention_cohorts,
        tsp.q_ohlc_bars,
        tsp.q_autocorr_lag1,
        tsp.q_event_type_corr,
    ):
        plan = plan_of(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BroadcastNestedLoopJoin" not in plan, fn.__name__
    ohlc = plan_of(tsp.q_ohlc_bars(spark, sf_dir))
    assert "min_by" in ohlc and "Window" not in ohlc
    # props (a wide map column) must never leave the events scan
    for fn in (tsp.q_ohlc_bars, tsp.q_retention_cohorts, tsp.q_autocorr_lag1):
        read = [
            l
            for l in plan_of(fn(spark, sf_dir)).splitlines()
            if "ReadSchema" in l
        ]
        assert read and all("props" not in l for l in read), fn.__name__


def test_r6_wave2_corpus_plan_hygiene(spark, sf_dir):
    """Round-6 second wave (documents): char entropy is a zero-shuffle
    per-row projection reading only (doc_id, text); the incremental
    dedup's anti join shuffles 32-char digests, never text; the word
    co-occurrence self-join is an equi join on doc_id."""
    from lab04_spark_streaming_spark.plans import corpus as cp

    ent = plan_of(cp.q_char_entropy(spark, sf_dir))
    assert "Exchange" not in ent
    read = [l for l in ent.splitlines() if "ReadSchema" in l]
    assert read and all(
        "lang" not in l and "source" not in l for l in read
    ), read

    inc = plan_of(cp.q_dedup_incremental(spark, sf_dir))
    assert "LeftAnti" in inc
    # At test scale the base digest set broadcasts; at 100 TB it would
    # shuffle — either way no exchange (shuffle or broadcast) may carry
    # the text column, only digests/ids.
    exchanges = [
        l
        for l in inc.splitlines()
        if "Exchange hashpartitioning" in l or "BroadcastExchange" in l
    ]
    assert exchanges and all("text" not in l for l in exchanges), exchanges

    cooc = plan_of(cp.q_word_cooccurrence(spark, sf_dir))
    assert "CartesianProduct" not in cooc
    assert "BroadcastNestedLoopJoin" not in cooc

    rep = plan_of(cp.q_word_repetition(spark, sf_dir))
    assert "CartesianProduct" not in rep


def test_bm25_and_int8_plan_hygiene(spark, sf_dir):
    """BM25: the global top-20 must be a TakeOrderedAndProject (no
    single-partition sort over the scored relation) and the corpus
    stats / df sides must broadcast. int8 quantization: zero shuffle,
    pure per-row projection reading only (vec_id, embedding)."""
    from lab04_spark_streaming_spark.plans import corpus as cp
    from lab04_spark_streaming_spark.plans import pipeline_extras as px

    bm = plan_of(cp.q_bm25_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in bm
    assert "CartesianProduct" not in bm
    assert bm.count("BroadcastExchange") >= 2  # corpus stats + df

    i8 = plan_of(px.q_embedding_int8(spark, sf_dir))
    assert "Exchange" not in i8
    read = [l for l in i8.splitlines() if "ReadSchema" in l]
    assert read and all("label" not in l for l in read), read


def test_r6_wave3_plan_hygiene(spark, sf_dir):
    """Every query added in the round-6 third wave: no CartesianProduct
    anywhere; BroadcastNestedLoopJoin only where a 1-row scalar
    relation is deliberately broadcast (corpus stats / totals / graph
    size), mirroring the TPC-H scalar-threshold allowance."""
    from lab04_spark_streaming_spark.registry import all_specs

    wave = [
        "rolling_active_users",
        "heavy_hitters_cms",
        "dedup_cluster_sizes",
        "contamination_rate",
        "token_budget_pack",
        "winsorize_p01_p99",
        "user_trend_ols",
        "session_assoc_rules",
        "funnel_conversion",
        "cusum_changepoint",
        "key_skew_profile",
        "dedup_incremental_near",
        "unigram_logprob",
        "bpe_pair_counts",
        "bloom_membership",
        "textrank_keywords",
        "ann_recall_at_k",
    ]
    scalar_bcast = {
        "session_assoc_rules",  # totals (1 row)
        "unigram_logprob",  # corpus N (1 row)
        "textrank_keywords",  # graph size (1 row)
        "ann_recall_at_k",  # query-vector scalars inside IVF/exact
    }
    specs = {s.name: s for s in all_specs()}
    for name in wave:
        plan = plan_of(specs[name].fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        if name not in scalar_bcast:
            assert "BroadcastNestedLoopJoin" not in plan, name


def test_bench_smoke_one_run(spark, sf_dir, monkeypatch):
    """bench.py must produce its one-line JSON contract end to end —
    the r4 lesson (a loader crash cost the round's BENCH artifact).
    One run per query at the test SF keeps it fast; the assert covers
    the schema the driver parses."""
    import io
    import json
    from contextlib import redirect_stdout

    import bench

    monkeypatch.setenv("SPARK_GRAFT_BENCH_RUNS", "1")
    monkeypatch.setattr(bench, "SF_DIR", sf_dir)
    buf = io.StringIO()
    with redirect_stdout(buf):
        bench.main()
    line = buf.getvalue().strip().splitlines()[-1]
    out = json.loads(line)
    assert out["metric"] == "headline_queries_total"
    assert out["unit"] == "sec" and out["value"] > 0
    assert set(out["queries"]) == set(bench.HEADLINE)
    assert all(v >= 0 for v in out["queries"].values())


def _unpartitioned_window_orders(plan: str) -> list[str]:
    """Order-spec text of every Window node that has NO partition spec
    (``Arguments: [funcs], [order]`` — partitioned windows have a third
    bracket group). These are the windows that funnel their whole input
    through one task."""
    import re

    orders = []
    for m in re.finditer(r"\(\d+\) Window\n(?:.*\n)*?Arguments: (.*)\n", plan):
        groups = re.findall(r"\[[^][]*\]", m.group(1))
        # 3 groups = funcs + partition + order (partitioned, fine).
        # 2 groups is ambiguous: funcs + ORDER (global window — flag)
        # or funcs + PARTITION for an orderless frame like
        # count() OVER (PARTITION BY k) (partitioned, fine). Order
        # specs always carry a sort direction; partition specs never.
        if len(groups) == 2 and re.search(
            r"\b(ASC|DESC)\b", groups[1]
        ):
            orders.append(groups[1])
    return orders


def test_r7_global_rank_fixes(spark, sf_dir):
    """r7 scale fixes (VERDICT r6 item 4): the corpus top-k ranks take
    the k survivors with TakeOrderedAndProject BEFORE any global rank
    window, and the PPJoin df-rank is the distributed two-pass scheme —
    the ONLY unpartitioned window left in its plan is the per-range-
    partition offsets scan (orders by _pid, one row per partition),
    never a one-task sort of the shingle vocabulary."""
    from lab04_spark_streaming_spark.plans import corpus as cp
    from lab04_spark_streaming_spark.plans import mining as mn

    for fn in (cp.q_word_cooccurrence, cp.q_textrank_keywords):
        plan = plan_of(fn(spark, sf_dir))
        assert "TakeOrderedAndProject" in plan, fn.__name__

    # The PPJoin prefix rule observes only the global rarity ORDER, so
    # the plan materializes no global rank at all: every window is
    # doc_id-partitioned.
    jac = plan_of(mn.q_jaccard_prefix_join(spark, sf_dir))
    assert _unpartitioned_window_orders(jac) == [], (
        "jaccard_prefix_join grew an unpartitioned window"
    )


def test_global_row_number_matches_single_window(spark):
    """operators/ranks.global_row_number must agree bit-for-bit with
    the naive single-partition row_number under the same total order,
    across several range partitions."""
    from pyspark.sql import functions as F

    from lab04_spark_streaming_spark.operators.ranks import global_row_number

    df = spark.range(0, 997).select(
        (F.col("id") * 37 % 101).alias("k"), F.col("id").alias("tie")
    )
    got = {
        (r.k, r.tie): r.rk
        for r in global_row_number(
            df, "k", "tie", rank_col="rk", num_partitions=7
        ).collect()
    }
    rows = sorted((r.k, r.tie) for r in df.collect())
    expected = {kt: i + 1 for i, kt in enumerate(rows)}
    assert got == expected


def test_r7_unbounded_rank_window_allowlist():
    """Source audit (VERDICT r6 item 4 'Done ='): every
    ``Window.orderBy(`` site — a window with no partitionBy — must be
    over a BOUNDED relation. The allowlist pins today's justified
    sites per module; a new unpartitioned window fails here until it
    is reviewed for boundedness and added."""
    import re
    from pathlib import Path

    import lab04_spark_streaming_spark as pkg

    root = Path(pkg.__file__).parent
    # module -> (max sites, why each is bounded)
    allow = {
        "operators/ranks.py": (1, "per-partition offsets: N_part rows"),
        "plans/corpus.py": (
            5,
            "word_cooc/textrank/bm25/CMS rank k limited survivors; "
            "BPE char-pair vocab <= ~1.3k",
        ),
        "plans/mining.py": (2, "BPE merge ranks: char-pair vocab"),
        "plans/pipeline_extras.py": (1, "boilerplate: 50 survivors"),
        "plans/reference_parity.py": (
            2,
            "chunk-carry: n_chunks rows (+1 docstring mention)",
        ),
        "plans/llm.py": (1, "knn fold rank: k=10 survivors"),
        "plans/wave7.py": (
            2,
            "copurchase rank: 20 survivors; skyline chunk-carry: "
            "n_chunks rows (fixed price domain / chunk width)",
        ),
        "plans/wave8.py": (
            1,
            "vocab coverage rank: 1000 orderBy+limit survivors",
        ),
        "plans/wave9.py": (
            5,
            "rake rank: k orderBy+limit survivors; rrf ranks: "
            "top-depth-bounded lists; poisson bootstrap rank: R=100 "
            "replicate rows (perplexity decile now global_ntile)",
        ),
        "plans/wave10.py": (
            4,
            "Kaplan-Meier cumulative scans: duration-grid rows; "
            "quantile merge/audit scans: sources×k summary points "
            "and the distinct-value grid",
        ),
        "plans/wave11.py": (
            1,
            "PPR rank: top-20 orderBy+limit survivors",
        ),
        "plans/wave12.py": (
            3,
            "retrieval ranks + AP cumsum: top-k orderBy+limit "
            "survivors (stratified-ATE quartile now global_ntile)",
        ),
        "plans/wave13.py": (
            1,
            "Heaps cumulative scan: <=10 decile snapshot rows",
        ),
        "plans/wave14.py": (
            3,
            "Lorenz cumulative share: 10 decile rows; MRR/QL ranks: "
            "top-k orderBy+limit survivors",
        ),
        "plans/wave16.py": (
            1,
            "Bradley-Terry final rank: |event types| rows (<= 5)",
        ),
    }
    for py in root.rglob("*.py"):
        rel = str(py.relative_to(root))
        n = len(re.findall(r"Window\.orderBy\(", py.read_text()))
        cap = allow.get(rel, (0, ""))[0]
        assert n <= cap, (
            f"{rel}: {n} unpartitioned Window.orderBy sites (allow "
            f"{cap}) — every global-order window must be over a "
            f"bounded relation; use operators/ranks.global_row_number "
            f"or orderBy().limit(k) first, then update the allowlist"
        )


def test_r7_wave_plan_hygiene(spark, sf_dir):
    """Round-7 wave: no CartesianProduct anywhere; BNLJ only for
    deliberate 1-row scalar broadcasts (corpus total, n_orders, the
    two learned BPE merges); scans pruned to the needed columns; the
    copurchase top-k is a TakeOrderedAndProject; skyline's only
    unpartitioned window is the n_chunks-row carry rollup."""
    from lab04_spark_streaming_spark.plans import wave7 as w7

    scalar_bcast = {
        "q_source_kl_divergence",  # corpus N (1 row)
        "q_copurchase_lift",  # n_orders (1 row)
        "q_bpe_encode_apply",  # m1 / m2 (1 row each)
    }
    for fn in (
        w7.q_source_kl_divergence,
        w7.q_user_event_entropy,
        w7.q_length_theil_by_source,
        w7.q_copurchase_lift,
        w7.q_bpe_encode_apply,
        w7.q_embedding_centroid_shift,
        w7.q_skyline_pareto,
    ):
        plan = plan_of(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, fn.__name__
        if fn.__name__ not in scalar_bcast:
            assert "BroadcastNestedLoopJoin" not in plan, fn.__name__

    # Theil reads ONLY (source, n_chars) — no tokenize, no text scan.
    reads = [
        l
        for l in plan_of(
            w7.q_length_theil_by_source(spark, sf_dir)
        ).splitlines()
        if "ReadSchema" in l
    ]
    assert reads and all("text" not in l for l in reads), reads
    # Centroid shift never scans vec_id.
    reads = [
        l
        for l in plan_of(
            w7.q_embedding_centroid_shift(spark, sf_dir)
        ).splitlines()
        if "ReadSchema" in l
    ]
    assert reads and all("vec_id" not in l for l in reads), reads

    assert "TakeOrderedAndProject" in plan_of(
        w7.q_copurchase_lift(spark, sf_dir)
    )
    sky = plan_of(w7.q_skyline_pareto(spark, sf_dir))
    orders = _unpartitioned_window_orders(sky)
    assert orders and all("chunk" in o for o in orders), orders


def test_r8_wave_plan_hygiene(spark, sf_dir):
    """Round-8 wave: every window is partitioned (no single-task
    timeline anywhere — concurrency is day-partitioned with boundary
    replication, debounce/interval-union are user-partitioned);
    column pruning reaches the scans (mixing weights never read text,
    class balance never reads the embedding arrays)."""
    from lab04_spark_streaming_spark.plans import wave8 as w8

    for fn in (
        w8.q_chi2_terms_by_source,
        w8.q_zipf_slope_by_source,
        w8.q_concurrent_active_30m,
        w8.q_debounce_keep_first,
        w8.q_interval_union_time,
        w8.q_hard_negative_mining,
    ):
        plan = plan_of(fn(spark, sf_dir))
        assert _unpartitioned_window_orders(plan) == [], fn.__name__

    reads = [
        l
        for l in plan_of(
            w8.q_mixing_weights_temperature(spark, sf_dir)
        ).splitlines()
        if "ReadSchema" in l
    ]
    assert reads and all("text" not in l for l in reads), reads

    reads = [
        l
        for l in plan_of(
            w8.q_class_balance_weights(spark, sf_dir)
        ).splitlines()
        if "ReadSchema" in l
    ]
    assert reads and all("embedding" not in l for l in reads), reads

    # the concurrency window partitions by (event_type, day) — the
    # boundary-replication layout, not a per-type global timeline.
    conc = plan_of(w8.q_concurrent_active_30m(spark, sf_dir))
    assert "day" in conc and "event_type" in conc


def test_r9_wave_plan_hygiene(spark, sf_dir):
    """Round-9 wave: the ECDF/rank scans ride pair- or key-partitioned
    windows over distinct-value grids (never raw rows, never a single
    global task); column pruning reaches the scans (Gini never reads
    value/props, the triangle census reads only the two join keys,
    the compaction planner never reads text); the documented global
    ranks are bounded relations (vocab stats, 100 replicates, top-k
    survivors)."""
    from lab04_spark_streaming_spark.plans import wave9 as w9

    for fn in (
        w9.q_ks_two_sample,
        w9.q_mann_whitney_u,
        w9.q_gini_concentration,
        w9.q_sax_words,
        w9.q_compaction_bins,
        w9.q_sequence_patterns,
        w9.q_l_diversity_audit,
    ):
        plan = plan_of(fn(spark, sf_dir))
        assert _unpartitioned_window_orders(plan) == [], fn.__name__

    # Gini reads only (event_type, user_id): no value, no props.
    reads = [
        l
        for l in plan_of(w9.q_gini_concentration(spark, sf_dir)).splitlines()
        if "ReadSchema" in l
    ]
    assert reads and all(
        "value" not in l and "props" not in l for l in reads
    ), reads

    # Triangle census touches only the two co-purchase join keys.
    # (its relations are lazily checkpointed, so the final plan's
    # leaves are ExistingRDD scans with the projected columns — a
    # wide column would surface in the plan text if ever selected)
    tri_plan = plan_of(w9.q_triangle_count(spark, sf_dir))
    assert "l_extendedprice" not in tri_plan
    assert "l_quantity" not in tri_plan

    # The compaction planner never touches document bodies.
    reads = [
        l
        for l in plan_of(w9.q_compaction_bins(spark, sf_dir)).splitlines()
        if "ReadSchema" in l
    ]
    assert reads and all("text" not in l for l in reads), reads

    # Zone-map eval aggregates the fact ONCE; the threshold grid
    # multiplies the tiny per-day stats relation, not the scan.
    # (formatted plans list each node twice: tree + details section)
    import re as _re

    zplan = plan_of(w9.q_zonemap_pruning(spark, sf_dir))
    n_scans = len(_re.findall(r"\(\d+\) Scan parquet", zplan))
    assert n_scans == 1, n_scans


@pytest.mark.slow
def test_all_registered_queries_plan_hygiene(spark, sf_dir):
    """GLOBAL gate over every registered query (the per-wave audits
    only cover their own wave): no CartesianProduct anywhere, ever;
    BroadcastNestedLoopJoin only in the audited allowlist, where the
    build side is a deliberate 1-row scalar relation (corpus totals /
    graph size / averaged thresholds, TPC-H scalar subqueries, a
    single query vector or learned merge). A new query acquiring a
    BNLJ fails here until it is reviewed and listed."""
    from lab04_spark_streaming_spark.registry import all_specs

    scalar_bnlj = {
        # corpus/graph totals (1-row aggregates)
        "session_assoc_rules", "unigram_logprob", "textrank_keywords",
        "graph_triangles", "hll_distinct", "hll_by_source",
        "span_dedup_c4", "bigram_logprob", "dq_checks", "zorder_keys",
        "bpe_second_merge", "bpe_encode_apply", "pca_power_top",
        "tfidf_top_terms", "boilerplate_ngrams", "bm25_topk",
        "source_kl_divergence", "copurchase_lift",
        # TPC-H scalar-subquery thresholds
        "scalar_subquery", "q11_important_volume", "q22_global_sales",
        # single broadcast query vector / probe scalars
        "knn_cosine_topk", "knn_fold_topk_ids", "ann_ivf_topk",
        "ann_ivf_trained_topk", "ann_recall_at_k",
        "multimodal_feature_knn",
        # point-in-time probe grid bounds (1-row min/max)
        "scd2_point_in_time",
        # two 1-row aggregates cross-joined into the report row
        "vocab_novelty_snapshot",
        # wave8 1-row scalar totals (corpus N / source totals / label
        # totals) broadcast into vocab- or |labels|-bounded relations
        "pmi_word_pairs", "chi2_terms_by_source",
        "mixing_weights_temperature", "class_balance_weights",
        "vocab_coverage_topk",
        "ab_test_welch",  # 1-row arm-B relation into the 1-row arm-A
        # wave9 deliberate scalar/tiny-literal broadcasts: 1-row
        # totals (obs stats, Σw, corpus N, bm25 corpus stats, CI
        # report joins), the ≤types² pair relation (non-equi t1<t2),
        # the 5-row threshold grid, the 4-row pattern/config
        # relations, the 100-row replicate index fan-out
        "ks_two_sample", "mann_whitney_u", "randomization_test",
        "kmv_distinct_sketch", "weighted_sample", "zonemap_pruning",
        "blocking_eval", "dsir_weights", "perplexity_buckets",
        "sequence_patterns", "poisson_bootstrap", "rrf_fusion",
        "js_divergence", "lsh_band_tuning", "triangle_count",
        # wave10: 1-row span/total broadcasts (KM end-day + n_total,
        # quantile totals × 4-row probe grid, hourly end_hour), the
        # 9-row shard grid fan-out
        "kaplan_meier", "rendezvous_sharding", "quantile_merge_eval",
        "seasonal_naive_eval", "feature_info_gain",  # 1-row H(label)
        # wave11: 1-row seed/graph-size/corpus-stat broadcasts (PPR
        # seed + per-iteration teleport join, BFS unreached row, FS
        # m/u stats row, KN bigram-type total, conformal end-hour)
        "ppr_related_parts", "bfs_hops", "fs_linkage",
        "kneser_ney_bigram", "conformal_interval",
        # wave12: 1-row day0/totals/metric relations, the 3-row looks
        # grid, the 9-row decile grid
        "obrien_fleming", "qte_deciles", "stratified_ate",
        "retrieval_eval",
        # wave13: 1-row corpus totals / OLS-fit / doc-count relations
        "good_turing", "heaps_law", "benford_audit",
        # wave14: 1-row totals (Lorenz total spend, jackknife S/N/rbar,
        # global-ntile row counts, sketch stats, excluded-bucket count)
        # and the |cells|x10-bin literal grid
        "lorenz_curve", "t_closeness_audit", "jackknife_ratio",
        "kmv_set_ops", "ipw_ate",
        # wave14 IR/calibration: 1-row corpus stats / collection total
        # / doc total, the 3-term query-literal grid
        "mrr_eval", "ql_dirichlet_topk", "ece_calibration",
        # wave15: the 10-bin literal grid (PSI), the 1-row hour span
        # (Fano), the 3-row tau grid (pinball)
        "psi_drift", "fano_burstiness", "pinball_eval",
        # wave16: the 4-row degree-threshold grid (rich club)
        "rich_club",
        # wave17: the 1-row W x 1-row B report join (Calinski-Harabasz)
        "calinski_harabasz",
        # wave18: 1-row vocab-size / corpus-total / embedding-energy
        # broadcasts
        "bigram_heldout_ppl", "fairness_parity_audit", "pq_distortion",
        # r13 packed-assignment migrations: the ONE-row packed codebook
        # attaches via a constant-key equi join that Catalyst constant-
        # folds (1 = 1 -> true) into a BNLJ with a 1-row
        # IdentityBroadcast build side - n x 1 pairing, cost-identical
        # to a BHJ against one row, scale-safe. (The same join has run
        # inside semdedup_keep_best since r12, hidden from this gate
        # behind its localCheckpoint pins.)
        "kmeans_clusters", "curation_master",
    }
    offenders = []
    for s in all_specs():
        plan = plan_of(s.fn(spark, sf_dir))
        if "CartesianProduct" in plan:
            offenders.append(f"{s.name}: CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and s.name not in scalar_bnlj:
            offenders.append(f"{s.name}: unreviewed BNLJ")
    assert not offenders, offenders


def test_global_ntile_matches_window_ntile(spark):
    """global_ntile must be bit-identical to ntile(n) OVER (ORDER BY)
    for every (N, n) shape: N divisible by n, N % n != 0 (mixed
    ceil/floor bucket sizes), N < n (every bucket size <= 1 — also
    proves the q=0 division branch is unreachable), and N = 0."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from lab04_spark_streaming_spark.operators.ranks import global_ntile

    for total, n in [(40, 10), (47, 10), (7, 10), (3, 4), (1, 2)]:
        # deterministic scrambled order key: k = (7*i) % 101
        df = spark.range(total).select(
            ((F.col("id") * 7) % 101).alias("k")
        )
        want = {
            r.k: r.b
            for r in df.withColumn(
                "b", F.ntile(n).over(Window.orderBy("k"))
            ).collect()
        }
        got = {
            r.k: r.b
            for r in global_ntile(
                df, n, "k", bucket_col="b", num_partitions=8
            ).collect()
        }
        assert got == want, (total, n)

    empty = spark.range(0).select(F.col("id").alias("k"))
    assert global_ntile(empty, 5, "k", num_partitions=4).count() == 0

    # n < 1 is rejected up front (native ntile raises at analysis
    # time; without the guard n=0 is a division by zero mid-plan).
    one = spark.range(1).select(F.col("id").alias("k"))
    for bad in (0, -3):
        with pytest.raises(ValueError, match="n must be >= 1"):
            global_ntile(one, bad, "k")


def test_global_row_number_edge_cases(spark):
    """Empty relation → empty output (offsets join of nothing);
    fewer rows than requested partitions → still a correct dense
    1..n ranking."""
    from pyspark.sql import functions as F

    from lab04_spark_streaming_spark.operators.ranks import global_row_number

    empty = spark.range(0).select(F.col("id").alias("k"))
    assert global_row_number(empty, "k", num_partitions=8).count() == 0

    tiny = spark.range(3).select(F.col("id").alias("k"))
    got = {
        r.k: r.rk
        for r in global_row_number(tiny, "k", num_partitions=16).collect()
    }
    assert got == {0: 1, 1: 2, 2: 3}


def test_r9_wave_plan_hygiene(spark, sf_dir):
    """Round-9 waves (14+15): scans pruned to the needed columns —
    the metric queries never drag `text`/`props` through a shuffle
    they don't need; mmd reads only (vec_id, embedding, label) from
    the embeddings table; top-k IR queries keep
    TakeOrderedAndProject."""
    from lab04_spark_streaming_spark.plans import wave14 as w14
    from lab04_spark_streaming_spark.plans import wave15 as w15

    # events-metric queries must not read `props` (the wide column).
    # (lorenz/ipw route through global_ntile whose localCheckpoint
    # hides the upstream scan from the formatted plan — for those the
    # whole-plan text check is the available signal.)
    for fn in (
        w14.q_diff_in_diff,
        w14.q_jackknife_ratio,
        w15.q_psi_drift,
        w15.q_fano_burstiness,
        w15.q_pinball_eval,
    ):
        reads = [
            l
            for l in plan_of(fn(spark, sf_dir)).splitlines()
            if "ReadSchema" in l
        ]
        assert reads and all("props" not in l for l in reads), fn.__name__
    for fn in (
        w14.q_lorenz_curve,
        w14.q_ipw_ate,
        w15.q_seasonal_strength,
    ):
        assert "props" not in plan_of(fn(spark, sf_dir)), fn.__name__

    # embedding two-sample: only (vec_id, embedding, label) scanned
    # from the embeddings table — assert the ReadSchema field set
    # exactly, not just the absence of `text`.
    import re

    plan = plan_of(w14.q_mmd_rff(spark, sf_dir))
    reads = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert reads, "mmd plan has no ReadSchema line"
    for l in reads:
        fields = set(re.findall(r"(\w+):", l.split("ReadSchema:")[1]))
        assert fields == {"vec_id", "embedding", "label"}, l
    assert "text" not in plan

    # top-k IR rankings are TakeOrderedAndProject, not global sorts
    for fn in (w14.q_ql_dirichlet_topk, w14.q_mrr_eval):
        assert "TakeOrderedAndProject" in plan_of(fn(spark, sf_dir)), (
            fn.__name__
        )

    # HHI never reads lineitem columns beyond orderkey/price/discount
    reads = [
        l
        for l in plan_of(w15.q_hhi_concentration(spark, sf_dir)).splitlines()
        if "ReadSchema" in l and "l_orderkey" in l
    ]
    assert reads and all(
        "l_comment" not in l and "l_shipdate" not in l for l in reads
    ), reads
