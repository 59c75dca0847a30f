"""Similarity search over embedding columns (``array<float>``).

Two paths:

* **Brute-force cosine top-k** — the exact baseline. The JVM fast path
  (:func:`cosine_topk_vs_id_fold`) is a single zip_with/aggregate fold:
  per-row, zero shuffle, pipelined into the scan; top-k via
  TakeOrderedAndProject. At 100 TB you fan this out by partition and
  it is embarrassingly parallel.
* **SRP-LSH bucketing** (:func:`srp_buckets`) — sign-random-projection
  hashing: bit p of the bucket key is the sign of <v, r_p> where r_p is
  a ±1 hyperplane derived from the cross-engine md5 hash (so even the
  LSH bucketing is oracle-checkable). ANN = candidate generation within
  buckets (one shuffle on the bucket key) + exact re-rank, i.e. the
  same shape as MinHash-LSH dedup.

For oracle-exact scoring the dot/norm moments go through per-position
decimal sums (order-independent, bit-identical cross-engine); the fast
path keeps a plain double fold (left-to-right, deterministic in Spark,
but not decimal-exact vs DuckDB — it's the rows-only bench variant).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lab04_spark_streaming_spark.operators.pinning import pin
from lab04_spark_streaming_spark.operators.splits import restore_splits
from lab04_spark_streaming_spark.operators.textops import expr_hash_int


def _hash_int(s: str) -> int:
    """Python twin of textops.expr_hash_int / sql_hash_int: first 8 md5
    hex chars as an int in [0, 2^32). Used to precompute LSH plane signs
    as literals so neither engine re-hashes per row — determinism and
    cross-engine identity are preserved because all three produce the
    same value for the same string."""
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def srp_plane_signs(band: int, plane: int, dim: int) -> list[int]:
    """±1 hyperplane for (band, plane), component i seeded by the
    deterministic md5 of ``band{band}p{plane}|{i}``."""
    return [
        1 if _hash_int(f"band{band}p{plane}|{i}") % 2 == 1 else -1
        for i in range(dim)
    ]


def exact_cosine_topk_vs_id(
    emb: DataFrame,
    query_id: int = 0,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Oracle-exact top-k: cosine(query_id's vector, every other vector)
    via positional explode + integer moment sums. Components are
    quantized to 1e-7 (floor(x*1e7+0.5) — identical IEEE both engines),
    so dot/norms are exact int64 arithmetic and the final cosine is
    bit-identical cross-engine. (Double→decimal casts are NOT safe
    here: a float product's binary expansion exceeds any decimal scale
    and the engines round the tail differently — observed last-ulp
    drift.) Heavier than the zip_with fold (one shuffle on id); it's
    the correctness anchor, the fold is the production path."""
    q = 10_000_000.0
    pos = emb.select(
        F.col(id_col),
        F.posexplode(F.col(vec_col)).alias("pos", "xf"),
    ).withColumn("x", F.floor(F.col("xf").cast("double") * q + F.lit(0.5)))
    qpos = (
        pos.filter(F.col(id_col) == query_id)
        .select(F.col("pos"), F.col("x").alias("qx"))
    )
    joined = pos.join(F.broadcast(qpos), "pos")
    moments = joined.groupBy(id_col).agg(
        F.sum(F.col("x") * F.col("qx")).alias("dot"),
        F.sum(F.col("x") * F.col("x")).alias("n2"),
    )
    qn2 = moments.filter(F.col(id_col) == query_id).select(
        F.col("n2").alias("qn2")
    )
    return (
        moments.crossJoin(F.broadcast(qn2))
        .filter(F.col(id_col) != query_id)
        .select(
            id_col,
            (F.col("dot") / (F.sqrt(F.col("n2")) * F.sqrt(F.col("qn2")))).alias(
                "cosine"
            ),
        )
        .orderBy(F.desc("cosine"), id_col)
        .limit(k)
    )


def cosine_topk_vs_id_fold(
    emb: DataFrame,
    query_id: int = 0,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Production top-k: the query row is broadcast (no driver
    collect) and the cosine is a zip_with/aggregate fold per row —
    zero shuffles before the final top-k sort, no ×dim row expansion.
    The fold quantizes components exactly like
    :func:`exact_cosine_topk_vs_id` (floor(x*1e7+0.5) → int64 moments),
    so the emitted cosine — and therefore the ranking — is
    bit-identical to the anchor and to the DuckDB oracle by
    construction, not merely on current testdata. (An earlier raw
    double fold ranked identically only up to quantization noise: a
    testdata regen putting two cosines within ~1e-7 could flip a rank
    with no code change.) int64 is safe: |component| ≤ ~1 → quantized
    ≤ 1e7, product ≤ 1e14, dim-64 sum ≤ 6.4e15 « 2^63."""
    qf = emb.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("_q")
    )

    def _q(var: str) -> str:
        return f"cast(floor(cast({var} as double) * 10000000.0 + 0.5) as bigint)"

    dot = (
        f"aggregate(zip_with({vec_col}, _q, "
        f"(x, y) -> {_q('x')} * {_q('y')}), "
        f"cast(0 as bigint), (acc, v) -> acc + v)"
    )
    n1 = (
        f"aggregate({vec_col}, cast(0 as bigint), "
        f"(acc, x) -> acc + {_q('x')} * {_q('x')})"
    )
    n2 = (
        f"aggregate(_q, cast(0 as bigint), "
        f"(acc, x) -> acc + {_q('x')} * {_q('x')})"
    )
    return (
        emb.crossJoin(F.broadcast(qf))
        .withColumn("cosine", F.expr(f"{dot} / (sqrt({n1}) * sqrt({n2}))"))
        .filter(F.col(id_col) != query_id)
        .orderBy(F.desc("cosine"), id_col)
        .select(id_col, "cosine")
        .limit(k)
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All-pairs cosine near-duplicates (a < b, cosine ≥ threshold) via
    integer-quantized moments — the exact verification stage of the
    embedding-dedup pipeline. Plan: positional explode → self-join on
    position (pairs per position, shuffle key = position) → pair-keyed
    moment aggregation → norm joins.

    This is the O(n²·d) exact stage: at 100 TB you run it only on the
    candidate pairs emitted by :func:`srp_banded_pairs` (LSH), as
    :func:`embedding_near_dup_pairs_lsh` does; kept all-pairs here
    because the fixture corpus is small and it makes the operator
    oracle-checkable end to end."""
    q = 10_000_000.0
    pos = emb.select(
        F.col(id_col),
        F.posexplode(F.col(vec_col)).alias("pos", "xf"),
    ).withColumn("x", F.floor(F.col("xf").cast("double") * q + F.lit(0.5)))
    norms = pos.groupBy(id_col).agg(F.sum(F.col("x") * F.col("x")).alias("n2"))
    a, b = pos.alias("a"), pos.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.pos") == F.col("b.pos"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.sum(F.col("a.x") * F.col("b.x")).alias("dot"))
    )
    na = norms.select(F.col(id_col).alias("id_a"), F.col("n2").alias("na"))
    nb = norms.select(F.col(id_col).alias("id_b"), F.col("n2").alias("nb"))
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "cosine", F.col("dot") / (F.sqrt(F.col("na")) * F.sqrt(F.col("nb")))
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def srp_buckets(
    emb: DataFrame,
    planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign-random-projection bucket per vector: bit p = [<v, r_p> > 0]
    with r_p[i] = ±1 from the deterministic md5 hash. Vectors in the
    same bucket are ANN candidates. Pure per-row expression."""
    def plane_dot(p: int) -> str:
        h = expr_hash_int("cast(i as string)", seed=f"plane{p}")
        return (
            f"aggregate(zip_with({vec_col}, sequence(0, size({vec_col}) - 1), "
            f"(x, i) -> CASE WHEN pmod({h}, 2) = 1 THEN cast(x as double) "
            f"ELSE -cast(x as double) END), 0D, (acc, v) -> acc + v)"
        )

    bits = " + ".join(
        f"CASE WHEN {plane_dot(p)} > 0 THEN {1 << p} ELSE 0 END"
        for p in range(planes)
    )
    return emb.select(F.col(id_col), F.expr(f"cast({bits} as int)").alias("bucket"))


_QUANT = "10000000.0"


def _expr_quantize(vec_col: str) -> str:
    """array<float> → array<bigint>, 1e-7 quantization (identical IEEE
    floor in both engines) — the shared exact-arithmetic base."""
    return (
        f"transform({vec_col}, x -> "
        f"cast(floor(cast(x as double) * {_QUANT} + 0.5) as bigint))"
    )


def srp_banded_buckets(
    emb: DataFrame,
    planes_per_band: int = 3,
    bands: int = 24,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-table SRP-LSH: ``bands`` independent hash tables of
    ``planes_per_band`` hyperplanes each — (id, band, band_key) rows.
    Multi-table is what makes SRP usable at a moderate cosine threshold:
    one 8-plane table (srp_buckets) has per-pair collision (1-θ/π)^8
    ≈ 2% at cosine 0.4, while 24 tables of 3 planes reach measured 100%
    recall on the fixture corpus (deterministic: signs are md5-seeded
    literals, so recall is a fixed fact per dataset, not a probability).

    All arithmetic is int64 on quantized components (order-independent →
    bit-identical cross-engine, unlike a float fold where a near-zero
    dot could flip sign under a different summation order).

    Expression shape: ONE flat literal sign array (bands × planes × dim)
    indexed by slice() inside nested transforms — not one unrolled fold
    per plane. Unrolled, the 72-fold tree took Catalyst ~7s of
    driver-side analysis per query (measured); the compact form is
    ~5x faster end-to-end with identical output. Per-row expressions,
    zero shuffle until the bucket join.

    Vectors whose length differs from ``dim`` raise at execution time:
    zip_with would null-pad, the dot would fold to NULL, and CASE
    NULL > 0 would silently key every plane bit as 0 — silent recall
    loss. A loud error beats a wrong bucket."""
    signs: list[int] = []
    for t in range(bands):
        for p in range(planes_per_band):
            signs += srp_plane_signs(t, p, dim)
    flat = "array(" + ",".join(str(s) for s in signs) + ")"
    keys = f"""
    inline(transform(sequence(0, {bands - 1}), t ->
      named_struct('band', t, 'band_key',
        cast(aggregate(sequence(0, {planes_per_band - 1}), 0, (acc, p) ->
          acc + CASE WHEN aggregate(
            zip_with(qv, slice({flat}, (t * {planes_per_band} + p) * {dim} + 1, {dim}),
                     (x, s) -> x * cast(s as bigint)),
            cast(0 as bigint), (a2, v) -> a2 + v) > 0
          THEN cast(shiftleft(1, p) as int) ELSE 0 END) as int))))
    """
    guarded = (
        f"if(size({vec_col}) = {dim}, {_expr_quantize(vec_col)}, "
        f"raise_error(concat('srp_banded_buckets: vector length ', "
        f"size({vec_col}), ' != dim {dim}')))"
    )
    return (
        emb.select(F.col(id_col), F.expr(guarded).alias("qv"))
        .select(F.col(id_col), F.expr(keys))
    )


def srp_banded_pairs(
    emb: DataFrame,
    planes_per_band: int = 3,
    bands: int = 24,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distinct candidate pairs (a < b) sharing ≥1 band bucket. One
    shuffle on (band, band_key) — never all-pairs."""
    # The banded relation feeds BOTH self-join sides; the 24-band ×
    # 3-plane × dim dot products must run once, in parallel — restore
    # split parallelism off a single-row-group scan, then pin the tiny
    # (id, band, band_key) relation (the jaccard_prefix_join lesson).
    b = pin(
        srp_banded_buckets(
            restore_splits(emb, id_col),
            planes_per_band,
            bands,
            dim,
            id_col,
            vec_col,
        )
    )
    a, c = b.alias("a"), b.alias("b")
    return (
        a.join(
            c,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def embedding_near_dup_pairs_lsh(
    emb: DataFrame,
    threshold: float = 0.4,
    planes_per_band: int = 3,
    bands: int = 24,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The scale-safe embedding-dedup pipeline: banded-SRP candidate
    generation (one shuffle on the bucket key) → exact integer-quantized
    cosine verify on the candidate pairs only. This is the registered
    form; :func:`embedding_near_dup_pairs` (all-pairs) is kept as the
    test-only recall oracle (tests/test_plans.py::test_embedding_pairs_lsh_shape_and_recall asserts equal
    output on the fixture — recall is deterministically 100% there).

    Verify stage is per-pair zip_with folds on the full arrays (no
    positional explode, no position-keyed shuffle): candidates join the
    quantized vectors twice, dot and norms are exact int64 — bit-equal
    to the all-pairs moment aggregation."""
    cands = srp_banded_pairs(
        emb, planes_per_band, bands, dim, id_col, vec_col
    )
    quant = emb.select(
        F.col(id_col),
        F.expr(_expr_quantize(vec_col)).alias("qv"),
    ).withColumn(
        "n2",
        F.expr(
            "aggregate(transform(qv, x -> x * x), cast(0 as bigint), "
            "(acc, v) -> acc + v)"
        ),
    )
    qa = quant.select(
        F.col(id_col).alias("id_a"),
        F.col("qv").alias("qa"),
        F.col("n2").alias("na"),
    )
    qb = quant.select(
        F.col(id_col).alias("id_b"),
        F.col("qv").alias("qb"),
        F.col("n2").alias("nb"),
    )
    dot = (
        "aggregate(zip_with(qa, qb, (x, y) -> x * y), "
        "cast(0 as bigint), (acc, v) -> acc + v)"
    )
    return (
        cands.join(qa, "id_a")
        .join(qb, "id_b")
        .withColumn(
            "cosine",
            F.expr(f"cast({dot} as double) / (sqrt(na) * sqrt(nb))"),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def _quantized_pos(
    emb: DataFrame, id_col: str, vec_col: str, q: float = 10_000_000.0
) -> DataFrame:
    """Positional explode with 1e-7 integer quantization — the exact
    cross-engine arithmetic base shared by the similarity operators.

    Deliberately NOT split-restored (r14 optimization round): a forced
    repartition here was tried and measured SLOWER at sf0.1 (the
    assignment-round microbench settles at ~1.2 s serial vs ~2-3.5 s
    with an 8- or 32-way repartition — the exchange + extra AQE stages
    cost more than the ~300 ms of single-core fan-out work they
    parallelize on a 2k-vector input), and at the 10x/100x probe tiers
    the fixture scans already arrive multi-split, so the serial-scan
    case this would guard against does not occur there (measured
    exponents 0.65/0.59 without it). At cluster scale the repartition
    would ADD a full shuffle of the vector payloads before the pin."""
    return emb.select(
        F.col(id_col),
        F.posexplode(F.col(vec_col)).alias("pos", "xf"),
    ).withColumn("x", F.floor(F.col("xf").cast("double") * q + F.lit(0.5)))


def kmeans_assign(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed Lloyd k-means over the quantized vectors — the
    codebook trainer :func:`ivf_assign` stands in for. Fully
    deterministic and DuckDB-oracle-exact: components and centroids
    live on the 1e-7 integer grid (updated centroids are re-quantized
    round-half-up, an exact float op both engines share), so every
    squared-L2 distance is an int64 sum and every argmin (tie → lower
    centroid id) is exact — no float summation order anywhere.

    Scale shape per iteration: centroids broadcast (k·d rows ≪ memory);
    assignment = map-side join on ``pos`` + one (id, cid) moment
    shuffle; update = one (cid, pos) shuffle. The quantized positional
    base is lazily checkpointed once and reused by every iteration
    instead of re-exploding the scan. Centroid sums stay < 2^53
    (|x| ≤ ~2e7 quantum units ⇒ exact double conversion up to ~4·10^8
    members per cell; beyond that split the mean hierarchically).

    Seeding: the vectors with id < k (same deterministic convention as
    :func:`ivf_assign`). Returns (id, cluster, sqdist) after ``iters``
    assignment rounds with ``iters - 1`` centroid updates between
    them."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    pos = _kmeans_pos(emb, id_col, vec_col)
    cent = _kmeans_seed(pos, k, id_col)
    for _ in range(iters - 1):
        # Checkpointing per iteration keeps the plan flat (otherwise
        # iteration i's plan nests all of 1..i-1 and Catalyst analysis
        # grows superlinearly with iters).
        cent = pin(_kmeans_update(pos, _kmeans_assign_round(pos, cent, id_col), id_col))
    assign = _kmeans_assign_round(pos, cent, id_col)
    return assign.select(
        F.col(id_col),
        F.col("_p.cid").alias("cluster"),
        F.col("_p.dist").alias("sqdist"),
    )


def kmeans_assign_packed(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Bit-identical to :func:`kmeans_assign` — same deterministic
    seeds (id < k), same 1e-7 integer-grid distances (int64 sums are
    order-independent, no overflow: |component| ≤ ~2e7 quantum units ⇒
    per-dim square ≤ 1.6e15, ×64 dims ≪ 2^63), same argmin tie-break
    (lower cid — array_min over struct(dist, cid) ≡ min(struct)), same
    round-half-up centroid update — evaluated with a PACKED codebook:

    the positional-join form materializes n·d·k rows per assignment
    round through an exchange + hash aggregate (at k = ceil(√n) that
    row count is n^1.5·d — 1.8e8 rows for 20k vectors, measured 50 s of
    a 57 s SemDeDup run one decade up), while here the codebook (k·d
    longs — 229 KB at n = 200k, always broadcastable) rides a 1-row
    constant-key broadcast hash join and each vector computes its
    argmin as ONE whole-stage-codegen fold over the packed array: the
    same n·k·d multiply-adds with zero intermediate rows, so only n
    rows ever move. Same asymptotic WORK, ~linear ROW volume — the
    row-overhead constant (shuffle write/read + hash-agg probe per
    row, ~100 bytes + ~100 ns each) is the actual 10x-probe cost, not
    the arithmetic.

    Seeded k must satisfy k ≥ 1 (empty input returns empty; callers
    derive k from the data — semdedup uses ceil(√n) ≥ 1). Used by the
    SemDeDup pipeline, and — since r13 — by every registered k=8
    assignment (kmeans_clusters, curation_master, contrastive_pairs,
    hard_negative_mining, label_noise_knn; each a bit-identical swap,
    oracles unchanged, equivalence pinned by
    tests/test_plans.py's packed-vs-positional test). The positional
    :func:`kmeans_assign` remains as the oracle-anchored reference
    implementation and for the IVF/PQ trainers whose update rounds
    are inherently positional."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    # Split restoration (higher-order functions evaluate interpreted,
    # so per-row cost is k·d interpreted ops — a one-row-group scan
    # would run the whole fold on one thread). Checkpointed: every
    # round reuses it.
    vecs = pin(
        restore_splits(
            emb.select(
                F.col(id_col), F.expr(_expr_quantize(vec_col)).alias("qv")
            ),
            id_col,
        )
    )

    d2 = (
        "aggregate(zip_with(qv, c.carr, (x, y) -> (x - y) * (x - y)), "
        "cast(0 as bigint), (acc, v) -> acc + v)"
    )
    argmin = (
        "array_min(transform(cents, c -> "
        f"named_struct('dist', {d2}, 'cid', c.cid)))"
    )

    def assign_round(packed: DataFrame) -> DataFrame:
        # 1-row codebook attach. Catalyst constant-folds the _one = 1
        # predicate to TRUE, so this optimizes to a BNLJ with a 1-row
        # IdentityBroadcast build side — n x 1 pairing, cost-identical
        # to a BHJ against one row; the plan-hygiene gate allowlists
        # the queries where it is visible (kmeans_clusters,
        # curation_master).
        return (
            vecs.withColumn("_one", F.lit(1))
            .join(F.broadcast(packed.withColumn("_one", F.lit(1))), "_one")
            .select(F.col(id_col), F.expr(argmin).alias("_p"))
        )

    def pack(cent: DataFrame) -> DataFrame:
        # (cid, pos, c) → one row: array<struct<cid, carr>>, cid asc,
        # carr pos-asc (collect_list order is nondeterministic —
        # array_sort on (pos, c) / (cid, carr) pins both levels).
        return (
            cent.groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
            .select("cid", F.expr("transform(pc, s -> s.c)").alias("carr"))
            .groupBy()
            .agg(
                F.array_sort(F.collect_list(F.struct("cid", "carr"))).alias(
                    "cents"
                )
            )
        )

    def update(assign: DataFrame) -> DataFrame:
        members = vecs.join(
            assign.select(id_col, F.col("_p.cid").alias("cid")), id_col
        )
        return (
            members.select("cid", F.posexplode("qv").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(
                F.floor(
                    F.sum("x").cast("double") / F.count(F.lit(1)) + F.lit(0.5)
                )
                .cast("long")
                .alias("c")
            )
        )

    packed = (
        vecs.filter(F.col(id_col) < k)
        .select(F.col(id_col).cast("long").alias("cid"), F.col("qv").alias("carr"))
        .groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("cid", "carr"))).alias("cents"))
    )
    for _ in range(iters - 1):
        packed = pin(pack(update(assign_round(packed))))
    return assign_round(packed).select(
        F.col(id_col),
        F.col("_p.cid").alias("cluster"),
        F.col("_p.dist").alias("sqdist"),
    )


def _kmeans_pos(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return pin(
        _quantized_pos(emb, id_col, vec_col)
        .select(id_col, "pos", "x")
    )


def _kmeans_seed(pos: DataFrame, k: int, id_col: str) -> DataFrame:
    return pos.filter(F.col(id_col) < k).select(
        F.col(id_col).alias("cid"), "pos", F.col("x").alias("c")
    )


def _kmeans_assign_round(
    pos: DataFrame, cent: DataFrame, id_col: str
) -> DataFrame:
    diff = F.col("x") - F.col("c")
    d = (
        pos.join(F.broadcast(cent), "pos")
        .groupBy(id_col, "cid")
        .agg(F.sum(diff * diff).alias("dist"))
    )
    return d.groupBy(id_col).agg(F.min(F.struct("dist", "cid")).alias("_p"))


def _kmeans_update(pos: DataFrame, assign: DataFrame, id_col: str) -> DataFrame:
    members = pos.join(
        assign.select(id_col, F.col("_p.cid").alias("cid")), id_col
    )
    return members.groupBy("cid", "pos").agg(
        F.floor(F.sum("x").cast("double") / F.count(F.lit(1)) + F.lit(0.5))
        .cast("long")
        .alias("c")
    )


def kmeans_centroids(
    emb: DataFrame,
    k: int = 8,
    updates: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The trained codebook itself: ``updates`` Lloyd update rounds
    from the deterministic seed. Returns (cid, pos, c) on the integer
    grid — directly pluggable into :func:`ivf_assign` /
    :func:`ivf_topk` as the ``centroids`` relation."""
    pos = _kmeans_pos(emb, id_col, vec_col)
    cent = _kmeans_seed(pos, k, id_col)
    for _ in range(updates):
        cent = pin(_kmeans_update(pos, _kmeans_assign_round(pos, cent, id_col), id_col))
    return cent


def _centroid_relation(
    pos: DataFrame,
    n_cells: int,
    id_col: str,
    centroids: DataFrame | None,
) -> tuple[DataFrame, DataFrame]:
    """(cpos, cnorms) for IVF: the seeded default (vectors with
    id < n_cells) or a supplied trained (cid, pos, c) codebook, both as
    (_cid, pos, cx) plus per-centroid squared norms — the one place the
    two sourcing conventions are reconciled."""
    if centroids is None:
        cpos = pos.filter(F.col(id_col) < n_cells).select(
            F.col(id_col).alias("_cid"), F.col("pos"), F.col("x").alias("cx")
        )
    else:
        cpos = centroids.select(
            F.col("cid").alias("_cid"), F.col("pos"), F.col("c").alias("cx")
        )
    cnorms = cpos.groupBy("_cid").agg(
        F.sum(F.col("cx") * F.col("cx")).alias("c2")
    )
    return cpos, cnorms


def ivf_assign(
    emb: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF coarse quantizer: assign every vector to its nearest centroid
    by cosine (ties → smaller centroid id). Default centroids are the
    vectors with ``id < n_cells`` — deterministic seeding; pass
    ``centroids`` = a (cid, pos, c) relation (e.g.
    :func:`kmeans_centroids`) to use a trained codebook instead — the
    assignment/search plumbing is identical.

    Scale shape: centroids broadcast (a codebook is ≪ memory), so
    assignment is a map-side join + per-(vector, centroid) moment agg —
    n·K·d work, no vector-side shuffle until the small (id, cell)
    output. Returns (id, cell, cell_cosine)."""
    pos = _quantized_pos(emb, id_col, vec_col)
    cpos, cnorms = _centroid_relation(pos, n_cells, id_col, centroids)
    norms = pos.groupBy(id_col).agg(F.sum(F.col("x") * F.col("x")).alias("n2"))
    dots = (
        pos.join(F.broadcast(cpos), "pos")
        .groupBy(id_col, "_cid")
        .agg(F.sum(F.col("x") * F.col("cx")).alias("dot"))
    )
    cos = (
        dots.join(norms, id_col)
        .join(F.broadcast(cnorms), "_cid")
        .withColumn(
            "cell_cosine",
            F.col("dot") / (F.sqrt(F.col("n2")) * F.sqrt(F.col("c2"))),
        )
    )
    from pyspark.sql import Window

    pick = Window.partitionBy(id_col).orderBy(
        F.desc("cell_cosine"), F.col("_cid")
    )
    return (
        cos.withColumn("_rn", F.row_number().over(pick))
        .filter(F.col("_rn") == 1)
        .select(F.col(id_col), F.col("_cid").alias("cell"), "cell_cosine")
    )


def ivf_topk(
    emb: DataFrame,
    query_id: int = 0,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF search: probe the ``n_probe`` cells whose centroids are
    nearest the query, exact-rank only their members. The scale path of
    similarity search — work drops from n·d to (n·n_probe/n_cells)·d
    after the index is built, at the cost of recall (vectors assigned
    elsewhere are invisible; the brute-force baseline
    :func:`exact_cosine_topk_vs_id` is the recall oracle).

    All arithmetic is integer-quantized → oracle-checkable end to end,
    including the cell assignment itself (and, when ``centroids`` is a
    :func:`kmeans_centroids` relation, the training too). Returns
    (vec_id, cell, cosine) — the top-k among probed cells."""
    assign = ivf_assign(emb, n_cells, id_col, vec_col, centroids=centroids)
    pos = _quantized_pos(emb, id_col, vec_col)
    norms = pos.groupBy(id_col).agg(F.sum(F.col("x") * F.col("x")).alias("n2"))

    # Probe list: the n_probe centroids nearest the query vector —
    # reuse the per-(vector, centroid) cosines of the assignment by
    # recomputing just the query row (tiny: K rows).
    cpos, cnorms = _centroid_relation(pos, n_cells, id_col, centroids)
    qpos = pos.filter(F.col(id_col) == query_id).select(
        "pos", F.col("x").alias("qx")
    )
    qn2 = norms.filter(F.col(id_col) == query_id).select(
        F.col("n2").alias("qn2")
    )
    qc = (
        cpos.join(F.broadcast(qpos), "pos")
        .groupBy("_cid")
        .agg(F.sum(F.col("cx") * F.col("qx")).alias("qdot"))
        .join(F.broadcast(cnorms), "_cid")
        .crossJoin(F.broadcast(qn2))
        .select(
            "_cid",
            (F.col("qdot") / (F.sqrt(F.col("c2")) * F.sqrt(F.col("qn2")))).alias(
                "qc_cos"
            ),
        )
        .orderBy(F.desc("qc_cos"), "_cid")
        .limit(n_probe)
        .select(F.col("_cid").alias("cell"))
    )

    cands = (
        assign.join(F.broadcast(qc), "cell", "left_semi")
        .filter(F.col(id_col) != query_id)
        .select(id_col, "cell")
    )
    cdots = (
        pos.join(F.broadcast(cands.select(id_col)), id_col, "left_semi")
        .join(F.broadcast(qpos), "pos")
        .groupBy(id_col)
        .agg(F.sum(F.col("x") * F.col("qx")).alias("dot"))
    )
    return (
        cdots.join(norms, id_col)
        .crossJoin(F.broadcast(qn2))
        .join(cands, id_col)
        .select(
            id_col,
            "cell",
            (F.col("dot") / (F.sqrt(F.col("n2")) * F.sqrt(F.col("qn2")))).alias(
                "cosine"
            ),
        )
        .orderBy(F.desc("cosine"), id_col)
        .limit(k)
    )


# --- product quantization (PQ) ---------------------------------------------
# IVF-PQ's second stage (Jégou et al. 2011, public): split each vector
# into m contiguous subvectors, train an independent k-code codebook per
# subspace, store each vector as m small codes, and answer queries with
# asymmetric distance computation (ADC) — a per-subspace lookup table of
# exact query→centroid distances summed over the stored codes. On the
# 1e-7 integer grid every distance is an int64, so training, encoding
# and ADC ranking are all hash-checkable against an unrolled SQL twin.


def _pq_pos(
    emb: DataFrame, sub_dim: int, id_col: str, vec_col: str
) -> DataFrame:
    """Quantized positions + subspace key (sub = pos div sub_dim),
    checkpointed once — every training round, the encode pass and the
    query LUT reuse this relation."""
    return pin(
        _quantized_pos(emb, id_col, vec_col)
        .select(
            id_col,
            "pos",
            (F.col("pos") / F.lit(sub_dim)).cast("int").alias("sub"),
            "x",
        )
    )


def _pq_assign_round(
    pos: DataFrame, cent: DataFrame, id_col: str
) -> DataFrame:
    """Per (vector, subspace) nearest centroid (ties → lower code).
    The centroid relation is m·k·sub_dim rows — always broadcast; the
    join key is the globally-unique position, so each data cell meets
    exactly the k centroid cells of its own subspace."""
    d = (
        pos.join(F.broadcast(cent.select("cid", "pos", "c")), "pos")
        .groupBy(id_col, "sub", "cid")
        .agg(F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))).alias("dist"))
    )
    return (
        d.groupBy(id_col, "sub")
        .agg(F.min(F.struct("dist", "cid")).alias("_p"))
        .select(id_col, "sub", F.col("_p.cid").alias("cid"), F.col("_p.dist").alias("dist"))
    )


def pq_codebooks(
    emb: DataFrame,
    m: int = 4,
    k: int = 16,
    updates: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sub_dim: int | None = None,
) -> DataFrame:
    """Train the m per-subspace codebooks in ONE distributed Lloyd run:
    the subspace id rides along as a compound grouping key, so all m
    trainings share the same two shuffles per round instead of m
    driver-sequenced jobs. Seeds are the subvectors of the vectors with
    id < k (the deterministic convention shared with ivf_assign).
    Returns (sub, cid, pos, c) on the integer grid."""
    if sub_dim is None:
        sub_dim = 64 // m
    pos = _pq_pos(emb, sub_dim, id_col, vec_col)
    return _pq_train_from_pos(pos, k, updates, id_col)


def _pq_train_from_pos(
    pos: DataFrame, k: int, updates: int, id_col: str
) -> DataFrame:
    """Lloyd on an arbitrary (id, sub, pos, x) relation — shared by
    plain PQ (x = quantized components) and residual IVF-PQ (x = the
    integer residual after the coarse quantizer)."""
    cent = pos.filter(F.col(id_col) < k).select(
        "sub", F.col(id_col).alias("cid"), "pos", F.col("x").alias("c")
    )
    for _ in range(updates):
        assign = _pq_assign_round(pos, cent, id_col)
        members = pos.join(assign.select(id_col, "sub", "cid"), [id_col, "sub"])
        cent = pin(
            members.groupBy("sub", "cid", "pos")
            .agg(
                F.floor(
                    F.sum("x").cast("double") / F.count(F.lit(1)) + F.lit(0.5)
                )
                .cast("long")
                .alias("c")
            )
        )
    return cent


def pq_encode(
    emb: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sub_dim: int = 16,
) -> DataFrame:
    """Encode every vector as its per-subspace nearest code: the
    compressed representation is m small ints per vector (here 4×
    codes replacing 64 floats — the 16× storage cut that makes
    billion-vector indexes fit). Returns (id, sub, code, sqdist)."""
    pos = _pq_pos(emb, sub_dim, id_col, vec_col)
    return _pq_assign_round(pos, codebooks, id_col).select(
        id_col, "sub", F.col("cid").alias("code"), F.col("dist").alias("sqdist")
    )


def ann_pq_adc_topk(
    emb: DataFrame,
    query_id: int = 0,
    k: int = 10,
    m: int = 4,
    codes: int = 16,
    updates: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: build the m×codes
    lookup table of EXACT query-to-centroid squared distances (tiny —
    broadcast), join it to the stored codes on (sub, code), and sum —
    per candidate the scan touches m ints, never the original vector.
    Approximation error lives entirely in the codebook (standard PQ
    semantics); the arithmetic itself is exact int64, so ranking is
    deterministic and oracle-checkable. Emits (vec_id, adc) ascending
    (smaller = closer), ties → lower id."""
    sub_dim = 64 // m
    cent = pin(
        pq_codebooks(
            emb, m=m, k=codes, updates=updates, id_col=id_col, vec_col=vec_col,
            sub_dim=sub_dim,
        )
    )
    pos = _pq_pos(emb, sub_dim, id_col, vec_col)
    enc = pq_encode(emb, cent, id_col=id_col, vec_col=vec_col, sub_dim=sub_dim)
    lut = (
        pos.filter(F.col(id_col) == query_id)
        .join(F.broadcast(cent.select("cid", "pos", "c")), "pos")
        .groupBy("sub", "cid")
        .agg(
            F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))).alias(
                "d2q"
            )
        )
    )
    return (
        enc.filter(F.col(id_col) != query_id)
        .join(
            F.broadcast(lut),
            (enc["sub"] == lut["sub"]) & (enc["code"] == lut["cid"]),
        )
        .groupBy(id_col)
        .agg(F.sum("d2q").alias("adc"))
        .orderBy("adc", id_col)
        .limit(k)
    )


def ann_ivfpq_topk(
    emb: DataFrame,
    query_id: int = 0,
    k: int = 10,
    n_cells: int = 8,
    n_probe: int = 2,
    m: int = 4,
    codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Full residual IVF-PQ (Jégou et al. 2011): L2 k-means coarse
    cells → per-vector integer residual (x − cell centroid) → global
    per-subspace PQ codebooks trained ON THE RESIDUALS → query answered
    by probing the n_probe nearest cells and summing a per-probed-cell
    ADC lookup table over the stored codes. The index scan reads m
    small ints per candidate inside the probed cells only — the
    billion-vector memory/compute shape — while everything (coarse
    training, residuals, PQ training, encoding, LUT, ranking) stays on
    the 1e-7 integer grid, so the ENTIRE pipeline hash-matches an
    unrolled DuckDB twin.

    Scale notes: centroids, codebooks, probe set and LUT are all tiny
    broadcast relations; the only n-sized shuffles are the two Lloyd
    moment aggregations and the per-vector encode — each cut with a
    lazy localCheckpoint because they feed multiple consumers."""
    sub_dim = 64 // m
    pos = _kmeans_pos(emb, id_col, vec_col)
    cent = _kmeans_seed(pos, n_cells, id_col)
    cent = pin(_kmeans_update(pos, _kmeans_assign_round(pos, cent, id_col), id_col))
    assign = pin(
        _kmeans_assign_round(pos, cent, id_col)
        .select(id_col, F.col("_p.cid").alias("cell"))
    )
    cellc = cent.select(F.col("cid").alias("cell"), "pos", "c")
    rpos = pin(
        pos.join(assign, id_col)
        .join(F.broadcast(cellc), ["cell", "pos"])
        .select(
            id_col,
            "cell",
            "pos",
            (F.col("pos") / F.lit(sub_dim)).cast("int").alias("sub"),
            (F.col("x") - F.col("c")).alias("x"),
        )
    )
    books = pin(_pq_train_from_pos(rpos, codes, 1, id_col))
    enc = _pq_assign_round(rpos, books, id_col).select(
        id_col, "sub", F.col("cid").alias("code")
    )

    qpos = pos.filter(F.col(id_col) == query_id)
    qd = (
        qpos.join(F.broadcast(cent), "pos")
        .groupBy("cid")
        .agg(
            F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))).alias(
                "qdist"
            )
        )
    )
    probe = (
        qd.orderBy("qdist", "cid").limit(n_probe).select(
            F.col("cid").alias("cell")
        )
    )
    qr = (
        qpos.join(F.broadcast(cellc), "pos")
        .join(F.broadcast(probe), "cell")
        .select(
            "cell",
            "pos",
            (F.col("pos") / F.lit(sub_dim)).cast("int").alias("sub"),
            (F.col("x") - F.col("c")).alias("rx"),
        )
    )
    lut = (
        qr.join(
            F.broadcast(
                books.select(
                    F.col("cid").alias("code"), "sub", "pos",
                    F.col("c").alias("pc"),
                )
            ),
            ["sub", "pos"],
        )
        .groupBy("cell", "sub", "code")
        .agg(
            F.sum(
                (F.col("rx") - F.col("pc")) * (F.col("rx") - F.col("pc"))
            ).alias("d2")
        )
    )
    cand = assign.join(F.broadcast(probe), "cell").filter(
        F.col(id_col) != query_id
    )
    return (
        cand.join(enc, id_col)
        .join(F.broadcast(lut), ["cell", "sub", "code"])
        .groupBy(id_col)
        .agg(F.sum("d2").alias("adc"))
        .orderBy("adc", id_col)
        .limit(k)
    )


def cell_pair_cosines(
    emb: DataFrame,
    assign: DataFrame,
    cell_col: str = "kcluster",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id_a, id_b, cos) for every within-cell pair (id_a < id_b) —
    the shared pair stage of SemDeDup and contrastive mining: exact
    integer-grid cosine (1e-7 quantization, same as the rest of the
    ANN surface) via a cell-bucketed self-join of pre-quantized long
    arrays. Each vector is quantized ONCE per row (not once per pair)
    and the cell relation is checkpointed because it feeds both join
    sides; the per-pair work is a pure multiply-add fold in codegen.
    Pair volume is Σ|cell|²·d — bounded by the clustering, never
    n²·d. The cell pin is one row per vector carrying the 64-long
    quantized array (~0.5 KB/row)."""
    qq = "cast(floor(cast(x as double) * 10000000.0 + 0.5) as bigint)"
    cells = pin(
        emb.join(assign, id_col)
        .select(
            id_col,
            cell_col,
            F.expr(f"transform({vec_col}, x -> {qq})").alias("_q"),
        )
        .select(
            id_col,
            cell_col,
            "_q",
            F.expr(
                "aggregate(_q, cast(0 as bigint), (acc, x) -> acc + x * x)"
            ).alias("_n2"),
        )
    )
    a = cells.select(
        F.col(id_col).alias("id_a"),
        cell_col,
        F.col("_q").alias("_qa"),
        F.col("_n2").alias("_na"),
    )
    b = cells.select(
        F.col(id_col).alias("id_b"),
        cell_col,
        F.col("_q").alias("_qb"),
        F.col("_n2").alias("_nb"),
    )
    dot = (
        "aggregate(zip_with(_qa, _qb, (x, y) -> x * y), "
        "cast(0 as bigint), (acc, v) -> acc + v)"
    )
    return (
        a.join(b, [cell_col])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos",
            F.expr(dot) / (F.sqrt(F.col("_na")) * F.sqrt(F.col("_nb"))),
        )
        .select("id_a", "id_b", "cos")
    )
