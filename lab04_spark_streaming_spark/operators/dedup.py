"""Deduplication operators for LLM training-data pipelines.

Five flavors, each a documented Spark plan designed for 100 TB:

* exact        — hash-groupBy on content. One shuffle, keyed by a
                 64-bit content hash (never the full text), so the
                 exchange carries (hash, id) pairs only.
* minhash+LSH  — per-row MinHash signature (zero-shuffle higher-order
                 exprs) → banding → one shuffle on (band, band_hash) →
                 bucket self-join emits candidate pairs. The classic
                 near-dup pipeline: cost is driven by bucket sizes, not
                 n², and hot buckets are split by AQE skew handling.
* simhash      — per-row 32-bit signature; near-dups share signatures
                 (or differ in few bits — a banding pass over bit
                 halves finds those at scale).
* n-gram Jaccard — exact pairwise similarity restricted to candidate
                 pairs that share ≥1 shingle (inverted-index join), the
                 verification stage after LSH.
* embedding    — cosine near-dup, see operators/similarity.py.

All signature computation uses the cross-engine md5 hash
(operators/textops.py), which makes even MinHash fully DuckDB-
oracle-able — rare for hash-based operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Row-proportional checkpoint pins store SERIALIZED — policy constant
# and full rationale live in operators/pinning.py (moved there r14 so
# plan modules no longer import a dedup-private name for a storage
# level).
from lab04_spark_streaming_spark.operators.pinning import pin
from lab04_spark_streaming_spark.operators.splits import restore_splits

from lab04_spark_streaming_spark.operators.textops import (
    expr_hash_int,
    expr_shingles,
    expr_tokens,
)

MINHASH_K = 16
LSH_BANDS = 4  # 4 bands x 4 rows

# Universal-hash coefficients for MinHash: h_i(x) = (a_i*x + b_i) mod P.
# One md5 per shingle (the base hash), k cheap integer mixes — ~10x
# cheaper than k md5s. a_i ≤ 2^20 keeps a*h ≤ 2^52: no int64 overflow
# in either engine (DuckDB errors on overflow, Spark silently wraps —
# staying in range sidesteps the divergence). Fixed LCG-derived
# constants so Spark and the SQL oracle share them.
MINHASH_P = 4294967291  # largest prime < 2^32
def _mh_coeffs(k: int = MINHASH_K) -> list[tuple[int, int]]:
    x, out = 88172645463325252, []
    for _ in range(k):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (x >> 20) % (1 << 20) | 1
        b = x % MINHASH_P
        out.append((a, b))
    return out


MINHASH_COEFFS = _mh_coeffs()


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest id per distinct text. The groupBy key is the
    md5 of the content — at 100 TB the shuffle then moves ~40 bytes/row
    instead of whole documents; collisions are re-checked nowhere
    because md5 collision odds at any realistic corpus are negligible
    (and an optional exact re-verify join is one line)."""
    h = F.md5(F.col(text_col)).alias("_h")
    return (
        df.select(h, F.col(id_col))
        .groupBy("_h")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
        .drop("_h")
    )


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = MINHASH_K
) -> DataFrame:
    """array<long> MinHash signature per doc — Catalyst expressions, no
    shuffle, no UDF: sig[i] = min over 3-word shingles of hash_i.

    Tokens, shingles, and base hashes are materialized as intermediate
    PROJECT columns on purpose: Catalyst does not common-subexpression-
    eliminate across lambda bodies, so inlining re-evaluates per element
    (measured 4x slower); and each shingle is md5-hashed ONCE with the
    k signature values derived by universal hashing (another ~2x)."""
    mins = ", ".join(
        f"array_min(transform(_hs, h -> pmod({a}L * h + {b}L, {MINHASH_P}L)))"
        for a, b in MINHASH_COEFFS[:k]
    )
    # Split restoration: the signature pipeline is the CPU-dense part
    # (tokenize → shingle → k hashes per doc, all interpreted
    # higher-order exprs), and a one-row-group corpus scan runs it as
    # ONE task (measured 1.2 s single-task at sf0.1). A scan that
    # arrives split keeps its splits rather than shuffle the text.
    df = restore_splits(df, id_col)
    return (
        df.select(
            F.col(id_col), F.expr(expr_tokens(text_col)).alias("_toks")
        )
        .select(F.col(id_col), F.expr(expr_shingles("_toks")).alias("_sh"))
        .select(
            F.col(id_col),
            F.expr(f"transform(_sh, s -> {expr_hash_int('s')})").alias("_hs"),
        )
        .select(F.col(id_col), F.expr(f"array({mins})").alias("sig"))
    )


def lsh_bands(
    sigs: DataFrame, id_col: str = "doc_id", bands: int = LSH_BANDS
) -> DataFrame:
    """(id, band, band_hash) — one row per band. Rows per band =
    MINHASH_K / bands."""
    rows = MINHASH_K // bands
    entries = ", ".join(
        "struct({b} as band, md5(concat_ws(',', {cols})) as band_hash)".format(
            b=b,
            cols=", ".join(f"element_at(sig, {b * rows + r + 1})" for r in range(rows)),
        )
        for b in range(bands)
    )
    return sigs.select(
        F.col(id_col), F.explode(F.expr(f"array({entries})")).alias("bd")
    ).select(id_col, F.col("bd.band").alias("band"), F.col("bd.band_hash").alias("band_hash"))


def minhash_candidate_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Distinct candidate near-dup pairs (a < b) sharing ≥1 LSH band.
    One shuffle on (band, band_hash); bucket self-join.

    Docs with an empty shingle set (<3 tokens) would get all-NULL
    signatures; concat_ws would collapse them to one shared md5('')
    band bucket and emit spurious pairs among every short doc — so
    short docs are excluded BEFORE the signature pipeline with a
    token-count predicate (one extra split at the scan, pushed down).
    Do NOT express this as a filter on sig: a predicate over the
    signature column gets predicate-pushed below the projections,
    substituting the whole minhash expression tree (tokenize → shingle
    → k hashes) into one interpreted per-row filter that re-splits the
    text per shingle element — measured ~100x slower. The oracle twin
    filters sig[1] IS NOT NULL, which is equivalent (sig[1] is NULL iff
    the shingle set is empty iff the doc has <3 tokens)."""
    docs = df.filter(F.expr(f"size({expr_tokens(text_col)}) >= 3"))
    # The banded relation feeds BOTH self-join sides — without a pin
    # the whole signature pipeline (the expensive part) is computed
    # once PER SIDE (measured r14: 2 x 1.2 s single-task stages of a
    # 3.0 s sf0.1 run; the simhash_pairs lesson).
    bands = pin(lsh_bands(minhash_signatures(docs, text_col, id_col), id_col))
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """32-bit SimHash over the distinct token set: bit j is the sign of
    Σ_tokens (±1 depending on bit j of the token hash). Pure integer
    arithmetic → order-independent and cross-engine exact. Token hashes
    are materialized once per row (see minhash_signatures note)."""
    th = expr_hash_int("t")
    bit_sum = (
        "aggregate(transform(_th, h -> "
        "CASE WHEN pmod(shiftright(h, j), 2) = 1 THEN 1 ELSE -1 END), "
        "0, (acc, x) -> acc + x)"
    )
    sim = (
        f"aggregate(transform(sequence(0, 31), j -> "
        f"CASE WHEN {bit_sum} > 0 THEN shiftleft(cast(1 as bigint), j) "
        f"ELSE cast(0 as bigint) END), cast(0 as bigint), (acc, x) -> acc + x)"
    )
    return (
        df.select(
            F.col(id_col),
            F.expr(f"array_distinct({expr_tokens(text_col)})").alias("_toks"),
        )
        .select(
            F.col(id_col), F.expr(f"transform(_toks, t -> {th})").alias("_th")
        )
        .select(F.col(id_col), F.expr(sim).alias("simhash"))
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, via band-rotation:
    the 32-bit simhash splits into 4 disjoint 8-bit bands; by
    pigeonhole, any pair with hamming ≤ 3 is IDENTICAL in ≥1 band, so
    the (band, band_val) bucket join has **exact** recall for
    max_hamming ≤ 3 (unlike probabilistic MinHash banding) while never
    going all-pairs. Verify = bit_count(xor) on the candidate pairs.

    Docs with an empty token set are EXCLUDED before banding: they all
    carry simhash 0, so on a web corpus full of empty/whitespace docs
    they would form one quadratic (band, band_val) bucket. Route empty
    docs through exact_duplicates (they are byte-trivial dups) instead
    of a similarity join. Returns (id_a, id_b, hamming)."""
    nonempty = df.filter(
        F.expr(f"size(array_distinct({expr_tokens(text_col)})) > 0")
    )
    # The banded relation feeds BOTH self-join sides; the expensive part
    # (tokenize + 32-bit aggregate per doc) must run once, in parallel —
    # restore split parallelism off a one-row-group scan, then pin the
    # tiny (id, simhash, band, band_val) relation (the
    # jaccard_prefix_join lesson; was ~27 s of replays at sf0.1).
    sh = simhash(restore_splits(nonempty, id_col), text_col, id_col)
    bands = pin(
        sh.select(
            F.col(id_col),
            F.col("simhash"),
            F.expr(
                "inline(transform(sequence(0, 3), b -> "
                "named_struct('band', b, "
                "'band_val', cast(shiftright(simhash, b * 8) % 256 as int))))"
            ),
        )
    )
    a, b = bands.alias("a"), bands.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("_sa"),
            F.col("b.simhash").alias("_sb"),
        )
        .distinct()
    )
    return (
        cands.withColumn("hamming", F.expr("bit_count(_sa ^ _sb)"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def cross_source_overlap(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    n: int = 5,
    min_shared: int = 3,
    max_df: int = 1000,
) -> DataFrame:
    """Train/test decontamination primitive: pairs of documents from
    DIFFERENT groups (sources/splits) sharing ≥ ``min_shared`` distinct
    word n-grams — the standard exact-substring contamination check
    (n=5 here; 13 is the common LLM eval setting, same plan). Inverted
    index on the n-gram with the same stop-shingle df cap as
    jaccard_pairs; the cross-group predicate prunes within-source pairs
    before the pair aggregation. Returns (id_a, id_b, n_shared)."""
    sh = df.select(
        F.col(id_col),
        F.col(group_col).alias("_grp"),
        F.expr(expr_tokens(text_col)).alias("_toks"),
    ).select(
        F.col(id_col),
        "_grp",
        F.explode(
            F.array_distinct(F.expr(expr_shingles("_toks", n)))
        ).alias("shingle"),
    )
    if max_df is not None:
        keep = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("shingle")
        )
        sh = sh.join(keep, "shingle", "left_semi")
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (F.col("a._grp") != F.col("b._grp")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def dedup_clusters(
    pairs: DataFrame, ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Connected components over near-dup pairs → cluster label = the
    minimum reachable doc id. The final stage of a dedup pipeline: LSH
    candidates → verified pairs → clusters → keep one doc per cluster.

    Iterative min-label propagation: each round joins labels across
    (symmetrized) edges and keeps the per-node minimum; converges in
    ≤ diameter rounds (driver loop only orchestrates — all data stays
    distributed; convergence is checked with a count aggregate). At
    100 TB this is the standard large-graph pattern (alternating
    small-star/large-star is the production refinement; plain
    propagation is exact and sufficient at lab diameters).

    Pointer jumping (label ← label(label), O(log d) rounds) was
    implemented and MEASURED SLOWER here: on the diameter-12 SemDeDup
    graph at sf0.1 it cut 13 rounds to 5 but added one n-row join and
    one eager checkpoint per round, and per-round fixed job overhead
    dominates at lab scale (~9.6 s vs ~7.9 s warm median). Worth
    revisiting only for graphs whose diameter × per-round data cost
    actually exceeds the extra join — i.e. when rounds are
    data-dominated, not scheduler-dominated.

    On the convergence ``count()`` (r12, the r11 verdict's stretch
    (c) considered and declined): this is the package's one remaining
    driver-side action inside an operator, and it stays. The
    alternative — a FIXED unroll of all 20 relaxations — is
    action-free but always pays worst-case cost: observed graphs
    converge in ~12 relaxations (6 probes), so the unroll trades one
    cheap aggregate per two rounds (over an already-pinned,
    serialized relation — no lineage replay) for up to 8 extra full
    edge-joins, each strictly more expensive than the count at every
    probed scale. Early exit needs a data-dependent driver decision
    by definition; the standard BSP fixpoint pattern (Pregel halting
    votes work the same way) is the right call here, bounded at 10
    probes."""
    # Materialize the edge list ONCE before iterating: every round joins
    # against it, and without this the whole pair-production pipeline
    # (LSH/k-means/self-join upstream) replays per round — observed as
    # 12 rounds × the full SemDeDup pair cost (~95 s for a ~5 s graph)
    # at sf0.1. Iterative graph algorithms must cut lineage at the edge
    # relation; same reason labels are checkpointed per round.
    edges = pin(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
    )
    labels = ids.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("label")
    )

    def relax(lbl: DataFrame) -> DataFrame:
        neighbor_min = (
            edges.join(lbl, edges["dst"] == lbl["node"])
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        # The next convergence count materializes every relaxation since
        # the previous probe in ONE job; later rounds reuse the blocks.
        return pin(
            lbl.join(neighbor_min, lbl["node"] == neighbor_min["src"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                ).alias("label"),
            )
        )

    # Two relaxations per convergence probe: halves the driver round
    # trips (the probe count is the only action). Convergence is judged
    # on the LAST relaxation alone — if it changed nothing the labels
    # are a fixpoint regardless of the one before it; the possible cost
    # is one wasted relaxation after convergence, far cheaper than a
    # probe every round.
    for _ in range(10):  # 20 relaxations ≥ diameter bound
        prev = relax(labels)
        labels = relax(prev)
        changed = (
            labels.alias("n")
            .join(prev.alias("o"), F.col("n.node") == F.col("o.node"))
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        if changed == 0:
            break
    return labels.select(
        F.col("node").alias(id_col), F.col("label").alias("cluster_id")
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.4,
    max_df: int = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard pairs at ``threshold`` (PPJoin-pruned).

    Plan: explode distinct (id, shingle) → df cap → PREFIX-filtered
    self-join (each doc's rarest L − ⌈t·L⌉ + 1 shingles only — see
    the candidate-stage comment below) → verify by intersecting the
    full capped sets → |A∪B| = |A|+|B|−|A∩B|. Output is identical to
    the naive all-shingle inverted-index walk (the pruning is
    lossless), which is what the DuckDB oracle still runs.

    ``max_df`` is the stop-shingle cap: shingles appearing in more than
    ``max_df`` documents are dropped from the shingle sets BEFORE the
    self-join, bounding every inverted-index bucket to ≤ max_df²/2
    pairs — without it one hot shingle (boilerplate, a license header)
    makes a quadratic bucket at 100 TB. Doc sizes are recounted after
    the cap so the Jaccard stays internally consistent over the capped
    sets. The df relation shares the self-join's shuffle key (shingle),
    so the cap costs one co-partitioned aggregation + semi-join, no
    extra exchange of the data. Default 1000 never triggers on the
    fixture corpus (max observed df: 25 at sf0.1) — output there is
    bit-identical to the uncapped form (tests/test_skew.py exercises
    the cap with a synthetic hot shingle).

    The exploded shingle relation feeds THREE consumers (sizes + both
    self-join sides; four with the df cap) — its scan is spread over
    the cores (:func:`restore_splits`: a one-row-group corpus is one
    input split) and PINNED once, serialized, so the tokenize→shingle
    pass runs once in parallel instead of once single-threaded PER
    CONSUMER. The first 10x probe of dedup_clusters measured exponent
    1.45, nearly all of it this replay (3 single-threaded tokenize
    passes over 10x the corpus: 138 s against 17 s with the pin)."""
    sh0 = pin(
        restore_splits(df, id_col)
        .select(F.col(id_col), F.expr(expr_tokens(text_col)).alias("_toks"))
        .select(
            F.col(id_col),
            F.explode(
                F.array_distinct(F.expr(expr_shingles("_toks")))
            ).alias("shingle"),
        )
    )
    sh = sh0
    if max_df is not None:
        keep = (
            sh0.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("shingle")
        )
        sh = pin(sh0.join(keep, "shingle", "left_semi"))
    # Candidate generation is PREFIX-FILTERED (PPJoin, Xiao et al.
    # 2008 — the same lossless pruning plans/mining.q_jaccard_prefix_
    # join uses at t=0.8, instantiated here at the caller's
    # threshold): each doc's shingles are ordered by global rarity
    # (df, shingle), and two sets with Jaccard >= t MUST share a
    # shingle within their first L - ceil(t*L) + 1 elements, so the
    # self-join buckets only on those prefixes.  This replaced the
    # naive all-shingle inverted-index walk in r12: on a corpus whose
    # common-shingle df scales with corpus size (any real corpus —
    # boilerplate df grows linearly with docs), the naive walk is
    # SUM df^2 ~ quadratic in scale even under the df cap; the 100x
    # probe filled 75 GB of shuffle and died.  Prefix buckets key on
    # each doc's RAREST shingles instead, so hot shingles never form
    # buckets unless a doc consists of nothing else — candidates
    # shrink to near the true-pair count.  The filter is exact: the
    # emitted (pair, n_inter, jaccard) set is bit-identical to the
    # naive plan's (verification recomputes the intersection from the
    # full capped sets), so the DuckDB oracle keeps the plain
    # self-join form.  The threshold enters the prefix bound as an
    # exact rational (float ceil(0.4*5) is 3, not 2 — IEEE 0.4*5
    # rounds above 2).
    from fractions import Fraction

    fr = Fraction(threshold).limit_denominator(1_000_000)
    t_num, t_den = fr.numerator, fr.denominator
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    # Full capped sets for verification — feeds BOTH candidate-verify
    # sides; sorted arrays so array_intersect is a merge.
    sets = pin(
        sh.groupBy(id_col)
        .agg(F.array_sort(F.collect_list("shingle")).alias("_set"))
    )
    dford = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_odf"))
    pref = pin(
        sh.join(sizes, id_col)
        .join(dford, "shingle")
        .withColumn(
            "_pos",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy("_odf", "shingle")
            ),
        )
        .filter(
            F.col("_pos")
            <= F.col("n_sh")
            - F.expr(f"({t_num} * n_sh + {t_den - 1}) div {t_den}")
            + 1
        )
        .select(id_col, "n_sh", "shingle", "_pos")
    )
    a, b = pref.alias("a"), pref.alias("b")
    # POSITIONAL filter (PPJoin Lemma 1) as a join predicate: a match
    # at ordered positions (pa, pb) bounds the total overlap by
    # 1 + min(L_a - pa, L_b - pb), and J >= t needs overlap >=
    # ceil(t/(1+t) * (L_a + L_b)); every true pair passes at its FIRST
    # common prefix shingle (all other common shingles order after
    # it), so per-row pruning + distinct is lossless.  This is the
    # low-threshold workhorse: at t=0.4 the prefix is 60% of each set
    # and prefix-bucketing alone left 570M candidate rows at the 100x
    # probe (the verify join then ships a full set array per row —
    # the measured 75 GB disk-fill); the positional bound kills
    # shared-shingle matches that sit deep in both rarity orders,
    # which is exactly the shape of a false cross-corpus candidate.
    # Integer form of 1 + min(..) >= ceil(n*(La+Lb)/(n+d)):
    # (n+d)*(1 + min(..)) >= n*(La+Lb).
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            # |B| >= t|A| and |A| >= t|B|, in integers (length filter)
            & (t_den * F.col("b.n_sh") >= t_num * F.col("a.n_sh"))
            & (t_den * F.col("a.n_sh") >= t_num * F.col("b.n_sh"))
            & (
                (t_num + t_den)
                * (
                    F.lit(1)
                    + F.least(
                        F.col("a.n_sh") - F.col("a._pos"),
                        F.col("b.n_sh") - F.col("b._pos"),
                    )
                )
                >= t_num * (F.col("a.n_sh") + F.col("b.n_sh"))
            ),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    sa = sets.select(F.col(id_col).alias("id_a"), F.col("_set").alias("_sa"))
    sb = sets.select(F.col(id_col).alias("id_b"), F.col("_set").alias("_sb"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.expr("size(array_intersect(_sa, _sb))").alias("n_inter"),
            F.expr("size(_sa)").alias("n_a"),
            F.expr("size(_sb)").alias("n_b"),
        )
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_inter", "jaccard")
    )
