"""Text-analysis primitives shared by the dedup / text-quality operators.

Everything here is a pure Catalyst expression (higher-order array
functions — JVM-side, codegen'd, zero shuffle): tokenization, word
shingles, and a cross-engine deterministic 32-bit hash derived from
md5 (both Spark and DuckDB expose md5; the first 8 hex chars parsed as
int give an identical uniform hash in both engines — verified).

Scale notes: all of these are per-row projections — they pipeline
inside the parquet scan stage and never shuffle. The only shuffles in
the dedup/text pipeline come from the explicit groupBys/joins in
operators/dedup.py, where they're documented.
"""

from __future__ import annotations


# --- tokenize --------------------------------------------------------------
# lowercase, split on non-alphanumeric runs, drop empties.
def expr_tokens(col: str = "text") -> str:
    return f"array_remove(split(lower({col}), '[^a-z0-9]+'), '')"


def sql_tokens(col: str = "text") -> str:
    return (
        f"list_filter(string_split_regex(lower({col}), '[^a-z0-9]+'), x -> x <> '')"
    )


# --- canonical text normalization ------------------------------------------
# ONE definition of "the same document modulo case/whitespace/punct
# re-encodes" shared by every normalized-dedup consumer (llm
# dedup_exact_normalized, corpus dedup_incremental, mining SNM keys,
# wave7 cross-source matrix). The only cross-engine asymmetry is
# DuckDB's required 'g' flag (Spark regexp_replace is global by
# default) — keeping both strings side by side HERE is what stops a
# future hardening of one copy from silently changing what counts as a
# duplicate for the others.
def expr_norm_text(col: str = "text") -> str:
    return f"trim(regexp_replace(lower({col}), '[^a-z0-9]+', ' '))"


def sql_norm_text(col: str = "text") -> str:
    return f"trim(regexp_replace(lower({col}), '[^a-z0-9]+', ' ', 'g'))"


def expr_norm_digest(col: str = "text") -> str:
    return f"md5({expr_norm_text(col)})"


def sql_norm_digest(col: str = "text") -> str:
    return f"md5({sql_norm_text(col)})"


# The corpus documents' token array and normalized digest over their
# ``text`` column, Spark SQL beside DuckDB.
SPARK_TOKS = expr_tokens("text")
SQL_TOKS = sql_tokens("text")
SPARK_NORM_H = expr_norm_digest("text")
SQL_NORM_H = sql_norm_digest("text")


# --- word shingles ---------------------------------------------------------
def expr_shingles(toks_expr: str, n: int = 3) -> str:
    """Spark SQL: n-word shingles from a token array (0-based indexing).

    Guarded for short docs: when size(toks) < n, sequence(0, size-n)
    would produce a DESCENDING sequence and the toks[i+j] subscripts
    would throw INVALID_ARRAY_INDEX — instead return the empty shingle
    set, which is also what the DuckDB twin's generate_series yields."""
    parts = ", ".join(f"{toks_expr}[i+{j}]" for j in range(n))
    return (
        f"CASE WHEN size({toks_expr}) < {n} "
        f"THEN cast(array() as array<string>) "
        f"ELSE transform(sequence(0, size({toks_expr}) - {n}), "
        f"i -> concat_ws(' ', {parts})) END"
    )


def sql_shingles(toks_expr: str, n: int = 3) -> str:
    """DuckDB SQL: same shingles (1-based indexing)."""
    parts = " || ' ' || ".join(f"{toks_expr}[i+{j}]" for j in range(n))
    return (
        f"list_transform(generate_series(1, len({toks_expr}) - {n - 1}), "
        f"i -> {parts})"
    )


# --- deterministic cross-engine hash --------------------------------------
def expr_hash_int(s_expr: str, seed: int | str | None = None) -> str:
    """Spark SQL: first 8 md5 hex chars of (seed|s) as a bigint in
    [0, 2^32). Identical in DuckDB via :func:`sql_hash_int`."""
    inner = s_expr if seed is None else f"concat('{seed}|', {s_expr})"
    return f"cast(conv(substring(md5({inner}), 1, 8), 16, 10) as bigint)"


def sql_hash_int(s_expr: str, seed: int | str | None = None) -> str:
    inner = s_expr if seed is None else f"concat('{seed}|', {s_expr})"
    return f"CAST(('0x' || substring(md5({inner}), 1, 8)) AS BIGINT)"
