"""Pin and split policies, checked over the package's syntax tree so a
new direct call fails CI wherever it is written.

* Every ``localCheckpoint`` goes through ``operators/pinning.pin``, so
  every pin stores serialized. The deserialized default buffers each
  partition as a vector of row objects while unrolling, which ran a
  24 GB heap out of memory at the 100x scale tier twice
  (triangle_count, dedup_clusters).
* A scan is spread over the cores only by
  ``operators/splits.restore_splits``, which decides from the parquet
  footers, and every repartition is keyed: a round-robin one sorts
  before it shuffles and places rows by arrival order."""

from __future__ import annotations

import ast
import glob
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "lab04_spark_streaming_spark",
)
PINNING = os.path.join(PKG, "operators", "pinning.py")
SPLITS = os.path.join(PKG, "operators", "splits.py")

# Repartitions to defaultParallelism that are not split restoration.
_KEYED_FOR_A_JOIN = {
    # co-partition on the self-join key ahead of a distinct / a pin
    ("plans/wave16.py", "_part_edges"),
    ("plans/wave11.py", "_copurchase_edges"),
    ("plans/wave10.py", "q_item_item_cosine"),
    ("plans/wave18.py", "q_rec_hitrate_eval"),
    # may receive a shuffled subset of representatives, not a scan
    ("plans/mining.py", "_kcore_edges"),
}
# Keyless repartitions that are not over a scan: compaction rewrites a
# table into files of even size, which round-robin gives.
_KEYLESS = {("sources/files.py", "compact_parquet")}


def test_only_pinning_calls_local_checkpoint():
    violations = []
    for path in sorted(glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)):
        if path == PINNING:
            continue
        for node in ast.walk(ast.parse(open(path).read(), path)):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "localCheckpoint"
            ):
                violations.append(f"{os.path.relpath(path, PKG)}:{node.lineno}")
    assert not violations, (
        "localCheckpoint called outside operators/pinning.py (use pin):\n"
        + "\n".join(violations)
    )


def test_pin_ser_is_the_serialized_level():
    """Guard the naming trap: in PySpark, MEMORY_AND_DISK is the
    SERIALIZED level (deserialized is MEMORY_AND_DISK_DESER, the
    localCheckpoint default)."""
    from lab04_spark_streaming_spark.operators.pinning import PIN_SER

    assert PIN_SER.deserialized is False


def _repartitions():
    """(module path relative to the package, enclosing function, call)
    for every ``.repartition(...)`` call in the package."""
    for path in sorted(glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, PKG)
        tree = ast.parse(open(path).read(), path)
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for node in ast.walk(fn):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "repartition"
                ):
                    yield rel, fn.name, node


def _on_load_table(call: ast.Call) -> bool:
    """Whether the method chain ``call`` is made on starts at a
    ``load_table(...)`` call."""
    node = call.func.value
    while isinstance(node, (ast.Call, ast.Attribute)):
        if isinstance(node, ast.Call):
            f = node.func
            if getattr(f, "id", getattr(f, "attr", None)) == "load_table":
                return True
            node = f
        else:
            node = node.value
    return False


def test_every_repartition_is_keyed():
    keyless = sorted(
        f"{rel}:{call.lineno} ({fn})"
        for rel, fn, call in _repartitions()
        if len(call.args) == 1
        and not call.keywords
        and not isinstance(call.args[0], (ast.Constant, ast.Call))
        and (rel, fn) not in _KEYLESS
    )
    assert not keyless, "keyless (round-robin) repartition:\n" + "\n".join(keyless)


def test_only_restore_splits_spreads_a_scan():
    splits_rel = os.path.relpath(SPLITS, PKG)
    on_scan = sorted(
        f"{rel}:{call.lineno} ({fn})"
        for rel, fn, call in _repartitions()
        if rel != splits_rel
        and _on_load_table(call)
        and (rel, fn) not in _KEYED_FOR_A_JOIN
    )
    assert not on_scan, (
        "repartition on a load_table(...) chain (use restore_splits):\n"
        + "\n".join(on_scan)
    )
    to_cores = sorted(
        (rel, fn)
        for rel, fn, call in _repartitions()
        if rel != splits_rel and "defaultParallelism" in ast.unparse(call)
    )
    assert set(to_cores) <= _KEYED_FOR_A_JOIN, (
        "repartition to defaultParallelism outside restore_splits:\n"
        + "\n".join(f"{r} ({f})" for r, f in to_cores if (r, f) not in _KEYED_FOR_A_JOIN)
    )
