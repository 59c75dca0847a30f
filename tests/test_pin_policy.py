"""Pin policy: every ``localCheckpoint`` in the package goes through
``operators/pinning.pin``, so every pin stores serialized. The
deserialized default buffers each partition as a vector of row objects
while unrolling, which ran a 24 GB heap out of memory at the 100x scale
tier twice (triangle_count, dedup_clusters).

A source check over the syntax tree, so a new direct call fails CI
wherever it is written."""

from __future__ import annotations

import ast
import glob
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "lab04_spark_streaming_spark",
)
PINNING = os.path.join(PKG, "operators", "pinning.py")


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
