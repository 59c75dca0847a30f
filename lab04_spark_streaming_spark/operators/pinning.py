"""The one way to pin a relation.

A pin is a lazy ``localCheckpoint``: it cuts the relation's lineage so
that its consumers (both sides of a self-join, the rounds of an
iterative builder, the two halves of a union) read one materialization
instead of each replaying the plan below it. ``tests/test_pin_policy.py``
fails on any other ``localCheckpoint`` call in the package.

Every pin stores ``PIN_SER``, the SERIALIZED memory+disk level. In
PySpark ``MEMORY_AND_DISK`` is that level (``deserialized=False``);
the ``localCheckpoint`` default is ``MEMORY_AND_DISK_DESER``, which
buffers each partition as a vector of row objects while unrolling — 32
concurrent unroll vectors over a ~120M-row pin ran a 24 GB heap out of
memory at the 100x tier (``triangle_count``, ``dedup_clusters``). The
serialized level unrolls through chunked byte buffers and spills
instead.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame

PIN_SER = StorageLevel.MEMORY_AND_DISK


def pin(df: DataFrame) -> DataFrame:
    """``df`` checkpointed lazily to executor storage at ``PIN_SER``.

    Lazy, not eager: the first action materializes the pin together
    with its consumers in one job, and an eager checkpoint costs an
    extra driver-synchronized job per call. Under AQE even the lazy
    form runs the upstream shuffle stages when it is built."""
    return df.localCheckpoint(eager=False, storageLevel=PIN_SER)
