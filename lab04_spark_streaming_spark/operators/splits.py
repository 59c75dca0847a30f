"""Split restoration: the one place a scan is spread over the cores.

Spark reads a parquet row group as one unit, so a table stored as one
row group is read by one task however many cores the session has.
CPU-dense pipelines over such a scan (tokenize → shingle → hash, the
bootstrap replicate fan-out, higher-order-function folds over vectors)
then run single-threaded, and once per consumer when the relation is
not pinned.

``restore_splits`` hash-repartitions the relation to
``defaultParallelism`` only when its parquet input files hold fewer row
groups than there are cores. Inputs that arrive split (a multi-file or
multi-row-group table) keep their scan: there the repartition would add
a full shuffle of row-proportional payloads (document text) in front of
the pipeline for nothing.

The row groups are counted from the footers of ``df.inputFiles()``:
driver-side metadata reads that fire no job and plan no RDD. The scan's
partition count is not a usable proxy: Spark splits files by bytes, so
a one-row-group file can be several partitions of which one holds every
row, and a byte-split scan can look parallel while it is not. A relation
with no parquet input (in memory, a checkpoint) is returned unchanged:
Spark already slices it.

The key is hashed (the column itself, never round-robin), so task
retries reproduce the same row placement (SPARK-38388) and no
sort-before-repartition is paid.
"""

from __future__ import annotations

from itertools import accumulate

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lab04_spark_streaming_spark.sources.files import parquet_row_groups


def restore_splits(df: DataFrame, key: str | Column) -> DataFrame:
    """Hash-repartition ``df`` on ``key`` to the session parallelism when
    its parquet input files hold fewer row groups than there are cores."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    files = [f for f in df.inputFiles() if f.endswith(".parquet")]
    if not files or any(
        n >= cores for n in accumulate(map(parquet_row_groups, files))
    ):
        return df
    return df.repartition(cores, F.col(key) if isinstance(key, str) else key)
