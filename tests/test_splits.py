"""Split restoration (``operators/splits.restore_splits``): a scan is
spread over the cores only when its parquet footers hold fewer row
groups than there are cores, and deciding that fires no Spark job."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from lab04_spark_streaming_spark.operators.splits import restore_splits
from lab04_spark_streaming_spark.sources.files import load_table
from tests.test_plans import plan_of


@pytest.fixture
def cores(spark):
    n = spark.sparkContext.defaultParallelism
    if n < 2:
        pytest.skip("split restoration is a no-op on a 1-core session")
    return n


def _rows_per_partition(df):
    return [
        r["n"]
        for r in df.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]


def test_byte_split_one_row_group_scan_is_spread(spark, sf_dir, cores):
    """With small byte splits a one-row-group file is read as several
    partitions, one of which holds every row: the partition count says
    "split", the footer says one row group."""
    conf = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "8k")
    try:
        docs = load_table(spark, sf_dir, "documents")
        assert len([n for n in _rows_per_partition(docs) if n]) == 1
        sizes = _rows_per_partition(restore_splits(docs, "doc_id"))
    finally:
        spark.conf.set(conf, old)
    assert len([n for n in sizes if n]) > 1
    assert sum(sizes) == docs.count()


def test_scan_with_a_row_group_per_core_keeps_its_plan(spark, cores, tmp_path):
    path = str(tmp_path / "split.parquet")
    pq.write_table(
        pa.table({"k": pa.array(range(cores * 10), pa.int64())}),
        path,
        row_group_size=10,
    )
    assert pq.read_metadata(path).num_row_groups == cores
    df = spark.read.parquet(path).filter(F.col("k") >= 0)
    assert plan_of(restore_splits(df, "k")) == plan_of(df)


def test_in_memory_relation_keeps_its_plan(spark, cores):
    df = spark.range(10).withColumnRenamed("id", "k")
    assert plan_of(restore_splits(df, "k")) == plan_of(df)


def test_restore_splits_fires_no_job(spark, sf_dir, cores):
    docs = load_table(spark, sf_dir, "documents")
    sc = spark.sparkContext
    group = "restore-splits"
    sc.setJobGroup(group, "restore_splits")
    try:
        out = restore_splits(docs, "doc_id")
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(jobs) == []
    assert "hashpartitioning(doc_id" in plan_of(out)
