"""Streaming source/sink builders (SURVEY.md §2 S4-S8).

Kafka builders mirror the reference's options exactly
(moving_statistic.py:32-39, zscore_calculator.py:50-73,
setup_transform.py topic set); the file/rate builders are the
container-testable stand-ins (no Kafka broker here) — the DataFrames
they produce are schema-identical, so every downstream operator is
exercised for real.

Scale notes: a Kafka source parallelizes by topic partition — at high
throughput provision partitions ≈ executor cores and let Spark's
1:1 partition mapping do the rest (minPartitions can oversplit).
``maxOffsetsPerTrigger`` is the backpressure knob that keeps
micro-batches inside the trigger budget.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# Topic set (reference: setup_transform.py:125-131).
TOPIC_PRICE = "btc-price"
TOPIC_MOVING = "btc-price-moving"
TOPIC_ZSCORE = "btc-price-zscore"
TOPIC_HIGHER = "btc-price-higher"  # bonus (streaming/state.py)
TOPIC_LOWER = "btc-price-lower"  # bonus


def kafka_source_options(
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
    fail_on_data_loss: bool = False,
    max_offsets_per_trigger: int | None = None,
) -> dict[str, str]:
    """The exact option set the reference passes to its Kafka reader
    (moving_statistic.py:32-39: subscribe, startingOffsets=latest,
    failOnDataLoss=false).  Split out as a pure function so the options
    contract is testable without the kafka-sql jars on the classpath
    (tests/test_streaming.py::test_kafka_source_options_contract)."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": str(fail_on_data_loss).lower(),
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def kafka_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
    fail_on_data_loss: bool = False,
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """S4 (reference: moving_statistic.py:32-39).

    Requires the ``spark-sql-kafka-0-10`` jars on the session
    classpath; see :func:`lab04_spark_streaming_spark.session.kafka_jars_conf`
    for the jar-drop path (this container has no network, so the jars
    can't be vendored here — PARITY.md §Kafka documents the deploy
    recipe)."""
    r = spark.readStream.format("kafka")
    for k, v in kafka_source_options(
        bootstrap_servers,
        topic,
        starting_offsets,
        fail_on_data_loss,
        max_offsets_per_trigger,
    ).items():
        r = r.option(k, v)
    return r.load()


def decode_json(df: DataFrame, schema: StructType) -> DataFrame:
    """S5: Kafka value binary → string → from_json → flat columns
    (reference: moving_statistic.py:42-44)."""
    return df.select(
        F.from_json(F.col("value").cast("string"), schema).alias("data")
    ).select("data.*")


def file_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Parquet-directory stream — the test stand-in for Kafka; set
    ``max_files_per_trigger=1`` to force one micro-batch per file
    (arrival-order semantics for watermark tests)."""
    r = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        r = r.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return r.parquet(path)


def rate_ticks(
    spark: SparkSession, rows_per_second: int = 10, symbol: str = "BTCUSDT"
) -> DataFrame:
    """Synthetic tick stream on the reference's cadence (1 tick/100 ms ≡
    rowsPerSecond=10, SURVEY.md §2 S3): deterministic pseudo-random-walk
    price derived from the rate source's value column."""
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
    )
    price = (
        F.lit(67000.0)
        + (F.pmod(F.xxhash64(F.col("value")), F.lit(2000)) - F.lit(1000)) / 10.0
    )
    return rate.select(
        F.lit(symbol).alias("symbol"),
        price.alias("price"),
        F.col("timestamp").alias("event_time"),
        F.lit(0).alias("data_age_ms"),
    )
