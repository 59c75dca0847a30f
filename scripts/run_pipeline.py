"""Run the 3-stage pipeline as a live Structured Streaming app.

Without Kafka (default — works in this container):
    python scripts/run_pipeline.py --duration 30
  rate-source synthetic ticks at the reference cadence → stage-2
  6-window stats → console (update mode), exactly the reference's
  monitoring topology minus the broker.

With Kafka (reference-parity wiring; needs a broker + the
spark-sql-kafka package on the classpath):
    python scripts/run_pipeline.py --kafka localhost:9092
  stage 1 stand-in feeds `btc-price`; stage 2 consumes it and produces
  `btc-price-moving`; stage 3 joins both into `btc-price-zscore`
  (reference: src/Tranforms/{moving_statistic,zscore_calculator}.py).
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lab04_spark_streaming_spark.session import get_spark  # noqa: E402


def run_local(duration: int) -> None:
    from lab04_spark_streaming_spark.streaming.pipeline import (
        console_sink,
        stage2_moving_stats,
    )
    from lab04_spark_streaming_spark.streaming.sources import rate_ticks

    spark = get_spark(app_name="lab04-pipeline-demo")
    spark.sparkContext.setLogLevel("ERROR")
    ticks = rate_ticks(spark, rows_per_second=10)
    flat = stage2_moving_stats(
        ticks, "event_time", ["symbol"], "price", nested=False
    )
    q = console_sink(flat, "update", num_rows=6, trigger="5 seconds").start()
    q.awaitTermination(duration)
    q.stop()
    print("pipeline demo done")


def run_kafka(bootstrap: str, checkpoint_root: str) -> None:
    from lab04_spark_streaming_spark.schemas import TICK_SCHEMA
    from lab04_spark_streaming_spark.streaming.pipeline import (
        decode_moving_stats,
        kafka_sink,
        stage2_wire,
        stage3_wire,
        strict_parity_conf,
    )
    from lab04_spark_streaming_spark.streaming.sources import (
        TOPIC_MOVING,
        TOPIC_PRICE,
        TOPIC_ZSCORE,
        decode_json,
        kafka_source,
    )
    from pyspark.sql import functions as F

    spark = get_spark(app_name="lab04-pipeline")
    strict_parity_conf(spark)  # reference runs multi-stateful chains

    ticks = decode_json(
        kafka_source(spark, bootstrap, TOPIC_PRICE), TICK_SCHEMA
    ).withColumn("event_time", F.to_timestamp("event_time"))
    s2 = kafka_sink(
        stage2_wire(ticks.filter(F.col("event_time").isNotNull())),
        bootstrap,
        TOPIC_MOVING,
        os.path.join(checkpoint_root, "stage2"),
        "update",
    ).start()

    stats_flat = decode_moving_stats(kafka_source(spark, bootstrap, TOPIC_MOVING))
    s3 = kafka_sink(
        stage3_wire(ticks, stats_flat),
        bootstrap,
        TOPIC_ZSCORE,
        os.path.join(checkpoint_root, "stage3"),
        "append",
    ).start()
    s2.awaitTermination()
    s3.awaitTermination()


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--kafka", default=None, help="bootstrap servers")
    ap.add_argument("--duration", type=int, default=30, help="demo seconds")
    ap.add_argument(
        "--checkpoint", default=os.path.join(tempfile.gettempdir(), "lab04-ckpt")
    )
    args = ap.parse_args()
    if args.kafka:
        run_kafka(args.kafka, args.checkpoint)
    else:
        run_local(args.duration)
