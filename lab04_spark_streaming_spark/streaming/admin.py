"""Kafka topic administration — parity for the reference's
``setup_transform.py`` ops script (reference
``src/Tranforms/setup_transform.py:83-131``: shells out to the
``kafka-topics`` CLI inside the broker container to create the five
pipeline topics with partitions=3, replication=1).

Engine-side we keep the same declarative surface but two execution
paths, both broker-optional at import time:

* :func:`ensure_topics` — programmatic, via ``kafka-python``'s
  ``KafkaAdminClient`` when that package is importable (it is not baked
  into this sandbox, so the call degrades to a clear RuntimeError
  naming the missing dependency rather than failing at import).
* :func:`topic_commands` — the exact ``kafka-topics`` CLI invocations
  (the reference's own mechanism), returned as argv lists for the
  caller to run wherever the broker lives. Pure construction: testable
  without a broker.

Partition count matters beyond ops hygiene: the source parallelism of
every streaming stage is min(kafka partitions, executor slots), so the
reference's partitions=3 caps stage-2 at 3 tasks. ``PIPELINE_TOPICS``
keeps the reference's layout; pass ``partitions`` explicitly when
provisioning for a larger cluster.
"""

from __future__ import annotations

from dataclasses import dataclass

from lab04_spark_streaming_spark.streaming.sources import (
    TOPIC_HIGHER,
    TOPIC_LOWER,
    TOPIC_MOVING,
    TOPIC_PRICE,
    TOPIC_ZSCORE,
)


@dataclass(frozen=True)
class TopicSpec:
    name: str
    partitions: int = 3
    replication_factor: int = 1
    description: str = ""


# Reference topic set (setup_transform.py:126-131).
PIPELINE_TOPICS: tuple[TopicSpec, ...] = (
    TopicSpec(TOPIC_PRICE, description="Input topic from Extract phase"),
    TopicSpec(TOPIC_MOVING, description="Output topic for moving statistics"),
    TopicSpec(TOPIC_ZSCORE, description="Output topic for Z-scores"),
    TopicSpec(TOPIC_HIGHER, description="Bonus: Higher price windows"),
    TopicSpec(TOPIC_LOWER, description="Bonus: Lower price windows"),
)


def topic_commands(
    specs: tuple[TopicSpec, ...] = PIPELINE_TOPICS,
    bootstrap: str = "localhost:9092",
    kafka_topics_bin: str = "kafka-topics",
) -> list[list[str]]:
    """``kafka-topics --create`` argv per topic (idempotent via
    --if-not-exists; the reference instead swallows the already-exists
    error text)."""
    return [
        [
            kafka_topics_bin,
            "--bootstrap-server",
            bootstrap,
            "--create",
            "--if-not-exists",
            "--topic",
            s.name,
            "--partitions",
            str(s.partitions),
            "--replication-factor",
            str(s.replication_factor),
        ]
        for s in specs
    ]


def ensure_topics(
    specs: tuple[TopicSpec, ...] = PIPELINE_TOPICS,
    bootstrap: str = "localhost:9092",
) -> list[str]:
    """Create the topics programmatically. Returns the names created
    (existing topics are skipped). Requires ``kafka-python``."""
    try:
        from kafka.admin import KafkaAdminClient, NewTopic  # type: ignore
        from kafka.errors import TopicAlreadyExistsError  # type: ignore
    except ImportError as e:  # pragma: no cover - sandbox has no kafka lib
        raise RuntimeError(
            "ensure_topics needs the kafka-python package (not installed "
            "here). Use topic_commands() to get the equivalent "
            "kafka-topics CLI invocations instead."
        ) from e

    admin = KafkaAdminClient(bootstrap_servers=bootstrap)  # pragma: no cover
    created: list[str] = []  # pragma: no cover
    for s in specs:  # pragma: no cover
        try:
            admin.create_topics(
                [NewTopic(s.name, s.partitions, s.replication_factor)]
            )
            created.append(s.name)
        except TopicAlreadyExistsError:
            pass
    return created  # pragma: no cover
