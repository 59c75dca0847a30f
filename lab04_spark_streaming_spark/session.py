"""SparkSession factory with scale-aware defaults.

The reference pins ``local[4]`` and disables AQE because its version of
Spark does not support AQE inside streaming micro-batch plans
(``/root/reference/src/Tranforms/moving_statistic.py:11,14-15``).  This
engine keeps AQE ON for the batch path — at 100 TB it is what coalesces
post-shuffle partitions, re-plans skewed joins, and converts
sort-merge-joins to broadcast joins at runtime — and leaves streaming
queries to Spark's own handling (Spark ≥3.5 simply ignores AQE where
unsupported, so one session serves both).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

# GCLocker-retry guard for the driver JVM (see the comment at the
# .config site in get_spark).  GCLockerRetryAllocationCount is a G1
# DIAGNOSTIC flag that newer JDKs remove outright (JEP 423 replaces the
# GCLocker with region pinning in JDK 22+, and the flag is gone), so the
# guard is prefixed with IgnoreUnrecognizedVMOptions — on a JDK without
# the flag the driver still launches instead of dying with
# "Unrecognized VM option" at startup (r11 advisor item).
_GCLOCKER_GUARD = (
    "-XX:+IgnoreUnrecognizedVMOptions "
    "-XX:+UnlockDiagnosticVMOptions "
    "-XX:GCLockerRetryAllocationCount=100"
)

# One C1 and one C2 compiler thread, the minimum for tiered compilation
# (the ergonomic default on 4 cores is one C1 and two C2). C2 compiles
# the hottest methods first, so hot code still gets compiled; the second
# C2 thread only compiled lukewarm Spark framework code while competing
# with the task threads. On 4 cores it cut the C2 threads' CPU in a cold
# `perfbench` batch_ticks pass from 49 to 28 s (median of 10 pairs); warm
# times at the 10x scale probe stayed within noise.
_COMPILER_CAP = "-XX:CICompilerCount=2"

# Each library flag for the driver JVM, keyed by the -XX option it sets.
_DRIVER_FLAGS = {
    "GCLockerRetryAllocationCount": _GCLOCKER_GUARD,
    "CICompilerCount": _COMPILER_CAP,
}


def driver_java_options() -> str:
    """Driver ``extraJavaOptions``: the user's
    ``SPARK_GRAFT_DRIVER_JAVA_OPTS`` followed by each library flag
    (the GCLocker guard, the compiler-thread cap) that the user's
    options do not already name. The user's options append rather than
    replace, so setting any option keeps the library flags; a user who
    sets one of those flags wins, and the JVM never sees it twice."""
    user = os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", "").strip()
    named = {opt.split("=", 1)[0] for opt in user.split()}
    flags = [v for k, v in _DRIVER_FLAGS.items() if f"-XX:{k}" not in named]
    return " ".join([user, *flags]).strip()


def get_spark(
    app_name: str = "lab04-spark-engine",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Scale notes (100 TB / 1000 executors):
      * ``spark.sql.shuffle.partitions`` is only an AQE *starting* hint
        here; with AQE coalescing enabled the effective post-shuffle
        parallelism adapts to the real data volume, so the same code runs
        local[32] and on a large cluster (where you'd raise the initial
        value to ~2-4x total cores via env/config, not code changes).
      * AQE skew-join splitting replaces manual salting for the common
        case; operators that still need salting (extreme hot keys) do it
        explicitly and say so in their docstrings.
      * Arrow transfer is enabled for the few pandas-UDF operators
        (vector similarity, multimodal decode) — batch-columnar transfer,
        never row-at-a-time pickling.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # At sf0.1 every query is per-task-overhead bound, and the byte
        # coalescer's 1m default beat 64k/256k floors in an interleaved A/B.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Streaming micro-batches keep their own checkpointing; make temp
        # checkpoints cleanable (reference: moving_statistic.py:13).
        .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
        # The one streaming state configuration. RocksDB keeps state off
        # the heap with bounded memory (a heap-backed store is the first
        # OOM on a large keyspace); changelog checkpointing keeps commit
        # cost flat as state grows. Join state format 3 (Spark >= 4.1,
        # RocksDB only) keeps a stream-stream join's four states in one
        # store per partition instead of four: every store commit writes
        # its own delta and checksum files, so a micro-batch's commit
        # cost follows its store count. A checkpoint keeps the provider
        # and join format it was started with (both restored from its
        # offset log).
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        .config("spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage", "true")
        .config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
        .config("spark.sql.streaming.join.stateFormatVersion", "3")
        # FileContext's local rename forks a `readlink` per checkpoint file.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # GC-locker OOM guard (one-box artifact, observed twice at the
        # r11 100x/1000x scale tiers on this kernel/JDK 17.0.20 combo):
        # under heavy allocation with JNI-critical sections active
        # (lz4/zstd shuffle codecs), G1 exhausts its default 2
        # GCLocker retries and throws a SPURIOUS OutOfMemoryError —
        # the log signature is "Retried waiting for GCLocker too
        # often" on a tiny allocation (5 words).  Raising the
        # diagnostic retry count is the documented JDK mitigation
        # (JDK-8192647); it changes no GC behavior when the locker
        # isn't contended.  Only takes effect for the process's FIRST
        # session (driver JVM launch) — later get_spark calls ignore
        # it with a harmless warning. The same options cap the JIT at
        # one C2 compiler thread (_COMPILER_CAP).
        .config("spark.driver.extraJavaOptions", driver_java_options())
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def kafka_jars_conf(jars_dir: str | None = None) -> dict[str, str]:
    """Jar-drop path for the Kafka source/sink (SURVEY.md §2 S4/S7).

    This container has no network, so ``spark-sql-kafka-0-10`` and its
    transitive jars (kafka-clients, commons-pool2,
    spark-token-provider-kafka-0-10 — the set the reference resolves
    via ``spark.jars.packages`` at moving_statistic.py:12) cannot be
    vendored.  Deployment recipe: drop the four jars for your Spark
    version into ``$SPARK_GRAFT_KAFKA_JARS`` (or ``<repo>/jars/``) and
    pass this dict as ``get_spark(extra_conf=kafka_jars_conf())`` —
    the returned ``spark.jars`` points at every jar found.  Returns
    ``{}`` when no jars are present so callers can pass it
    unconditionally."""
    import glob

    d = jars_dir or os.environ.get(
        "SPARK_GRAFT_KAFKA_JARS",
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "jars"),
    )
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    return {"spark.jars": ",".join(jars)} if jars else {}
