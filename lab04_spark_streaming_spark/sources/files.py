"""Batch file sources for the star-schema parquet tables.

Scale notes: ``spark.read.parquet`` is already the right 100 TB scan —
Catalyst pushes filters and prunes columns into the parquet reader
(verify with ``df.explain('formatted')`` → ``PushedFilters`` /
``ReadSchema``), and ``spark.sql.files.maxPartitionBytes`` splits the
scan across executors. Nothing custom is needed; the engine's job is to
NOT break pushdown (no opaque UDF between scan and filter).
"""

from __future__ import annotations

import datetime as dt
import json
import os

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_type
from pyspark.sql.types import (
    LongType,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from lab04_spark_streaming_spark.schemas import STAR_TABLE_CONTRACT, STAR_TABLES

# Timestamp columns whose physical parquet encoding has drifted across
# testdata generations: TIMESTAMP(NANOS) (read as long via legacy conf),
# timestamp[us] isAdjustedToUTC=true (plain TimestampType), and
# timestamp[us] isAdjustedToUTC=false (TimestampNTZ unless inference is
# disabled). Normalise every variant to microsecond TimestampType so
# downstream operators and the DuckDB oracles see one stable type.
_TS_COLS = {"events": ["ts"]}


def _footers(sf_dir: str, name: str):
    """The parquet footer (``FileMetaData``) of ``{sf_dir}/{name}.parquet``,
    or of each part file when that path is a directory."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    if not os.path.isdir(path):
        yield pq.ParquetFile(path).metadata
        return
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                yield pq.ParquetFile(os.path.join(root, f)).metadata


def parquet_row_count(sf_dir: str, name: str) -> int:
    """Exact row count of ``{sf_dir}/{name}.parquet`` from the parquet
    FOOTER metadata — O(footer bytes), no Spark job, so query builders
    can make data-dependent parameter choices (e.g. SemDeDup's cell
    count k = ceil(sqrt(n)), triangle_count's broadcast-vs-shuffle
    branch) without an explicit Spark action — r10's triangle_count
    pairs.count() was the one builder with one; it now uses this
    footer estimate.  (Checkpointing builders still materialize their
    pinned relations' upstream stages at construction under AQE —
    see q_triangle_count's honesty note.)
    Handles both a single file and a directory of part files; on a real
    cluster the same numbers come from the catalog / file listing."""
    return sum(md.num_rows for md in _footers(sf_dir, name))


# Ticks per second of each parquet TIMESTAMP unit.
_TS_UNITS = {"milliseconds": 10**3, "microseconds": 10**6, "nanoseconds": 10**9}


def _time_unit(column) -> str | None:
    """The TIMESTAMP unit of a footer's leaf ``column`` ("nanoseconds",
    ...), ``None`` when it is not a parquet TIMESTAMP (e.g. INT96)."""
    return json.loads(column.logical_type.to_json()).get("timeUnit")


def parquet_ts_span_s(
    sf_dir: str, name: str, col: str, until: str | None = None
) -> float | None:
    """Seconds between the earliest and the latest ``col`` value of
    ``{sf_dir}/{name}.parquet``, read from the row-group min/max
    statistics of its footers — no Spark job. With ``until`` (a UTC
    timestamp string, the bound of a ``col < until`` filter) the latest
    value is clamped to it. Every TIMESTAMP encoding
    :func:`load_table` normalises reads alike (ms/µs/ns,
    ``isAdjustedToUTC`` either way: naive values read as UTC).

    ``None`` when any row group carries no min/max for ``col``, or the
    column is not a parquet TIMESTAMP (e.g. Spark's legacy INT96):
    callers then plan as for an unknown span."""
    lo = hi = None
    for md in _footers(sf_dir, name):
        idx = [md.schema.column(i).path for i in range(len(md.schema))].index(col)
        unit = _TS_UNITS.get(_time_unit(md.schema.column(idx)))
        if unit is None:
            return None
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(idx).statistics
            if st is None or not st.has_min_max:
                return None
            lo = st.min_raw / unit if lo is None else min(lo, st.min_raw / unit)
            hi = st.max_raw / unit if hi is None else max(hi, st.max_raw / unit)
    if lo is None:
        return None
    if until is not None:
        bound = dt.datetime.fromisoformat(until).replace(tzinfo=dt.timezone.utc)
        hi = min(hi, bound.timestamp())
    return max(0.0, hi - lo)


def _read_schema(sf_dir: str, name: str) -> str | None:
    """DDL read schema of ``{sf_dir}/{name}.parquet``: its footer's
    columns, in footer order, typed by ``STAR_TABLE_CONTRACT`` — a
    TIMESTAMP(NANOS) contract timestamp reads as the long it is stored
    as. ``None`` (the read then infers the schema) when the path is
    missing or holds no parquet file, or when a footer column is not in
    the contract or its type has drifted away from it: a declared type
    that disagrees with the file fails the scan."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    md = next(_footers(sf_dir, name), None) if os.path.exists(path) else None
    if md is None:
        return None
    contract = dict(STAR_TABLE_CONTRACT.get(name, ()))
    nanos = {
        md.schema.column(i).path
        for i in range(len(md.schema))
        if _time_unit(md.schema.column(i)) == "nanoseconds"
    }
    fields = []
    for f in md.schema.to_arrow_schema():
        typ = contract.get(f.name)
        if f.name in nanos and typ == "timestamp":
            typ = "bigint"
        elif typ is None or from_arrow_type(f.type).simpleString() != typ:
            return None
        fields.append(f"`{f.name}` {typ}")
    return ", ".join(fields)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one star-schema table from ``{sf_dir}/{name}.parquet``.

    The read schema is declared (:func:`_read_schema`), so no
    schema-inference job runs."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # NTZ inference off: timestamp[us] isAdjustedToUTC=false then reads
    # as plain TimestampType (session tz is UTC), bit-identical values.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    schema = _read_schema(sf_dir, name)
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for c in _TS_COLS.get(name, []):
        field = df.schema[c]
        if isinstance(field.dataType, LongType):
            # Integer division — ns epochs exceed 2^53, double division
            # would be off by up to ~128 ns (observed as ±1 µs).
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif isinstance(field.dataType, TimestampNTZType):
            # Belt-and-braces if inference is re-enabled elsewhere.
            df = df.withColumn(c, F.col(c).cast(TimestampType()))
        elif not isinstance(field.dataType, TimestampType):
            # Unknown future encoding: don't crash (r4 lesson — one raise
            # here killed 18 queries), but don't be silent either — the
            # downstream symptom would be 18 opaque hash mismatches.
            import warnings

            warnings.warn(
                f"load_table({name!r}): ts column {c!r} has unhandled type "
                f"{field.dataType.simpleString()}; passing through as-is — "
                "testdata encoding drifted again, extend _TS_COLS handling",
                stacklevel=2,
            )
        # TimestampType passes through; any future drift degrades to the
        # cast above or a warned pass-through instead of crashing.
    return df


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Date/key-partitioned parquet layout: filters on the partition
    columns become PartitionFilters (directory pruning — the scan never
    opens non-matching files). The first lever at 100 TB; verify with
    explain() → ``PartitionFilters``."""
    df.write.partitionBy(*partition_cols).mode(mode).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 8,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: two tables bucketed on the same join key
    with the same bucket count join WITHOUT a shuffle (both sides are
    already hash-distributed on disk). This is the pre-shuffle you pay
    once at write time instead of per query — the biggest repeated-join
    saving at 100 TB. Requires saveAsTable (bucket metadata lives in
    the catalog)."""
    w = df.write.bucketBy(num_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.mode(mode).format("parquet").saveAsTable(table)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every star-schema table present in ``sf_dir``. Routed
    through :func:`load_table` so the nanos-timestamp handling (and the
    legacy conf it depends on) is shared — the two loaders must yield
    identical schemas for the same table."""
    out: dict[str, DataFrame] = {}
    for name in STAR_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            out[name] = load_table(spark, sf_dir, name)
    return out


def parquet_file_stats(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """(file, bytes) for every parquet part under ``path`` — the input
    to compaction planning. Uses the Hadoop FileSystem API (no driver
    re-listing on re-use: one RPC per directory, same listing the scan
    itself performs)."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    out: list[tuple[str, int]] = []
    base = p.toUri().getPath()
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        fpath = st.getPath()
        # Mirror Spark's own scan listing: skip any file with a hidden
        # ('_' or '.') PATH COMPONENT below the base dir, not just a
        # hidden basename — otherwise parts inside in-progress committer
        # dirs (_temporary/attempt_*/part-*.parquet) get counted and the
        # compaction plan disagrees with what spark.read will read.
        rel = fpath.toUri().getPath()[len(base):].lstrip("/")
        if any(c and c[0] in "_." for c in rel.split("/")):
            continue
        if fpath.getName().endswith(".parquet"):
            out.append((fpath.toString(), int(st.getLen())))
    return out


def compaction_plan(
    spark: SparkSession, path: str, target_bytes: int = 128 * 1024 * 1024
) -> tuple[int, int, int]:
    """(n_files, total_bytes, n_output_files) for compacting ``path``
    so output files land near ``target_bytes``. The small-files
    problem is the silent scan killer at 100 TB: a million 1 MB files
    cost a million open/seek/footer reads and a million scheduler
    tasks where 8k well-sized files cost 8k."""
    stats = parquet_file_stats(spark, path)
    total = sum(b for _, b in stats)
    n_out = max(1, -(-total // target_bytes))  # ceil
    return len(stats), total, n_out


def compact_parquet(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Rewrite ``path`` into ``n = ceil(total/target)`` files at
    ``out_path`` and return n. Content-preserving (same rows, same
    schema — asserted in tests); a round-robin repartition(n), not a
    coalesce, so output sizes are even regardless of input skew.

    Scale notes: run per partition directory in a date/key-partitioned
    layout (compact yesterday's partition, not the table) — this
    function is that per-directory unit of work. Pair with
    write_partitioned/write_bucketed to preserve layout; z-ordered
    data should instead be rewritten through the zorder_keys sort so
    compaction does not destroy the clustering (the two compose:
    repartitionByRange on the z-key, then write)."""
    _, _, n_out = compaction_plan(spark, path, target_bytes)
    df = spark.read.parquet(path)
    df.repartition(n_out).write.mode("overwrite").parquet(out_path)
    return n_out


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema,
    corrupt_col: str = "_corrupt_record",
):
    """JSON-lines ingestion with corrupt-record QUARANTINE — the
    landing-zone reader a production feed needs: explicit schema (no
    inference pass over 100 TB), PERMISSIVE parse, and the raw line of
    every unparseable record preserved in ``corrupt_col``. Returns
    (good, quarantined): ``good`` drops the corrupt column; callers
    route ``quarantined`` to a dead-letter sink instead of silently
    losing rows (or crashing the whole scan, FAILFAST-style).

    Scale: a TEXT scan + ``from_json`` per branch — line-splittable
    like any text source, and deliberately NOT the raw
    ``spark.read.json`` corrupt-column route, which cannot be filtered
    on the corrupt column without materializing the whole parse first
    (SPARK-26108 / QUERY_ONLY_CORRUPT_RECORD_COLUMN). Both branches
    share ONE corruption definition (the PERMISSIVE parser's corrupt
    field), so every input line lands in exactly one output."""
    from pyspark.sql.types import StringType, StructField, StructType

    full = StructType(
        list(schema.fields) + [StructField(corrupt_col, StringType())]
    )
    parsed = spark.read.text(path).select(
        F.col("value"),
        F.from_json(
            F.col("value"),
            full,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": corrupt_col},
        ).alias("_j"),
    )
    good = (
        parsed.filter(F.col(f"_j.{corrupt_col}").isNull())
        .select("_j.*")
        .drop(corrupt_col)
    )
    quarantined = parsed.filter(
        F.col(f"_j.{corrupt_col}").isNotNull()
    ).select(F.col("value").alias("raw_line"))
    return good, quarantined


def read_csv(
    spark: SparkSession,
    path: str,
    schema,
    header: bool = True,
    delimiter: str = ",",
    ts_format: str | None = None,
):
    """CSV ingestion with an explicit schema — no inference job, no
    type drift between files. Timestamps parse with ``ts_format`` when
    the feed uses a non-ISO layout. Malformed rows surface as NULLs in
    their typed columns (PERMISSIVE), keeping the scan splittable."""
    r = (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("sep", delimiter)
        .option("mode", "PERMISSIVE")
    )
    if ts_format:
        r = r.option("timestampFormat", ts_format)
    return r.csv(path)


def write_orc(df: DataFrame, path: str, partition_by: str | None = None) -> None:
    """ORC landing-zone writer (Spark's second built-in columnar
    format — some upstream warehouses hand data over as ORC). Same
    contract as the parquet writers: explicit layout, no inference."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(partition_by)
    w.orc(path)


def read_orc(spark: SparkSession, path: str, schema: StructType | None = None) -> DataFrame:
    """ORC reader with an optional explicit schema (schema-on-read
    contract matches read_csv/read_jsonl: never let a silent
    inference job decide production types). ORC carries its own
    column statistics, so predicate pushdown works exactly as with
    parquet (`PushedFilters` in the plan — asserted in
    tests/test_storage_layout.py)."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.orc(path)
