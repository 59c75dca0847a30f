"""The prefix-sum queries chunk their scans by the ts span their parquet
footers report (``sources.files.parquet_ts_span_s`` →
``reference_parity._chunk_slots``). Spark-free: the files are written
with pyarrow and only their footers are read."""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from lab04_spark_streaming_spark.operators.moving_stats_fast import CHUNK_SLOTS
from lab04_spark_streaming_spark.plans.reference_parity import _chunk_slots
from lab04_spark_streaming_spark.sources.files import (
    parquet_row_count,
    parquet_ts_span_s,
)

T0 = dt.datetime(2024, 1, 1)
_EPOCH_US = int((T0 - dt.datetime(1970, 1, 1)).total_seconds()) * 10**6
# Arrow types of every ts encoding load_table normalises: µs with
# isAdjustedToUTC=true, µs with isAdjustedToUTC=false, and NANOS.
TS_TYPES = {
    "us_utc": (pa.timestamp("us", tz="UTC"), 1),
    "us_ntz": (pa.timestamp("us"), 1),
    "ns": (pa.timestamp("ns"), 1000),
}


def _write_events(path: str, hours: float, ts_type: str = "us_utc", **kw) -> None:
    """``events`` rows every 6 min over ``hours`` from T0, in two row
    groups."""
    typ, per_us = TS_TYPES[ts_type]
    step = 360 * 10**6
    offs = range(0, int(hours * 3600 * 10**6) + 1, step)
    ts = pa.array([(_EPOCH_US + o) * per_us for o in offs], pa.int64()).cast(typ)
    table = pa.table({"event_id": pa.array(range(len(ts)), pa.int64()), "ts": ts})
    pq.write_table(table, path, row_group_size=len(ts) // 2 + 1, **kw)


def test_short_span_runs_one_pass_per_key(tmp_path):
    _write_events(str(tmp_path / "events.parquet"), hours=28.8)
    assert parquet_ts_span_s(str(tmp_path), "events", "ts") == 28.8 * 3600
    assert _chunk_slots(str(tmp_path)) is None


def test_month_span_chunks(tmp_path):
    _write_events(str(tmp_path / "events.parquet"), hours=30 * 24)
    assert _chunk_slots(str(tmp_path)) == CHUNK_SLOTS


def test_until_clamps_the_span(tmp_path):
    _write_events(str(tmp_path / "events.parquet"), hours=30 * 24)
    until = "2024-01-03 00:00:00"
    assert parquet_ts_span_s(str(tmp_path), "events", "ts", until=until) == 2 * 86_400
    assert _chunk_slots(str(tmp_path), until=until) is None


def test_no_statistics_chunks_as_for_an_unknown_span(tmp_path):
    _write_events(str(tmp_path / "events.parquet"), hours=28.8, write_statistics=False)
    assert parquet_ts_span_s(str(tmp_path), "events", "ts") is None
    assert _chunk_slots(str(tmp_path)) == CHUNK_SLOTS
    # One part without statistics hides the span of the whole table.
    table_dir = tmp_path / "mixed" / "events.parquet"
    table_dir.mkdir(parents=True)
    _write_events(str(table_dir / "part-0.parquet"), hours=28.8)
    _write_events(str(table_dir / "part-1.parquet"), hours=28.8, write_statistics=False)
    assert parquet_ts_span_s(str(tmp_path / "mixed"), "events", "ts") is None
    # Spark's legacy INT96 timestamps carry no TIMESTAMP type to read.
    (tmp_path / "int96").mkdir()
    _write_events(
        str(tmp_path / "int96" / "events.parquet"), hours=28.8,
        use_deprecated_int96_timestamps=True,
    )
    assert _chunk_slots(str(tmp_path / "int96")) == CHUNK_SLOTS


@pytest.mark.parametrize("ts_type", ["us_ntz", "ns"])
@pytest.mark.parametrize("hours", [28.8, 30 * 24])
def test_every_ts_encoding_reads_alike(tmp_path, ts_type, hours):
    plain, other = tmp_path / "plain", tmp_path / ts_type
    for d, t in ((plain, "us_utc"), (other, ts_type)):
        d.mkdir()
        _write_events(str(d / "events.parquet"), hours=hours, ts_type=t)
    assert pq.read_schema(str(other / "events.parquet")).field("ts").type == TS_TYPES[ts_type][0]
    assert parquet_ts_span_s(str(other), "events", "ts") == parquet_ts_span_s(
        str(plain), "events", "ts"
    )
    assert _chunk_slots(str(other)) == _chunk_slots(str(plain))


def test_directory_of_part_files(tmp_path):
    """Two 15-day parts, each under two chunks alone, span a month
    together."""
    table_dir = tmp_path / "events.parquet"
    table_dir.mkdir()
    _write_events(str(tmp_path / "whole.parquet"), hours=30 * 24)
    whole = pq.read_table(str(tmp_path / "whole.parquet"))
    half = whole.num_rows // 2
    pq.write_table(whole.slice(0, half), str(table_dir / "part-0.parquet"))
    pq.write_table(whole.slice(half), str(table_dir / "part-1.parquet"))
    os.remove(tmp_path / "whole.parquet")
    assert parquet_row_count(str(tmp_path), "events") == whole.num_rows
    assert parquet_ts_span_s(str(tmp_path), "events", "ts") == 30 * 86_400
    assert _chunk_slots(str(tmp_path)) == CHUNK_SLOTS
