"""Canonical message/table schemas.

Group A mirrors the reference pipeline's wire schemas exactly
(reference: src/Tranforms/moving_statistic.py:25-29,
src/Tranforms/zscore_calculator.py:28-45, src/Extract/main.py:105-110).
Group B binds the driver's star-schema parquet tables
(/root/testdata, see FIXTURES.md §B).

The engine keeps the reference's explicit-schema discipline: every
stream parse passes a hand-declared StructType to ``from_json`` — no
inference, so a malformed producer can't silently widen a column type
mid-stream (at 100 TB schema inference is also a full extra scan).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# --- A1: raw price tick (topic `btc-price`) --------------------------------
# Producer emits {symbol, price, event_time(ISO8601 ms), data_age_ms}
# (reference: main.py:105-110). Transform consumers deliberately omit
# data_age_ms — schema projection == column pruning at the parse
# (reference: moving_statistic.py:25-29).
TICK_SCHEMA = StructType(
    [
        StructField("symbol", StringType()),
        StructField("price", DoubleType()),
        StructField("event_time", StringType()),
    ]
)

# --- A2: moving statistics (topic `btc-price-moving`) ----------------------
# (reference: moving_statistic.py:100-118 producer,
#  zscore_calculator.py:28-45 consumer)
WINDOW_STATS_SCHEMA = StructType(
    [
        StructField("window", StringType()),
        StructField("avg_price", DoubleType()),
        StructField("std_price", DoubleType()),
    ]
)

MOVING_STATS_SCHEMA = StructType(
    [
        StructField("timestamp", StringType()),
        StructField("symbol", StringType()),
        StructField("windows", ArrayType(WINDOW_STATS_SCHEMA)),
    ]
)

# --- A3: z-score output (topic `btc-price-zscore`) -------------------------
# (reference: zscore_calculator.py:145-160)
ZSCORE_ENTRY_SCHEMA = StructType(
    [
        StructField("window", StringType()),
        StructField("zscore_price", DoubleType()),
    ]
)

ZSCORE_SCHEMA = StructType(
    [
        StructField("timestamp", StringType()),
        StructField("symbol", StringType()),
        StructField("zscores", ArrayType(ZSCORE_ENTRY_SCHEMA)),
    ]
)

# --- B: driver star schema (FIXTURES.md §B) --------------------------------
# events.props JSON payload ({"k": <int>}).
EVENT_PROPS_SCHEMA = StructType([StructField("k", IntegerType())])

# --- Multimodal column pattern ---------------------------------------------
# Media are opaque binary payloads + typed metadata. The binary column
# stays un-decoded through the plan (Spark never materializes it wider
# than the scan batch); decode happens only inside Arrow-batched UDFs.
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("payload", BinaryType()),
        StructField(
            "meta",
            StructType(
                [
                    StructField("mime", StringType()),
                    StructField("width", IntegerType()),
                    StructField("height", IntegerType()),
                    StructField("duration_ms", IntegerType()),
                    StructField("n_bytes", LongType()),
                ]
            ),
        ),
    ]
)

STAR_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Post-load schema contract for every star table: what
# ``sources.files.load_table`` must yield regardless of how the physical
# parquet encoding drifts across testdata generations (r4 lesson: one
# regeneration flipped events.ts long→timestamp[us] and killed 18
# queries at once; a per-table contract test fails ONE focused test
# instead).  (column_name, Catalyst simpleString) per column.
STAR_TABLE_CONTRACT: dict[str, tuple[tuple[str, str], ...]] = {
    "region": (("r_regionkey", "int"), ("r_name", "string")),
    "nation": (
        ("n_nationkey", "int"),
        ("n_name", "string"),
        ("n_regionkey", "int"),
    ),
    "customer": (
        ("c_custkey", "bigint"),
        ("c_name", "string"),
        ("c_nationkey", "int"),
        ("c_acctbal", "double"),
        ("c_mktsegment", "string"),
    ),
    "supplier": (
        ("s_suppkey", "bigint"),
        ("s_name", "string"),
        ("s_nationkey", "int"),
        ("s_acctbal", "double"),
    ),
    "part": (
        ("p_partkey", "bigint"),
        ("p_name", "string"),
        ("p_brand", "string"),
        ("p_type", "string"),
        ("p_size", "int"),
        ("p_retailprice", "double"),
    ),
    "orders": (
        ("o_orderkey", "bigint"),
        ("o_custkey", "bigint"),
        ("o_orderstatus", "string"),
        ("o_totalprice", "double"),
        ("o_orderdate", "timestamp"),
        ("o_orderpriority", "string"),
    ),
    "lineitem": (
        ("l_orderkey", "bigint"),
        ("l_partkey", "bigint"),
        ("l_suppkey", "bigint"),
        ("l_linenumber", "int"),
        ("l_quantity", "double"),
        ("l_extendedprice", "double"),
        ("l_discount", "double"),
        ("l_tax", "double"),
        ("l_returnflag", "string"),
        ("l_linestatus", "string"),
        ("l_shipdate", "timestamp"),
    ),
    "events": (
        ("event_id", "bigint"),
        ("ts", "timestamp"),
        ("user_id", "bigint"),
        ("event_type", "string"),
        ("value", "double"),
        ("props", "string"),
    ),
    "documents": (
        ("doc_id", "bigint"),
        ("text", "string"),
        ("lang", "string"),
        ("source", "string"),
        ("n_chars", "bigint"),
    ),
    "embeddings": (
        ("vec_id", "bigint"),
        ("embedding", "array<float>"),
        ("label", "int"),
    ),
}
