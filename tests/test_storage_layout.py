"""Storage-layout scale levers: partition pruning and bucketed
shuffle-free joins, asserted at the physical-plan level."""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from lab04_spark_streaming_spark.sources.files import (
    load_table,
    write_bucketed,
    write_partitioned,
)
from tests.test_plans import plan_of


def test_partition_pruning(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    path = str(tmp_path / "events_by_day")
    write_partitioned(ev, path, ["day"])

    df = spark.read.parquet(path).filter(F.col("day") == "2024-01-02")
    plan = plan_of(df)
    assert "PartitionFilters" in plan and "2024-01-02" in plan
    # the data filter did NOT become a row-level PushedFilter — it was
    # resolved by directory pruning
    n_days = df.select("day").distinct().count()
    assert n_days <= 1


def test_bucketed_join_no_shuffle(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    # saveAsTable refuses a leftover warehouse dir from a prior session
    # (table gone from the in-memory catalog, location still on disk).
    import shutil

    for t in ("li_b", "ord_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        loc = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        shutil.rmtree(f"{loc}/{t}", ignore_errors=True)
    write_bucketed(li, "li_b", "l_orderkey", 8, sort_col="l_orderkey")
    write_bucketed(orders, "ord_b", "o_orderkey", 8, sort_col="o_orderkey")
    a = spark.table("li_b")
    b = spark.table("ord_b")
    joined = a.join(b, a["l_orderkey"] == b["o_orderkey"])
    # At fixture scale the planner prefers broadcast (bucketing
    # "disabled by query planner") — disable auto-broadcast to expose
    # the bucketed path a 100 TB fact-fact join would take.
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(joined)
        # Both sides pre-bucketed on the join key: a sort-merge join
        # with NO shuffle exchange on either side.
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, plan
        assert "ShuffleExchange" not in plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_star_table_schema_contract(spark, sf_dir):
    """Every star table's post-load schema equals the documented
    contract (schemas.STAR_TABLE_CONTRACT). One testdata-regeneration
    encoding drift → one focused failure here, not 18 downstream hash
    mismatches (VERDICT r5 item 5)."""
    from lab04_spark_streaming_spark.schemas import (
        STAR_TABLE_CONTRACT,
        STAR_TABLES,
    )

    assert set(STAR_TABLE_CONTRACT) == set(STAR_TABLES)
    for name in STAR_TABLES:
        df = load_table(spark, sf_dir, name)
        got = tuple((f.name, f.dataType.simpleString()) for f in df.schema.fields)
        assert got == STAR_TABLE_CONTRACT[name], name


@pytest.mark.parametrize(
    "ts_type",
    [pa.timestamp("us", tz="UTC"), pa.timestamp("us"), pa.timestamp("ns")],
    ids=["us_utc", "us_ntz", "ns"],
)
def test_load_table_declares_schema_for_every_ts_encoding(spark, tmp_path, ts_type):
    """``load_table`` reads events with a declared schema, so no Spark
    job runs, and every ts encoding reads as the same microsecond
    timestamps. A table holding a subset of the contract's columns
    reads just those columns."""
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    ts_us = [int(t0.timestamp()) * 10**6 + k * 1_234_567 for k in range(5)]
    per = 1000 if ts_type.unit == "ns" else 1
    pq.write_table(
        pa.table({
            "event_id": pa.array(range(5), pa.int64()),
            "ts": pa.array([u * per for u in ts_us], pa.int64()).cast(ts_type),
        }),
        str(tmp_path / "events.parquet"),
    )
    sc = spark.sparkContext
    group = f"load-table-{tmp_path.name}"
    sc.setJobGroup(group, "load_table")
    try:
        df = load_table(spark, str(tmp_path), "events")
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(jobs) == []
    assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] == [
        ("event_id", "bigint"), ("ts", "timestamp"),
    ]
    got = [r["us"] for r in df.select(F.unix_micros("ts").alias("us")).orderBy("us").collect()]
    assert got == ts_us


def test_load_table_infers_a_drifted_table(spark, tmp_path):
    """A footer whose types drift away from the contract reads with the
    schema parquet infers instead of failing the scan."""
    pq.write_table(
        pa.table({"r_regionkey": pa.array([1, 2], pa.int64()), "r_name": ["a", "b"]}),
        str(tmp_path / "region.parquet"),
    )
    df = load_table(spark, str(tmp_path), "region")
    assert df.schema["r_regionkey"].dataType.simpleString() == "bigint"
    assert sorted(r["r_regionkey"] for r in df.collect()) == [1, 2]


def test_zorder_layout_narrows_file_stats(spark, sf_dir, tmp_path):
    """Writing events sorted by the Morton key must make per-file
    (min, max) spans narrow in BOTH dimensions simultaneously — the
    property min/max data skipping prunes on. Quantified against the
    time-sorted layout: time-sort makes ts spans narrow but leaves
    every file spanning (almost) the full user range; z-sort must cut
    the mean per-file user span to a fraction of that while keeping a
    bounded ts span."""
    import glob as _glob

    import pyarrow.parquet as _pq

    from lab04_spark_streaming_spark.plans.timeseries import q_zorder_keys

    from pyspark.sql import functions as F

    # epoch-seconds column instead of the raw timestamp: Spark writes
    # timestamps as INT96 by default, which carries no parquet min/max
    # statistics to measure.
    zed = q_zorder_keys(spark, sf_dir).select(
        "event_id",
        "user_id",
        F.expr("unix_micros(ts) div 1000000").alias("tsec"),
        "zkey",
    )

    def spans(path):
        us, ts = [], []
        for f in _glob.glob(f"{path}/*.parquet"):
            md = _pq.read_metadata(f)
            umin, umax = None, None
            tmin, tmax = None, None
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    st = col.statistics
                    if st is None:
                        continue
                    if col.path_in_schema == "user_id":
                        umin = st.min if umin is None else min(umin, st.min)
                        umax = st.max if umax is None else max(umax, st.max)
                    if col.path_in_schema == "tsec":
                        tmin = st.min if tmin is None else min(tmin, st.min)
                        tmax = st.max if tmax is None else max(tmax, st.max)
            us.append(umax - umin)
            ts.append(tmax - tmin)
        return sum(us) / len(us), sum(ts) / len(ts)

    n_files = 16
    tpath = str(tmp_path / "by_time")
    zpath = str(tmp_path / "by_zkey")
    zed.repartitionByRange(n_files, "tsec").write.parquet(tpath)
    zed.repartitionByRange(n_files, "zkey").write.parquet(zpath)

    t_uspan, t_tspan = spans(tpath)
    z_uspan, z_tspan = spans(zpath)
    # Time layout: every file spans ~the whole user range.
    assert t_uspan > 10
    # Z layout: mean user span per file must shrink dramatically while
    # the ts span stays bounded (not the whole month in every file).
    assert z_uspan <= t_uspan / 2, (z_uspan, t_uspan)
    assert z_tspan < 31 * 86400


def test_jsonl_corrupt_record_quarantine(spark, tmp_path):
    """read_jsonl must parse good lines against the explicit schema and
    QUARANTINE corrupt ones with their raw text — never drop rows
    silently, never fail the scan (the dead-letter landing-zone
    contract)."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from lab04_spark_streaming_spark.sources.files import read_jsonl

    p = tmp_path / "feed.jsonl"
    p.write_text(
        "\n".join(
            [
                '{"id": 1, "sym": "BTC", "px": 67000.5}',
                '{"id": 2, "sym": "ETH", "px": 3500.25}',
                '{"id": 3, "sym": "SOL" "px": 150.0}',  # missing comma
                "not json at all",
                '{"id": 4, "sym": "ADA", "px": 0.5}',
            ]
        )
    )
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("sym", StringType()),
            StructField("px", DoubleType()),
        ]
    )
    good, bad = read_jsonl(spark, str(p), schema)
    got = {(r.id, r.sym, r.px) for r in good.collect()}
    assert got == {
        (1, "BTC", 67000.5),
        (2, "ETH", 3500.25),
        (4, "ADA", 0.5),
    }
    raw = {r.raw_line for r in bad.collect()}
    assert raw == {
        '{"id": 3, "sym": "SOL" "px": 150.0}',
        "not json at all",
    }
    assert good.columns == ["id", "sym", "px"]  # corrupt col dropped


def test_csv_reader_round_trip_with_ts_format(spark, tmp_path):
    """read_csv with an explicit schema + custom timestampFormat must
    round-trip typed rows exactly (no inference job, no type drift)."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from lab04_spark_streaming_spark.sources.files import read_csv

    p = tmp_path / "feed.csv"
    p.write_text(
        "id|ts|sym|px\n"
        "1|05/03/2024 14:30:00|BTC|67000.5\n"
        "2|05/03/2024 14:30:10|ETH|3500.25\n"
    )
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("ts", TimestampType()),
            StructField("sym", StringType()),
            StructField("px", DoubleType()),
        ]
    )
    df = read_csv(
        spark,
        str(p),
        schema,
        delimiter="|",
        ts_format="dd/MM/yyyy HH:mm:ss",
    )
    got = {(r.id, r.ts, r.sym, r.px) for r in df.collect()}
    import datetime as _dt

    assert got == {
        (1, _dt.datetime(2024, 3, 5, 14, 30, 0), "BTC", 67000.5),
        (2, _dt.datetime(2024, 3, 5, 14, 30, 10), "ETH", 3500.25),
    }


def test_compaction_small_files(spark, sf_dir, tmp_path):
    """64 tiny part files compact to the planned ceil(total/target)
    count with identical content — the per-directory maintenance unit
    for the small-files problem."""
    from lab04_spark_streaming_spark.sources.files import (
        compact_parquet,
        compaction_plan,
        load_table,
        parquet_file_stats,
    )

    src = str(tmp_path / "frag")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    li.repartition(64).write.parquet(src)
    stats = parquet_file_stats(spark, src)
    assert len(stats) == 64
    total = sum(b for _, b in stats)
    target = total // 3 + 1
    n_files, total_b, n_out = compaction_plan(spark, src, target)
    assert (n_files, total_b) == (64, total)
    assert n_out == 3

    out = str(tmp_path / "compact")
    assert compact_parquet(spark, src, out, target) == 3
    assert len(parquet_file_stats(spark, out)) == 3
    a = spark.read.parquet(src)
    b = spark.read.parquet(out)
    assert a.schema == b.schema
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_ivf_codebook_persistence_round_trip(spark, sf_dir, tmp_path):
    """The trained IVF codebook is a durable artifact: save the
    (cid, pos, c) relation to parquet, reload, serve — the served
    top-k must equal the in-memory pipeline exactly (everything is on
    the integer grid, so persistence is lossless by construction)."""
    from lab04_spark_streaming_spark.operators.similarity import (
        ivf_topk,
        kmeans_centroids,
    )
    from lab04_spark_streaming_spark.sources.files import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cent = kmeans_centroids(emb, k=8, updates=1)
    path = str(tmp_path / "ivf_codebook")
    cent.write.parquet(path)
    loaded = spark.read.parquet(path)

    direct = ivf_topk(emb, query_id=0, k=10, n_cells=8, n_probe=2,
                      centroids=cent).collect()
    served = ivf_topk(emb, query_id=0, k=10, n_cells=8, n_probe=2,
                      centroids=loaded).collect()
    assert [tuple(r) for r in direct] == [tuple(r) for r in served]


def test_cell_partitioned_index_prunes_probed_cells(spark, sf_dir, tmp_path):
    """The serving layout at scale: the assignment written partitioned
    BY CELL means a probe reads only the probed cells' directories —
    visible as PartitionFilters on the scan with all other cells
    pruned."""
    from lab04_spark_streaming_spark.operators.similarity import (
        ivf_assign,
        kmeans_centroids,
    )
    from lab04_spark_streaming_spark.sources.files import (
        load_table,
        write_partitioned,
    )
    from tests.test_plans import plan_of

    emb = load_table(spark, sf_dir, "embeddings")
    cent = kmeans_centroids(emb, k=8, updates=1)
    assign = ivf_assign(emb, n_cells=8, centroids=cent)
    path = str(tmp_path / "ivf_index")
    write_partitioned(assign, path, ["cell"])

    idx = spark.read.parquet(path)
    probe = idx.filter(F.col("cell").isin(2, 5))
    plan = plan_of(probe)
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters", 1)[1][:200]
    # only the two probed directories' rows are read
    expected = assign.filter(F.col("cell").isin(2, 5)).count()
    assert probe.count() == expected


def test_orc_round_trip_with_pushdown(spark, sf_dir, tmp_path):
    """ORC is the second built-in columnar landing format: write the
    events table as ORC partitioned by type, read it back with an
    explicit schema, and verify (a) exact row parity and (b) that a
    filter reaches the ORC scan as a pushed predicate."""
    from lab04_spark_streaming_spark.sources.files import (
        load_table,
        read_orc,
        write_orc,
    )

    ev = load_table(spark, sf_dir, "events")
    p = str(tmp_path / "events_orc")
    write_orc(ev, p, partition_by="event_type")
    back = read_orc(spark, p)
    assert back.count() == ev.count()
    a = {tuple(r) for r in ev.select("event_id", "user_id").collect()}
    b = {tuple(r) for r in back.select("event_id", "user_id").collect()}
    assert a == b

    import contextlib
    import io

    q = back.filter("user_id = 3").select("event_id")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters" in plan and "user_id" in plan.split("PushedFilters")[1][:200]
    # partition pruning on the partitionBy column
    q2 = back.filter("event_type = 'click'")
    buf2 = io.StringIO()
    with contextlib.redirect_stdout(buf2):
        q2.explain("formatted")
    assert "PartitionFilters" in buf2.getvalue()


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Landing zones evolve: files written before a column existed
    must read as NULL next to newer files, and the union schema must
    require mergeSchema (one more thing a 100 TB lake needs pinned:
    schema drift is a read-option decision, not a crash)."""
    p = str(tmp_path / "evolving")
    old = spark.createDataFrame(
        [(1, "a")], "id long, payload string"
    )
    old.write.parquet(p + "/batch=1")
    new = spark.createDataFrame(
        [(2, "b", 0.5)], "id long, payload string, quality double"
    )
    new.write.parquet(p + "/batch=2")

    merged = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(merged.columns) >= {"id", "payload", "quality"}
    rows = {r.id: r.quality for r in merged.collect()}
    assert rows[1] is None and rows[2] == 0.5
