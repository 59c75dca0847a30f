"""The traced run (``--trace 1``): per-layer metrics.

One process, one JVM, set up cold as ``--trace 0`` does. The workload
first runs untraced, as the base of the tracing overhead (and the JVM's
warm-up), then in a new session with tracing on: a local Spark event
log (stage metrics per job group), job groups plus the status tracker
around every query-building call, ``load_table`` call and action, and a
``StreamingQueryListener`` for per-batch phases and state; then on
``local[1]``, as the single-threaded baseline. To fit the run's time,
the batch traces one pass, and the untraced and traced streams run
stage 2 over three files and stage 3 over three, after one micro-batch
of warm-up per stage (two of stage 2 in the cold JVM). Spans and raw
progress are written to ``.perfbench_work/trace-<workload>.json``.

Tracing overhead is the traced end-to-end metrics minus the untraced
ones, as a percentage of the untraced ones. The traced side runs in the
warmer JVM, so the overhead reads low; on the batch, both sides are
second or later passes. ``wall.*`` are the end-to-end figures of the
traced run on the wall clock, and ``local1.*`` the single-threaded
baseline's, also on the wall clock.
"""

from __future__ import annotations

import functools
import json
import os
import shutil

import harness
import measure
from batch_ticks import QUERIES
from harness import WORK, median
from inputs import FIRST_LATE_FILE
from stream_btc import S2_WARMUP, S3_WARMUP

# Which end-to-end metrics each layer metric should move, and on which
# workloads; the longest matching prefix applies. local1.* and trace.*
# describe the run itself and move nothing.
LAYER_TARGETS = {
    "session.": (["setup_s"], ["stream_btc", "batch_ticks"]),
    "sources.": (["query_cpu_s_geomean"], ["batch_ticks"]),
    "plans.": (["pass_cpu_s", "query_cpu_s_geomean"], ["batch_ticks"]),
    "plans.build_s.stage": (["setup_s"], ["stream_btc"]),
    "exec.": (["pass_cpu_s"], ["batch_ticks"]),
    "exec.action_s.moving_stats_flat": (["s2_batch_cpu_ms_p50"], ["batch_ticks", "stream_btc"]),
    "exec.action_s.zscore_asof_join": (["s3_batch_cpu_ms_p50"], ["batch_ticks"]),
    "s2.": (["s2_batch_cpu_ms_p50", "ticks_per_cpu_s"], ["stream_btc"]),
    "s3.": (["s3_batch_cpu_ms_p50", "ticks_per_cpu_s"], ["stream_btc"]),
    "wall.": ([], []),
    "local1.": ([], []),
    "trace.": ([], []),
}
# Set-up is timed once per run, so it has no overhead figure.
OVERHEAD = tuple(measure.CPU_NAMES.values())
STAGES = [*QUERIES, "stage2", "stage3"]
EXEC_KEYS = ("jobs", "tasks", "cpu_s", "gc_ms", "shuffle_read_mb",
             "shuffle_write_mb", "spill_mb")
LOCAL1_KEYS = ("pass_s", "query_s_geomean", "s2_batch_ms_p50", "s3_batch_ms_p50")
FALLBACK = "Failed to compile"


def metric_units() -> dict[str, str]:
    """Every per-layer metric with its unit."""
    u = {"session.get_spark_s": "s", "session.cold_setup_s": "s",
         "sources.load_table_s": "s", "sources.load_table_jobs": "count",
         "sources.load_table_calls": "count",
         "plans.build_s": "s", "plans.jobs_at_build": "count",
         "exec.action_s": "s", "exec.jobs": "count", "exec.tasks": "count",
         "exec.cpu_s": "s", "exec.gc_ms": "ms", "exec.shuffle_read_mb": "MB",
         "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB"}
    for q in STAGES:
        u[f"plans.build_s.{q}"] = "s"
        u[f"plans.jobs_at_build.{q}"] = "count"
    for q in QUERIES:
        u[f"exec.action_s.{q}"] = "s"
    for s in ("s2", "s3"):
        for phase in ("planning", "add_batch", "source", "log", "state_commit"):
            u[f"{s}.{phase}_ms_p50"] = "ms"
        u[f"{s}.tasks_per_batch"] = "count"
        u[f"{s}.state_rows"] = "count"
        u[f"{s}.state_mb"] = "MB"
        u[f"{s}.rows_dropped_by_watermark"] = "count"
    u.update({"s2.input_rows_per_tick": "ratio", "s2.codegen_fallbacks": "count",
              "s2.sink_files_per_batch": "count", "s2.rows_out_per_tick": "ratio",
              "s3.match_ratio": "ratio"})
    for k in measure.CPU_NAMES:
        u[f"wall.{k}"] = "1/s" if k == "ticks_per_s" else "ms" if k.endswith("_ms_p50") else "s"
    for k in LOCAL1_KEYS:
        u[f"local1.{k}"] = u[f"wall.{k}"]
    u["local1.slowdown"] = "ratio"
    for k in OVERHEAD:
        u[f"trace.overhead_pct.{k}"] = "%"
    return u


def _short_stream(args, sess, out, tracer=harness.NULL_TRACER, warm=False):
    """Stage 2 over the feed's first three files, so that late ticks
    reach it, and stage 3 over three. In a ``warm`` JVM one micro-batch
    of warm-up is enough."""
    s2_warmup = 1 if warm else S2_WARMUP
    return measure.run_stream(args, sess, tracer, out, seconds=0,
                              min_files=max(s2_warmup + 1, FIRST_LATE_FILE + 1),
                              s2_warmup=s2_warmup, s3_min_files=S3_WARMUP + 2)


def _baseline(args, cpus: int, out) -> dict:
    """The workload untraced on local[1], in this JVM: its code caches
    are warm, so the batch runs one pass and the stream warms up with
    one micro-batch and reads two files."""
    sess = _session(args, cpus, master="local[1]")
    sess.open()
    try:
        if args.workload == "stream_btc":
            return measure.stream_figures(measure.run_stream(
                args, sess, harness.NULL_TRACER, out, seconds=0, min_files=2, s2_warmup=1,
                s3_min_files=S3_WARMUP + 2))
        passes = measure.run_batch(args, sess, harness.NULL_TRACER, out, passes=1)
        return measure.batch_figures(passes[0], args.events_rows)
    finally:
        sess.close()


def _session(args, cpus: int, **kwargs):
    if args.workload == "stream_btc":
        return measure.stream_session(cpus, **kwargs)
    return harness.Session("perfbench-batch", **kwargs)


def _phases(progress: list[dict], warmup: int, m: dict, s: str) -> None:
    from stream_btc import StreamRun

    steady = StreamRun.steady(progress, warmup)

    def p50(*keys):
        return median([sum(p["durationMs"].get(k, 0) for k in keys) for p in steady])

    m[f"{s}.planning_ms_p50"] = p50("queryPlanning")
    m[f"{s}.add_batch_ms_p50"] = p50("addBatch")
    m[f"{s}.source_ms_p50"] = p50("latestOffset", "getBatch")
    m[f"{s}.log_ms_p50"] = p50("walCommit", "commitOffsets")
    m[f"{s}.state_commit_ms_p50"] = median(
        [sum(op.get("commitTimeMs", 0) for op in p["stateOperators"]) for p in steady])
    last = progress[-1]["stateOperators"] if progress else []
    m[f"{s}.state_rows"] = sum(op.get("numRowsTotal", 0) for op in last)
    m[f"{s}.state_mb"] = sum(op.get("memoryUsedBytes", 0) for op in last) / 1e6
    m[f"{s}.rows_dropped_by_watermark"] = sum(
        op.get("numRowsDroppedByWatermark", 0) for p in progress for op in p["stateOperators"])


def _stream_layers(sr, m: dict, log_path: str, log_start: int) -> None:
    import glob

    for s, progress, warmup in (("s2", sr.s2_progress, sr.s2_warmup),
                                ("s3", sr.s3_progress, sr.s3_warmup)):
        _phases(progress, warmup, m, s)
    ticks2 = sr.feed.ticks_in(sr.files_s2)
    m["s2.input_rows_per_tick"] = sum(p["numInputRows"] for p in sr.s2_progress) / ticks2
    fallbacks, _ = harness.count_log_lines(log_path, FALLBACK, log_start)
    m["s2.codegen_fallbacks"] = fallbacks / max(1, len(sr.s2_progress))
    parts = glob.glob(os.path.join(sr.dirs["stats"], "batch_id=*", "*.parquet"))
    m["s2.sink_files_per_batch"] = len(parts) / max(1, len(sr.s2_progress))
    stats_rows = sr.spark.read.parquet(sr.dirs["stats"]).count()
    m["s2.rows_out_per_tick"] = stats_rows / ticks2
    m["s3.match_ratio"] = sr.details["s3_rows"] / sr.feed.ticks_in(sr.files_s3)


def run(args, cpus: int, out, imports_s: float) -> dict:
    m = {k: 0.0 for k in metric_units()}
    stream = args.workload == "stream_btc"
    sess, setup_s = harness.cold_setup(functools.partial(_session, args, cpus), imports_s)
    m["session.get_spark_s"] = sess.get_spark_s
    m["session.cold_setup_s"] = setup_s
    try:
        if stream:
            untraced = measure.stream_figures(_short_stream(args, sess, out))
        else:
            # The traced pass runs in a warm JVM, so the base of its
            # overhead is an untraced pass after a warm-up one.
            passes = measure.run_batch(args, sess, harness.NULL_TRACER, out, passes=2)
            untraced = measure.batch_figures(passes[1], args.events_rows)
    finally:
        sess.close()

    elog = os.path.join(WORK, f"eventlog-{args.workload}-{os.getpid()}")
    sess = _session(args, cpus, event_log=elog)
    sess.open()
    tracer = harness.Tracer(sess.spark)
    progress = {}
    try:
        if stream:
            listener = harness.ProgressListener(sess.spark)
            _, log_start = harness.count_log_lines(args.jvm_log, FALLBACK)
            sr = _short_stream(args, sess, out, tracer, warm=True)
            listener.remove()
            progress = listener.store
            traced = measure.stream_figures(sr)
            # Reads the sink while the session is still open.
            _stream_layers(sr, m, args.jvm_log, log_start)
        else:
            passes = measure.run_batch(args, sess, tracer, out, passes=1)
            traced = measure.batch_figures(passes[0], args.events_rows)
            for s in tracer.by_name("exec.action:"):
                m[f"exec.action_s.{s['name'].split(':', 1)[1]}"] = s["seconds"]
    finally:
        sess.close()
    groups = harness.read_event_log(elog)
    shutil.rmtree(elog, ignore_errors=True)

    for q in STAGES:
        spans = tracer.by_name(f"plans.build:{q}")
        m[f"plans.build_s.{q}"] = sum(s["seconds"] for s in spans)
        m[f"plans.jobs_at_build.{q}"] = sum(s["jobs"] for s in spans)
    builds = tracer.by_name("plans.build:")
    m["plans.build_s"] = sum(s["seconds"] for s in builds)
    m["plans.jobs_at_build"] = sum(s["jobs"] for s in builds)
    loads = tracer.by_name("sources.load_table:")
    m["sources.load_table_s"] = sum(s["seconds"] for s in loads)
    m["sources.load_table_jobs"] = sum(s["jobs"] for s in loads)
    m["sources.load_table_calls"] = len(loads)
    if stream:
        # A stream query's micro-batches run under its run id as job group.
        exec_groups = []
        m["exec.action_s"] = sum(s["seconds"] for s in tracer.by_name("stream.stage"))
        for st, prog in (("s2", sr.s2_progress), ("s3", sr.s3_progress)):
            run_ids = {p["runId"] for p in prog}
            mine = [g for name, g in groups.items() if name in run_ids]
            exec_groups += mine
            m[f"{st}.tasks_per_batch"] = sum(g["tasks"] for g in mine) / max(1, len(prog))
    else:
        exec_groups = [g for name, g in groups.items() if name.startswith("exec-")]
        m["exec.action_s"] = sum(s["seconds"] for s in tracer.by_name("exec.action:"))
    for k in EXEC_KEYS:
        m[f"exec.{k}"] = sum(g[k] for g in exec_groups)

    base = _baseline(args, cpus, out)["wall"]
    for k in measure.CPU_NAMES:
        m[f"wall.{k}"] = traced["wall"][k]
    for k in LOCAL1_KEYS:
        m[f"local1.{k}"] = base[k]
    m["local1.slowdown"] = m["local1.pass_s"] / traced["wall"]["pass_s"]
    for k, name in measure.CPU_NAMES.items():
        m[f"trace.overhead_pct.{name}"] = (
            100.0 * (traced["cpu"][k] - untraced["cpu"][k]) / untraced["cpu"][k])

    with open(os.path.join(WORK, f"trace-{args.workload}.json"), "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "untraced_end_to_end": untraced, "traced_end_to_end": traced,
                   "per_layer": m,
                   "layer_targets": LAYER_TARGETS, "spans": tracer.spans,
                   "event_log_groups": groups, "progress": progress}, fh, indent=1)
    units = metric_units()
    return {k: {"value": float(v), "unit": units[k]} for k, v in m.items()}
