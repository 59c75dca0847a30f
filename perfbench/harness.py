"""Session lifecycle and tracing, all from outside the library.

The benchmark only calls the library's public functions. Tracing reads
Spark's own public reporting: job groups and the status tracker, a
local event log, and a ``StreamingQueryListener``. Spans stay in memory
and are written once, at the end of a traced run.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

# Work directory at the root of the checkout; everything the benchmark
# writes (inputs, checkpoints, Spark's local files, event logs) lands here.
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def prepare_env(cpus: int) -> None:
    """Point every temporary location of the JVM and of Python into
    WORK and cap the Spark JVM's heap at 2 GB instead of the library's
    8 GB, so that several benchmarks can share one machine's memory:
    the inputs are a few thousand rows, and the heap size changes no
    plan. Must run before the JVM starts."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "sparklocal")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    opts = os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", "")
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = f"{opts} -Djava.io.tmpdir={tmp}".strip()


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    return statistics.geometric_mean(xs) if xs else 0.0


class Session:
    """One Spark session of the benchmark. ``open`` is the set-up the
    ``setup_s`` metric times: ``session.get_spark`` plus one trivial
    warm-up query."""

    def __init__(self, app: str, master: str | None = None,
                 shuffle_partitions: int | None = None,
                 event_log: str | None = None):
        self.app = app
        self.master = master
        self.shuffle_partitions = shuffle_partitions
        self.event_log = event_log
        self.spark = None
        self.get_spark_s = 0.0

    def open(self):
        from lab04_spark_streaming_spark.session import get_spark

        # SparkSession.builder keeps options across sessions of one process, so
        # every session states whether it logs events.
        conf = {"spark.ui.showConsoleProgress": "false", "spark.eventLog.enabled": "false"}
        if self.event_log:
            os.makedirs(self.event_log, exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.event_log
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        kwargs = {"app_name": self.app, "master": self.master, "extra_conf": conf}
        if self.shuffle_partitions:
            kwargs["shuffle_partitions"] = self.shuffle_partitions
        t0 = time.perf_counter()
        self.spark = get_spark(**kwargs)
        self.get_spark_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1000).selectExpr("sum(id)").collect()

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def cpu_s() -> float:
    """CPU seconds (user + system, every thread) used so far by the
    program: the Spark JVM plus this Python process, which runs the
    library's plan building and foreachBatch callbacks. Unlike wall
    time, it does not grow when other processes take the machine's
    cores."""
    from pyspark import SparkContext

    pid = SparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    jvm = (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    return jvm + time.process_time()


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def cold_setup(make, imports_s: float):
    """Open ``make()``'s session in a fresh JVM (a running one is shut
    down first; its sessions must be closed). Returns the session and
    the set-up seconds: ``imports_s``, the process's own import time
    from its start, plus JVM launch, ``get_spark`` and the warm-up
    query."""
    stop_jvm()
    sess = make()
    t0 = time.perf_counter()
    sess.open()
    return sess, imports_s + time.perf_counter() - t0


class Tracer:
    """In-memory spans plus Spark job counting by job group.

    Untraced runs use :data:`NULL_TRACER`, whose methods do nothing, so
    the timed code is the same call sequence in both modes."""

    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, group: str | None = None):
        """Record a span; with ``group``, every Spark job started inside
        runs under that job group and the span records how many."""
        sc = self.spark.sparkContext
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter()}
        idx = len(self.spans)
        self.spans.append(rec)
        self._stack.append(idx)
        outer = sc.getLocalProperty("spark.jobGroup.id")
        if group:
            sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["seconds"] = rec["end"] - rec["start"]
            if group:
                rec["group"] = group
                rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
                if outer:
                    sc.setJobGroup(outer, "")
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
            self._stack.pop()

    def by_name(self, prefix: str) -> list[dict]:
        return [s for s in self.spans if s["name"].startswith(prefix)]


class _NullTracer:
    enabled = False

    @contextmanager
    def span(self, name, group=None):
        yield {}


NULL_TRACER = _NullTracer()


@contextmanager
def wrapped_load_table(tracer: Tracer):
    """Time every ``sources.files.load_table`` call made through the
    plan modules, each under its own job group, by rebinding the name
    in the modules that imported it. The library's files are
    untouched; the original binding comes back on exit."""
    import sys

    from lab04_spark_streaming_spark.sources import files

    orig = files.load_table
    counter = [0]

    def load_table(spark, sf_dir, name):
        counter[0] += 1
        with tracer.span(f"sources.load_table:{name}", group=f"load-{counter[0]}"):
            return orig(spark, sf_dir, name)

    patched = []
    for mod in list(sys.modules.values()):
        if (getattr(mod, "__name__", "").startswith("lab04_spark_streaming_spark")
                and getattr(mod, "load_table", None) is orig):
            mod.load_table = load_table
            patched.append(mod)
    try:
        yield
    finally:
        for mod in patched:
            mod.load_table = orig


class ProgressListener:
    """Collects every ``StreamingQueryProgress`` as a dict, by query
    name."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        store: dict[str, list[dict]] = {}

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                store.setdefault(p.get("name") or "", []).append(p)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.store = store
        self._listener = _L()
        self.spark = spark
        spark.streams.addListener(self._listener)

    def remove(self) -> None:
        self.spark.streams.removeListener(self._listener)


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group task metrics from a finished local event log:
    jobs, stages, tasks, executor CPU s, GC ms, shuffle read/write and
    spill MB. Jobs without a group land under ``""``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def acc(group):
        return out.setdefault(group, {
            "jobs": 0, "tasks": 0, "cpu_s": 0.0, "run_s": 0.0, "gc_ms": 0.0,
            "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
            "stages": set()})

    paths = [p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus"))]
    for path in sorted(paths):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    a = acc(group)
                    a["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    a = acc(stage_group.get(ev.get("Stage ID"), ""))
                    a["tasks"] += 1
                    a["stages"].add(ev.get("Stage ID"))
                    m = ev.get("Task Metrics") or {}
                    a["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    a["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    a["gc_ms"] += m.get("JVM GC Time", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    a["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                             + sr.get("Local Bytes Read", 0)) / 1e6
                    sw = m.get("Shuffle Write Metrics") or {}
                    a["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                    a["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                      + m.get("Disk Bytes Spilled", 0)) / 1e6
    for a in out.values():
        a["stages"] = len(a["stages"])
    return out


def count_log_lines(path: str, needle: str, start: int = 0) -> tuple[int, int]:
    """Lines containing ``needle`` in ``path`` from byte ``start``;
    returns (count, end offset)."""
    if not os.path.exists(path):
        return 0, start
    with open(path, "rb") as fh:
        fh.seek(start)
        data = fh.read()
    return data.count(needle.encode()), start + len(data)
