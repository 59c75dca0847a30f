"""Session-factory guards (VERDICT r11 stretch (a) + advisor items).

The driver JVM also runs with one C2 compiler thread
(``-XX:CICompilerCount=2``); the same precedence rule applies to it.

The GCLocker-retry JVM flag fixed a real spurious-OOM class at the
100x/1000x scale tiers (JDK-8192647; see session.py) — these tests pin
it so a session.py refactor can't silently drop it, and pin the r11
advisor's two hardening rules: the flag must ride behind
IgnoreUnrecognizedVMOptions (it is REMOVED on JDK 22+ — JEP 423 region
pinning — where an unrecognized -XX option would otherwise kill the
driver launch), and a user-supplied SPARK_GRAFT_DRIVER_JAVA_OPTS must
APPEND to the guard, not replace it.
"""

from __future__ import annotations

from lab04_spark_streaming_spark import session as session_mod
from lab04_spark_streaming_spark.session import driver_java_options


def test_guard_present_by_default(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_JAVA_OPTS", raising=False)
    opts = driver_java_options()
    assert "-XX:GCLockerRetryAllocationCount=100" in opts
    assert "-XX:+UnlockDiagnosticVMOptions" in opts


def test_guard_tolerates_unrecognized_flag(monkeypatch):
    """IgnoreUnrecognizedVMOptions must come BEFORE the diagnostic
    flags so a JDK that removed them (22+) still launches."""
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_JAVA_OPTS", raising=False)
    opts = driver_java_options()
    assert opts.index("-XX:+IgnoreUnrecognizedVMOptions") < opts.index(
        "-XX:GCLockerRetryAllocationCount=100"
    )


def test_user_opts_append_not_replace(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_JAVA_OPTS", "-Xss4m")
    opts = driver_java_options()
    assert "-Xss4m" in opts
    assert "-XX:GCLockerRetryAllocationCount=100" in opts
    # user opts first, guard appended
    assert opts.index("-Xss4m") < opts.index("-XX:+IgnoreUnrecognizedVMOptions")


def test_user_gclocker_setting_wins(monkeypatch):
    """An explicit user GCLockerRetryAllocationCount suppresses the
    default so the JVM never sees the flag twice."""
    monkeypatch.setenv(
        "SPARK_GRAFT_DRIVER_JAVA_OPTS",
        "-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=7",
    )
    opts = driver_java_options()
    assert opts.count("GCLockerRetryAllocationCount") == 1
    assert "GCLockerRetryAllocationCount=7" in opts


def test_compiler_cap_present_by_default(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_JAVA_OPTS", raising=False)
    assert "-XX:CICompilerCount=2" in driver_java_options().split()


def test_user_compiler_count_wins(monkeypatch):
    """A user's own CICompilerCount replaces the cap and appears once;
    the GCLocker guard is still added."""
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_JAVA_OPTS", "-XX:CICompilerCount=4")
    opts = driver_java_options()
    assert opts.count("CICompilerCount") == 1
    assert "-XX:CICompilerCount=4" in opts.split()
    assert "-XX:GCLockerRetryAllocationCount=100" in opts


def test_similar_flag_name_keeps_cap(monkeypatch):
    """Only the flag itself counts as naming it, not an option whose
    name merely starts with it."""
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_JAVA_OPTS", "-XX:-CICompilerCountPerCPU")
    assert "-XX:CICompilerCount=2" in driver_java_options().split()


def test_driver_jvm_runs_with_library_flags(spark):
    """The driver JVM's own input arguments, read through py4j, carry
    every option driver_java_options() builds, the compiler cap
    included: ``spark.conf`` only shows what was asked for."""
    jvm = spark.sparkContext._jvm
    args = set(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
    assert "-XX:CICompilerCount=2" in args
    assert set(driver_java_options().split()) <= args


def test_live_session_carries_guard(spark):
    """The DRIVER JVM of the running test session was launched with the
    guard (stretch (a)): the conf survives into the live session, so a
    refactor that drops the .config() call fails here, not at the next
    1000x probe."""
    opts = spark.conf.get("spark.driver.extraJavaOptions")
    assert "GCLockerRetryAllocationCount" in opts


def test_builder_uses_driver_java_options(monkeypatch):
    """get_spark must route through driver_java_options (the guard
    composition lives there); a second getOrCreate() cannot change JVM
    flags, so assert at the source instead of launching a JVM."""
    import inspect

    src = inspect.getsource(session_mod.get_spark)
    assert "driver_java_options()" in src
