from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lab04_spark_streaming_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", SF_DIR)

# --- Slow tier ------------------------------------------------------------
# Tests marked ``@pytest.mark.slow`` (each >= 12 s on a quiet 4-core box:
# randomized cross-engine fuzz, brute-force equivalence checks over full
# fixtures, registry-wide plan audits, streaming micro-batch e2e runs)
# are skipped unless SPARK_GRAFT_FULL_TESTS=1, so the default run fits
# the verify window. The 280-query oracle-parity sweep and the bench
# smoke test stay in the default tier.


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: skipped unless SPARK_GRAFT_FULL_TESTS=1 (>= 12 s each)",
    )


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_FULL_TESTS") == "1":
        return
    skip = pytest.mark.skip(reason="slow tier — run with SPARK_GRAFT_FULL_TESTS=1")
    for item in items:
        if item.get_closest_marker("slow"):
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="lab04-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
