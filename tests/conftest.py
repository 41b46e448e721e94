"""Shared Spark session for the test suite (one JVM per pytest run)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ocr_platform_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # master and heap: get_spark's host-sized defaults (SPARK_GRAFT_CPUS /
    # SPARK_DRIVER_MEMORY override them)
    s = get_spark(
        app_name="ocr-platform-spark-tests",
        shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    yield s
    s.stop()


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
