from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from http_feeds_spark.session import get_spark

    # small fixtures: modest parallelism beats 32 threads of overhead
    s = get_spark(app_name="http-feeds-spark-tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_terminal_summary(terminalreporter):
    """Name the slow tier the default run leaves out, so it is never
    invisible in a summary."""
    slow = [
        item
        for item in terminalreporter.stats.get("deselected", [])
        if item.get_closest_marker("slow") is not None
    ]
    if slow:
        terminalreporter.write_line(
            f"{len(slow)} slow tests deselected; run them with: python -m pytest tests/ -m slow"
        )
