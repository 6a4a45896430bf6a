from __future__ import annotations

import os
import sys
import time

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


# test file -> [wall s, Spark jobs], summed over its tests (fixtures included)
_FILE_COST: dict[str, list] = {}


def _jobs_so_far() -> int:
    """Jobs the running SparkContext has submitted, 0 before one starts.
    Reading the scheduler's job-id counter starts no session and touches
    no test's job group."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    return int(sc._jsc.sc().dagScheduler().numTotalJobs()) if sc is not None else 0


@pytest.hookimpl(hookwrapper=True)
def pytest_runtest_protocol(item, nextitem):
    t0, jobs0 = time.perf_counter(), _jobs_so_far()
    yield
    cost = _FILE_COST.setdefault(item.location[0], [0.0, 0])
    cost[0] += time.perf_counter() - t0
    cost[1] += max(0, _jobs_so_far() - jobs0)


def pytest_terminal_summary(terminalreporter):
    """Print the ten costliest test files (wall time and Spark jobs), and
    name the slow tier the default run leaves out, so it is never
    invisible in a summary."""
    top = sorted(_FILE_COST.items(), key=lambda kv: -kv[1][0])[:10]
    if top:
        terminalreporter.write_line("costliest test files (wall s, Spark jobs):")
        for path, (wall, jobs) in top:
            terminalreporter.write_line(f"{wall:9.1f} s {jobs:7d} jobs  {path}")
    slow = [
        item
        for item in terminalreporter.stats.get("deselected", [])
        if item.get_closest_marker("slow") is not None
    ]
    if slow:
        terminalreporter.write_line(
            f"{len(slow)} slow tests deselected; run them with: python -m pytest tests/ -m slow"
        )
