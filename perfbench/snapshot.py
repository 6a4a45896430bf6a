#!/usr/bin/env python3
"""Builds the platform snapshot that every platform-wave run restores.

    python3 perfbench/snapshot.py

``run.py`` runs this in a process of its own when the snapshot for the
current sources is missing, so the measured run's JVM state and peak
memory never include the build. The snapshot goes under
``perfbench/.work/cache``, keyed by a hash of ``http_feeds_spark/``.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import feeds  # noqa: E402
import procs  # noqa: E402
import run as bench  # noqa: E402
import workloads as wl  # noqa: E402


def main() -> int:
    nproc = len(os.sched_getaffinity(0))
    bench.pin_env(nproc)
    spark = bench.start_session("perfbench-snapshot")
    try:
        with feeds.FeedServer(wl.PLATFORM_PAGE, nproc) as server:
            wl.build_platform_snapshot(spark, bench.WORK, wl.snapshot_dir(bench.WORK, bench.source_sha()),
                                       server)
    finally:
        bench.stop_spark(spark)
    return 0


if __name__ == "__main__":
    procs.die_with_parent()
    with procs.owned_processes():
        sys.exit(main())
