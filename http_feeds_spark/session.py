"""SparkSession factory tuned for the engine.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32); the
same configs are what we would ship to a 1000-executor cluster, with the
scale-dependent knobs (shuffle partitions, maxPartitionBytes) derived from
input size rather than hard-coded — see ``scaled_shuffle_partitions``.

Key posture for 100 TB:
- AQE on (runtime coalescing, skew-join splitting, dynamic broadcast).
- UTC session timezone (oracle comparability + sanity across clusters).
- Arrow transfers on (every Pandas-UDF path is Arrow-batched).
- shuffle partitions sized to cores locally; on a real cluster this is
  overridden per-job from input bytes (AQE coalesces the excess).
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "http-feeds-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    In local mode one JVM hosts all executor threads, so
    ``spark.driver.memory`` is the only memory knob; on a cluster the same
    builder is used with master/memory supplied by the deployment.
    """
    # make this package importable in Python workers even when the driver
    # process was started from another directory (UDF closures may still
    # reference module-level helpers)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{repo_root}{os.pathsep}{existing}" if existing else repo_root

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # local mode: all memory lives in the driver JVM
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        # driver testdata stores events.ts as TIMESTAMP(NANOS); Spark 4 has
        # no nanos timestamp type — read as long, convert on load (tables.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # pin the warehouse to the repo root, not the caller's CWD: the
        # ensure-once bench/index artifacts (text corpus, ANN/BM25
        # stores) must resolve to ONE location whatever directory the
        # driver/bench/test process launched from
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", os.path.join(repo_root, "spark-warehouse")
            ),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # python streaming sources + many short-lived UDF stages: give the
        # worker fork/connect-back path headroom under load (default 15s)
        .config("spark.python.authenticate.socketTimeout", "120s")
    )
    if master.startswith("local"):
        # one JVM: a "parallel" partition discovery runs the same Hadoop
        # listing on this JVM's executor threads, plus one task per path
        builder = builder.config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1)
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def job_tag(spark: SparkSession, tag: str):
    """Every Spark job this thread submits inside the block carries
    `tag`: the JVM's ``statusTracker().getJobIdsForTag(tag)`` lists it
    and its event-log ``spark.job.tags`` property names it, so one
    component's jobs stay attributable while components overlap in
    time. Adds no job."""
    sc = spark.sparkContext
    sc.addJobTag(tag)
    try:
        yield
    finally:
        sc.removeJobTag(tag)


def run_concurrently(spark: SparkSession, named_thunks: list) -> list:
    """Run each ``(name, thunk)`` of `named_thunks` on a thread of its
    own, under the job tag `name`, and wait for all of them. Every thunk
    runs to its end whatever the others do; the results come back in
    the order given; if any thunk raised, the first failure in that
    order is raised once all have finished. Each thread starts with the
    caller's Spark local properties (``inheritable_thread_target``), so
    the caller's job group, tags and description reach every thunk's
    jobs and ``cancelJobGroup`` still cancels them."""
    from pyspark import inheritable_thread_target

    results: list = [None] * len(named_thunks)
    errors: list = [None] * len(named_thunks)

    def body(i: int, name: str, thunk) -> None:
        try:
            with job_tag(spark, name):
                results[i] = thunk()
        except BaseException as e:  # re-raised below, in the caller
            errors[i] = e

    threads = [
        # one wrap per thread: each copies the caller's properties, so a
        # thread's own tag never reaches the others
        threading.Thread(
            target=inheritable_thread_target(spark)(body), args=(i, name, thunk), name=name
        )
        for i, (name, thunk) in enumerate(named_thunks)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for e in errors:
        if e is not None:
            raise e
    return results


def scaled_shuffle_partitions(input_bytes: int, target_partition_bytes: int = 128 * 1024 * 1024) -> int:
    """Scale-out rule: one ~128 MB shuffle partition per input chunk.

    At 100 TB this yields ~800k partitions pre-AQE; AQE coalesces after
    filters. Never fewer than the core count so local runs stay parallel.
    """
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    return max(cores, input_bytes // target_partition_bytes)
