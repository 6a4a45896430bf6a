#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload feed-ingest --seed 1 --seconds 10 --trace 0

Run from the root of the repository. Everything the run writes goes
under ``perfbench/.work`` (warehouse, Spark local dirs, caches, event
logs, results). The environment is pinned before Spark starts: local[n]
with n = the CPUs this process may use, a fixed driver heap, and a
private warehouse. Every process the run starts, directly or not (the
JVM, its Python workers, the feed server, the snapshot builder), has
ended when it exits, on every path out.

Standard output ends with one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics; with ``--trace 1`` the run is traced
(spans around the program's module functions, a streaming listener and
the Spark event log) and the metrics are the per-layer metrics. The line
before it, prefixed ``detail``, carries the workload's own named numbers,
the provenance (seed, source hash, cpus, loadavg, calib_s) and, for a
traced run, the end-to-end numbers measured under tracing.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import procs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DRIVER_MEMORY = "2g"
# A fixed young generation and the serial collector (one contiguous old
# generation, no adaptive region sizing) keep the JVM's peak RSS from
# following the collector's run-to-run choices; so does a cap on glibc's
# per-thread malloc arenas for native memory.
GC_OPTS = "-Xmn1g -XX:+UseSerialGC"

WORKLOADS = ("feed-ingest", "platform-wave")
COMPONENTS = [
    "ingest.run", "ingest.compact_now", "ingest.run_text_index", "ingest.run_dedup_index",
    "ingest.run_monitor", "ingest.run_erasure", "ingest.run_maintenance", "epochs.record_epoch",
]
QUERY_SPANS = ["query.platform_search"]


def pin_env(cpus: int) -> None:
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(WORK, "warehouse"),
        TMPDIR=os.path.join(WORK, "tmp"),
        MALLOC_ARENA_MAX="2",
    )


def source_sha() -> str:
    """Hash of the program's sources, for runs outside a git checkout."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "http_feeds_spark")
    for dirpath, dirnames, files in sorted(os.walk(pkg)):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(f.encode() + b"\0" + fh.read())
    return h.hexdigest()[:16]


def git_sha() -> str | None:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def start_session(app_name: str, extra_conf: dict | None = None):
    """A Spark session with the benchmark's JVM options; the caller has
    pinned the environment with ``pin_env``."""
    from http_feeds_spark.session import get_spark

    conf = {"spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData {GC_OPTS}",
            **(extra_conf or {})}
    spark = get_spark(app_name=app_name, extra_conf=conf)
    spark.range(1).count()
    return spark


def ensure_snapshot() -> tuple[str, float]:
    """The platform snapshot for these sources, built by ``snapshot.py``
    in a process of its own when it is missing, so the measured run's
    JVM and peak memory never include the build. Every workload makes
    sure of it, so the build falls in the first run in a checkout,
    whichever workload that is, and no later run pays for it. Returns
    (snapshot cache dir, build seconds)."""
    import workloads as wl

    cache = wl.snapshot_dir(WORK, source_sha())
    if os.path.isdir(cache):
        return cache, 0.0
    t0 = time.perf_counter()
    subprocess.run([sys.executable, os.path.join(HERE, "snapshot.py")], cwd=ROOT,
                   stdout=sys.stderr, check=True, timeout=800)
    return cache, time.perf_counter() - t0


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=None,
                    help="local[n] threads (default: every CPU this process may use)")
    args = ap.parse_args()

    nproc = len(os.sched_getaffinity(0))
    cpus = args.cpus or nproc
    pin_env(cpus)
    sys.path[:0] = [ROOT, HERE]
    from bench import _calibrate

    import feeds
    import tracing as trace
    import workloads as wl

    cache, build_s = ensure_snapshot()
    conf = {}
    if args.trace:
        log_dir = os.path.join(WORK, "eventlog")
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file://{log_dir}",
                     "spark.eventLog.rolling.enabled": "false", "spark.eventLog.compress": "false"})

    t0 = time.perf_counter()
    spark = start_session(f"perfbench-{args.workload}", conf)
    session_s = time.perf_counter() - t0

    spans = progress = None
    if args.trace:
        from http_feeds_spark import epochs, ingest

        spans = trace.Spans()
        for name in COMPONENTS:
            mod, attr = name.split(".")
            spans.wrap(epochs if mod == "epochs" else ingest, attr, name)
        progress = trace.ProgressLog()
        spark.streams.addListener(progress)

    run = wl.Run(spark, WORK, args.seed, args.seconds, spans)
    try:
        if args.workload == "feed-ingest":
            with feeds.FeedServer(wl.INGEST_PAGE, nproc) as server:
                out = wl.feed_ingest(run, server)
        else:
            with feeds.FeedServer(wl.PLATFORM_PAGE, nproc) as server:
                out = wl.platform_wave(run, server, cache)

        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss_parts = {"jvm_rss_mb": vm_hwm_mb(jvm_pid), "python_rss_mb": vm_hwm_mb(os.getpid())}
        rss_mb = sum(rss_parts.values())
        calib_s = _calibrate(spark)
        app_id = spark.sparkContext.applicationId
        if progress is not None:
            time.sleep(1.0)  # listener events are delivered asynchronously
            spark.streams.removeListener(progress)
    finally:
        if spans is not None:
            spans.unwrap_all()
        stop_spark(spark)

    e2e = {
        "setup_s": (session_s + statistics.median(run.setup_s), "s"),
        "throughput_per_s": (out["throughput_per_s"], "1/s"),
        "latency_p50_ms": (out["latency_p50_ms"], "ms"),
        "latency_tail_ms": (out["latency_tail_ms"], "ms"),
        "peak_rss_mb": (rss_mb, "MB"),
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": cpus, "git_sha": git_sha(), "source_sha": source_sha(),
        "loadavg": os.getloadavg(), "calib_s": calib_s, "session_s": session_s,
        "snapshot_build_s": build_s, "error_rate": run.failed / max(run.attempted, 1), **rss_parts,
        **out["detail"], "errors": run.errors[:20],
    }
    if args.trace:
        jobs = trace.read_event_log(os.path.join(WORK, "eventlog"), app_id)
        ops = [op for op in run.ops if op["kind"] != "live"]
        layers = trace.layer_metrics(ops, spans.spans, jobs, progress.batches,
                                     COMPONENTS + QUERY_SPANS)
        live = [op for op in run.ops if op["kind"] == "live"]
        layers["http_feed.longpoll_wait_ms"] = live[0]["live_wait_ms"] if live else 0.0
        metrics = {}
        for name, unit in per_layer_names():
            metrics[name] = {"value": layers.get(name, 0.0), "unit": unit}
        detail["traced_e2e"] = {k: v for k, (v, _) in e2e.items()}
        out_dir = os.path.join(WORK, "out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"detail": detail, "ops": run.ops, "spans": spans.tree(), "jobs": jobs,
                       "microbatches": progress.batches, "layers": layers}, f)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    print("detail " + json.dumps(detail, default=str))
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


def per_layer_names() -> list[tuple[str, str]]:
    """The per-layer metrics, in BENCHMARK.json's order, with units."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]


if __name__ == "__main__":
    with procs.owned_processes():
        sys.exit(main())
