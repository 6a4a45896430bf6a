"""Tracing from outside the program, for the benchmark's traced run.

- ``Spans`` times calls into module functions by replacing the module
  attribute with a wrapper; callers that look the function up on the
  module at call time (``run_platform`` does, for its components) are
  timed without any change to the program.
- ``ProgressLog`` is a ``StreamingQueryListener`` that keeps every
  micro-batch progress report.
- ``read_event_log`` parses a Spark event log into jobs with their
  submission and completion times, task time and shuffle bytes.
- ``layer_metrics`` attributes jobs to the span they were submitted in
  and reduces everything to per-operation numbers.

All times are epoch milliseconds, the clock Spark's event log uses.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener


def now_ms() -> float:
    return time.time() * 1e3


class Spans:
    """Span recorder for calls made on the calling thread."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def start(self, name: str) -> int:
        self.spans.append({"name": name, "start": now_ms(), "end": None,
                           "parent": self._stack[-1] if self._stack else None})
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def end(self, idx: int) -> None:
        self.spans[idx]["end"] = now_ms()
        self._stack.remove(idx)

    def wrap(self, module, attr: str, name: str) -> None:
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            idx = self.start(name)
            try:
                return fn(*a, **kw)
            finally:
                self.end(idx)

        setattr(module, attr, traced)
        self._patched.append((module, attr, fn))

    def unwrap_all(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    def tree(self) -> list[dict]:
        """Spans as nested dicts (children under ``children``)."""
        nodes = [dict(s, children=[]) for s in self.spans]
        roots = []
        for n in nodes:
            (nodes[n["parent"]]["children"] if n["parent"] is not None else roots).append(n)
        for n in nodes:
            del n["parent"]
        return roots


class ProgressLog(StreamingQueryListener):
    """Keeps each micro-batch's progress: trigger start, rows, durations."""

    def __init__(self):
        self.batches: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        ts = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp() * 1e3
        self.batches.append({"ts": ts, "rows": int(p.numInputRows), "batch": int(p.batchId),
                             "ms": {k: int(v) for k, v in (p.durationMs or {}).items()}})

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def read_event_log(log_dir: str, app_id: str) -> list[dict]:
    """Jobs from the event log of application ``app_id``: submission
    and completion ms, summed task run time and shuffle bytes written."""
    (path,) = glob.glob(os.path.join(log_dir, app_id + "*"))
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {"id": jid, "start": ev["Submission Time"], "end": None,
                             "task_ms": 0, "shuffle_bytes": 0}
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"]))
                m = ev.get("Task Metrics") or {}
                if job is not None:
                    job["task_ms"] += m.get("Executor Run Time", 0)
                    job["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
    return [j for j in jobs.values() if j["end"] is not None]


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def span_cost(spans: list[dict], jobs: list[dict]) -> dict:
    """Wall, job and driver-only cost of a set of spans (one component
    within one operation). A job belongs to a span when it was submitted
    inside it; driver-only time is the span's wall minus the union of
    its jobs' intervals, clipped to the span."""
    wall = jobs_n = task_ms = shuffle = driver_ms = 0.0
    for s in spans:
        mine = [j for j in jobs if s["start"] <= j["start"] <= s["end"]]
        covered = _union_ms([(j["start"], min(j["end"], s["end"])) for j in mine])
        span_ms = s["end"] - s["start"]
        wall += span_ms
        jobs_n += len(mine)
        task_ms += sum(j["task_ms"] for j in mine)
        shuffle += sum(j["shuffle_bytes"] for j in mine)
        driver_ms += max(0.0, span_ms - covered)
    return {"s": wall / 1e3, "jobs": jobs_n, "task_s": task_ms / 1e3,
            "shuffle_bytes": shuffle, "driver_only_s": driver_ms / 1e3}


def median_or_zero(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def stream_metrics(batches: list[dict]) -> dict:
    """Micro-batch numbers for one operation."""
    ms = lambda k: sum(b["ms"].get(k, 0) for b in batches)  # noqa: E731
    return {
        "stream.microbatches": len(batches),
        "stream.rows_per_batch": (sum(b["rows"] for b in batches) / len(batches)) if batches else 0.0,
        "stream.latest_offset_ms": ms("latestOffset"),
        "stream.add_batch_ms": ms("addBatch"),
        "stream.wal_commit_ms": ms("walCommit"),
        "stream.trigger_ms_p50": median_or_zero([b["ms"].get("triggerExecution", 0) for b in batches]),
    }


def http_metrics(stats: dict) -> dict:
    """Feed-server counters for one operation (reset before it)."""
    req = stats["requests"]
    return {
        "http_feed.requests": req,
        "http_feed.walks_from_start": stats["walks_from_start"],
        "http_feed.serve_amplification": (stats["events_served"] / stats["distinct_served"])
        if stats["distinct_served"] else 0.0,
        "http_feed.bytes_out": stats["bytes_out"],
        "http_feed.empty_ratio": stats["empty"] / req if req else 0.0,
        "http_feed.server_ms": stats["server_ms"],
    }


def layer_metrics(ops: list[dict], spans: list[dict], jobs: list[dict], batches: list[dict],
                  components: list[str]) -> dict:
    """Per-layer metrics as medians over the timed operations. Each op
    is ``{"start", "end", "calls", "http": stats or None}``; spans, jobs and
    micro-batches are attributed to the op whose interval holds them."""
    per_op: list[dict] = []
    for op in ops:
        inside = lambda t: op["start"] <= t <= op["end"]  # noqa: E731
        m: dict = {}
        op_spans = [s for s in spans if inside(s["start"])]
        for comp in components:
            cost = span_cost([s for s in op_spans if s["name"] == comp], jobs)
            for k, v in cost.items():
                m[f"{comp}.{k}"] = v
        m.update(stream_metrics([b for b in batches if inside(b["ts"])]))
        m["ingest.calls_to_head"] = op["calls"]
        if op.get("http") is not None:
            m.update(http_metrics(op["http"]))
        per_op.append(m)
    keys = sorted({k for m in per_op for k in m})
    return {k: median_or_zero([m[k] for m in per_op if k in m]) for k in keys}
