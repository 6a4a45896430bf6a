"""The workloads. Each takes a ``Run`` (session, seed, time budget,
optional tracer) and returns its end-to-end numbers; every operation is
checked, and a failed check counts against ``error_rate`` without
stopping the run.

An operation follows the feed to its head: a catch-up or a wave repeats
its ``ingest`` call until the landed count equals the feed head, and the
number of calls it took is reported with it. A program that drains a
many-page backlog in one call needs fewer calls and shows a higher
throughput.

Sizes are constants here so that the parent and the change measure the
same work; README.md explains why each workload exists.
"""

from __future__ import annotations

import glob
import json
import os
import random
import shutil
import statistics
import time
from datetime import timezone

import pyarrow.parquet as pq

import feeds
from feed_server import make_id, seq_of

# feed-ingest: an aggregate feed whose backlog spans many pages
INGEST_PAGE = 250
INGEST_BACKLOG = 500
INGEST_SUBJECTS = 400
DELETE_SHARE = 0.05
# events/s, open loop: well below what one 250-event page per trigger
# sustains, so freshness measures the tail path rather than a growing queue
LIVE_RATE = 100
LONGPOLL_MS = 1000
LIVE_DRAIN_S = 20.0

# platform-wave: a small bootstrapped platform and one mixed wave
PLATFORM_PAGE = 40
PLATFORM_BASE_DOCS = 120
DOC_WORDS = 80
WAVE_NEW, WAVE_UPDATES, WAVE_DELETES = 28, 8, 4
SEARCH_TERMS = ["window", "filter", "merge", "rollup"]


class Run:
    """One benchmark run: the session, its inputs and its tallies."""

    def __init__(self, spark, work: str, seed: int, seconds: float, spans):
        self.spark, self.work, self.seed, self.seconds = spark, work, seed, seconds
        self.spans = spans
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.ops: list[dict] = []  # timed operations, for the traced run
        self.setup_s: list[float] = []  # per-iteration set-up times

    def check(self, label: str, ok: bool, why: str = "", n: int = 1, bad: int | None = None) -> bool:
        """Count ``n`` attempted operations, ``bad`` (default: all when
        not ok) of them failed."""
        self.attempted += n
        bad = (0 if ok else n) if bad is None else bad
        self.failed += bad
        if bad:
            self.errors.append(f"{label}: {why}"[:500])
        return not bad

    def span(self, name: str):
        return self.spans.start(name) if self.spans else None

    def end(self, idx) -> None:
        if idx is not None:
            self.spans.end(idx)


def local_path(p: str) -> str:
    return p[len("file:"):] if p.startswith("file:") else p


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


def read_column(path: str, columns: list[str]) -> dict[str, list]:
    if not glob.glob(os.path.join(path, "*.parquet")):
        return {c: [] for c in columns}
    t = pq.read_table(path, columns=columns)
    return {c: t.column(c).to_pylist() for c in columns}


def sink_commits(raw: str) -> list[tuple[float, str]]:
    """(commit epoch ms, data file) for every file the parquet sink's
    ``_spark_metadata`` log added, in batch order. A ``.compact`` entry
    repeats earlier batches' files; only files new in a batch get its
    commit time, the log file's modification time."""
    log_dir = os.path.join(raw, "_spark_metadata")
    batches = []
    for name in os.listdir(log_dir) if os.path.isdir(log_dir) else []:
        stem = name.split(".", 1)[0]
        if stem.isdigit() and not name.endswith(".tmp"):
            batches.append((int(stem), name))
    seen: set[str] = set()
    out = []
    for _, name in sorted(batches):
        path = os.path.join(log_dir, name)
        commit_ms = os.stat(path).st_mtime_ns / 1e6
        with open(path) as f:
            lines = f.read().splitlines()[1:]  # first line is the log version
        for line in lines:
            entry = json.loads(line)
            f_path = local_path(entry["path"])
            if entry.get("action", "add") == "add" and f_path not in seen:
                seen.add(f_path)
                out.append((commit_ms, f_path))
    return out


# ---------------------------------------------------------------- feed-ingest


def feed_ingest(run: Run, server: feeds.FeedServer) -> dict:
    from http_feeds_spark import ingest

    spark = run.spark
    backlog = feeds.aggregate_feed(run.seed, INGEST_BACKLOG, INGEST_SUBJECTS, DELETE_SHARE)
    want_ids = {make_id(i) for i in range(1, len(backlog) + 1)}
    want_model = feeds.compact(backlog)

    # the live tail runs first: it leaves the JVM warm, so the catch-up
    # measures the connector and sink rather than class loading and JIT
    fresh = live_tail(run, server)
    max_calls = -(-INGEST_BACKLOG // INGEST_PAGE) + 2
    rates, calls, catchup_s = [], [], 0.0
    while not calls or catchup_s < run.seconds / 2:
        t0 = time.perf_counter()
        root = fresh_dir(os.path.join(run.work, "landing", "catchup"))
        server.load(backlog)
        server.reset()
        run.setup_s.append(time.perf_counter() - t0)

        op = {"kind": "catch-up", "start": _ms(), "calls": 0}
        t0 = time.perf_counter()
        err = None
        try:
            while op["calls"] < max_calls:
                op["calls"] += 1
                s = ingest.run(spark, server.url, root, catch_up=True, compact=True)
                if s["raw_rows"] >= len(backlog):
                    break
        except Exception as e:  # a failed call is a failed operation, not a crash
            err = repr(e)
        wall = time.perf_counter() - t0
        op["end"] = _ms()
        catchup_s += wall
        calls.append(op["calls"])
        op["http"] = server.stats()
        run.ops.append(op)
        if err:
            run.check("catch-up", False, err)
            continue
        landed = set(read_column(os.path.join(root, "raw"), ["id"])["id"])
        compacted = read_column(os.path.join(root, "compacted"), ["subject", "id"])
        model = {s: seq_of(i) for s, i in zip(compacted["subject"], compacted["id"])}
        rates.append(len(landed & want_ids) / wall)
        run.check("catch-up", landed == want_ids and model == want_model,
                  f"landed {len(landed)}/{len(want_ids)} ids in {op['calls']} calls; read model "
                  f"{'matches' if model == want_model else f'differs ({len(model)} vs {len(want_model)} subjects)'}")

    return {"throughput_per_s": statistics.median(rates) if rates else 0.0,
            "latency_p50_ms": fresh["p50"], "latency_tail_ms": fresh["p95"],
            "detail": {"catchup_events_per_s": statistics.median(rates) if rates else 0.0,
                       "catchups": len(calls), "calls_to_head": calls,
                       "freshness_p50_ms": fresh["p50"], "freshness_p95_ms": fresh["p95"],
                       **fresh["extra"]}}


def _ms() -> float:
    return time.time() * 1e3


def live_tail(run: Run, server: feeds.FeedServer) -> dict:
    """A live subscription on an empty feed while the server appends
    LIVE_RATE events/s for the run's seconds; freshness is the time from
    each event's ``time`` stamp to the sink commit that made it visible.
    A micro-batch commits up to a second of events at once, so the
    percentiles need many batches: the live phase gets the whole run time.
    The subscription's first micro-batch runs cold and holds several
    times the events of the others, so one second of events before the
    measured ones takes it past that batch; they must land, but their
    freshness is not counted."""
    from http_feeds_spark import ingest

    n_warm, n_live = LIVE_RATE, int(LIVE_RATE * run.seconds)
    events = feeds.aggregate_feed(run.seed + 1, n_warm + n_live, INGEST_SUBJECTS, DELETE_SHARE)
    root = fresh_dir(os.path.join(run.work, "landing", "live"))
    raw = os.path.join(root, "raw")
    server.load([])
    server.reset()
    op = {"kind": "live", "start": _ms()}
    q = ingest.run(run.spark, server.url, root, catch_up=False, timeout_ms=LONGPOLL_MS)
    try:
        deadline = time.monotonic() + 60
        while server.stats()["requests"] == 0 and time.monotonic() < deadline:
            time.sleep(0.05)
        for part, landed in ((events[:n_warm], n_warm), (events[n_warm:], len(events))):
            server.generate(part, LIVE_RATE)
            while server.stats()["generating"]:
                time.sleep(0.1)
            deadline = time.monotonic() + LIVE_DRAIN_S
            while time.monotonic() < deadline:
                if sum(pq.read_metadata(f).num_rows for _, f in sink_commits(raw)) >= landed:
                    break
                time.sleep(0.2)
    finally:
        q.stop()
    op["end"] = _ms()
    stats = server.stats()
    answered = [r["wait_ms"] for r in server.log() if r["events"] > 0]
    op["live_wait_ms"] = statistics.mean(answered) if answered else 0.0
    run.ops.append(op)

    fresh_ms, seen = [], set()
    for commit_ms, f in sink_commits(raw):
        t = pq.read_table(f, columns=["id", "time"])
        for eid, stamp in zip(t.column("id").to_pylist(), t.column("time").to_pylist()):
            if eid in seen:
                continue
            seen.add(eid)
            if seq_of(eid) <= n_warm:
                continue
            stamp_ms = stamp.replace(tzinfo=timezone.utc).timestamp() * 1e3
            fresh_ms.append(commit_ms - stamp_ms)
    want = {make_id(i) for i in range(1, len(events) + 1)}
    missing = len(want - seen)
    run.check("live events", missing == 0, f"{missing} of {len(events)} live events not landed "
              f"within {LIVE_DRAIN_S}s of the last append", n=len(events), bad=missing)
    fresh_ms.sort()
    pct = lambda p: fresh_ms[min(len(fresh_ms) - 1, int(p * len(fresh_ms)))] if fresh_ms else 0.0  # noqa: E731
    lateness = stats["lateness_ms"]
    # p95, not p99: a batch commits about 50 events at once, so the top
    # 1% is the oldest part of the single slowest batch and swings with it
    return {"p50": pct(0.50), "p95": pct(0.95), "extra": {
        "live_events": n_live, "warmup_events": n_warm, "live_rate_per_s": LIVE_RATE,
        "generator_lateness_p99_ms": lateness[int(0.99 * (len(lateness) - 1))] if lateness else 0.0,
        "longpoll_wait_ms_mean": op["live_wait_ms"]}}


# -------------------------------------------------------------- platform-wave


def _texts(spark, blocks: list[tuple[int, int]]) -> dict[int, str]:
    """synth_text_docs' text for each (start, count) block of doc ids, in
    one Spark job."""
    from functools import reduce

    from bench import synth_text_docs

    frames = [synth_text_docs(spark, n, n_words=DOC_WORDS, start=lo) for lo, n in blocks]
    return {r.doc_id: r.text for r in reduce(lambda a, b: a.union(b), frames).collect()}


def snapshot_dir(work: str, source_sha: str) -> str:
    """Where the platform snapshot for this program's sources lives. The
    key holds the source hash, so two versions of the program sharing a
    checkout never restore each other's stores."""
    return os.path.join(work, "cache", f"platform-{PLATFORM_BASE_DOCS}x{DOC_WORDS}"
                        f"-p{PLATFORM_PAGE}-{source_sha}")


def at_head(s: dict, feed_len: int, docs: int, deleted: int) -> bool:
    """Whether a run_platform summary shows every store at the feed head:
    ``docs`` distinct documents in the feed, ``deleted`` of them
    tombstoned. The index counts are taken before erasure runs, so they
    still include the documents the same call erases."""
    return (s["landing"]["raw_rows"] == feed_len
            and s["text_index"]["indexed_docs"] == s["dedup_index"]["indexed_docs"] == docs
            and s["erasure"]["erase_ids"] == deleted)


def build_platform_snapshot(spark, work: str, cache: str, server: feeds.FeedServer) -> None:
    """The bootstrapped platform every wave starts from: PLATFORM_BASE_DOCS
    documents followed to the feed head by repeated run_platform calls,
    saved with the feed it followed under ``cache``. Seed-independent."""
    from http_feeds_spark import ingest

    root = os.path.join(work, "platform")
    text = _texts(spark, [(0, PLATFORM_BASE_DOCS)])
    events = [feeds.doc_event(i, text[i]) for i in range(PLATFORM_BASE_DOCS)]
    fresh_dir(root)
    server.load(events)
    for _ in range(len(events) // PLATFORM_PAGE + 3):
        s = ingest.run_platform(spark, server.url, root)
        if at_head(s, len(events), len(events), 0) and s["monitor"]["n_docs"] == len(events):
            break
    else:
        raise RuntimeError(f"platform bootstrap did not reach the feed head: {s}")
    tmp = cache + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.copytree(root, os.path.join(tmp, "snapshot"))
    with open(os.path.join(tmp, "events.json"), "w") as f:
        json.dump(events, f)
    shutil.rmtree(cache, ignore_errors=True)
    os.rename(tmp, cache)


def wave_events(spark, seed: int) -> tuple[list[dict], set[int], set[int]]:
    """One wave: new documents, new versions of existing ones and DELETE
    tombstones. The seed picks the documents and their text; the order of
    kinds is the same in every wave, so every page of every wave holds
    the same mix. Returns (events, new ids, deleted ids)."""
    rnd = random.Random(seed)
    new_ids = [1_000_000 + seed % 100_000 * 1000 + i for i in range(WAVE_NEW)]
    existing = rnd.sample(range(PLATFORM_BASE_DOCS), WAVE_UPDATES + WAVE_DELETES)
    updated, deleted = existing[:WAVE_UPDATES], existing[WAVE_UPDATES:]
    version_lo = new_ids[0] + 500_000_000  # new versions take texts no document had
    text = _texts(spark, [(new_ids[0], WAVE_NEW), (version_lo, WAVE_UPDATES)])
    kinds = ["new"] * WAVE_NEW + ["update"] * WAVE_UPDATES + ["delete"] * WAVE_DELETES
    random.Random(0).shuffle(kinds)
    pick = {"new": iter(feeds.doc_event(i, text[i]) for i in new_ids),
            "update": iter(feeds.doc_event(d, text[version_lo + k]) for k, d in enumerate(updated)),
            "delete": iter(feeds.tombstone(i) for i in deleted)}
    return [next(pick[k]) for k in kinds], set(new_ids), set(deleted)


def platform_wave(run: Run, server: feeds.FeedServer, cache: str) -> dict:
    from http_feeds_spark import ingest
    from http_feeds_spark.operators import fsck
    from http_feeds_spark.operators import text_index as ti

    spark = run.spark
    snapshot = os.path.join(cache, "snapshot")
    with open(os.path.join(cache, "events.json")) as f:
        base = json.load(f)
    wave, new_ids, deleted = wave_events(spark, run.seed)
    feed = base + wave
    live_docs = {int(s) for s in feeds.compact(feed)}
    all_docs = {int(e["subject"]) for e in feed}
    root = os.path.join(run.work, "platform")
    max_calls = -(-len(wave) // PLATFORM_PAGE) + 2
    rates, walls, calls = [], [], []
    elapsed = 0.0
    while not walls or elapsed < run.seconds:
        t0 = time.perf_counter()
        fresh_dir(root)
        shutil.copytree(snapshot, root)
        server.load(feed)
        server.reset()
        run.setup_s.append(time.perf_counter() - t0)

        op = {"kind": "wave", "start": _ms(), "calls": 0}
        t0 = time.perf_counter()
        err = None
        try:
            while op["calls"] < max_calls:
                op["calls"] += 1
                s = ingest.run_platform(spark, server.url, root)
                if at_head(s, len(feed), len(all_docs), len(deleted)):
                    break
        except Exception as e:  # a failed call is a failed operation, not a crash
            err = repr(e)
        wall = time.perf_counter() - t0
        op["end"] = _ms()
        op["http"] = server.stats()
        run.ops.append(op)
        elapsed += wall
        walls.append(wall)
        calls.append(op["calls"])
        if err:
            run.check("wave", False, err)
            continue
        text_n, dedup_n = s["text_index"]["indexed_docs"], s["dedup_index"]["indexed_docs"]
        indexed_new = min(text_n, dedup_n) - PLATFORM_BASE_DOCS
        rates.append(max(indexed_new, 0) / wall)
        q = run.span("query.platform_search")
        hits = {r.doc_id for r in ti.search(spark, os.path.join(root, "text_index"),
                                             SEARCH_TERMS, k=10_000).collect()}
        run.end(q)
        op["end"] = _ms()
        problems = []
        if s["landing"]["raw_rows"] != len(feed):
            problems.append(f"landing raw {s['landing']['raw_rows']} != feed {len(feed)}")
        if s["landing"]["compacted_rows"] != len(live_docs):
            problems.append(f"compacted {s['landing']['compacted_rows']} != live {len(live_docs)}")
        if text_n != len(all_docs) or dedup_n != len(all_docs):
            problems.append(f"text {text_n} / dedup {dedup_n} docs before erasure != {len(all_docs)}")
        if s["erasure"]["erase_ids"] != len(deleted):
            problems.append(f"erase_ids {s['erasure']['erase_ids']} != {len(deleted)}")
        if hits & deleted:
            problems.append(f"{len(hits & deleted)} tombstoned ids in search hits")
        if not hits & new_ids and not problems:
            problems.append("no new document found by search")
        run.check("wave", not problems, "; ".join(problems))

    t0 = time.perf_counter()
    report = fsck.fsck_platform(spark, root)
    fsck_s = time.perf_counter() - t0
    run.check("fsck", report["clean"], str(report["violations"]))
    wave_ms = [w * 1e3 for w in walls]
    return {"throughput_per_s": statistics.median(rates) if rates else 0.0,
            "latency_p50_ms": statistics.median(wave_ms), "latency_tail_ms": max(wave_ms),
            "detail": {"wave_docs_per_s": statistics.median(rates) if rates else 0.0,
                       "waves": len(walls), "wave_s": [round(w, 3) for w in walls],
                       "calls_to_head": calls,
                       "wave_events": len(wave), "fsck_clean": report["clean"],
                       "fsck_s": fsck_s}}
