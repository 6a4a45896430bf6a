#!/usr/bin/env python3
"""The benchmark's own HTTP feed server, run as a separate process.

It serves one aggregate feed by the HTTP Feeds spec's server rules:

- ``GET /feed`` returns ``application/cloudevents-batch+json``: at most
  ``page_size`` events strictly newer than ``lastEventId``, and ``[]`` at
  the end of the feed;
- ``timeout`` (ms) long-polls: an empty answer waits until an event
  arrives or the timeout lapses;
- ``Cache-Control`` is sent only on full pages, which never change;
- ids are composite ``<seq>::<uuid>``, so a cursor keeps its position
  when compaction removes the event it names.

The cursor is found by bisection over the sequence numbers, and each
event is serialized once, when it is appended.

Control endpoints (JSON in, JSON out), used by the benchmark run:

- ``POST /_load``     replace the feed with ``{"events": [...]}``;
- ``POST /_generate`` append ``{"events": [...], "rate": R}`` open-loop
  at R events/s from a server thread; each event's ``time`` is its
  creation (due) time;
- ``GET /_stats``     request counters and generator lateness;
- ``GET /_log``       one record per feed request: cursor, status, event
  count, bytes, service ms and long-poll wait ms;
- ``POST /_reset``    zero the counters and the request log.

Usage: ``python3 feed_server.py --page-size 200 --threads 4``. The server
prints ``PORT <n>`` on its first line of standard output and serves until
it is terminated or the process that started it exits.
"""

from __future__ import annotations

import argparse
import bisect
import json
import os
import sys
import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timezone
from http.server import BaseHTTPRequestHandler, HTTPServer
from urllib.parse import parse_qs, urlparse

import procs

ID_NAMESPACE = uuid.UUID("6f1d2c3e-7a4b-4c5d-8e9f-a0b1c2d3e4f5")


def make_id(seq: int) -> str:
    return f"{seq:013d}::{uuid.uuid5(ID_NAMESPACE, str(seq))}"


def seq_of(event_id: str) -> int:
    """Position of a composite id; raises ValueError on anything else."""
    return int(event_id.split("::", 1)[0])


def iso(epoch_s: float) -> str:
    return datetime.fromtimestamp(epoch_s, timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%fZ")


class Feed:
    """Append-only event log with compaction; every method is thread-safe."""

    def __init__(self, page_size: int):
        self.page_size = page_size
        self.cond = threading.Condition()
        self.seqs: list[int] = []
        self.subjects: list[str | None] = []
        self.bodies: list[bytes] = []
        self.next_seq = 1
        self.lateness_ms: list[float] = []
        self.generating = False
        self.reset_stats()

    def reset_stats(self) -> None:
        with self.cond:
            self.log: list[dict] = []
            self.served_seqs: set[int] = set()
            self.counters = dict.fromkeys(
                ("requests", "walks_from_start", "events_served", "bytes_out",
                 "empty", "server_ms"), 0)

    def _append_locked(self, e: dict, stamp: str | None = None) -> None:
        seq = self.next_seq
        self.next_seq += 1
        e = {"specversion": "1.0", "id": make_id(seq), **e}
        if stamp is not None:
            e["time"] = stamp
        self.seqs.append(seq)
        self.subjects.append(e.get("subject"))
        self.bodies.append(json.dumps(e, separators=(",", ":")).encode())

    def load(self, events: list[dict]) -> None:
        with self.cond:
            self.seqs, self.subjects, self.bodies = [], [], []
            self.next_seq = 1
            self.lateness_ms = []
            for e in events:
                self._append_locked(e)
            self.cond.notify_all()

    def append(self, events: list[dict]) -> None:
        with self.cond:
            for e in events:
                self._append_locked(e)
            self.cond.notify_all()

    def generate(self, events: list[dict], rate: float) -> None:
        """Open loop: event i is due at start + i / rate, whatever the
        consumer does, and its ``time`` is that due time, so a stall in
        the generator counts against the consumer's freshness; lateness
        is how far behind its due time it was appended."""
        start, start_wall = time.monotonic(), time.time()
        try:
            for i, e in enumerate(events):
                due = start + i / rate
                delay = due - time.monotonic()
                if delay > 0:
                    time.sleep(delay)
                with self.cond:
                    self._append_locked(dict(e), stamp=iso(start_wall + i / rate))
                    self.lateness_ms.append((time.monotonic() - due) * 1e3)
                    self.cond.notify_all()
        finally:
            with self.cond:
                self.generating = False

    def compact(self) -> None:
        with self.cond:
            latest: dict[str, int] = {}
            for s, subj in zip(self.seqs, self.subjects):
                if subj is not None:
                    latest[subj] = s
            keep = [i for i, (s, subj) in enumerate(zip(self.seqs, self.subjects))
                    if subj is None or latest[subj] == s]
            self.seqs = [self.seqs[i] for i in keep]
            self.subjects = [self.subjects[i] for i in keep]
            self.bodies = [self.bodies[i] for i in keep]

    def page_after(self, cursor_seq: int) -> tuple[list[int], list[bytes]]:
        with self.cond:
            i = bisect.bisect_right(self.seqs, cursor_seq)
            j = i + self.page_size
            return self.seqs[i:j], self.bodies[i:j]

    def wait_page(self, cursor_seq: int, timeout_s: float):
        deadline = time.monotonic() + timeout_s
        with self.cond:
            while True:
                seqs, bodies = self.page_after(cursor_seq)
                left = deadline - time.monotonic()
                if seqs or left <= 0:
                    return seqs, bodies
                self.cond.wait(left)

    def record(self, rec: dict, seqs: list[int]) -> None:
        with self.cond:
            self.log.append(rec)
            c = self.counters
            c["requests"] += 1
            c["walks_from_start"] += rec["cursor"] is None
            c["events_served"] += rec["events"]
            c["bytes_out"] += rec["bytes"]
            c["empty"] += rec["events"] == 0
            c["server_ms"] += rec["service_ms"]
            self.served_seqs.update(seqs)

    def stats(self) -> dict:
        with self.cond:
            return {
                **self.counters,
                "distinct_served": len(self.served_seqs),
                "head_seq": self.seqs[-1] if self.seqs else 0,
                "generating": self.generating,
                "generated": len(self.lateness_ms),
                "lateness_ms": sorted(self.lateness_ms),
            }


class Handler(BaseHTTPRequestHandler):
    feed: Feed  # bound by make_server
    protocol_version = "HTTP/1.1"

    def _send(self, status: int, body: bytes, headers: dict | None = None) -> None:
        self.send_response(status)
        self.send_header("Content-Length", str(len(body)))
        for k, v in (headers or {}).items():
            self.send_header(k, v)
        self.end_headers()
        self.wfile.write(body)

    def _json(self, obj, status: int = 200) -> None:
        self._send(status, json.dumps(obj).encode(), {"Content-Type": "application/json"})

    def do_GET(self):
        url = urlparse(self.path)
        if url.path == "/feed":
            return self._feed(parse_qs(url.query))
        if url.path == "/_stats":
            return self._json(self.feed.stats())
        if url.path == "/_log":
            with self.feed.cond:
                return self._json(list(self.feed.log))
        self._send(404, b"")

    def _feed(self, q: dict) -> None:
        t0 = time.perf_counter()
        cursor = q.get("lastEventId", [None])[0]
        timeout = q.get("timeout", [None])[0]
        try:
            cursor_seq = seq_of(cursor) if cursor else 0
            timeout_s = int(timeout) / 1e3 if timeout is not None else 0.0
        except ValueError:
            self._send(400, b"")
            self.feed.record({"cursor": cursor, "status": 400, "events": 0, "bytes": 0,
                              "service_ms": 0.0, "wait_ms": 0.0}, [])
            return
        seqs, bodies = self.feed.page_after(cursor_seq)
        wait_ms = 0.0
        if not seqs and timeout_s > 0:
            w0 = time.perf_counter()
            seqs, bodies = self.feed.wait_page(cursor_seq, timeout_s)
            wait_ms = (time.perf_counter() - w0) * 1e3
        body = b"[" + b",".join(bodies) + b"]"
        headers = {"Content-Type": "application/cloudevents-batch+json"}
        if len(seqs) == self.feed.page_size:
            headers["Cache-Control"] = "public, max-age=31536000"
        self._send(200, body, headers)
        service_ms = (time.perf_counter() - t0) * 1e3 - wait_ms
        self.feed.record({"cursor": cursor, "status": 200, "events": len(seqs),
                          "bytes": len(body), "service_ms": round(service_ms, 3),
                          "wait_ms": round(wait_ms, 3)}, seqs)

    def do_POST(self):
        n = int(self.headers.get("Content-Length", "0"))
        payload = json.loads(self.rfile.read(n) or b"{}")
        path = urlparse(self.path).path
        feed = self.feed
        if path == "/_load":
            feed.load(payload["events"])
        elif path == "/_generate":
            with feed.cond:
                if feed.generating:
                    return self._json({"error": "generator already running"}, 409)
                feed.generating = True
                feed.lateness_ms = []
            threading.Thread(target=feed.generate, args=(payload["events"], float(payload["rate"])),
                             daemon=True).start()
        elif path == "/_reset":
            feed.reset_stats()
        else:
            return self._send(404, b"")
        self._json({"head_seq": feed.stats()["head_seq"]})

    def log_message(self, *args):
        pass


class PooledHTTPServer(HTTPServer):
    """HTTPServer that handles connections on a fixed thread pool."""

    daemon_threads = True

    def __init__(self, addr, handler, threads: int):
        super().__init__(addr, handler)
        self.pool = ThreadPoolExecutor(max_workers=threads)

    def process_request(self, request, client_address):
        self.pool.submit(self._work, request, client_address)

    def _work(self, request, client_address):
        try:
            self.finish_request(request, client_address)
        except Exception:
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)

    def server_close(self):
        super().server_close()
        self.pool.shutdown(wait=False, cancel_futures=True)


def make_server(page_size: int, threads: int, port: int = 0) -> tuple[PooledHTTPServer, Feed]:
    feed = Feed(page_size)
    handler = type("BoundHandler", (Handler,), {"feed": feed})
    return PooledHTTPServer(("127.0.0.1", port), handler, threads), feed


def main() -> None:
    procs.die_with_parent()
    ap = argparse.ArgumentParser()
    ap.add_argument("--page-size", type=int, required=True)
    ap.add_argument("--threads", type=int, default=os.cpu_count() or 1)
    ap.add_argument("--port", type=int, default=0)
    args = ap.parse_args()
    threads = max(1, min(args.threads, os.cpu_count() or 1))
    srv, _ = make_server(args.page_size, threads, args.port)
    print(f"PORT {srv.server_address[1]}", flush=True)
    try:
        srv.serve_forever()
    except KeyboardInterrupt:
        pass
    finally:
        srv.server_close()
    sys.exit(0)


if __name__ == "__main__":
    main()
