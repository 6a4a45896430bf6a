"""In-process HTTP feed server implementing the spec's server side — for
connector tests only (Spark is the consumer; serving is out of scope for
the engine, BASELINE.json north_star).

Spec behaviors implemented (/root/reference/README.md):
- GET returns application/cloudevents-batch+json, a JSON array (:10-11)
- batches bounded by `batch_size`; empty array = feed end (:79-82)
- `lastEventId` returns strictly-newer events only (:12, :300)
- position survives deletion of the cursor event (:150-154): ids are the
  spec's composite `sequence::uuid` form (:159) so the position is
  derived from the id itself, not from the stored rows
- `timeout` long polling: hold until events arrive or timeout ms (:118-146)
- compaction + DELETE tombstones mutate the retained log (:181-292)
"""

from __future__ import annotations

import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

BATCH_SIZE = 100


def make_id(seq: int) -> str:
    import hashlib

    suffix = hashlib.md5(str(seq).encode()).hexdigest()
    return f"{seq:013d}::{suffix}"


def seq_of(event_id: str) -> int:
    return int(event_id.split("::")[0])


class FeedState:
    """Append-only log with compaction; thread-safe."""

    def __init__(self):
        self.lock = threading.Condition()
        self.events: list[dict] = []
        self.next_seq = 1
        self.queries: list[str] = []  # query string of every GET, in order
        # fault injection, each for the next N GETs: 503; 429 with
        # Retry-After: throttle_retry_after; a 200 whose body is cut short
        self.fail_next_n = 0
        self.throttle_next_n = 0
        self.throttle_retry_after = "0"
        self.torn_next_n = 0

    @property
    def request_count(self) -> int:
        return len(self.queries)

    def append(self, type_: str, subject: str | None, data: dict | None,
               method: str | None = None, time_iso: str | None = None) -> dict:
        with self.lock:
            e = {
                "specversion": "1.0",
                "id": make_id(self.next_seq),
                "type": type_,
                "source": "https://stub.feed.test/inventory",
                "time": time_iso or "2024-01-01T00:00:00.000000Z",
            }
            if subject is not None:
                e["subject"] = subject
            if method is not None:
                e["method"] = method
            if data is not None:
                e["data"] = data
            self.next_seq += 1
            self.events.append(e)
            self.lock.notify_all()
            return e

    def compact(self) -> None:
        """Keep only the newest entry per subject (README.md:181-267).
        Events without a subject are kept."""
        with self.lock:
            latest: dict[str, int] = {}
            for e in self.events:
                if "subject" in e:
                    latest[e["subject"]] = seq_of(e["id"])
            self.events = [
                e for e in self.events
                if "subject" not in e or seq_of(e["id"]) == latest[e["subject"]]
            ]

    def batch_after(self, last_event_id: str | None, limit: int) -> list[dict]:
        cursor_seq = seq_of(last_event_id) if last_event_id else 0
        with self.lock:
            return [e for e in self.events if seq_of(e["id"]) > cursor_seq][:limit]

    def wait_for_events(self, last_event_id: str | None, timeout_ms: int) -> list[dict]:
        deadline = time.monotonic() + timeout_ms / 1000.0
        with self.lock:
            while True:
                batch = self.batch_after(last_event_id, BATCH_SIZE)
                if batch or time.monotonic() >= deadline:
                    return batch
                self.lock.wait(timeout=max(0.0, deadline - time.monotonic()))


class _Handler(BaseHTTPRequestHandler):
    state: FeedState = None  # set by serve()

    def do_GET(self):
        with self.state.lock:
            self.state.queries.append(urlparse(self.path).query)
            if self.state.fail_next_n > 0:
                self.state.fail_next_n -= 1
                self.send_response(503)
                self.send_header("Content-Length", "0")
                self.end_headers()
                return
            if self.state.throttle_next_n > 0:
                self.state.throttle_next_n -= 1
                self.send_response(429)
                self.send_header("Retry-After", self.state.throttle_retry_after)
                self.send_header("Content-Length", "0")
                self.end_headers()
                return
            torn = self.state.torn_next_n > 0
            if torn:
                self.state.torn_next_n -= 1
        q = parse_qs(urlparse(self.path).query)
        last = q.get("lastEventId", [None])[0]
        timeout = q.get("timeout", [None])[0]
        if timeout is not None:
            batch = self.state.wait_for_events(last, int(timeout))
        else:
            batch = self.state.batch_after(last, BATCH_SIZE)
        body = json.dumps(batch).encode()
        if torn:  # a well-framed response carrying half the JSON array
            body = body[: len(body) // 2]
        self.send_response(200)
        self.send_header("Content-Type", "application/cloudevents-batch+json")
        self.send_header("Content-Length", str(len(body)))
        # full batches are immutable and cacheable (README.md:330-332)
        if len(batch) == BATCH_SIZE:
            self.send_header("Cache-Control", "public, max-age=31536000")
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *args):  # quiet
        pass


def serve(state: FeedState, port: int = 0):
    """Start the stub server on localhost; returns (server, base_url)."""
    handler = type("BoundHandler", (_Handler,), {"state": state})
    srv = ThreadingHTTPServer(("127.0.0.1", port), handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, f"http://127.0.0.1:{srv.server_address[1]}/feed"
