"""Seeded feed inputs and the client for the benchmark's feed server.

Every input is a pure function of its seed, so one seed gives one feed.
The server runs in its own process (``feed_server.py``); this module
starts it, talks to its control endpoints and stops it.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
import urllib.request
from bisect import bisect_left
from itertools import accumulate

HERE = os.path.dirname(os.path.abspath(__file__))
EVENT_TYPE = "org.example.inventory"
DOC_TYPE = "org.example.document"
SOURCE = "https://bench.feed.example/inventory"
BASE_TIME = "2025-01-01T00:00:00.000000Z"


class FeedServer:
    """The feed server process: start, control, stop (also as a context
    manager). ``url`` is the feed endpoint consumers read."""

    def __init__(self, page_size: int, threads: int):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "feed_server.py"),
             "--page-size", str(page_size), "--threads", str(threads)],
            stdout=subprocess.PIPE, text=True,
        )
        line = self.proc.stdout.readline()
        if not line.startswith("PORT "):
            self.close()
            raise RuntimeError(f"feed server did not start: {line!r}")
        self.base = f"http://127.0.0.1:{int(line.split()[1])}"
        self.url = f"{self.base}/feed"

    def _call(self, path: str, payload: dict | None = None):
        data = None if payload is None else json.dumps(payload).encode()
        req = urllib.request.Request(self.base + path, data=data, method="GET" if data is None else "POST")
        with urllib.request.urlopen(req, timeout=60) as resp:
            return json.loads(resp.read())

    def load(self, events: list[dict]) -> None:
        self._call("/_load", {"events": events})

    def generate(self, events: list[dict], rate: float) -> None:
        self._call("/_generate", {"events": events, "rate": rate})

    def reset(self) -> None:
        self._call("/_reset", {})

    def stats(self) -> dict:
        return self._call("/_stats")

    def log(self) -> list[dict]:
        return self._call("/_log")

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.terminate()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.proc.stdout.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()


def zipf_sampler(rnd: random.Random, n: int, s: float = 1.1):
    """Draw keys 1..n with P(k) proportional to 1/k**s."""
    cum = list(accumulate(1.0 / k**s for k in range(1, n + 1)))
    return lambda: bisect_left(cum, rnd.random() * cum[-1]) + 1


def aggregate_feed(seed: int, n_events: int, n_subjects: int, delete_share: float) -> list[dict]:
    """An inventory aggregate feed: Zipf-skewed subjects, so most events
    update a hot subject that compaction collapses, and ``delete_share``
    DELETE tombstones. ``time`` is left to the server's clock when the
    events are generated live."""
    rnd = random.Random(seed)
    subject = zipf_sampler(rnd, n_subjects)
    out = []
    for i in range(n_events):
        e = {"type": EVENT_TYPE, "source": SOURCE, "subject": f"sku-{subject()}", "time": BASE_TIME}
        if rnd.random() < delete_share:
            e["method"] = "DELETE"
        else:
            e["method"] = "PUT"
            e["data"] = {"qty": rnd.randint(0, 500), "price": rnd.randint(100, 99999) / 100,
                         "note": f"restock {i}"}
        out.append(e)
    return out


def doc_event(doc_id: int, text: str) -> dict:
    return {"type": DOC_TYPE, "source": SOURCE, "subject": str(doc_id), "time": BASE_TIME,
            "method": "PUT", "data": {"doc_id": doc_id, "text": text}}


def tombstone(doc_id: int) -> dict:
    return {"type": DOC_TYPE, "source": SOURCE, "subject": str(doc_id), "time": BASE_TIME,
            "method": "DELETE"}


def compact(events: list[dict]) -> dict[str, int]:
    """The reference read model: subject -> position (1-based, as the
    server numbers a freshly loaded feed) of its latest event, with
    subjects whose latest event is a DELETE removed."""
    latest: dict[str, tuple[int, str]] = {}
    for pos, e in enumerate(events, start=1):
        latest[e["subject"]] = (pos, e.get("method", "PUT"))
    return {s: pos for s, (pos, m) in latest.items() if m != "DELETE"}
