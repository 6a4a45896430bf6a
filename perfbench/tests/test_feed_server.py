"""Conformance of the benchmark's feed server to the HTTP Feeds spec.

Run with:  python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
import urllib.error
import urllib.request

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import feeds  # noqa: E402
from feed_server import make_id, make_server, seq_of  # noqa: E402

PAGE = 4


@pytest.fixture()
def server():
    srv, feed = make_server(PAGE, threads=2)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    yield base, feed
    srv.shutdown()
    srv.server_close()
    t.join(timeout=10)
    assert not t.is_alive()


def get(base: str, **params):
    q = "&".join(f"{k}={v}" for k, v in params.items())
    with urllib.request.urlopen(f"{base}/feed" + (f"?{q}" if q else ""), timeout=10) as r:
        return json.loads(r.read()), r.headers


def events(n: int, subjects: int = 3) -> list[dict]:
    return [{"type": "t", "source": "s", "subject": f"k{i % subjects}", "time": feeds.BASE_TIME,
             "data": {"i": i}} for i in range(n)]


def test_returns_only_events_strictly_newer_than_cursor(server):
    base, feed = server
    feed.load(events(10))
    page, _ = get(base, lastEventId=make_id(3))
    assert [seq_of(e["id"]) for e in page] == [4, 5, 6, 7]
    first, _ = get(base)
    assert [seq_of(e["id"]) for e in first] == [1, 2, 3, 4]


def test_end_of_feed_is_an_empty_array(server):
    base, feed = server
    feed.load(events(5))
    page, _ = get(base, lastEventId=make_id(5))
    assert page == []


def test_cache_control_only_on_full_pages(server):
    base, feed = server
    feed.load(events(6))
    _, full = get(base)
    _, partial = get(base, lastEventId=make_id(4))
    _, empty = get(base, lastEventId=make_id(6))
    assert "max-age" in full.get("Cache-Control", "")
    assert partial.get("Cache-Control") is None
    assert empty.get("Cache-Control") is None


def test_long_poll_waits_for_the_next_event(server):
    base, feed = server
    feed.load(events(2))
    t0 = time.monotonic()
    page, _ = get(base, lastEventId=make_id(2), timeout=300)
    assert page == [] and time.monotonic() - t0 >= 0.25

    threading.Timer(0.2, feed.append, args=(events(1),)).start()
    t0 = time.monotonic()
    page, _ = get(base, lastEventId=make_id(2), timeout=5000)
    assert [seq_of(e["id"]) for e in page] == [3]
    assert time.monotonic() - t0 < 4


def test_cursor_keeps_its_position_across_compaction(server):
    base, feed = server
    feed.load(events(9, subjects=3))  # k0: 1,4,7  k1: 2,5,8  k2: 3,6,9
    feed.compact()
    page, _ = get(base, lastEventId=make_id(4))  # 4 itself is compacted away
    assert [seq_of(e["id"]) for e in page] == [7, 8, 9]
    assert all("::" in e["id"] for e in page)


def test_malformed_cursor_is_a_client_error(server):
    base, _ = server
    with pytest.raises(urllib.error.HTTPError) as err:
        get(base, lastEventId="not-a-position")
    assert err.value.code == 400


def test_request_log_and_counters(server):
    base, feed = server
    feed.load(events(6))
    get(base)
    get(base, lastEventId=make_id(4))
    get(base, lastEventId=make_id(6), timeout=100)
    stats, records = feed.stats(), feed.log
    assert stats["requests"] == 3 and stats["walks_from_start"] == 1
    assert stats["events_served"] == 6 and stats["distinct_served"] == 6 and stats["empty"] == 1
    assert [r["cursor"] for r in records] == [None, make_id(4), make_id(6)]
    assert [r["events"] for r in records] == [4, 2, 0]
    assert records[2]["wait_ms"] >= 90
    assert all(r["status"] == 200 and r["bytes"] > 0 and r["service_ms"] >= 0 for r in records)


def test_open_loop_generator_stamps_creation_time(server):
    _, feed = server
    feed.load([])
    feed.generating = True
    feed.generate(events(20), rate=200.0)
    stats = feed.stats()
    assert stats["generated"] == 20 and not stats["generating"]
    seqs, bodies = feed.page_after(0)
    stamps = [json.loads(b)["time"] for b in bodies]
    assert stamps == sorted(stamps) and stamps[0] != feeds.BASE_TIME


def test_server_process_serves_the_engine_connector():
    from http_feeds_spark.sources import http_feed

    with feeds.FeedServer(page_size=PAGE, threads=2) as srv:
        backlog = feeds.aggregate_feed(7, 10, n_subjects=4, delete_share=0.2)
        srv.load(backlog)
        cursor, seen = None, []
        while page := http_feed.fetch_batch(srv.url, cursor, None):
            seen += [e["id"] for e in page]
            cursor = page[-1]["id"]
        assert seen == [make_id(i) for i in range(1, 11)]
        assert srv.stats()["requests"] == 4  # three pages and the empty end
    assert srv.proc.returncode is not None


def test_reference_compaction_drops_deleted_subjects():
    evs = [{"subject": "a"}, {"subject": "b"}, {"subject": "a", "method": "DELETE"},
           {"subject": "c"}, {"subject": "b"}]
    assert feeds.compact(evs) == {"b": 5, "c": 4}
