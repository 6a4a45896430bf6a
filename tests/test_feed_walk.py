"""The streaming reader's walk: one micro-batch reads from the cursor to
the feed end (the spec's catch-up, README.md:79-82), long-polls only on
its first request, stays bounded, refuses a server that does not move
past the cursor, and rides out the transient failures a longer walk
meets. Folds over such multi-page batches must not depend on how pages
were grouped into batches."""

from __future__ import annotations

import time

import pytest

import tests.feed_server as fs


@pytest.fixture()
def feed():
    state = fs.FeedState()
    srv, url = fs.serve(state)
    yield state, url
    srv.shutdown()


def _append(state, n: int) -> None:
    for i in range(n):
        state.append("t", f"s{i}", {"v": i}, time_iso="2021-01-01T00:00:01.000000Z")


def test_catch_up_drains_multi_page_backlog_in_one_call(spark, feed, tmp_path):
    """250 events at 100 per page: one catch-up lands all of them with
    3 page requests and the empty end page."""
    from http_feeds_spark import ingest

    state, url = feed
    _append(state, 250)
    s = ingest.run(spark, url, str(tmp_path / "landing"))
    assert s["raw_rows"] == 250
    assert state.request_count == 4


@pytest.mark.parametrize("fault", ["torn_next_n", "throttle_next_n"])
def test_catch_up_survives_transient_faults(spark, feed, tmp_path, fault):
    """Two torn bodies (a 200 carrying half the JSON) or two 429s are
    retried inside fetch_batch; the multi-page catch-up still lands
    every event in one call."""
    from http_feeds_spark import ingest

    state, url = feed
    _append(state, 250)
    setattr(state, fault, 2)
    s = ingest.run(spark, url, str(tmp_path / "landing"))
    assert s["raw_rows"] == 250
    assert getattr(state, fault) == 0
    assert state.request_count == 6


def test_long_poll_timeout_only_on_first_request(feed):
    """Only the walk's first request long-polls; the pages after it are
    fetched without `timeout`, so a walk never waits twice."""
    from http_feeds_spark.sources.http_feed import HttpFeedStreamReader

    state, url = feed
    _append(state, 250)
    reader = HttpFeedStreamReader({"url": url, "timeout": "5000"})
    rows, end = reader.read({"lastEventId": None})
    assert len(list(rows)) == 250
    assert end == {"lastEventId": fs.make_id(250)}
    assert len(state.queries) == 4
    assert "timeout=5000" in state.queries[0]
    assert not any("timeout" in q for q in state.queries[1:])


def test_read_cap_bounds_one_batch(feed, monkeypatch):
    """A backlog past the cap takes more than one read: the walk stops
    at the first page that reaches the cap."""
    from http_feeds_spark.sources import http_feed

    state, url = feed
    _append(state, 250)
    monkeypatch.setattr(http_feed, "_READ_MAX_EVENTS", 150)
    reader = http_feed.HttpFeedStreamReader({"url": url})
    rows, end = reader.read({"lastEventId": None})
    assert len(list(rows)) == 200
    assert end == {"lastEventId": fs.make_id(200)}
    rows, end = reader.read(end)
    assert [r[1] for r in rows] == [fs.make_id(i) for i in range(201, 251)]
    assert end == {"lastEventId": fs.make_id(250)}


def test_replay_equals_read_over_multi_page_window(feed):
    """readBetweenOffsets(start, end) replays exactly the rows a
    multi-page read(start) returned — the recovery path of a batch."""
    from http_feeds_spark.sources.http_feed import HttpFeedStreamReader

    state, url = feed
    _append(state, 300)
    reader = HttpFeedStreamReader({"url": url})
    start = {"lastEventId": fs.make_id(20)}
    rows, end = reader.read(start)
    rows = list(rows)
    assert len(rows) == 280 and state.request_count == 4  # 3 pages + end
    assert list(reader.readBetweenOffsets(start, end)) == rows


class _IgnoresCursor(fs.FeedState):
    def batch_after(self, last_event_id, limit):
        return super().batch_after(None, limit)


class _StepsBack(fs.FeedState):
    def batch_after(self, last_event_id, limit):
        back = fs.make_id(fs.seq_of(last_event_id) - 1) if last_event_id else None
        return super().batch_after(back, limit)


@pytest.mark.parametrize("state_cls", [_IgnoresCursor, _StepsBack])
def test_walk_refuses_server_that_does_not_advance(state_cls, monkeypatch):
    """A server that ignores lastEventId (or steps back from it) would
    make the walk refetch pages to the cap and land duplicates; it
    raises FeedContractError carrying the cursor instead."""
    from http_feeds_spark.sources.http_feed import (
        FeedContractError,
        HttpFeedBatchReader,
        HttpFeedStreamReader,
    )

    monkeypatch.setattr(fs, "BATCH_SIZE", 3)
    state = state_cls()
    _append(state, 5)
    srv, url = fs.serve(state)
    try:
        with pytest.raises(FeedContractError) as err:
            HttpFeedStreamReader({"url": url}).read({"lastEventId": None})
        assert err.value.cursor == fs.make_id(3)
        with pytest.raises(FeedContractError):
            list(HttpFeedBatchReader({"url": url}).read(None))
    finally:
        srv.shutdown()


def test_fetch_honours_retry_after_within_max_wait(feed):
    """A 429 waits the server's Retry-After before its retry, capped by
    max_wait_s, and spends the same retry budget as a 5xx."""
    import email.utils
    import urllib.error

    from http_feeds_spark.sources.http_feed import _retry_after_s, fetch_batch

    state, url = feed
    _append(state, 3)
    state.throttle_next_n, state.throttle_retry_after = 1, "1"
    t0 = time.monotonic()
    assert len(fetch_batch(url, None, None, backoff_s=0.01)) == 3
    assert time.monotonic() - t0 >= 0.9

    state.throttle_next_n, state.throttle_retry_after = 1, "3600"
    t0 = time.monotonic()
    assert len(fetch_batch(url, None, None, max_wait_s=0.3)) == 3
    assert time.monotonic() - t0 < 5

    state.throttle_next_n, state.throttle_retry_after = 5, "0"
    with pytest.raises(urllib.error.HTTPError) as err:
        fetch_batch(url, None, None, retries=2, backoff_s=0.01)
    assert err.value.code == 429
    state.throttle_next_n = 0

    # Retry-After may also be an HTTP-date (RFC 9110 §10.2.3)
    in_5s = email.utils.formatdate(time.time() + 5, usegmt=True)
    assert 3 < _retry_after_s(in_5s, 0.1) <= 5
    assert _retry_after_s("soon", 0.1) == 0.1


def test_folds_independent_of_page_grouping(spark, feed, tmp_path, monkeypatch):
    """Doc 7 v1 on page 1 and doc 7 v2 on page 2 arrive in ONE batch; the
    text and dedup folds keep one row per id, the earliest in feed order
    — the rule the per-id guards apply across batches."""
    from http_feeds_spark import ingest
    from http_feeds_spark.operators import text_index as ti
    from http_feeds_spark.streaming import dedup as sd

    state, url = feed
    monkeypatch.setattr(fs, "BATCH_SIZE", 4)
    v1 = "seven alpha first version of the document"
    v2 = "seven omega second version of the document"
    texts = {i: f"doc {i} plain text body" for i in range(1, 7)}
    for doc_id, text in [(7, v1), *texts.items(), (7, v2)]:
        state.append("t", str(doc_id), {"doc_id": doc_id, "text": text})
    text_root, dedup_root = str(tmp_path / "text"), str(tmp_path / "dedup")

    landing = str(tmp_path / "landing")
    ingest.run(spark, url, landing)
    assert ingest.run_text_index(spark, landing, text_root)["indexed_docs"] == 7
    assert ingest.run_dedup_index(spark, landing, dedup_root)["indexed_docs"] == 7
    assert [r.doc_id for r in ti.search(spark, text_root, ["alpha"]).collect()] == [7]
    assert ti.search(spark, text_root, ["omega"]).count() == 0
    stored = (
        spark.read.parquet(f"{dedup_root}/{sd.SHINGLES_DIR}")
        .where("doc_id = 7").collect()
    )
    expect = sd._shingle_batch(spark.createDataFrame([(7, v1)], "doc_id long, text string"))
    assert [sorted(r.shingles) for r in stored] == [sorted(expect.collect()[0].shingles)]


class _Malformed(fs.FeedState):
    """Serves the second event of every page through ``bad``."""

    bad = staticmethod(lambda e: e)

    def batch_after(self, last_event_id, limit):
        page = super().batch_after(last_event_id, limit)
        return page[:1] + [self.bad(e) for e in page[1:2]] + page[2:]


_NO_ID = {
    "missing id": lambda e: {k: v for k, v in e.items() if k != "id"},
    "not an object": lambda e: e["id"],
}


def _malformed_feed(bad):
    state = _Malformed()
    state.bad = bad
    _append(state, 5)
    return state, *fs.serve(state)


@pytest.mark.parametrize("bad", list(_NO_ID))
def test_stream_read_refuses_event_without_id(bad):
    """An event without an id, or an array element that is not an
    object, is a contract error carrying the cursor — not a KeyError."""
    from http_feeds_spark.sources.http_feed import FeedContractError, HttpFeedStreamReader

    state, srv, url = _malformed_feed(_NO_ID[bad])
    try:
        with pytest.raises(FeedContractError, match="without a string id") as err:
            HttpFeedStreamReader({"url": url}).read({"lastEventId": fs.make_id(1)})
        assert err.value.cursor == fs.make_id(1)
    finally:
        srv.shutdown()


@pytest.mark.parametrize("bad", list(_NO_ID))
def test_batch_read_refuses_event_without_id(bad):
    from http_feeds_spark.sources.http_feed import FeedContractError, HttpFeedBatchReader

    state, srv, url = _malformed_feed(_NO_ID[bad])
    try:
        with pytest.raises(FeedContractError, match="without a string id") as err:
            list(HttpFeedBatchReader({"url": url, "lasteventid": fs.make_id(1)}).read(None))
        assert err.value.cursor == fs.make_id(1)
    finally:
        srv.shutdown()


def test_walk_refuses_out_of_order_ids_inside_a_page(feed):
    """A page whose first and last ids move past the cursor but whose
    positions go back in between is refused."""
    from http_feeds_spark.sources.http_feed import FeedContractError, HttpFeedStreamReader

    state, url = feed
    _append(state, 5)
    state.events[1], state.events[2] = state.events[2], state.events[1]
    with pytest.raises(FeedContractError, match="position 2 does not follow position 3"):
        HttpFeedStreamReader({"url": url}).read({"lastEventId": None})


def test_walk_refuses_repeated_id_inside_a_page(feed):
    from http_feeds_spark.sources.http_feed import FeedContractError, HttpFeedStreamReader

    state, url = feed
    _append(state, 5)
    state.events.insert(3, dict(state.events[1]))
    with pytest.raises(FeedContractError, match="repeats an event id"):
        HttpFeedStreamReader({"url": url}).read({"lastEventId": None})


def test_uuid6_positions_are_checked():
    """UUIDv6 ids carry their position in the leading 60 timestamp bits
    (the key ``parse_seq_auto`` lands as seq); a page going back in it
    is refused like a composite one."""
    from http_feeds_spark.operators.feed import seq_of
    from http_feeds_spark.sources.http_feed import FeedContractError, _check_page

    early, late = "1ec9414c-232a-6b00-b3c8-9e6bdeced846", "1ec9414c-232b-6b00-b3c8-9e6bdeced846"
    assert seq_of(early) == int("1ec9414c232ab00", 16) < seq_of(late)
    _check_page(None, [{"id": early}, {"id": late}])
    with pytest.raises(FeedContractError, match="does not follow"):
        _check_page(None, [{"id": late}, {"id": early}])


def test_connector_positions_match_landed_seq(spark):
    """The connector checks a page's order by the same position
    ``parse_seq_auto`` lands as seq: composite prefix, UUIDv6 timestamp,
    and none for an opaque id, a bare decimal one included."""
    from http_feeds_spark.operators.feed import parse_seq_auto, seq_of

    ids = [
        "0000000000042::5f8de8ff-a48c-4e62-9b8a-2a1b1e0f3c11",
        "1ec9414c-232a-6b00-b3c8-9e6bdeced846",
        "42",
        "b1946ac9-4d3c-4b40-9c9d-000000000002",
    ]
    landed = parse_seq_auto(spark.createDataFrame([(i,) for i in ids], "id string"))
    assert {r.id: r.seq for r in landed.collect()} == {i: seq_of(i) for i in ids}
    assert [seq_of(i) for i in ids] == [42, int("1ec9414c232ab00", 16), None, None]

