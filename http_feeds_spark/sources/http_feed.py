"""HTTP feed source connector — the spec's consumer protocol as a Spark
data source (PySpark Python DataSource API, Spark 4.x).

Implements the client side of the HTTP Feeds specification
(/root/reference/README.md):

- GET the endpoint; response is ``application/cloudevents-batch+json`` — a
  JSON array of CloudEvents objects (README.md:10-11, example :20-66).
- Scroll with ``lastEventId`` — the id of the last processed event; the
  server returns only strictly-newer events (README.md:12, :71-77, :300).
- An empty array signals the feed end (README.md:79-82).
- Long polling: pass ``timeout`` ms; the server holds the connection until
  events arrive or the timeout lapses (README.md:118-146, :301).
- The client must persist ``lastEventId`` (README.md:111) — here that IS
  the Structured Streaming offset, persisted in the checkpoint; delivery
  is at-least-once (README.md:113), matching Spark's semantics exactly.

Streaming: ``SimpleDataSourceStreamReader`` (offset = {"lastEventId": ...}).
Each micro-batch walks the feed from the cursor to its end — the spec's
catch-up, "scroll until the server returns an empty array" — so one
``Trigger.AvailableNow`` run (which Spark executes as a single batch for
Python sources) drains the whole backlog, up to :data:`_READ_MAX_EVENTS`
events per batch. Only the walk's first request carries the long-poll
``timeout``. Feed consumption is inherently a serial cursor walk (each
request needs the previous response's last id), so a single-reader poll
loop is the correct topology; *scale-out happens downstream* — the moment
rows land they are repartition-distributed for parse/compaction/aggregation
across the cluster, and bulk bootstrap should replay the Parquet landing
zone (A1 batch path), not HTTP. Every walk refuses a page that does not
move past its cursor, or whose ids are missing, repeated or out of order
(:class:`FeedContractError`), instead of looping on it or landing it.

Batch: ``DataSourceReader`` paginates the whole feed to its end — intended
for tests and small bootstraps (one partition; see above).

No third-party HTTP client: stdlib urllib keeps the source dependency-free.
"""

from __future__ import annotations

import email.utils
import http.client
import json
import time
import urllib.error
import urllib.parse
import urllib.request
from collections.abc import Iterator
from datetime import datetime, timezone

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType

from http_feeds_spark.operators.feed import seq_of
from http_feeds_spark.schema import WIRE_ENVELOPE

FIELDS = [f.name for f in WIRE_ENVELOPE.fields]


def _parse_time(v: str | None):
    if v is None:
        return None
    # ISO 8601 UTC per README.md:312; tolerate 'Z' suffix and no-fraction
    try:
        dt = datetime.fromisoformat(v.replace("Z", "+00:00"))
    except ValueError:
        return None
    if dt.tzinfo is not None:
        dt = dt.astimezone(timezone.utc).replace(tzinfo=None)
    return dt


def _event_to_row(e: dict) -> tuple:
    data = e.get("data")
    if data is not None and not isinstance(data, str):
        data = json.dumps(data, separators=(",", ":"), sort_keys=True)
    return (
        e.get("specversion", "1.0"),
        e["id"],
        e.get("type", ""),
        e.get("source", ""),
        _parse_time(e.get("time")),
        e.get("subject"),
        e.get("method"),
        e.get("datacontenttype"),
        data,
    )


# Immutable-page cache (README.md:330-332: full batches "can be cached for
# a long time" — the server marks them with Cache-Control max-age). Keyed
# by (url, cursor); populated only for responses the SERVER declared
# cacheable, so head pages (no header) are always re-fetched. Process-local
# and bounded — a safety net for re-walks/replays, not a bulk-bootstrap
# mechanism (bootstrap should replay the Parquet landing zone, see module
# docstring).
_PAGE_CACHE: dict[tuple[str, str | None], list[dict]] = {}
_PAGE_CACHE_MAX = 1024

# Most events one streaming ``read`` lands: the walk stops at the first
# page that reaches it (so a batch holds at most one page more), which
# keeps the driver-side micro-batch bounded when a producer outpaces the
# walk. A larger backlog takes more than one micro-batch.
_READ_MAX_EVENTS = 100_000


class FeedContractError(RuntimeError):
    """The server broke the feed contract (README.md:12, :300, :309) in
    the page asked for past ``cursor`` (see :func:`_check_page`)."""

    def __init__(self, message: str, cursor: str | None):
        self.cursor = cursor
        super().__init__(f"{message} (lastEventId={cursor!r})")


def _check_page(cursor: str | None, events: list) -> None:
    """Raise :class:`FeedContractError` unless a non-empty page steps
    past `cursor`: objects with string ids, none twice, the last not the
    cursor, and composite / UUIDv6 positions (``seq_of``) strictly
    increasing from the cursor's. A walk that accepted such a page would
    refetch it forever, or land events twice or out of order."""
    if not all(isinstance(e, dict) and isinstance(e.get("id"), str) for e in events):
        raise FeedContractError("feed page holds an event without a string id", cursor)
    ids = [e["id"] for e in events]
    if len(set(ids)) < len(ids):
        raise FeedContractError("feed page repeats an event id", cursor)
    if ids[-1] == cursor:
        raise FeedContractError("feed page ends at the cursor it was asked past", cursor)
    last = seq_of(cursor)
    for pos in (p for p in map(seq_of, ids) if p is not None):
        if last is not None and pos <= last:
            raise FeedContractError(
                f"feed page position {pos} does not follow position {last}", cursor
            )
        last = pos


def _cacheable(cache_control: str | None) -> bool:
    """True only when the server granted a positive max-age freshness
    lifetime — ``max-age=0`` means do-not-reuse and must not populate the
    immutable-page cache."""
    cc = (cache_control or "").lower()
    if "no-store" in cc or "no-cache" in cc:
        return False
    for directive in cc.split(","):
        # RFC 7234 forbids whitespace around "=", but tolerate it: a miss
        # here only fails closed (skips the cache), so parse leniently.
        name, _, value = directive.partition("=")
        if name.strip() == "max-age":
            try:
                return int(value.strip()) > 0
            except ValueError:
                return False
    return False


def _retry_after_s(value: str | None, default: float) -> float:
    """Seconds a ``Retry-After`` header asks for (delta-seconds or an
    HTTP-date, RFC 9110 §10.2.3); `default` when absent or unparsable."""
    if value is None:
        return default
    try:
        return max(0.0, float(value))
    except ValueError:
        pass
    try:
        return max(0.0, email.utils.parsedate_to_datetime(value).timestamp() - time.time())
    except (TypeError, ValueError):
        return default


def fetch_batch(url: str, last_event_id: str | None, timeout_ms: int | None,
                max_wait_s: float = 30.0, use_cache: bool = False,
                retries: int = 3, backoff_s: float = 0.2) -> list[dict]:
    """One GET against the feed endpoint (README.md:69-82).

    Transient failures (connection resets, timeouts, 5xx, torn bodies)
    retry with exponential backoff — a GET is idempotent and the cursor
    protocol is at-least-once (README.md:113), so retrying is always
    safe. A 429 retries after the server's ``Retry-After`` (capped at
    `max_wait_s`), within the same `retries` budget. Other client errors
    (4xx) never retry."""
    cache_key = (url, last_event_id)
    if use_cache and cache_key in _PAGE_CACHE:
        return _PAGE_CACHE[cache_key]
    params = {}
    if last_event_id is not None:
        params["lastEventId"] = last_event_id
    if timeout_ms is not None:
        params["timeout"] = str(timeout_ms)
    full = url + ("?" + urllib.parse.urlencode(params) if params else "")
    req = urllib.request.Request(full, headers={"Accept": "application/cloudevents-batch+json"})
    for attempt in range(retries + 1):
        wait_s = backoff_s * (2 ** attempt)
        try:
            with urllib.request.urlopen(req, timeout=max_wait_s) as resp:
                cache_control = resp.headers.get("Cache-Control")
                body = resp.read()
            events = json.loads(body)
            break
        except urllib.error.HTTPError as e:
            if (e.code != 429 and e.code < 500) or attempt == retries:
                raise
            if e.code == 429:
                wait_s = min(_retry_after_s(e.headers.get("Retry-After"), wait_s), max_wait_s)
        except (OSError, http.client.IncompleteRead, json.JSONDecodeError):
            # OSError covers URLError, resets and socket timeouts; the
            # other two are a body torn in transit
            if attempt == retries:
                raise
        time.sleep(wait_s)
    if not isinstance(events, list):
        raise ValueError(f"feed endpoint returned non-array body: {body[:200]!r}")
    if use_cache and events and _cacheable(cache_control):
        if len(_PAGE_CACHE) >= _PAGE_CACHE_MAX:
            _PAGE_CACHE.pop(next(iter(_PAGE_CACHE)))
        _PAGE_CACHE[cache_key] = events
    return events


def _pages(url: str, cursor: str | None, timeout_ms: int | None = None,
           use_cache: bool = False) -> Iterator[list[dict]]:
    """The feed's pages from `cursor` to its end (the first empty page,
    README.md:79-82), each checked to move past its cursor. Only the
    first request carries the long-poll `timeout_ms`: it may wait at the
    head, and the requests after it return at once."""
    while events := fetch_batch(url, cursor, timeout_ms, use_cache=use_cache):
        _check_page(cursor, events)
        yield events
        cursor = events[-1]["id"]
        timeout_ms = None


class HttpFeedStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch reader: offset dict = {"lastEventId": str|None}.

    ``read`` walks from the cursor to the feed end (:func:`_pages`), or
    until :data:`_READ_MAX_EVENTS` events have landed, and returns the
    last event's id as the end offset.

    Spark persists the returned offset in the streaming checkpoint —
    fulfilling the spec's "client must persist the lastEventId"
    (README.md:111). ``readBetweenOffsets`` replays a window after restart
    (at-least-once, README.md:113).
    """

    def __init__(self, options: dict):
        self.url = options["url"]
        if not self.url.startswith(("http://", "https://")):
            raise ValueError("httpfeed: option 'url' must be an http(s) URL")
        self.timeout_ms = int(options["timeout"]) if "timeout" in options else None
        self.start_from = options.get("lasteventid")  # resume override

    def initialOffset(self) -> dict:
        # absent/null lastEventId = start from the beginning (README.md:300)
        return {"lastEventId": self.start_from}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        cursor = start.get("lastEventId")
        rows: list[tuple] = []
        for page in _pages(self.url, cursor, self.timeout_ms):
            rows.extend(_event_to_row(e) for e in page)
            cursor = page[-1]["id"]
            if len(rows) >= _READ_MAX_EVENTS:
                break
        return iter(rows), {"lastEventId": cursor}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        # Replay for recovery: walk the cursor from start to end. The
        # server honors the START position even if the cursor event was
        # deleted (README.md:150-154) — and the spec equally allows the
        # END-offset event to be compacted away between the original batch
        # and this replay. So termination is by POSITION (seq_of: composite
        # prefix or UUIDv6 timestamp, README.md:156-159), not identity:
        # stop once an event at or past the end position was returned, and
        # never emit events past it (they belong to later batches — an
        # identity-only loop would replay them as duplicates). Opaque
        # ids fall back to the identity match.
        cursor = start.get("lastEventId")
        stop = end.get("lastEventId")
        stop_pos = seq_of(stop)
        out: list[tuple] = []
        if cursor == stop:
            return iter(out)
        for page in _pages(self.url, cursor, use_cache=True):
            for e in page:
                pos = seq_of(e["id"])
                if stop_pos is not None and pos is not None and pos > stop_pos:
                    return iter(out)
                out.append(_event_to_row(e))
                if e["id"] == stop or (
                    stop_pos is not None and pos is not None and pos >= stop_pos
                ):
                    return iter(out)
        return iter(out)

    def commit(self, end: dict) -> None:
        # nothing server-side to ack — the feed is a plain GET endpoint
        pass


class _WholeFeed(InputPartition):
    def __init__(self):
        super().__init__(value=0)


class HttpFeedBatchReader(DataSourceReader):
    """Bounded read: paginate from the start (or a cursor) to the feed end
    (first empty batch, README.md:79-82). Single partition by design —
    the protocol is a serial cursor walk; see module docstring."""

    def __init__(self, options: dict):
        self.url = options["url"]
        self.start_from = options.get("lasteventid")

    def partitions(self):
        return [_WholeFeed()]

    def read(self, partition) -> Iterator[tuple]:
        # use_cache: full immutable pages (server-marked Cache-Control,
        # README.md:330-332) are served from the process-local page cache
        # on re-walks, so only the mutable head page re-fetches.
        for page in _pages(self.url, self.start_from, use_cache=True):
            for e in page:
                yield _event_to_row(e)


class HttpFeedDataSource(DataSource):
    """`spark.read/readStream.format("httpfeed").option("url", ...)`.

    Options:
      url          feed endpoint (required)
      timeout      long-poll milliseconds, passed through (README.md:301)
      lastEventId  resume cursor override (default: start of feed)
    """

    @classmethod
    def name(cls) -> str:
        return "httpfeed"

    def schema(self) -> StructType:
        return WIRE_ENVELOPE

    def simpleStreamReader(self, schema: StructType) -> HttpFeedStreamReader:
        return HttpFeedStreamReader(self.options)

    def reader(self, schema: StructType) -> HttpFeedBatchReader:
        return HttpFeedBatchReader(self.options)


def register(spark) -> None:
    """Register the source under the name 'httpfeed'.

    The DataSource class ships to Python workers by pickle. By default
    cloudpickle serializes importable classes BY REFERENCE, which breaks
    when the driver session was started outside this repo (worker:
    ``ModuleNotFoundError: http_feeds_spark``) — exactly how an external
    harness invokes us. Registering this module for by-value pickling
    makes the connector self-contained: workers need no code deployment.
    """
    import sys

    try:
        from pyspark import cloudpickle

        cloudpickle.register_pickle_by_value(sys.modules[__name__])
    except Exception:
        pass  # older pickler without the API: fall back to by-reference
    spark.dataSource.register(HttpFeedDataSource)
