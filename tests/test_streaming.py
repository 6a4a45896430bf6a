"""Streaming tests: the HTTP feed connector against a spec-conformant stub
server, stream-batch equivalence, and stateful compaction.

Each test encodes normative spec sentences (SURVEY.md §5):
- empty array = feed end (README.md:82)
- client persists lastEventId; resume returns only newer events (:111, :12)
- position preserved when the cursor event was compacted away (:154)
- at-least-once + idempotent consumer (:113-114)
- aggregate-feed read model = latest per subject minus tombstones (:168-179)
"""

from __future__ import annotations

import tempfile
import time

import pytest

from pyspark.sql import functions as F


@pytest.fixture()
def feed():
    from tests.feed_server import FeedState, serve

    state = FeedState()
    srv, url = serve(state)
    yield state, url
    srv.shutdown()


def _seed_inventory(state):
    """The spec's worked example: 3 inventory events (README.md:29-65),
    later a DELETE tombstone for subject 9521234567899 (:279-288)."""
    state.append("org.http-feeds.example.inventory", "9521234567899",
                 {"sku": "9521234567899", "updated": "2022-01-01T00:00:01Z", "quantity": 5},
                 time_iso="2021-01-01T00:00:01.000000Z")
    state.append("org.http-feeds.example.inventory", "9521234512349",
                 {"sku": "9521234512349", "updated": "2022-01-01T00:00:12Z", "quantity": 0},
                 time_iso="2021-12-01T00:00:15.000000Z")
    state.append("org.http-feeds.example.inventory", "9521234567899",
                 {"sku": "9521234567899", "updated": "2022-01-01T00:00:21Z", "quantity": 4},
                 time_iso="2021-01-01T00:00:22.000000Z")


def test_batch_read_whole_feed(spark, feed):
    state, url = feed
    _seed_inventory(state)
    from http_feeds_spark.sources import http_feed

    http_feed.register(spark)
    df = spark.read.format("httpfeed").option("url", url).load()
    rows = df.orderBy("id").collect()
    assert len(rows) == 3
    assert rows[0].subject == "9521234567899"
    assert rows[0].specversion == "1.0"
    assert '"quantity": 5' in rows[0].data or '"quantity":5' in rows[0].data


def test_batch_read_respects_cursor_and_feed_end(spark, feed):
    state, url = feed
    _seed_inventory(state)
    from http_feeds_spark.sources import http_feed
    from tests.feed_server import make_id

    http_feed.register(spark)
    after2 = (
        spark.read.format("httpfeed").option("url", url)
        .option("lastEventId", make_id(2)).load()
    )
    rows = after2.collect()
    assert [r.id for r in rows] == [make_id(3)]  # strictly newer only (:12)
    at_head = (
        spark.read.format("httpfeed").option("url", url)
        .option("lastEventId", make_id(3)).load()
    )
    assert at_head.count() == 0  # empty array = feed end (:82)


def test_deleted_cursor_position_preserved(spark, feed):
    """README.md:150-154: scrolling must work even when the lastEventId
    event has been compacted away."""
    state, url = feed
    _seed_inventory(state)
    state.compact()  # removes seq 1 (older entry for 9521234567899)
    from http_feeds_spark.sources import http_feed
    from tests.feed_server import make_id

    http_feed.register(spark)
    # cursor = seq 1, which no longer exists in the log
    df = (
        spark.read.format("httpfeed").option("url", url)
        .option("lastEventId", make_id(1)).load()
    )
    assert sorted(r.id for r in df.collect()) == [make_id(2), make_id(3)]


def test_streaming_subscription_and_checkpoint_resume(spark, feed):
    """A8 simple polling as a Structured Streaming query: all events arrive
    exactly once (per id) across restarts; offset = lastEventId persisted
    in the checkpoint (:111)."""
    state, url = feed
    _seed_inventory(state)
    from http_feeds_spark.sources import http_feed
    from tests.feed_server import make_id

    http_feed.register(spark)
    with tempfile.TemporaryDirectory() as tmp:
        ckpt, out = f"{tmp}/ckpt", f"{tmp}/out"

        def run_stream():
            q = (
                spark.readStream.format("httpfeed").option("url", url).load()
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(processingTime="200 milliseconds")
                .start()
            )
            return q

        def run_until(n_rows: int, attempts: int = 3) -> None:
            # transient worker startup failures kill the streaming query;
            # restarting from the checkpoint IS the spec's recovery story
            # (README.md:111) — exercise it instead of flaking
            for attempt in range(attempts):
                q = run_stream()
                try:
                    deadline = time.time() + 60
                    while time.time() < deadline:
                        q.processAllAvailable()
                        try:
                            if spark.read.parquet(out).count() >= n_rows:
                                return
                        except Exception:
                            pass
                        time.sleep(0.3)
                    return  # deadline reached; let the assertion decide
                except Exception:
                    if attempt == attempts - 1:
                        raise
                finally:
                    q.stop()

        run_until(3)
        assert spark.read.parquet(out).count() == 3

        # restart: new events appended while the stream was down
        state.append("org.http-feeds.example.inventory", "9521234599999",
                     {"sku": "9521234599999", "quantity": 1},
                     time_iso="2021-12-30T00:00:00.000000Z")
        run_until(4)
        got = spark.read.parquet(out)
        assert got.count() == 4  # no redelivery of the first three
        assert got.select("id").distinct().count() == 4
        assert got.filter(F.col("id") == make_id(4)).count() == 1


def test_streaming_compaction_read_model(spark, feed):
    """C5: stateful latest-per-subject over the live feed equals the batch
    read model, including the DELETE tombstone (README.md:270-292)."""
    state, url = feed
    _seed_inventory(state)
    # tombstone: delete subject 9521234567899 (README.md:279-288)
    state.append("org.http-feeds.example.inventory", "9521234567899", None,
                 method="DELETE", time_iso="2021-12-31T00:00:01.000000Z")

    from http_feeds_spark.operators import feed as ops
    from http_feeds_spark.sources import http_feed
    from http_feeds_spark.streaming.compaction import latest_per_subject_stream

    http_feed.register(spark)
    with tempfile.TemporaryDirectory() as tmp:
        stream = spark.readStream.format("httpfeed").option("url", url).load()
        stream = ops.parse_seq(stream)  # composite ids carry the order (:159)
        latest = latest_per_subject_stream(stream)
        q = (
            latest.writeStream.format("memory").queryName("read_model_stream")
            .outputMode("update")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 60
            while time.time() < deadline:
                q.processAllAvailable()
                n = spark.sql("SELECT count(DISTINCT subject) c FROM read_model_stream").collect()[0].c
                if n >= 2:
                    break
                time.sleep(0.3)
        finally:
            q.stop()

        # take the latest emission per subject (update mode emits per change)
        snap = spark.sql(
            """
            SELECT subject, seq, method, is_deleted FROM (
              SELECT *, row_number() OVER (PARTITION BY subject ORDER BY seq DESC) rn
              FROM read_model_stream
            ) WHERE rn = 1
            """
        ).collect()
        by_subject = {r.subject: r for r in snap}
        # deleted subject surfaces as a tombstone marker; live subject has latest PUT
        assert by_subject["9521234567899"].is_deleted
        assert not by_subject["9521234512349"].is_deleted

        # live view equals the batch read model on the same feed
        batch = ops.read_model(
            ops.parse_seq(spark.read.format("httpfeed").option("url", url).load())
        )
        live = [s for s, r in by_subject.items() if not r.is_deleted]
        assert sorted(live) == sorted(r.subject for r in batch.collect())


def test_long_poll_holds_and_releases(feed):
    """A9 (README.md:118-146): with `timeout`, the server holds the
    connection on an exhausted head until new events arrive (early
    return) or the timeout lapses (empty array)."""
    import threading

    from http_feeds_spark.sources.http_feed import fetch_batch
    from tests.feed_server import make_id

    state, url = feed
    _seed_inventory(state)
    head = make_id(3)

    # expiry: exhausted head + short timeout → hold ~timeout, then []
    t0 = time.monotonic()
    assert fetch_batch(url, head, timeout_ms=400) == []
    assert time.monotonic() - t0 >= 0.35

    # release: append from another thread mid-hold → early return
    def appender():
        time.sleep(0.3)
        state.append("org.http-feeds.example.inventory", "9521234500001",
                     {"sku": "9521234500001", "quantity": 9},
                     time_iso="2021-12-30T00:00:00.000000Z")

    threading.Thread(target=appender, daemon=True).start()
    t0 = time.monotonic()
    events = fetch_batch(url, head, timeout_ms=5000)
    elapsed = time.monotonic() - t0
    assert [e["id"] for e in events] == [make_id(4)]
    assert elapsed < 4.0  # returned on append, not at timeout expiry


def test_long_poll_streaming_e2e(spark, feed):
    """A9 end-to-end through the connector: a stream with
    .option("timeout", ...) long-polls the exhausted head and picks up an
    event appended mid-hold."""
    import threading

    from http_feeds_spark.sources import http_feed
    from tests.feed_server import make_id

    state, url = feed
    _seed_inventory(state)
    http_feed.register(spark)

    def appender():
        time.sleep(1.0)
        state.append("org.http-feeds.example.inventory", "9521234500002",
                     {"sku": "9521234500002", "quantity": 2},
                     time_iso="2021-12-30T00:00:01.000000Z")

    threading.Thread(target=appender, daemon=True).start()
    with tempfile.TemporaryDirectory() as tmp:
        q = (
            spark.readStream.format("httpfeed")
            .option("url", url)
            .option("timeout", "8000")
            .load()
            .writeStream.format("memory").queryName("longpoll_stream")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 60
            while time.time() < deadline:
                q.processAllAvailable()
                got = {r.id for r in spark.sql("SELECT id FROM longpoll_stream").collect()}
                if make_id(4) in got:
                    break
                time.sleep(0.2)
        finally:
            q.stop()
        assert make_id(4) in got  # appended mid-hold, delivered by long poll


def test_replay_stops_at_compacted_end_offset(feed):
    """ADVICE: the END-offset event may be compacted away between the
    original micro-batch and a recovery replay (README.md:150-154 allows
    deleting the cursor event). The replay must stop on POSITION — never
    walking past the end offset into later batches (duplicates)."""
    from http_feeds_spark.sources.http_feed import HttpFeedStreamReader
    from tests.feed_server import make_id

    state, url = feed
    # seq1=A, seq2=B, seq3=C, then C updated at seq4, A at seq5
    for i, subj in enumerate(["A", "B", "C"], start=1):
        state.append("t", subj, {"v": i}, time_iso="2021-01-01T00:00:01.000000Z")
    state.append("t", "C", {"v": 4}, time_iso="2021-01-01T00:00:02.000000Z")
    state.append("t", "A", {"v": 5}, time_iso="2021-01-01T00:00:03.000000Z")
    # original batch ended at seq3; compaction then removed seq1 and seq3
    state.compact()
    assert [e["id"] for e in state.events] == [make_id(2), make_id(4), make_id(5)]

    reader = HttpFeedStreamReader({"url": url})
    rows = list(
        reader.readBetweenOffsets(
            {"lastEventId": make_id(1)}, {"lastEventId": make_id(3)}
        )
    )
    ids = [r[1] for r in rows]  # id is field 1 of the wire envelope
    assert ids == [make_id(2)]  # seq4/seq5 belong to later batches


def test_fetch_retries_transient_5xx(feed):
    """Transient server errors retry with backoff (GET is idempotent,
    delivery at-least-once — retrying is always safe); persistent errors
    surface, and 4xx never retries."""
    import urllib.error

    import pytest as _pytest

    from http_feeds_spark.sources.http_feed import fetch_batch
    from tests.feed_server import make_id

    state, url = feed
    _seed_inventory(state)

    state.fail_next_n = 2  # two 503s, then success
    events = fetch_batch(url, None, None, backoff_s=0.01)
    assert [e["id"] for e in events] == [make_id(1), make_id(2), make_id(3)]

    state.fail_next_n = 10  # more failures than retries → surfaces
    with _pytest.raises(urllib.error.HTTPError):
        fetch_batch(url, None, None, retries=2, backoff_s=0.01)
    state.fail_next_n = 0


def test_page_cache_skips_immutable_pages(feed):
    """A13 (README.md:330-332): full batches are immutable and cacheable;
    a second bootstrap must serve them from the page cache and re-fetch
    only the mutable (partial) head page."""
    from http_feeds_spark.sources.http_feed import (
        _PAGE_CACHE,
        HttpFeedBatchReader,
    )

    state, url = feed
    # 2.5 server pages: 100-event full pages are marked cacheable
    for i in range(250):
        state.append("t", f"s{i}", {"v": i}, time_iso="2021-01-01T00:00:01.000000Z")

    _PAGE_CACHE.clear()
    reader = HttpFeedBatchReader({"url": url})
    assert len(list(reader.read(None))) == 250
    first_walk = state.request_count
    assert len(list(reader.read(None))) == 250
    second_walk = state.request_count - first_walk
    # walk 1: 2 full + 1 partial + 1 empty = 4 GETs; walk 2: the two full
    # pages come from cache → only the partial head + empty-end GETs
    assert second_walk < first_walk
    assert second_walk == first_walk - 2
    _PAGE_CACHE.clear()


def test_cacheable_parses_max_age_value():
    """max-age must be a positive integer to grant caching — 'max-age=0'
    is the server saying do-not-reuse and must not populate the cache."""
    from http_feeds_spark.sources.http_feed import _cacheable

    assert _cacheable("public, max-age=31536000")
    assert _cacheable("max-age=1")
    assert not _cacheable("max-age=0")
    assert not _cacheable("public, max-age=0, must-revalidate")
    assert not _cacheable("max-age=banana")
    assert not _cacheable("no-store, max-age=3600")
    assert not _cacheable("no-cache, max-age=3600")
    assert not _cacheable(None)
    assert not _cacheable("public")


def test_foreach_batch_upsert_epochs(spark):
    """C5 sink path: multi-micro-batch upsert into the bucketed epoch
    read model — updates, tombstone deletes, inserts; partial rewrites
    (a batch touching k subjects rewrites only their buckets, and the
    manifest keeps untouched buckets pointing at the older epoch)."""
    import json
    import os

    from http_feeds_spark.streaming.compaction import (
        foreach_batch_upsert,
        read_read_model,
    )

    def rows_df(rows):
        return spark.createDataFrame(
            rows, "subject string, seq long, time timestamp, type string, "
            "method string, data string, is_deleted boolean"
        )

    t = __import__("datetime").datetime(2022, 1, 1)
    ty = "org.http-feeds.example.inventory"
    with tempfile.TemporaryDirectory() as tmp:
        src, root = f"{tmp}/src", f"{tmp}/model"
        os.makedirs(src)
        # micro-batch 1: four PUTs
        rows_df(
            [(f"s{i}", i, t, ty, "PUT", f'{{"v": {i}}}', False) for i in range(1, 5)]
        ).coalesce(1).write.mode("append").parquet(src)

        schema = rows_df([]).schema
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(foreach_batch_upsert(root, num_buckets=8))
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        try:
            q.processAllAvailable()
            snap1 = {r.subject: r for r in read_read_model(spark, root).collect()}
            assert sorted(snap1) == ["s1", "s2", "s3", "s4"]

            # micro-batch 2: update s1, tombstone s2, insert s5
            rows_df(
                [
                    ("s1", 10, t, ty, "PUT", '{"v": 100}', False),
                    ("s2", 11, t, ty, "DELETE", None, True),
                    ("s5", 12, t, ty, "PUT", '{"v": 5}', False),
                ]
            ).coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()
        finally:
            q.stop()

        snap2 = {r.subject: r for r in read_read_model(spark, root).collect()}
        assert sorted(snap2) == ["s1", "s3", "s4", "s5"]  # s2 deleted
        assert snap2["s1"].seq == 10 and snap2["s1"].data == '{"v": 100}'
        assert snap2["s3"].seq == 3  # untouched row carried over

        # partial rewrite: ≥2 live epochs, and the newest epoch holds only
        # the buckets touched by batch 2 (strictly fewer than the total)
        manifest = json.load(open(os.path.join(root, "_MANIFEST.json")))
        live_epochs = set(manifest["buckets"].values())
        assert len(live_epochs) >= 2
        newest = max(live_epochs)
        new_buckets = [
            d for d in os.listdir(os.path.join(root, newest)) if d.startswith("bucket=")
        ]
        assert 0 < len(new_buckets) <= 3  # at most the 3 touched subjects
        assert len(new_buckets) < len(manifest["buckets"])
        # GC: no unreferenced epoch dirs remain
        on_disk = {d for d in os.listdir(root) if d.startswith("epoch=")}
        assert on_disk == live_epochs


def test_available_now_bounded_catchup(spark, feed):
    """A8 as a bounded backfill: Trigger.AvailableNow drains everything
    the feed holds at start time and then STOPS on its own — the
    batch-backfill-through-the-streaming-path pattern (same checkpoint,
    so a later live run resumes where the backfill ended). The feed
    spans 3 pages (100 per page); one run lands all of them."""
    state, url = feed
    _seed_inventory(state)
    for i in range(247):
        state.append("t", f"s{i}", {"v": i}, time_iso="2021-01-01T00:00:01.000000Z")
    from http_feeds_spark.sources import http_feed

    http_feed.register(spark)
    with tempfile.TemporaryDirectory() as tmp:
        q = (
            spark.readStream.format("httpfeed").option("url", url).load()
            .writeStream.format("parquet")
            .option("path", f"{tmp}/out")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(60), "AvailableNow query did not self-stop"
        out = spark.read.parquet(f"{tmp}/out")
        assert out.count() == 250
        assert out.select("id").distinct().count() == 250


def test_incremental_rollup_refresh_equals_batch(spark, sf_dir):
    """Continuous-aggregate refresh: after streaming the events table in
    micro-batches through foreach_batch_rollup, the served daily result
    must EQUAL the batch rollup over all events (mergeable partials make
    the incremental path exact), with partial rewrites per touched date."""
    import json
    import os

    from http_feeds_spark.operators import rollup as ru
    from http_feeds_spark.sources.tables import load_table
    from http_feeds_spark.streaming.rollup_refresh import (
        foreach_batch_rollup,
        read_rollup_store,
    )

    ev = load_table(spark, sf_dir, "events")
    with tempfile.TemporaryDirectory() as tmp:
        src, root = f"{tmp}/src", f"{tmp}/rollup"
        ev.repartition(4).write.parquet(src)  # 4 files → 4 micro-batches
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(foreach_batch_rollup(root))
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        def snap(df):
            return {
                (r.bucket_start, r.event_type): (r.n_events, r.sum_value)
                for r in df.collect()
            }

        served = snap(ru.reaggregate(read_rollup_store(spark, root), "1 day"))
        batch = snap(ru.reaggregate(ru.rollup_aggregate(ev, "1 hour"), "1 day"))
        assert served == batch and len(batch) > 0

        manifest = json.load(open(os.path.join(root, "_MANIFEST.json")))
        assert len(manifest["buckets"]) > 0
        on_disk = {d for d in os.listdir(root) if d.startswith("epoch=")}
        assert on_disk == set(manifest["buckets"].values())  # GC ran

        # exactly-once: re-delivering the last micro-batch (same
        # epoch_id, Spark's retry contract) must not double-count
        last_epoch = manifest["last_epoch_id"]
        foreach_batch_rollup(root)(ev.limit(50), last_epoch)
        assert snap(ru.reaggregate(read_rollup_store(spark, root), "1 day")) == batch


def test_stream_batch_equivalence_tumbling(spark, sf_dir):
    """C3: a tumbling-window aggregation over a file stream of the events
    table equals the batch answer (replay equivalence)."""
    import glob
    import shutil

    from http_feeds_spark.queries import registry
    from http_feeds_spark.sources.tables import load_table

    batch_rows = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in registry()["q_stream_tumbling"].fn(spark, sf_dir).collect()
    }

    ev = load_table(spark, sf_dir, "events")
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/src"
        ev.repartition(4).write.parquet(src)  # several files → several micro-batches
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        agg = (
            stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
            )
            .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
        )
        q = (
            agg.writeStream.format("memory").queryName("tumbling_stream")
            .outputMode("complete")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        stream_rows = {
            (r.window_start, r.event_type): (r.n_events, r.total_value)
            for r in spark.sql("SELECT * FROM tumbling_stream").collect()
        }
    assert stream_rows == batch_rows


def test_stream_dedup_within_watermark(spark, feed):
    """C6: dropDuplicatesWithinWatermark heals at-least-once redelivery."""
    state, url = feed
    _seed_inventory(state)
    from http_feeds_spark.sources import http_feed

    http_feed.register(spark)
    with tempfile.TemporaryDirectory() as tmp:
        stream = spark.readStream.format("httpfeed").option("url", url).load()
        deduped = stream.withWatermark("time", "10 minutes").dropDuplicatesWithinWatermark(["id"])
        q = (
            deduped.writeStream.format("memory").queryName("dedup_stream")
            .outputMode("append")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 60
            while time.time() < deadline:
                q.processAllAvailable()
                if spark.sql("SELECT count(*) c FROM dedup_stream").collect()[0].c >= 3:
                    break
                time.sleep(0.3)
        finally:
            q.stop()
        n = spark.sql("SELECT count(*) c, count(DISTINCT id) d FROM dedup_stream").collect()[0]
        assert n.c == n.d == 3


def test_cacheable_tolerates_whitespace_around_equals():
    """ADVICE r3: 'max-age = 60' (non-RFC whitespace) should still parse."""
    from http_feeds_spark.sources.http_feed import _cacheable

    assert _cacheable("public, max-age = 60")
    assert _cacheable("MAX-AGE =  31536000 ")
    assert not _cacheable("max-age = 0")


def test_ingest_run_e2e_restart_compact_read_model(spark, feed):
    """The orchestrated pipeline (http_feeds_spark.ingest): catch-up
    ingest → restart mid-stream (same checkpoint resumes the cursor, no
    duplicates) → compact → read model equals the batch answer computed
    straight off the live feed. Covers the single-checkpoint story and
    AvailableNow catch-up in one composition."""
    import tempfile

    from http_feeds_spark import ingest
    from http_feeds_spark.operators import feed as ops

    state, url = feed
    _seed_inventory(state)

    with tempfile.TemporaryDirectory() as tmp:
        root = f"{tmp}/landing"
        # phase 1: bounded catch-up drains the 3 seeded events
        s1 = ingest.run(spark, url, root)
        assert s1["raw_rows"] == 3

        # mid-stream: producer appends a new PUT and a DELETE tombstone
        state.append(
            "org.http-feeds.example.inventory", "9521234599999",
            {"sku": "9521234599999", "quantity": 7},
            time_iso="2021-12-30T00:00:00.000000Z",
        )
        state.append(
            "org.http-feeds.example.inventory", "9521234567899", None,
            method="DELETE", time_iso="2021-12-31T00:00:01.000000Z",
        )

        # phase 2: restart — same checkpoint, only the 2 new events land
        s2 = ingest.run(spark, url, root, compact=True)
        assert s2["raw_rows"] == 5  # no redelivery of phase-1 rows
        raw = spark.read.parquet(f"{root}/raw")
        assert raw.select("id").distinct().count() == 5

        # compacted rewrite: latest per subject, tombstoned subject gone
        assert s2["compacted_rows"] == 2  # 9521234512349 + 9521234599999

        # read model (served from compacted) ≡ batch answer off the feed
        served = {
            (r.subject, r.seq)
            for r in ingest.read_model(spark, root).collect()
        }
        batch = ops.read_model(
            ops.parse_seq(
                spark.read.format("httpfeed").option("url", url).load()
            )
        )
        assert served == {(r.subject, r.seq) for r in batch.collect()}
        assert sorted(s for s, _ in served) == ["9521234512349", "9521234599999"]


def test_ingest_compact_tombstone_horizon_e2e(spark, feed):
    """VERDICT r5 #6 — the tombstone horizon driven through the
    orchestrated pipeline: run(..., compact=True, tombstone_horizon_seq)
    with a consumer parked BELOW the deletion's seq must keep the DELETE
    in the compacted copy, so that consumer's offset scan still learns
    of the deletion mid-replay (README.md:154, :290); once every
    consumer is past it, a later compaction drops it."""
    import tempfile

    from http_feeds_spark import ingest

    state, url = feed
    _seed_inventory(state)  # seqs 1-3
    state.append(
        "org.http-feeds.example.inventory", "9521234567899", None,
        method="DELETE", time_iso="2021-12-31T00:00:01.000000Z",
    )  # seq 4: tombstone for the twice-updated subject

    with tempfile.TemporaryDirectory() as tmp:
        root = f"{tmp}/landing"
        # a lagging consumer's cursor sits at seq 3 — it has NOT seen the
        # DELETE, so the horizon (min cursor across consumers) is 3
        s = ingest.run(spark, url, root, compact=True, tombstone_horizon_seq=3)
        assert s["raw_rows"] == 4
        compacted = spark.read.parquet(f"{root}/compacted")
        tombs = compacted.filter(
            F.coalesce(F.col("method"), F.lit("PUT")) == "DELETE"
        ).collect()
        assert [(t.subject, t.seq) for t in tombs] == [("9521234567899", 4)]
        # prior entries of the tombstoned subject are compacted away...
        assert compacted.filter(F.col("subject") == "9521234567899").count() == 1
        # ...and the lagging consumer's offset scan sees the DELETE
        replay = compacted.filter(F.col("seq") > 3).collect()
        assert any(r.method == "DELETE" and r.subject == "9521234567899" for r in replay)

        # consumers caught up (cursor ≥ 4): the next rewrite drops it
        done = ingest.compact_now(spark, root, tombstone_horizon_seq=4)
        assert done.filter(F.col("subject") == "9521234567899").count() == 0


def test_ingest_continuous_mode_and_catchup_seam(spark, feed):
    """catch_up=False returns a live StreamingQuery on the same
    checkpoint; a later catch-up run resumes from where the live run
    stopped with no duplicates (one cursor story across modes)."""
    import tempfile

    from http_feeds_spark import ingest

    state, url = feed
    _seed_inventory(state)
    with tempfile.TemporaryDirectory() as tmp:
        root = f"{tmp}/landing"
        q = ingest.run(spark, url, root, catch_up=False)
        try:
            deadline = time.time() + 60
            while time.time() < deadline:
                q.processAllAvailable()
                try:
                    if spark.read.parquet(f"{root}/raw").count() >= 3:
                        break
                except Exception:
                    pass
                time.sleep(0.2)
        finally:
            q.stop()
        assert spark.read.parquet(f"{root}/raw").count() == 3

        # append while down; catch-up on the SAME checkpoint drains just it
        state.append("org.http-feeds.example.inventory", "9521234588888",
                     {"sku": "9521234588888", "quantity": 2},
                     time_iso="2021-12-30T01:00:00.000000Z")
        s = ingest.run(spark, url, root)
        assert s["raw_rows"] == 4
        raw = spark.read.parquet(f"{root}/raw")
        assert raw.select("id").distinct().count() == 4


@pytest.mark.parametrize("component, label", [("run", "landing")])
def test_catch_up_overrun_raises_and_stops_query(
    spark, feed, tmp_path, monkeypatch, component, label
):
    """A catch-up that overruns the module timeout is stopped and
    reported as a TimeoutError naming the component; no query is left
    running."""
    from http_feeds_spark import ingest

    state, url = feed
    _seed_inventory(state)
    monkeypatch.setattr(ingest, "CATCH_UP_TIMEOUT_S", 0.001)
    with pytest.raises(TimeoutError, match=f"^{label} catch-up did not drain"):
        getattr(ingest, component)(spark, url, str(tmp_path / label))
    assert spark.streams.active == []


def test_ingest_compact_mints_seq_for_opaque_ids(spark):
    """compact_now falls back to mint_seq when the landed feed carries
    opaque ids (null seq from parse_seq_auto) — the read model still
    resolves latest-per-subject correctly by (time, id) order."""
    import tempfile

    from http_feeds_spark import ingest

    rows = [
        # opaque UUIDs: no composite prefix, no UUIDv6 → seq null
        ("b1946ac9-4d3c-4b40-9c9d-000000000001", "2021-01-01T00:00:01", "s1", None, '{"v": 1}'),
        ("b1946ac9-4d3c-4b40-9c9d-000000000002", "2021-01-01T00:00:02", "s2", None, '{"v": 2}'),
        ("b1946ac9-4d3c-4b40-9c9d-000000000003", "2021-01-01T00:00:03", "s1", None, '{"v": 3}'),
    ]
    feed = spark.createDataFrame(
        [
            (None, "1.0", rid, "t", "src", ts, subj, method, None, data)
            for rid, ts, subj, method, data in rows
        ],
        "seq long, specversion string, id string, type string, source string,"
        "time string, subject string, method string, datacontenttype string, data string",
    ).withColumn("time", F.to_timestamp("time"))
    with tempfile.TemporaryDirectory() as tmp:
        root = f"{tmp}/landing"
        feed.write.parquet(f"{root}/raw")
        compacted = ingest.compact_now(spark, root)
        got = {(r.subject, r.data) for r in compacted.collect()}
        # latest per subject by time order: s1 -> v3, s2 -> v2
        assert got == {("s1", '{"v": 3}'), ("s2", '{"v": 2}')}
        seqs = sorted(r.seq for r in compacted.collect())
        assert all(s is not None for s in seqs)
        # opaque-id zones read the compacted copy (minted seqs) by choice
        served = ingest.read_model(spark, root, prefer_compacted=True)
        assert {r.subject for r in served.collect()} == {"s1", "s2"}


def test_ingest_read_model_never_serves_stale_compacted(spark):
    """read_model defaults to RAW: events ingested after the last
    compaction (new subject, an update, a DELETE) must all be visible —
    a stale compacted copy may only be served on explicit opt-in."""
    import tempfile

    from http_feeds_spark import ingest

    def feed_df(rows):
        return spark.createDataFrame(
            [
                (seq, "1.0", f"{seq:07d}::x", "t", "src", None, subj, method, None, data)
                for seq, subj, method, data in rows
            ],
            "seq long, specversion string, id string, type string, source string,"
            "time timestamp, subject string, method string, datacontenttype string,"
            "data string",
        )

    with tempfile.TemporaryDirectory() as tmp:
        root = f"{tmp}/landing"
        feed_df([(1, "s1", None, "v1"), (2, "s2", None, "v2")]).write.parquet(
            f"{root}/raw"
        )
        ingest.compact_now(spark, root)
        # post-compaction events: update s1, delete s2, create s3
        feed_df(
            [(3, "s1", None, "v3"), (4, "s2", "DELETE", None), (5, "s3", None, "v5")]
        ).write.mode("append").parquet(f"{root}/raw")

        served = {(r.subject, r.data) for r in ingest.read_model(spark, root).collect()}
        assert served == {("s1", "v3"), ("s3", "v5")}  # fresh, s2 deleted
        stale = {
            (r.subject, r.data)
            for r in ingest.read_model(spark, root, prefer_compacted=True).collect()
        }
        assert stale == {("s1", "v1"), ("s2", "v2")}  # the explicit trade-off


def test_ingest_compact_rejects_mixed_id_encodings(spark):
    """A landing zone mixing positional and opaque ids must be rejected:
    re-minting would renumber positional rows and invalidate persisted
    consumer cursors (README.md:150-154)."""
    import tempfile

    import pytest

    from http_feeds_spark import ingest

    rows = [
        (1000001, "0001000001::aa", "s1"),  # positional (composite id)
        (None, "b1946ac9-4d3c-4b40-9c9d-00000000000a", "s2"),  # opaque
    ]
    feed = spark.createDataFrame(
        [
            (seq, "1.0", rid, "t", "src", None, subj, None, None, "{}")
            for seq, rid, subj in rows
        ],
        "seq long, specversion string, id string, type string, source string,"
        "time timestamp, subject string, method string, datacontenttype string,"
        "data string",
    )
    with tempfile.TemporaryDirectory() as tmp:
        root = f"{tmp}/landing"
        feed.write.parquet(f"{root}/raw")
        with pytest.raises(ValueError, match="mixes positional and opaque"):
            ingest.compact_now(spark, root)


def test_dedup_legacy_store_migration(spark, tmp_path):
    """A pre-r7 (unbucketed) dedup index refuses folds with a pointer to
    migrate_legacy_store; migration rewrites the band/shingle stores
    bucketed IN PLACE (rows exact, assignment untouched), after which
    folds resume and match a fresh refold — and a crash between the
    stage commit and the swap converges on re-run."""
    import pytest
    from pyspark.sql import functions as F

    from http_feeds_spark.streaming import dedup as sd

    text = "the quick brown fox jumps over the lazy dog again and again today"
    w1 = spark.createDataFrame(
        [(1, text), (2, text + " extra")], "doc_id long, text string"
    )
    w2 = spark.createDataFrame(
        [(3, "completely different words about unrelated topics entirely")],
        "doc_id long, text string",
    )
    root = str(tmp_path / "sd")
    sd.fold_batch(spark, w1, root)

    # devolve to the legacy layout: flat files, no bucket column
    bands_path, shingles_path, _ = sd._paths(root)
    import shutil

    for store in (bands_path, shingles_path):
        flat = spark.read.parquet(store).drop("bucket").collect()
        df = spark.createDataFrame(flat, spark.read.parquet(store).drop("bucket").schema)
        shutil.rmtree(store)
        df.write.parquet(store)

    with pytest.raises(ValueError, match="migrate_legacy_store"):
        sd.fold_batch(spark, w2, root)

    before = {
        s: sorted(tuple(r) for r in spark.read.parquet(s).collect())
        for s in (bands_path, shingles_path)
    }
    out = sd.migrate_legacy_store(spark, root)
    assert set(out) == {sd.BANDS_DIR, sd.SHINGLES_DIR}
    for store, rows in before.items():
        after = sorted(
            tuple(r) for r in spark.read.parquet(store).drop("bucket").collect()
        )
        assert after == rows  # rows exact, only the layout changed
    assert sd.migrate_legacy_store(spark, root) == {}  # idempotent no-op

    # crash window: stage committed, live deleted, swap torn
    stage = bands_path.rstrip("/") + "__migrate_stage"
    shutil.copytree(bands_path, stage)
    shutil.rmtree(bands_path)
    sd.migrate_legacy_store(spark, root)  # resume restores the store
    assert sorted(
        tuple(r) for r in spark.read.parquet(bands_path).drop("bucket").collect()
    ) == before[bands_path]

    # folds resume post-migration; assignment matches a fresh refold
    sd.fold_batch(spark, w2, root)
    asg = {r.node: r.component for r in sd.read_assignment(spark, root).collect()}
    fresh_root = str(tmp_path / "fresh")
    sd.fold_batch(spark, w1, fresh_root)
    sd.fold_batch(spark, w2, fresh_root)
    want = {
        r.node: r.component
        for r in sd.read_assignment(spark, fresh_root).collect()
    }
    assert asg == want
