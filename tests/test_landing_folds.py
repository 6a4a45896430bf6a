"""Folds from the landing zone: ``ingest.run`` is the platform's only
HTTP consumer, and every derived store folds the landed events after
its own ``seq`` cursor. Pinned here: the cursor survives landing
compaction and retirement, a crash between a fold's store write and its
cursor commit refolds without double counting, a backlog past one range
folds in bounded ranges, null-seq rows are refused
before any write, a catch-up after a crash between the landing's offset
and commit writes still reaches the feed end in one call, and a
retirement horizon past a same-wave DELETE still lets erasure see it."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

import tests.feed_server as fs
from http_feeds_spark import ingest
from http_feeds_spark.operators import text_index as ti
from http_feeds_spark.streaming import dedup as sd
from http_feeds_spark.streaming import monitor as mon


@pytest.fixture()
def feed():
    state = fs.FeedState()
    srv, url = fs.serve(state)
    yield state, url
    srv.shutdown()


def _docs(state, ids) -> None:
    for i in ids:
        state.append("doc", str(i), {"doc_id": i, "text": f"window filter body{i} tail{i}"})


def _fold_all(spark, landing: str, root: str) -> dict:
    return {
        "text": ingest.run_text_index(spark, landing, f"{root}/text")["indexed_docs"],
        "dedup": ingest.run_dedup_index(spark, landing, f"{root}/dedup")["indexed_docs"],
        "monitor": ingest.run_monitor(spark, landing, f"{root}/monitor")["n_docs"],
    }


def test_cursor_survives_landing_compaction_and_retirement(spark, feed, tmp_path):
    """Land and fold, land more, compact the landing files and retire
    raw history below the folds' cursor, then fold again: every document
    reaches text, dedup and monitor exactly once."""
    state, url = feed
    landing, root = str(tmp_path / "landing"), str(tmp_path / "stores")
    _docs(state, range(4))
    ingest.run(spark, url, landing)
    assert _fold_all(spark, landing, root) == {"text": 4, "dedup": 4, "monitor": 4}

    _docs(state, range(4, 8))
    ingest.run(spark, url, landing)
    assert ingest.compact_landing_files(spark, landing, max_files=1)["files_before"] == 2
    ingest.retire_landing_history(spark, landing, horizon_seq=4)
    assert min(r.seq for r in spark.read.parquet(f"{landing}/raw").collect()) > 4

    assert _fold_all(spark, landing, root) == {"text": 8, "dedup": 8, "monitor": 8}
    hits = {r.doc_id for r in ti.search(spark, f"{root}/text", ["window"], k=20).collect()}
    assert hits == set(range(8))


def test_crash_before_cursor_commit_refolds_without_double_count(
    spark, feed, tmp_path, monkeypatch
):
    """A crash after each fold's store write but before its cursor
    commit: the rerun refolds the same range, and text / dedup
    ``indexed_docs`` and monitor ``n_docs`` stay what the crashed write
    left — the monitor rewrites the unit keyed by the range's start."""
    state, url = feed
    landing, root = str(tmp_path / "landing"), str(tmp_path / "stores")
    _docs(state, range(6))
    ingest.run(spark, url, landing)

    write_text = ingest._write_text

    def crash_on_cursor(spark_, path, body):
        if path.endswith(ingest.CURSOR_FILE):
            raise RuntimeError("crash before the cursor commit")
        write_text(spark_, path, body)

    monkeypatch.setattr(ingest, "_write_text", crash_on_cursor)
    for fold, store in [
        (ingest.run_text_index, "text"),
        (ingest.run_dedup_index, "dedup"),
        (ingest.run_monitor, "monitor"),
    ]:
        with pytest.raises(RuntimeError, match="crash before the cursor commit"):
            fold(spark, landing, f"{root}/{store}")
    crashed = {
        "text": spark.read.parquet(f"{root}/text/{ti.META_DIR}").collect()[0].n_docs,
        "dedup": spark.read.parquet(f"{root}/dedup/{sd.SHINGLES_DIR}").count(),
        "monitor": mon.read_stats(spark, f"{root}/monitor").agg(F.sum("n_docs")).first()[0],
    }
    assert crashed == {"text": 6, "dedup": 6, "monitor": 6}
    units = mon.visible_units(spark, f"{root}/monitor")

    monkeypatch.setattr(ingest, "_write_text", write_text)
    assert _fold_all(spark, landing, root) == crashed
    assert mon.visible_units(spark, f"{root}/monitor") == units


def test_backlog_larger_than_a_range_folds_in_bounded_ranges(
    spark, feed, tmp_path, monkeypatch
):
    """A backlog past ``_FOLD_MAX_ROWS`` folds as several seq ranges of
    at most that many rows, committing the cursor after each. A crash
    before one range's cursor commit refolds from the last committed
    cursor, so the monitor rewrites the same unit: nothing is missed or
    counted twice."""
    state, url = feed
    landing, root = str(tmp_path / "landing"), str(tmp_path / "stores")
    monkeypatch.setattr(ingest, "_FOLD_MAX_ROWS", 4)
    _docs(state, range(10))
    ingest.run(spark, url, landing)

    write_text, cursors = ingest._write_text, []

    def crash_on_second_cursor(spark_, path, body):
        if path.endswith(ingest.CURSOR_FILE):
            cursors.append(int(body))
            if len(cursors) == 2:
                raise RuntimeError("crash before the cursor commit")
        write_text(spark_, path, body)

    monkeypatch.setattr(ingest, "_write_text", crash_on_second_cursor)
    with pytest.raises(RuntimeError, match="crash before the cursor commit"):
        ingest.run_monitor(spark, landing, f"{root}/monitor")
    monkeypatch.setattr(ingest, "_write_text", write_text)

    assert _fold_all(spark, landing, root) == {"text": 10, "dedup": 10, "monitor": 10}
    stats = mon.read_stats(spark, f"{root}/monitor").orderBy("batch").collect()
    assert [r.n_docs for r in stats] == [4, 4, 2]
    assert [r.batch for r in stats] == [0, cursors[0] + 1, cursors[1] + 1]
    last = max(r.seq for r in spark.read.parquet(f"{landing}/raw").collect())
    for store in ("text", "dedup", "monitor"):
        assert int(open(f"{root}/{store}/{ingest.CURSOR_FILE}").read()) == last


@pytest.mark.parametrize("fold", ["run_text_index", "run_dedup_index", "run_monitor"])
def test_null_seq_row_is_refused_before_any_write(spark, tmp_path, fold):
    """A landed row whose id is opaque has no seq, so no position a fold
    cursor could keep: the fold raises NullSeqError and writes nothing."""
    landing, store = str(tmp_path / "landing"), str(tmp_path / "store")
    spark.createDataFrame(
        [
            (1, "0000000000001::a", '{"doc_id": 1, "text": "window one"}'),
            (None, "b1946ac9-4d3c-4b40-9c9d-000000000002", '{"doc_id": 2, "text": "window two"}'),
        ],
        "seq long, id string, data string",
    ).write.parquet(f"{landing}/raw")
    with pytest.raises(ingest.NullSeqError, match="1 rows .* have no seq"):
        getattr(ingest, fold)(spark, landing, store)
    assert not os.path.exists(store)


def test_catch_up_after_uncommitted_batch_reaches_feed_end(spark, feed, tmp_path):
    """A crash between a landing batch's offset write and its commit:
    Spark's single-batch AvailableNow only re-runs that batch, so the
    catch-up runs a second trigger and lands the events appended since
    in the same call."""
    state, url = feed
    landing = str(tmp_path / "landing")
    _docs(state, range(3))
    assert ingest.run(spark, url, landing)["raw_rows"] == 3
    commits = sorted(
        glob.glob(f"{landing}/_checkpoint/commits/[0-9]*"), key=lambda p: int(os.path.basename(p))
    )
    last = commits[-1]
    os.remove(last)
    crc = os.path.join(os.path.dirname(last), f".{os.path.basename(last)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    _docs(state, range(3, 5))
    assert ingest.run(spark, url, landing)["raw_rows"] == 5


@pytest.mark.slow  # >30 s platform-integration (see pytest.ini)
def test_retire_horizon_past_same_wave_delete_still_erases(spark, feed, tmp_path):
    """run_platform retires raw history only after its folds and erasure
    have read it: a horizon past a DELETE landed in the same wave still
    erases that document from the text index."""
    state, url = feed
    root = str(tmp_path / "platform")
    _docs(state, range(5))
    ingest.run_platform(spark, url, root)
    horizon = fs.seq_of(state.append("doc", "1", None, method="DELETE")["id"])
    _docs(state, [5])
    out = ingest.run_platform(spark, url, root, retire_below_seq=horizon)
    assert out["landing"]["retention"]["horizon_seq"] == horizon
    assert out["erasure"]["erase_ids"] == 1
    hits = {
        r.doc_id for r in ti.search(spark, f"{root}/text_index", ["window"], k=20).collect()
    }
    assert hits == {0, 2, 3, 4, 5}


@pytest.mark.slow  # >30 s platform-integration (see pytest.ini)
def test_fold_failure_commits_the_other_folds_and_stops_the_wave(
    spark, feed, tmp_path, monkeypatch
):
    """The folds run side by side: when the dedup fold raises, the text
    and monitor folds still run to their end and commit their cursors,
    the wave raises the dedup error before erasure, maintenance and
    epochs, and the next call reaches the same stores as a wave that
    never failed. Each component's jobs carry their own job tag."""
    from http_feeds_spark import epochs
    from http_feeds_spark.operators import erasure

    state, url = feed
    _docs(state, range(6))
    state.append("doc", "1", None, method="DELETE")
    crashed, clean = str(tmp_path / "crashed"), str(tmp_path / "clean")

    later = []
    for module, name in [(ingest, "run_erasure"), (ingest, "run_maintenance"), (epochs, "record_epoch")]:
        real = getattr(module, name)
        monkeypatch.setattr(
            module, name, lambda *a, _n=name, _f=real, **kw: later.append(_n) or _f(*a, **kw)
        )
    run_dedup_index = ingest.run_dedup_index

    def dedup_fails(*a, **kw):
        raise RuntimeError("dedup fold failed")

    monkeypatch.setattr(ingest, "run_dedup_index", dedup_fails)
    with pytest.raises(RuntimeError, match="dedup fold failed"):
        ingest.run_platform(spark, url, crashed)
    assert later == []
    last = max(r.seq for r in spark.read.parquet(f"{crashed}/landing/raw").collect())
    for store in ("text_index", "monitor"):
        assert int(open(f"{crashed}/{store}/{ingest.CURSOR_FILE}").read()) == last
    assert not os.path.exists(f"{crashed}/dedup_index")

    monkeypatch.setattr(ingest, "run_dedup_index", run_dedup_index)
    resumed = ingest.run_platform(spark, url, crashed)
    assert later == ["run_erasure", "run_maintenance", "record_epoch"]
    reference = ingest.run_platform(spark, url, clean)
    for key in ("erasure", "maintenance"):
        assert resumed[key] == reference[key]
    assert resumed["text_index"]["indexed_docs"] == reference["text_index"]["indexed_docs"] == 6
    assert resumed["dedup_index"]["indexed_docs"] == reference["dedup_index"]["indexed_docs"]
    assert resumed["monitor"]["n_docs"] == reference["monitor"]["n_docs"] == 6
    assert resumed["epoch"]["epoch"] == reference["epoch"]["epoch"] == 0
    for root in (crashed, clean):
        hits = {r.doc_id for r in ti.search(spark, f"{root}/text_index", ["window"], k=20).collect()}
        assert hits == {0, 2, 3, 4, 5}
        shingled = spark.read.parquet(f"{root}/dedup_index/{sd.SHINGLES_DIR}")
        assert {r.doc_id for r in shingled.select("doc_id").distinct().collect()} == hits
        for store in ("text_index", "dedup_index"):
            assert erasure.erased_ids(spark, f"{root}/{store}") is None

    tracker = spark.sparkContext._jsc.sc().statusTracker()
    tagged = {
        c: set(tracker.getJobIdsForTag(f"platform:{c}"))
        for c in ("landing", "text_index", "dedup_index", "monitor", "erasure")
    }
    assert all(tagged.values())
    assert not tagged["text_index"] & tagged["dedup_index"]
    assert not tagged["text_index"] & tagged["erasure"]


def test_monitor_units_and_epochs_hold_uuid6_sized_positions(spark, tmp_path):
    """UUIDv6 positions are 60-bit timestamps: the monitor unit keyed by
    such a cursor, the epoch that records it and the compaction manifest
    that covers it keep it as a long."""
    from http_feeds_spark import epochs

    landing, root = str(tmp_path / "landing"), str(tmp_path / "platform")
    base = 0x1EC9414C232AB00

    def land(seqs):
        spark.createDataFrame(
            [(s, f"id{s}", f'{{"doc_id": {s % 1000}, "text": "window {s}"}}') for s in seqs],
            "seq long, id string, data string",
        ).write.mode("append").parquet(f"{landing}/raw")

    land([base + 1, base + 2])
    ingest.run_monitor(spark, landing, f"{root}/monitor")
    land([base + 3])
    assert ingest.run_monitor(spark, landing, f"{root}/monitor")["n_docs"] == 3
    assert mon.visible_units(spark, f"{root}/monitor") == [0, base + 3]
    rec = epochs.record_epoch(spark, root)
    assert rec["monitor_units"] == [0, base + 3]
    pinned = epochs.pin(spark, root, rec["epoch"]).monitor_stats()
    assert sorted(r.batch for r in pinned.collect()) == [0, base + 3]

    # maintenance merges both units: the manifest's covered ids hold the
    # 60-bit position, and the merged unit reads back under keep id 0
    out = ingest.run_maintenance(
        spark, root, text_index=False, dedup_index=False, landing=False, compact_after=1
    )
    assert out["monitor"]["batches_after"] == 1
    land([base + 4])
    assert ingest.run_monitor(spark, landing, f"{root}/monitor")["n_docs"] == 4
    stats = mon.read_stats(spark, f"{root}/monitor").orderBy("batch").collect()
    assert [(r.batch, r.n_docs) for r in stats] == [(0, 3), (base + 4, 1)]
    assert epochs.record_epoch(spark, root)["monitor_units"] == [0, base + 4]
