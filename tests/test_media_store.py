"""The media store family (streaming/media.py, r13): feed → persisted
router-metadata + fingerprint stores via run_platform, with the standard
lifecycle — per-doc-id idempotence, erasure anti-join + physical purge,
fsck family, maintenance compaction, epoch frontier + pinned reads."""

from __future__ import annotations

import base64
import io
import wave

import numpy as np
import pytest
from pyspark.sql import functions as F

from http_feeds_spark.functions import multimodal as mm
from http_feeds_spark.streaming import media as smedia


def _wav_of(x, rate=8000) -> bytes:
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(x.astype("<i2").tobytes())
    return buf.getvalue()


def _master(seed: int, n=12000):
    rng = np.random.RandomState(seed)
    t = np.arange(n)
    edges = (1, 4, 16, 48, 128, 288, 513)
    sig = 0.0
    for i in range(6):
        b = rng.randint(edges[i], edges[i + 1])
        sig = sig + (9000 - 900 * i) * np.sin(2 * np.pi * (b * 8000 / 1024) * t / 8000 + i)
    return (sig / (np.abs(sig).max() / 18000) + rng.randn(n) * 40).astype(np.int64)


def _flac_of(x) -> bytes:
    from http_feeds_spark.functions import flac as fl

    return fl.encode_flac(x, 8000, subframe="fixed2")


def _media_rows() -> list[tuple[int, bytes]]:
    """Planted wave-1 corpus: two images × (PNG, GIF), one audio master
    × (WAV, FLAC)."""
    rows = []
    for k in (0, 1):
        img = mm.synth_image(seed=k + 21, height=32, width=40)
        rows.append((1000 + k * 10, mm.encode_png(img)))
        rows.append((1000 + k * 10 + 1, mm.encode_gif(img)))
    x = _master(5)
    rows.append((2000, _wav_of(x)))
    rows.append((2001, _flac_of(x)))
    return rows


def _append_media(state, doc_id: int, payload: bytes) -> None:
    state.append(
        "org.example.media",
        str(doc_id),
        {"doc_id": doc_id, "payload_b64": base64.b64encode(payload).decode()},
    )


@pytest.mark.slow  # >30 s platform-integration (see pytest.ini)
def test_platform_media_two_wave_e2e(spark, tmp_path):
    """The r13 'Done' criterion: a two-wave run_platform where a
    binary-payload feed yields a queryable, fsck'd, epoch-pinned media
    store — erasure propagates, near-dup pairs come from the STORE, and
    the pinned wave-1 read fails stop once the purge rewrites its
    files."""
    from http_feeds_spark import epochs, ingest
    from tests.feed_server import FeedState, serve

    state = FeedState()
    srv, url = serve(state)
    try:
        for doc_id, payload in _media_rows():
            _append_media(state, doc_id, payload)
        root = str(tmp_path / "platform")

        out = ingest.run_platform(
            spark,
            url,
            root,
            text_index=False,
            dedup_index=False,
            monitor=False,
            media_index=True,
            verify=True,
        )
        assert out["media_index"]["indexed_docs"] == 6
        meta = smedia.read_meta(spark, f"{root}/media_index")
        counts = {
            r.modality: r.n
            for r in meta.groupBy("modality").agg(F.count("*").alias("n")).collect()
        }
        assert counts == {"image": 4, "audio": 2}
        pairs = {
            (r.a, r.b): (r.modality, r.score)
            for r in smedia.near_dup_pairs(spark, f"{root}/media_index").collect()
        }
        assert pairs[(1000, 1001)] == ("image", 1.0)
        assert pairs[(1010, 1011)] == ("image", 1.0)
        assert pairs[(2000, 2001)] == ("audio", 1.0)
        assert out["fsck"]["clean"]
        media_rep = out["fsck"]["components"]["media_index"]
        assert media_rep["present"] and media_rep["modality_mismatches"] == 0

        # the epoch recorded the media frontier; pin wave 1
        assert out["epoch"]["media_meta_files"]
        pin0 = epochs.pin(spark, root, 0)
        assert pin0.media_meta().count() == 6
        pinned_pairs = {(r.a, r.b) for r in pin0.media_near_dup().collect()}
        assert (1000, 1001) in pinned_pairs and (2000, 2001) in pinned_pairs

        # wave 2: a PNG re-ship of image 0 (new doc) + a DELETE of 1001
        img0 = mm.synth_image(seed=21, height=32, width=40)
        _append_media(state, 1003, mm.encode_png(img0))
        state.append("org.example.media", "1001", None, method="DELETE")

        out2 = ingest.run_platform(
            spark,
            url,
            root,
            text_index=False,
            dedup_index=False,
            monitor=False,
            media_index=True,
            verify=True,
        )
        assert out2["erasure"]["media_index_erased"] == 1
        assert out2["erasure"]["media_index_purged"] >= 1
        assert out2["fsck"]["clean"]
        ids = {r.doc_id for r in smedia.read_meta(spark, f"{root}/media_index").collect()}
        assert 1001 not in ids and 1003 in ids and len(ids) == 6
        pairs2 = {
            (r.a, r.b) for r in smedia.near_dup_pairs(spark, f"{root}/media_index").collect()
        }
        assert (1000, 1003) in pairs2 and (1000, 1001) not in pairs2

        # the purge rewrote wave-1 files: the pinned read now fails STOP
        # (never silently re-resolves); epoch 1 serves the new wave
        with pytest.raises(ValueError, match="pinned epoch is gone"):
            epochs.pin(spark, root, 0).media_meta().count()
        pin1 = epochs.pin(spark, root, out2["epoch"]["epoch"])
        assert pin1.media_meta().count() == 6
    finally:
        srv.shutdown()


def test_fold_idempotent_and_torn_heal(spark, tmp_path):
    """Per-doc-id idempotence (a re-delivered batch is a no-op) and the
    torn-middle crash window: duplicate fingerprint appends are healed
    by the read paths and rewritten away by compaction."""
    root = str(tmp_path / "media")
    rows = _media_rows()
    batch = spark.createDataFrame(rows, "doc_id long, payload binary")
    smedia.fold_batch(spark, batch, root)
    smedia.fold_batch(spark, batch, root)  # redelivery: no-op
    assert smedia.read_meta(spark, root).count() == 6
    assert smedia.read_phash(spark, root).count() == 4

    # torn middle: fingerprints land, meta does not → the redelivery is
    # NOT filtered, re-folds, and duplicate fingerprint rows appear in
    # the raw store; reads collapse them, compaction rewrites them away
    imgs = batch.where(F.col("doc_id") < 2000)
    bucket = F.pmod(F.xxhash64("doc_id"), F.lit(smedia.N_BUCKETS)).cast("int")
    mm.perceptual_hash(imgs).withColumn("bucket", bucket).write.mode(
        "append"
    ).partitionBy("bucket").parquet(f"{root}/{smedia.PHASH_DIR}")
    raw = spark.read.parquet(f"{root}/{smedia.PHASH_DIR}").count()
    assert raw == 8  # duplicates present in the raw store
    assert smedia.read_phash(spark, root).count() == 4  # reads heal
    smedia.compact_store(spark, root)
    assert spark.read.parquet(f"{root}/{smedia.PHASH_DIR}").count() == 4
    assert smedia.read_meta(spark, root).count() == 6


def test_fold_idempotence_probe_is_bucket_pruned(spark, tmp_path):
    """The fold's already-seen probe (r14) must reach the meta scan as a
    PARTITION filter on the batch's own buckets — reading a constant
    fraction of the store, never its whole doc_id column."""
    from http_feeds_spark import plans

    root = str(tmp_path / "media")
    batch = spark.createDataFrame(_media_rows(), "doc_id long, payload binary")
    smedia.fold_batch(spark, batch, root)

    one = batch.where(F.col("doc_id") == 1000).localCheckpoint()
    seen = smedia._seen_probe(spark, f"{root}/{smedia.META_DIR}", one)
    p = plans.executed_plan(seen)
    assert "PartitionFilters" in p, p
    pf = p.split("PartitionFilters", 1)[1][:200]
    assert "bucket" in pf, pf
    # exactly the one bucket doc 1000 hashes to survives the probe
    b1 = one.select(
        F.pmod(F.xxhash64("doc_id"), F.lit(smedia.N_BUCKETS)).cast("int").alias("b")
    ).collect()[0].b
    meta = spark.read.parquet(f"{root}/{smedia.META_DIR}")
    want = {r.doc_id for r in meta.where(F.col("bucket") == b1).collect()}
    assert {r.doc_id for r in seen.collect()} == want


def test_fsck_media_orphans_and_mismatch(spark, tmp_path):
    """fsck_media_index: fingerprint orphans (torn fold) warn; a
    modality mismatch (an audiofp row for an image doc) is a MUST-BE-
    ZERO violation that fails fsck_platform."""
    from http_feeds_spark.operators import fsck

    root = str(tmp_path / "platform")
    media_root = f"{root}/media_index"
    batch = spark.createDataFrame(_media_rows(), "doc_id long, payload binary")
    smedia.fold_batch(spark, batch, media_root)
    rep = fsck.fsck_media_index(spark, media_root)
    assert rep["fingerprint_orphans"] == 0 and rep["modality_mismatches"] == 0

    bucket = F.pmod(F.xxhash64("doc_id"), F.lit(smedia.N_BUCKETS)).cast("int")
    # orphan: a phash row for a doc with no meta row (torn fold shape)
    spark.createDataFrame(
        [(9999, 7, True)], "doc_id long, phash long, decoded boolean"
    ).withColumn("bucket", bucket).write.mode("append").partitionBy(
        "bucket"
    ).parquet(f"{media_root}/{smedia.PHASH_DIR}")
    rep = fsck.fsck_media_index(spark, media_root)
    assert rep["fingerprint_orphans"] == 1 and rep["modality_mismatches"] == 0
    plat = fsck.fsck_platform(spark, root)
    assert plat["clean"]  # orphans heal (warning), platform stays clean
    assert any("fingerprint_orphans" in w for w in plat["warnings"])

    # corruption: an audio fingerprint for an IMAGE doc
    spark.createDataFrame(
        [(1000, 0, 0, 42)], "doc_id long, band int, chunk int, key long"
    ).withColumn("bucket", bucket).write.mode("append").partitionBy(
        "bucket"
    ).parquet(f"{media_root}/{smedia.AUDIOFP_DIR}")
    plat = fsck.fsck_platform(spark, root)
    assert not plat["clean"]
    assert any("modality_mismatches" in v for v in plat["violations"])


def test_store_level_erasure(spark, tmp_path):
    """Logical erasure filters every read path from the commit; purge
    makes it physical and clears the ledger."""
    from http_feeds_spark.operators import erasure

    root = str(tmp_path / "media")
    batch = spark.createDataFrame(_media_rows(), "doc_id long, payload binary")
    smedia.fold_batch(spark, batch, root)
    ids = spark.createDataFrame([(1000,), (2000,)], "id long")
    assert erasure.erase_ids(spark, root, ids) == 2
    assert {r.doc_id for r in smedia.read_meta(spark, root).select("doc_id").collect()} == {
        1001, 1010, 1011, 2001,
    }
    assert smedia.read_phash(spark, root).where(F.col("doc_id") == 1000).count() == 0
    assert smedia.read_audiofp(spark, root).where(F.col("doc_id") == 2000).count() == 0
    removed = smedia.purge_erased(spark, root)
    assert removed >= 2
    # physically gone from the raw stores, ledger cleared
    assert (
        spark.read.parquet(f"{root}/{smedia.META_DIR}")
        .where(F.col("doc_id").isin(1000, 2000))
        .count()
        == 0
    )
    assert erasure.erased_ids(spark, root) is None
    # idempotent re-purge
    assert smedia.purge_erased(spark, root) == 0


def test_registered_media_store_query(spark, sf_dir):
    """q_mm_media_store: modality counts and store-derived pair counts
    are pinned, and the second invocation (idempotent refold against
    the warehouse store) returns the identical frame."""
    from http_feeds_spark.queries import registry

    fn = registry()["q_mm_media_store"].fn
    rows = [tuple(r) for r in fn(spark, sf_dir).collect()]
    assert rows == [
        (None, 30, 0, 0),     # text filler: routed to no media tier
        ("audio", 2, 2, 1),   # WAV+FLAC of one master -> one pair
        ("image", 6, 6, 6),   # 2 images x 3 containers -> 3 pairs each
        ("video", 2, 2, 1),   # one MJPEG clip x 2 qualities -> one pair
    ]
    assert rows == [tuple(r) for r in fn(spark, sf_dir).collect()]


def test_fsck_media_survives_meta_less_store(spark, tmp_path):
    """The torn VERY-FIRST fold (fingerprints land, meta never does):
    fsck_media_index reports every fingerprint doc as an orphan instead
    of crashing, and fsck_platform stays clean (a warning state the
    redelivery re-fold heals)."""
    from http_feeds_spark.operators import fsck

    root = str(tmp_path / "platform")
    media_root = f"{root}/media_index"
    bucket = F.pmod(F.xxhash64("doc_id"), F.lit(smedia.N_BUCKETS)).cast("int")
    spark.createDataFrame(
        [(1, 7, True), (2, 9, True)], "doc_id long, phash long, decoded boolean"
    ).withColumn("bucket", bucket).write.partitionBy("bucket").parquet(
        f"{media_root}/{smedia.PHASH_DIR}"
    )
    rep = fsck.fsck_media_index(spark, media_root)
    assert rep == {
        "meta_docs": 0,
        "fingerprint_orphans": 2,
        "modality_mismatches": 0,
        "duplicate_meta": 0,
        "stage_leftovers": [],
        "erase_ledger_ids": 0,
    }
    plat = fsck.fsck_platform(spark, root)
    assert plat["clean"]
    assert any("fingerprint_orphans" in w for w in plat["warnings"])


def test_malformed_base64_payload_is_skipped(spark, tmp_path):
    """A feed event whose payload_b64 is not valid base64 becomes a
    skipped NULL row (try_to_binary), never an ANSI error that kills
    the fold; the well-formed events around it still index."""
    from http_feeds_spark import ingest
    from tests.feed_server import FeedState, serve

    state = FeedState()
    srv, url = serve(state)
    try:
        _append_media(state, 1, mm.encode_png(mm.synth_image(seed=1)))
        state.append(
            "org.example.media", "2", {"doc_id": 2, "payload_b64": "!!!not-base64???"}
        )
        _append_media(state, 3, mm.encode_png(mm.synth_image(seed=3)))
        landing = str(tmp_path / "landing")
        ingest.run(spark, url, landing)
        out = ingest.run_media_index(spark, landing, str(tmp_path / "media"))
        assert out["indexed_docs"] == 2
        ids = {r.doc_id for r in smedia.read_meta(spark, str(tmp_path / "media")).collect()}
        assert ids == {1, 3}
    finally:
        srv.shutdown()
