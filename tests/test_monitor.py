"""Continuous corpus monitoring (streaming/monitor.py + ingest.run_monitor):
feed → per-batch mergeable aggregates → drift answered from the store,
with batch-directory idempotence under replay."""

from __future__ import annotations

from pyspark.sql import functions as F

from http_feeds_spark.streaming import monitor as mon


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_fold_read_and_js_between(spark, tmp_path):
    """Direct folds: stats rows match batch contents exactly; JS between
    stored ranges equals JS computed from the raw documents; refolding a
    batch id is idempotent (overwrite, not append)."""
    from http_feeds_spark.operators import drift

    root = str(tmp_path / "mon")
    b0 = _mk_docs(spark, [(1, "alpha beta gamma"), (2, "alpha beta delta")])
    b1 = _mk_docs(spark, [(3, "alpha beta gamma epsilon")])
    b2 = _mk_docs(spark, [(4, "zeta eta theta iota kappa")])
    for i, b in enumerate([b0, b1, b2]):
        mon.fold_batch(spark, b, root, i)

    stats = {r.batch: r for r in mon.read_stats(spark, root).collect()}
    assert stats[0].n_docs == 2 and stats[0].n_tokens == 6
    assert stats[1].n_docs == 1 and stats[1].n_tokens == 4
    assert stats[2].n_docs == 1 and stats[2].n_tokens == 5

    got = mon.js_between(spark, root, [0, 1], [2])
    want = drift.js_divergence_words(b0.unionByName(b1), b2)
    assert abs(got - want) < 1e-12
    # disjoint vocab → near the ln(2) ceiling
    assert got > 0.69

    # replay: refold batch 2 with the same content — same store state
    before = mon.js_between(spark, root, [0], [2])
    mon.fold_batch(spark, b2, root, 2)
    assert abs(mon.js_between(spark, root, [0], [2]) - before) < 1e-12
    assert mon.read_stats(spark, root).count() == 3


def test_feed_to_monitor_e2e(spark, tmp_path):
    """Live HTTP feed → run_monitor: catch-up folds the documents;
    appending drifted docs and re-running adds batches; drift between
    the first and later ranges flags the planted vocabulary shift; a
    re-run with nothing new adds no batches."""
    from http_feeds_spark import ingest
    from tests.feed_server import FeedState, serve

    state = FeedState()
    srv, url = serve(state)
    try:
        for i in range(4):
            state.append(
                "org.example.document",
                str(i),
                {"doc_id": i, "text": f"common word stock{i} phrase clause"},
            )
        # payload-less tombstones must be skipped, not crash the fold
        state.append("org.example.document", "0", None, method="DELETE")
        root = str(tmp_path / "feedmon")

        landing = str(tmp_path / "landing")
        ingest.run(spark, url, landing)
        s1 = ingest.run_monitor(spark, landing, root)
        assert s1["n_docs"] == 4 and s1["batches"] >= 1
        first_batches = [r.batch for r in mon.read_stats(spark, root).collect()]

        for i in range(4, 8):
            state.append(
                "org.example.document",
                str(i),
                {"doc_id": i, "text": f"alien{i} vocab{i} shift{i} zz{i} qq{i}"},
            )
        ingest.run(spark, url, landing)
        s2 = ingest.run_monitor(spark, landing, root)
        assert s2["n_docs"] == 8 and s2["batches"] > s1["batches"]
        new_batches = [
            r.batch
            for r in mon.read_stats(spark, root).collect()
            if r.batch not in first_batches
        ]
        js = mon.js_between(spark, root, first_batches, new_batches)
        assert js > 0.5, js  # planted disjoint-ish vocabulary

        ingest.run(spark, url, landing)
        s3 = ingest.run_monitor(spark, landing, root)
        assert s3["batches"] == s2["batches"] and s3["n_docs"] == 8
    finally:
        srv.shutdown()


def _fold3(spark, root):
    b0 = _mk_docs(spark, [(1, "alpha beta gamma"), (2, "alpha beta delta")])
    b1 = _mk_docs(spark, [(3, "alpha beta gamma epsilon")])
    b2 = _mk_docs(spark, [(4, "zeta eta theta iota kappa")])
    for i, b in enumerate([b0, b1, b2]):
        mon.fold_batch(spark, b, root, i)
    return b0, b1, b2


def test_compact_batches_preserves_range_answers(spark, tmp_path):
    """Merging batches 0-1 must keep every cross-range answer exact:
    stats sums equal, and JS between the merged range and a later batch
    identical to the pre-compaction value; re-running compaction is a
    no-op (sums of sums converge)."""
    root = str(tmp_path / "mon")
    _fold3(spark, root)
    before_js = mon.js_between(spark, root, [0, 1], [2])
    before_docs = sum(r.n_docs for r in mon.read_stats(spark, root).collect())

    remaining = mon.compact_batches(spark, root, upto=1)
    assert remaining == [0, 2]
    assert sum(r.n_docs for r in mon.read_stats(spark, root).collect()) == before_docs
    assert abs(mon.js_between(spark, root, [0], [2]) - before_js) < 1e-12
    assert mon.compact_batches(spark, root, upto=1) == [0, 2]  # no-op


def test_compact_crash_before_manifest_is_invisible_and_retries(spark, tmp_path):
    """Kill compaction between the merged-frames write and the manifest
    commit (the r6 double-count window): the torn merge must be
    INVISIBLE — every answer unchanged — and a re-run must converge to
    the same exact answers (it overwrites the same generation)."""
    root = str(tmp_path / "mon")
    _fold3(spark, root)
    before_js = mon.js_between(spark, root, [0, 1], [2])
    before_docs = sum(r.n_docs for r in mon.read_stats(spark, root).collect())

    # simulate the crash: merged frames for gen 0 land, manifest never does
    mon._range_counts(spark, root, [0, 1]).write.mode("overwrite").parquet(
        f"{root}/{mon.MERGED_DIR}/000000/{mon.WORDS_DIR}"
    )
    assert mon._latest_manifest(spark, root) is None
    assert sum(r.n_docs for r in mon.read_stats(spark, root).collect()) == before_docs
    assert abs(mon.js_between(spark, root, [0, 1], [2]) - before_js) < 1e-12

    # retry completes from disjoint inputs — no double count
    assert mon.compact_batches(spark, root, upto=1) == [0, 2]
    assert sum(r.n_docs for r in mon.read_stats(spark, root).collect()) == before_docs
    assert abs(mon.js_between(spark, root, [0], [2]) - before_js) < 1e-12


def test_compact_snapshot_rule_for_concurrent_readers(spark, tmp_path):
    """Crash (or concurrency window) after the manifest commit, before
    vacuum: a reader holding the PRE-compaction batch list still answers
    exactly (covered ids resolve to their surviving raw dirs), while
    post-compaction readers already see the merged unit. After vacuum,
    naming an id inside the merged range raises."""
    import pytest

    root = str(tmp_path / "mon")
    _fold3(spark, root)
    before_js = mon.js_between(spark, root, [0, 1], [2])

    assert mon.compact_batches(spark, root, upto=1, run_vacuum=False) == [0, 2]
    # pre-compaction list: still exact from the raw dirs
    assert abs(mon.js_between(spark, root, [0, 1], [2]) - before_js) < 1e-12
    # post-compaction list: merged unit under keep_id, same answer
    assert abs(mon.js_between(spark, root, [0], [2]) - before_js) < 1e-12

    assert mon.vacuum(spark, root) > 0
    assert abs(mon.js_between(spark, root, [0], [2]) - before_js) < 1e-12
    with pytest.raises(ValueError, match="compacted away"):
        mon.js_between(spark, root, [0, 1], [2])


def test_recompaction_folds_merged_unit_with_new_batches(spark, tmp_path):
    """Compact, fold a new batch, compact again: the second merge folds
    the prior merged unit with the new raw batch (prefix invariant) and
    every answer stays exact vs. the raw documents."""
    from http_feeds_spark.operators import drift

    root = str(tmp_path / "mon")
    b0, b1, b2 = _fold3(spark, root)
    assert mon.compact_batches(spark, root, upto=1) == [0, 2]
    b3 = _mk_docs(spark, [(5, "lambda mu nu")])
    mon.fold_batch(spark, b3, root, 3)
    assert mon.compact_batches(spark, root, upto=2) == [0, 3]
    want = drift.js_divergence_words(b0.unionByName(b1).unionByName(b2), b3)
    assert abs(mon.js_between(spark, root, [0], [3]) - want) < 1e-12
    stats = {r.batch: r for r in mon.read_stats(spark, root).collect()}
    assert set(stats) == {0, 3}
    assert stats[0].n_docs == 4 and stats[3].n_docs == 1


def test_distinct_sketches_match_exact_and_survive_compaction(spark, tmp_path):
    """HLL distinct tier: range estimates equal exact distinct counts on
    a small vocabulary (well inside the ~1.6% error at lgK=12), the
    union over ranges is lossless, new_vocabulary flags only genuinely
    new words, and compaction folds the sketches so the merged unit
    answers the same distinct queries."""
    root = str(tmp_path / "mon")
    b0 = _mk_docs(spark, [(1, "alpha beta gamma"), (2, "alpha beta delta")])
    b1 = _mk_docs(spark, [(3, "alpha beta gamma epsilon")])
    b2 = _mk_docs(spark, [(4, "zeta eta theta iota kappa")])
    for i, b in enumerate([b0, b1, b2]):
        mon.fold_batch(spark, b, root, i)

    assert mon.distinct_counts(spark, root, [0]) == {"words": 4, "docs": 2}
    assert mon.distinct_counts(spark, root, [0, 1]) == {"words": 5, "docs": 3}
    assert mon.distinct_counts(spark, root, [0, 1, 2]) == {"words": 10, "docs": 4}
    # vocabulary growth: b1 adds only 'epsilon' over b0; b2 is all new
    assert mon.new_vocabulary(spark, root, [0], [1]) == 1
    assert mon.new_vocabulary(spark, root, [0, 1], [2]) == 5
    assert mon.new_vocabulary(spark, root, [0, 1], [1]) == 0

    assert mon.compact_batches(spark, root, upto=1) == [0, 2]
    assert mon.distinct_counts(spark, root, [0]) == {"words": 5, "docs": 3}
    assert mon.distinct_counts(spark, root, [0, 2]) == {"words": 10, "docs": 4}
    assert mon.new_vocabulary(spark, root, [0], [2]) == 5


def test_content_overlap_counts_shared_exact_contents(spark, tmp_path):
    """Content-hash sketch tier: overlap between ranges equals the exact
    count of distinct document CONTENTS present in both (exact on a tiny
    corpus, well inside the HLL error), and survives compaction."""
    root = str(tmp_path / "mon")
    b0 = _mk_docs(
        spark,
        [(1, "shared one"), (2, "shared two"), (3, "only in batch zero")],
    )
    b1 = _mk_docs(
        spark,
        [(11, "shared one"), (12, "shared two"), (13, "fresh content here")],
    )
    b2 = _mk_docs(spark, [(21, "shared one"), (22, "totally new stuff")])
    for i, b in enumerate([b0, b1, b2]):
        mon.fold_batch(spark, b, root, i)

    assert mon.content_overlap(spark, root, [0], [1]) == 2
    assert mon.content_overlap(spark, root, [0], [2]) == 1
    assert mon.content_overlap(spark, root, [1], [2]) == 1
    assert mon.content_overlap(spark, root, [0, 1], [2]) == 1
    # disjoint batches: nothing shared with a fresh batch
    b3 = _mk_docs(spark, [(31, "never seen before text")])
    mon.fold_batch(spark, b3, root, 3)
    assert mon.content_overlap(spark, root, [0, 1, 2], [3]) == 0

    assert mon.compact_batches(spark, root, upto=1) == [0, 2, 3]
    assert mon.content_overlap(spark, root, [0], [2]) == 1  # merged unit
    assert mon.content_overlap(spark, root, [0], [3]) == 0
