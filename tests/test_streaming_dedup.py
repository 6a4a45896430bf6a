"""Persistent streaming near-dup index (streaming/dedup.py): folding a
corpus batch-by-batch must reproduce the batch pipeline's clusters
exactly — including transitive chains whose members arrive in DIFFERENT
batches — and the survivor filter must honor the final assignment."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


def _corpus_with_planted_chain(spark, sf_dir):
    """sf documents + a 3-doc clone chain (base ~ v1 ~ v2, mutations at
    opposite ends — same fixture shape as the batch-pipeline e2e test).
    Planted ids 1000001/1000002/1000003 land in different mod-3 batches."""
    from http_feeds_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = " ".join(f"token{i} word{i} item{i}" for i in range(40))
    toks = base.split()
    v1, v2 = list(toks), list(toks)
    for i in range(0, 6):
        v1[i] = f"mutA{i}"
    for i in range(-6, 0):
        v2[i] = f"mutB{i}"
    planted = spark.createDataFrame(
        [(1_000_001, base), (1_000_002, " ".join(v1)), (1_000_003, " ".join(v2))],
        "doc_id long, text string",
    )
    return docs.union(planted)


def test_fold_batches_equals_full_corpus_pipeline(spark, sf_dir, tmp_path):
    from http_feeds_spark.operators.components import connected_components
    from http_feeds_spark.queries.llm import _near_dup_pairs
    from http_feeds_spark.streaming import dedup as sd

    corpus = _corpus_with_planted_chain(spark, sf_dir)
    root = str(tmp_path / "idx")

    for i in range(3):
        asg = sd.fold_batch(spark, corpus.filter(F.col("doc_id") % 3 == i), root)

    got = {(r.node, r.component) for r in sd.read_assignment(spark, root).collect()}
    want = {
        (r.node, r.component)
        for r in connected_components(
            _near_dup_pairs(corpus), src="a", dst="b"
        ).collect()
    }
    assert got == want and len(got) > 0
    # the cross-batch chain collapsed to one cluster rooted at the min id
    chain = {n: c for n, c in got if n > 1_000_000}
    assert chain == {
        1_000_001: 1_000_001,
        1_000_002: 1_000_001,
        1_000_003: 1_000_001,
    }
    # the returned assignment from the last fold equals the stored one
    assert {(r.node, r.component) for r in asg.collect()} == got


def test_refold_same_batch_is_noop(spark, sf_dir, tmp_path):
    """At-least-once safety: re-delivering an already-folded batch must
    change neither the index stores nor the assignment."""
    from http_feeds_spark.sources.tables import load_table
    from http_feeds_spark.streaming import dedup as sd

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    root = str(tmp_path / "idx")
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    sd.fold_batch(spark, batch, root)
    n_shingles = spark.read.parquet(f"{root}/shingles").count()
    before = {(r.node, r.component) for r in sd.read_assignment(spark, root).collect()}

    sd.fold_batch(spark, batch, root)  # redelivery
    assert spark.read.parquet(f"{root}/shingles").count() == n_shingles
    after = {(r.node, r.component) for r in sd.read_assignment(spark, root).collect()}
    assert after == before


def test_dedup_stream_query_equals_batch_groups(spark, sf_dir):
    """The registered streaming query must reproduce q_llm_dedup_groups
    row for row — the strongest stream≡batch statement the engine makes."""
    from http_feeds_spark.queries import registry

    reg = registry()

    def rows(name):
        return {
            (r.cluster_id, r.doc_id, r.is_survivor, r.n_members)
            for r in reg[name].fn(spark, sf_dir).collect()
        }

    stream, batch = rows("q_llm_dedup_stream"), rows("q_llm_dedup_groups")
    assert stream == batch and len(stream) > 0


def test_feed_grows_dedup_index_e2e(spark, tmp_path):
    """VERDICT r5 #2 — the two streaming halves meet: a live HTTP feed
    whose CloudEvents payloads are documents grows the persistent LSH
    index via ingest.run_dedup_index (landing-zone fold → fold_batch).
    Covers: catch-up ingest → producer appends (a near-dup of an
    already-indexed doc among them) → RESTART from the same cursor →
    final assignment ≡ the batch pipeline over the same corpus; no-data
    tombstone events are skipped; a third run with nothing new is a
    no-op."""
    from http_feeds_spark import ingest
    from http_feeds_spark.operators.components import connected_components
    from http_feeds_spark.queries.llm import _near_dup_pairs
    from http_feeds_spark.streaming import dedup as sd
    from tests.feed_server import FeedState, serve

    base = " ".join(f"token{i} word{i} item{i}" for i in range(40))
    toks = base.split()
    v1, v2 = list(toks), list(toks)
    for i in range(0, 6):
        v1[i] = f"mutA{i}"
    for i in range(-6, 0):
        v2[i] = f"mutB{i}"
    fillers = [
        (10 + j, " ".join(f"w{10 + j}x{i} y{10 + j}z{i}" for i in range(8)))
        for j in range(5)
    ]
    phase1 = [(1, base), (2, " ".join(v1))] + fillers[:3]
    phase2 = [(3, " ".join(v2))] + fillers[3:]  # doc 3 chains 1~2~3 across runs

    state = FeedState()
    srv, url = serve(state)
    try:
        for doc_id, text in phase1:
            state.append(
                "org.example.document", str(doc_id), {"doc_id": doc_id, "text": text}
            )
        # a tombstone with no payload must be skipped, not crash the fold
        state.append("org.example.document", "1", None, method="DELETE")
        root = str(tmp_path / "feed_idx")

        landing = str(tmp_path / "landing")
        ingest.run(spark, url, landing)
        s1 = ingest.run_dedup_index(spark, landing, root)
        assert s1["indexed_docs"] == len(phase1)
        asg1 = {
            (r.node, r.component) for r in sd.read_assignment(spark, root).collect()
        }
        assert asg1 == {(1, 1), (2, 1)}  # only the 1~2 pair so far

        for doc_id, text in phase2:
            state.append(
                "org.example.document", str(doc_id), {"doc_id": doc_id, "text": text}
            )
        # restart: the store's cursor resumes; only new events fold
        ingest.run(spark, url, landing)
        s2 = ingest.run_dedup_index(spark, landing, root)
        assert s2["indexed_docs"] == len(phase1) + len(phase2)

        got = {
            (r.node, r.component) for r in sd.read_assignment(spark, root).collect()
        }
        corpus = spark.createDataFrame(phase1 + phase2, "doc_id long, text string")
        want = {
            (r.node, r.component)
            for r in connected_components(
                _near_dup_pairs(corpus), src="a", dst="b"
            ).collect()
        }
        assert got == want
        # the cross-RUN transitive chain collapsed onto the min id
        assert {(1, 1), (2, 1), (3, 1)} <= got

        # nothing new: a third run must change nothing
        ingest.run(spark, url, landing)
        s3 = ingest.run_dedup_index(spark, landing, root)
        assert s3["indexed_docs"] == s2["indexed_docs"]
        again = {
            (r.node, r.component) for r in sd.read_assignment(spark, root).collect()
        }
        assert again == got
    finally:
        srv.shutdown()


@pytest.mark.slow  # >30 s platform-integration (see pytest.ini)
def test_torn_assignment_write_never_loses_prior_clusters(spark, sf_dir, tmp_path):
    """ADVICE r5: the assignment rewrite must be crash-safe. A torn
    epoch directory (data files, no _SUCCESS marker — exactly what a
    crash mid-write leaves) must be invisible to readers, and the next
    fold must reclaim its slot and still converge to the full-corpus
    clusters."""
    import os
    import shutil

    from http_feeds_spark.operators.components import connected_components
    from http_feeds_spark.queries.llm import _near_dup_pairs
    from http_feeds_spark.streaming import dedup as sd

    corpus = _corpus_with_planted_chain(spark, sf_dir)
    root = str(tmp_path / "idx")
    for i in range(2):
        sd.fold_batch(spark, corpus.filter(F.col("doc_id") % 3 == i), root)
    before = {(r.node, r.component) for r in sd.read_assignment(spark, root).collect()}
    assert len(before) > 0

    # simulate the crash: next epoch dir with a parquet part but no marker
    asg_root = f"{root}/assignment"
    epochs = sorted(d for d in os.listdir(asg_root) if d.isdigit())
    latest = epochs[-1]
    torn = os.path.join(asg_root, f"{int(latest) + 1:06d}")
    os.makedirs(torn)
    part = next(
        f for f in os.listdir(os.path.join(asg_root, latest)) if f.endswith(".parquet")
    )
    shutil.copy(os.path.join(asg_root, latest, part), os.path.join(torn, part))

    # the torn epoch is invisible — prior clusters keep serving
    after_crash = {
        (r.node, r.component) for r in sd.read_assignment(spark, root).collect()
    }
    assert after_crash == before

    # the redelivered fold reclaims the torn slot and the final state
    # still equals the batch pipeline over the full corpus
    sd.fold_batch(spark, corpus.filter(F.col("doc_id") % 3 == 2), root)
    got = {(r.node, r.component) for r in sd.read_assignment(spark, root).collect()}
    want = {
        (r.node, r.component)
        for r in connected_components(
            _near_dup_pairs(corpus), src="a", dst="b"
        ).collect()
    }
    assert got == want
    # the retention window remains after cleanup: the reclaimed slot
    # plus its predecessor (ASSIGNMENT_KEEP_EPOCHS=2 — r9 keeps one
    # prior epoch so a platform-epoch pin survives a concurrent wave)
    assert [d for d in sorted(os.listdir(asg_root)) if d.isdigit()] == [
        latest,
        f"{int(latest) + 1:06d}",
    ]


@pytest.mark.slow  # >30 s platform-integration (see pytest.ini)
def test_survivors_filter_and_refold_safety(spark, sf_dir, tmp_path):
    from http_feeds_spark.streaming import dedup as sd

    corpus = _corpus_with_planted_chain(spark, sf_dir)
    root = str(tmp_path / "idx")
    for i in range(3):
        sd.fold_batch(spark, corpus.filter(F.col("doc_id") % 3 == i), root)

    kept = sd.survivors_filter(spark, corpus, root)
    asg = sd.read_assignment(spark, root)
    n_losers = asg.where(F.col("node") != F.col("component")).count()
    assert kept.count() == corpus.count() - n_losers
    planted_kept = sorted(
        r.doc_id for r in kept.filter(F.col("doc_id") > 1_000_000).collect()
    )
    assert planted_kept == [1_000_001]

    # folding an EMPTY batch is a no-op on the assignment (prior clusters
    # ride through the incremental closure unchanged)
    before = {(r.node, r.component) for r in asg.collect()}
    sd.fold_batch(spark, corpus.filter(F.lit(False)), root)
    after = {(r.node, r.component) for r in sd.read_assignment(spark, root).collect()}
    assert after == before
