"""Erasure propagation (operators/erasure.py): the GDPR invariant —
from the moment an erase batch commits, no erased id surfaces from ANY
store read — plus physical purge across all four derived stores, the
torn-swap resume, and the feed-DELETE → propagate composition."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from http_feeds_spark.operators import ann_index as ai
from http_feeds_spark.operators import erasure
from http_feeds_spark.operators import pq_index as pqi
from http_feeds_spark.operators import text_index as ti
from http_feeds_spark.streaming import dedup as sd
from tests.test_store_metadata import _jobs

TERMS = ["window", "filter", "merge"]


def _docs(spark, sf_dir):
    from http_feeds_spark.sources.tables import load_table

    return load_table(spark, sf_dir, "documents").select("doc_id", "text")


def _emb(spark, sf_dir):
    from http_feeds_spark.sources.tables import load_table

    return load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")


def _queries(emb, n=8):
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def test_ledger_basics_idempotent(spark, tmp_path):
    root = str(tmp_path / "led")
    ids = spark.createDataFrame([(1,), (2,)], "id long")
    assert erasure.erase_ids(spark, root, ids) == 2
    assert erasure.erase_ids(spark, root, ids) == 0  # already recorded
    more = spark.createDataFrame([(2,), (3,)], "id long")
    assert erasure.erase_ids(spark, root, more) == 1
    got = sorted(r.id for r in erasure.erased_ids(spark, root).collect())
    assert got == [1, 2, 3]
    erasure.clear_ledger(spark, root)
    assert erasure.erased_ids(spark, root) is None


def test_text_index_logical_erasure_equals_rebuilt_index(spark, sf_dir, tmp_path):
    """Ledger set, purge NOT yet run: search must equal an index built
    WITHOUT the erased docs — same idf, same avgdl, same rows — because
    the read path filters postings and heals the derived stats."""
    docs = _docs(spark, sf_dir)
    root = str(tmp_path / "ti")
    ti.build_text_index(spark, docs, root)
    victim_ids = [
        r.doc_id for r in ti.search(spark, root, TERMS, k=2).select("doc_id").collect()
    ]
    erasure.erase_ids(
        spark, root, spark.createDataFrame([(i,) for i in victim_ids], "id long")
    )
    got = [tuple(r) for r in ti.search(spark, root, TERMS, k=10).collect()]

    clean_root = str(tmp_path / "ti_clean")
    ti.build_text_index(
        spark, docs.where(~F.col("doc_id").isin(victim_ids)), clean_root
    )
    want = [tuple(r) for r in ti.search(spark, clean_root, TERMS, k=10).collect()]
    assert got == want and len(got) == 10
    assert not {r[0] for r in got} & set(victim_ids)


def test_text_index_purge_is_physical_and_blocks_then_allows_reindex(
    spark, sf_dir, tmp_path
):
    docs = _docs(spark, sf_dir)
    root = str(tmp_path / "ti")
    ti.build_text_index(spark, docs.where(F.col("doc_id") % 2 == 0), root)
    ti.upsert_documents(spark, docs.where(F.col("doc_id") % 2 == 1), root)
    victim = int(
        ti.search(spark, root, TERMS, k=1).select("doc_id").collect()[0].doc_id
    )
    vic_df = spark.createDataFrame([(victim,)], "id long")
    erasure.erase_ids(spark, root, vic_df)
    before = [tuple(r) for r in ti.search(spark, root, TERMS, k=10).collect()]

    # while the ledger is set the id cannot be re-upserted (rows exist)
    vic_doc = docs.where(F.col("doc_id") == victim)
    assert ti.upsert_documents(spark, vic_doc, root) == 0

    removed = ti.purge_erased(spark, root)
    assert removed > 0
    assert erasure.erased_ids(spark, root) is None  # ledger cleared LAST
    # physically gone: scan the posting store directly
    post = spark.read.option("basePath", f"{root}/{ti.POSTINGS_DIR}").parquet(
        f"{root}/{ti.POSTINGS_DIR}"
    )
    assert post.where(F.col("doc_id") == victim).count() == 0
    # same answers as the logical window, now on the fast path
    assert [tuple(r) for r in ti.search(spark, root, TERMS, k=10).collect()] == before
    # after purge the id may be indexed again — a NEW document
    assert ti.upsert_documents(spark, vic_doc, root) == 1
    assert removed == int(
        spark.read.option("basePath", f"{root}/{ti.POSTINGS_DIR}")
        .parquet(f"{root}/{ti.POSTINGS_DIR}")
        .where(F.col("doc_id") == victim)
        .count()
    )


def test_ann_pq_logical_filter_and_physical_purge(spark, sf_dir, tmp_path):
    """Both vector tiers: erased ids vanish from search results the
    moment the ledger commits; purge rewrites ONLY the affected cluster
    partitions (unaffected partition files untouched on disk) and the
    rows are physically gone."""
    emb = _emb(spark, sf_dir)
    queries = _queries(emb)
    for mod, build, root in [
        (ai, lambda r: ai.build_index(spark, emb, r, k=8, iters=2), str(tmp_path / "ann")),
        (
            pqi,
            lambda r: pqi.build_pq_index(spark, emb, r, nlist=8, m=4, ksub=16, iters=2),
            str(tmp_path / "pq"),
        ),
    ]:
        build(root)
        base = mod.search(spark, queries, root, k=5, nprobe=8)
        victim = int(base.where(F.col("rank") == 1).collect()[0].vec_id)
        erasure.erase_ids(
            spark, root, spark.createDataFrame([(victim,)], "id long")
        )
        got = mod.search(spark, queries, root, k=5, nprobe=8).collect()
        assert victim not in {r.vec_id for r in got} and len(got) > 0

        store = (
            f"{root}/{ai.CORPUS_DIR}" if mod is ai else f"{root}/{pqi.CODES_DIR}"
        )
        rows = spark.read.parquet(store)
        affected = {
            r.cluster
            for r in rows.where(F.col("vec_id") == victim)
            .select("cluster")
            .collect()
        }
        untouched_files = {
            os.path.join(dp, f)
            for dp, _, fs in os.walk(store)
            for f in fs
            if f.endswith(".parquet")
            and not any(f"cluster={c}" in dp for c in affected)
        }
        removed = mod.purge_erased(spark, root)
        assert removed == 1
        assert erasure.erased_ids(spark, root) is None
        after_files = {
            os.path.join(dp, f)
            for dp, _, fs in os.walk(store)
            for f in fs
            if f.endswith(".parquet")
            and not any(f"cluster={c}" in dp for c in affected)
        }
        assert after_files == untouched_files  # only affected partitions rewritten
        assert (
            spark.read.parquet(store).where(F.col("vec_id") == victim).count() == 0
        )
        post = mod.search(spark, queries, root, k=5, nprobe=8).collect()
        assert {(r.query_id, r.vec_id) for r in post} == {
            (r.query_id, r.vec_id) for r in got
        }


def test_purge_torn_swap_resumes(spark, sf_dir, tmp_path):
    """Crash between live-dir delete and staged-dir rename: the staged
    dir holds the only copy of the partition's survivors. The next purge
    must rename it into place FIRST, then complete — no row lost, no
    erased row resurrected."""
    emb = _emb(spark, sf_dir)
    root = str(tmp_path / "ann")
    ai.build_index(spark, emb, root, k=8, iters=2)
    corpus_path = f"{root}/{ai.CORPUS_DIR}"
    rows = spark.read.parquet(corpus_path)
    victim = int(rows.limit(1).collect()[0].vec_id)
    cluster = int(
        rows.where(F.col("vec_id") == victim).select("cluster").collect()[0].cluster
    )
    total = rows.count()
    erasure.erase_ids(spark, root, spark.createDataFrame([(victim,)], "id long"))

    # hand-build the torn state: staged filtered copy committed, live gone
    stage_root = corpus_path + "__purge_stage"
    (
        rows.where((F.col("cluster") == cluster) & (F.col("vec_id") != victim))
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(stage_root)
    )
    import shutil

    shutil.rmtree(f"{corpus_path}/cluster={cluster}")
    # invariant holds even now: reader filters the ledger
    got = ai.search(spark, _queries(emb), root, k=5, nprobe=8).collect()
    assert victim not in {r.vec_id for r in got}

    assert ai.purge_erased(spark, root) == 0  # resume finds nothing left to drop
    after = spark.read.parquet(corpus_path)
    assert after.count() == total - 1  # survivors restored, victim gone
    assert after.where(F.col("vec_id") == victim).count() == 0
    assert not os.path.exists(stage_root)
    assert erasure.erased_ids(spark, root) is None

    # the same torn stage with the whole live root gone: the resume
    # renames the stage in whole, which must end in exactly the staged
    # rows (what renaming it in partition by partition gives)
    staged = (
        spark.read.parquet(corpus_path).where(F.col("cluster") == cluster).localCheckpoint()
    )
    staged.write.mode("overwrite").partitionBy("cluster").parquet(stage_root)
    shutil.rmtree(corpus_path)
    erased = spark.createDataFrame([(victim,)], "id long")
    assert erasure.purge_partitioned_store(
        spark, corpus_path, erased, "vec_id", "cluster", dedup_keys=["vec_id"]
    ) == 0
    assert sorted(tuple(r) for r in spark.read.parquet(corpus_path).collect()) == sorted(
        tuple(r) for r in staged.collect()
    )
    assert not os.path.exists(stage_root)


def test_dedup_index_erasure_and_purge(spark, tmp_path):
    """Streaming LSH index: an erased doc disappears as a NODE and as a
    cluster LABEL (relabel to min surviving member) from the moment the
    ledger commits; purge rewrites only the hashed buckets holding the
    doc and re-commits the assignment as a new epoch."""
    root = str(tmp_path / "sd")
    text = "the quick brown fox jumps over the lazy dog again and again today"
    docs = spark.createDataFrame(
        [(1, text), (2, text + " extra"), (3, "completely different words here "
                                             "about unrelated topics entirely")],
        "doc_id long, text string",
    )
    sd.fold_batch(spark, docs, root)
    asg = {r.node: r.component for r in sd.read_assignment(spark, root).collect()}
    assert asg.get(1) == 1 and asg.get(2) == 1  # near-dup cluster labeled by min

    erasure.erase_ids(spark, root, spark.createDataFrame([(1,)], "id long"))
    filtered = {r.node: r.component for r in sd.read_assignment(spark, root).collect()}
    assert 1 not in filtered
    assert 1 not in set(filtered.values())  # label relabeled, not leaked
    assert filtered.get(2) == 2

    removed = sd.purge_erased(spark, root)
    assert removed > 0
    assert erasure.erased_ids(spark, root) is None
    for store in (sd.BANDS_DIR, sd.SHINGLES_DIR):
        left = spark.read.parquet(f"{root}/{store}")
        assert left.where(F.col("doc_id") == 1).count() == 0
        assert left.where(F.col("doc_id").isin([2, 3])).count() > 0
    persisted = {r.node: r.component for r in sd.read_assignment(spark, root).collect()}
    assert persisted == filtered


@pytest.mark.slow  # >30 s platform-integration (see pytest.ini)
def test_propagate_erasure_all_four_stores(spark, sf_dir, tmp_path):
    """One request fanned to every store, purge=True end to end."""
    docs = _docs(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    ti_root = str(tmp_path / "ti")
    ann_root = str(tmp_path / "ann")
    pq_root = str(tmp_path / "pq")
    sd_root = str(tmp_path / "sd")
    ti.build_text_index(spark, docs, ti_root)
    ai.build_index(spark, emb, ann_root, k=8, iters=2)
    pqi.build_pq_index(spark, emb, pq_root, nlist=8, m=4, ksub=16, iters=2)
    sd.fold_batch(spark, docs.limit(50), sd_root)

    victim = int(docs.limit(1).collect()[0].doc_id)
    ids = spark.createDataFrame([(victim,)], "id long")
    out = erasure.propagate_erasure(
        spark,
        ids,
        text_index_root=ti_root,
        ann_index_root=ann_root,
        pq_index_root=pq_root,
        dedup_index_root=sd_root,
        purge=True,
    )
    assert out["text_index_erased"] == 1 and out["ann_index_erased"] == 1
    assert out["text_index_purged"] >= 0 and out["dedup_index_purged"] >= 0
    for root in (ti_root, ann_root, pq_root, sd_root):
        assert erasure.erased_ids(spark, root) is None
    post = spark.read.option("basePath", f"{ti_root}/{ti.POSTINGS_DIR}").parquet(
        f"{ti_root}/{ti.POSTINGS_DIR}"
    )
    assert post.where(F.col("doc_id") == victim).count() == 0
    for store in (f"{ann_root}/{ai.CORPUS_DIR}", f"{pq_root}/{pqi.CODES_DIR}"):
        assert (
            spark.read.parquet(store).where(F.col("vec_id") == victim).count() == 0
        )


def test_run_erasure_walks_the_feed_once(spark, tmp_path):
    """run_erasure reads the erase set from the landing zone, never the
    HTTP feed, however many stores consume it: every store's erase_ids
    and the summary count read one materialized snapshot."""
    from http_feeds_spark import ingest
    from tests.feed_server import FeedState, serve

    docs = spark.createDataFrame(
        [(i, f"window filter merge common{i} tail{i} words") for i in range(6)],
        "doc_id long, text string",
    )
    ti_root = str(tmp_path / "ti")
    sd_root = str(tmp_path / "sd")
    ti.ensure_text_index(spark, docs, ti_root)
    sd.fold_batch(spark, docs, sd_root)

    state = FeedState()
    srv, url = serve(state)
    try:
        for i in range(6):
            state.append("org.example.document", str(i), {"doc_id": i})
        for i in (2, 4):
            state.append("org.example.document", str(i), None, method="DELETE")
        landing = str(tmp_path / "landing")
        ingest.run(spark, url, landing)
        before = state.request_count
        out = ingest.run_erasure(
            spark, landing, text_index_root=ti_root, dedup_index_root=sd_root
        )
        # the landing catch-up made the wave's only walk
        assert state.request_count - before == 0
        assert out["erase_ids"] == 2
        assert out["text_index_erased"] == 2 and out["dedup_index_erased"] == 2
    finally:
        srv.shutdown()


def _small_docs(spark, n=8):
    return spark.createDataFrame(
        [(i, f"window filter merge common{i} tail{i} words") for i in range(n)],
        "doc_id long, text string",
    )


def test_text_purge_finds_affected_batches_in_one_aggregate(spark, tmp_path):
    """One grouped aggregate per batch names the affected batches, the
    removed rows and the survivors' count, and the rewrite carries the
    analyzer the purge read: 19 jobs for this purge (31 before, when
    the affected batches, the removed count and a checkpointed survivor
    count were three separate actions and the derived-store rewrite
    reloaded the index frontier). Ids that match no posting (1 of 3
    here, as after earlier purges) change nothing."""
    docs = _small_docs(spark)
    root = str(tmp_path / "ti")
    ti.build_text_index(spark, docs.where("doc_id < 4"), root, analyzer="standard")
    ti.upsert_documents(spark, docs.where("doc_id >= 4"), root)
    erasure.erase_ids(
        spark, root, spark.createDataFrame([(1,), (100,), (101,)], "id long")
    )
    removed, jobs = _jobs(spark, lambda: ti.purge_erased(spark, root))
    assert removed == 6  # doc 1's six postings
    assert jobs == 19
    assert erasure.erased_ids(spark, root) is None
    assert ti.index_analyzer(spark, root) == "standard"
    hits = {r.doc_id for r in ti.search(spark, root, ["window"], k=20).collect()}
    assert hits == {0, 2, 3, 4, 5, 6, 7}


@pytest.mark.parametrize("failing", ["text_index", "dedup_index"])
def test_propagate_erasure_failure_in_one_store_does_not_block_the_others(
    spark, tmp_path, monkeypatch, failing
):
    """Stores are independent: one store's purge raising leaves its
    ledger set (its readers keep filtering), the other store still
    erases, purges and clears its ledger, and the failure is raised."""
    docs = _small_docs(spark, 6)
    roots = {"text_index": str(tmp_path / "ti"), "dedup_index": str(tmp_path / "sd")}
    ti.ensure_text_index(spark, docs, roots["text_index"])
    sd.fold_batch(spark, docs, roots["dedup_index"])

    def boom(spark_, root):
        raise RuntimeError(f"{failing} purge failed")

    monkeypatch.setattr(ti if failing == "text_index" else sd, "purge_erased", boom)
    with pytest.raises(RuntimeError, match=f"{failing} purge failed"):
        erasure.propagate_erasure(
            spark,
            spark.createDataFrame([(2,)], "id long"),
            text_index_root=roots["text_index"],
            dedup_index_root=roots["dedup_index"],
            purge=True,
        )
    (other,) = set(roots) - {failing}
    assert erasure.erased_ids(spark, roots[other]) is None
    assert [r.id for r in erasure.erased_ids(spark, roots[failing]).collect()] == [2]
    if other == "text_index":
        hits = {r.doc_id for r in ti.search(spark, roots[other], ["window"], k=10).collect()}
        assert hits == {0, 1, 3, 4, 5}
        left = spark.read.option("basePath", f"{roots[other]}/{ti.POSTINGS_DIR}").parquet(
            f"{roots[other]}/{ti.POSTINGS_DIR}"
        )
    else:
        left = spark.read.parquet(f"{roots[other]}/{sd.SHINGLES_DIR}")
    assert left.where(F.col("doc_id") == 2).count() == 0


@pytest.mark.slow  # >30 s platform-integration (see pytest.ini)
def test_feed_delete_tombstone_to_erasure_composition(spark, tmp_path):
    """The operational path: documents ingested from the feed into the
    text + dedup indexes; a DELETE tombstone lands; run_erasure derives
    the erase set from the feed and purges both stores."""
    from http_feeds_spark import ingest
    from tests.feed_server import FeedState, serve

    state = FeedState()
    srv, url = serve(state)
    try:
        for i in range(6):
            state.append(
                "org.example.document",
                str(i),
                {"doc_id": i, "text": f"window filter merge common{i} tail{i} words"},
            )
        ti_root = str(tmp_path / "ti")
        sd_root = str(tmp_path / "sd")
        landing = str(tmp_path / "landing")
        ingest.run(spark, url, landing)
        ingest.run_text_index(spark, landing, ti_root)
        ingest.run_dedup_index(spark, landing, sd_root)
        assert ti.search(spark, ti_root, ["window"], k=10).count() == 6

        state.append("org.example.document", "2", None, method="DELETE")
        ingest.run(spark, url, landing)
        out = ingest.run_erasure(
            spark, landing, text_index_root=ti_root, dedup_index_root=sd_root, purge=True
        )
        assert out["erase_ids"] == 1
        assert out["text_index_erased"] == 1

        hits = {r.doc_id for r in ti.search(spark, ti_root, ["window"], k=10).collect()}
        assert hits == {0, 1, 3, 4, 5}
        post = spark.read.option(
            "basePath", f"{ti_root}/{ti.POSTINGS_DIR}"
        ).parquet(f"{ti_root}/{ti.POSTINGS_DIR}")
        assert post.where(F.col("doc_id") == 2).count() == 0
        assert (
            spark.read.parquet(f"{sd_root}/{sd.SHINGLES_DIR}")
            .where(F.col("doc_id") == 2)
            .count()
            == 0
        )
        # re-running derives the same erase set; everything already gone
        again = ingest.run_erasure(
            spark, landing, text_index_root=ti_root, dedup_index_root=sd_root, purge=True
        )
        assert again["text_index_purged"] == 0
    finally:
        srv.shutdown()


@pytest.mark.slow  # >30 s platform-integration (see pytest.ini)
def test_run_platform_one_call_end_to_end(spark, tmp_path):
    """The one-call orchestration: landing zone + text/dedup indexes +
    monitor follow the feed, and DELETE tombstones propagate through
    every store — then a second call with more docs and another DELETE
    converges (each component resumes its own cursor)."""
    from http_feeds_spark import ingest
    from tests.feed_server import FeedState, serve

    state = FeedState()
    srv, url = serve(state)
    try:
        for i in range(5):
            state.append(
                "org.example.document",
                str(i),
                {"doc_id": i, "text": f"window filter merge body{i} tail{i}"},
            )
        state.append("org.example.document", "1", None, method="DELETE")
        root = str(tmp_path / "platform")

        out = ingest.run_platform(spark, url, root)
        assert out["landing"]["raw_rows"] == 6
        assert out["landing"]["compacted_rows"] == 4  # 5 docs - tombstoned 1
        assert out["erasure"]["erase_ids"] == 1
        assert out["erasure"]["text_index_erased"] == 1
        hits = {
            r.doc_id
            for r in ti.search(spark, f"{root}/text_index", ["window"], k=10).collect()
        }
        assert hits == {0, 2, 3, 4}
        assert (
            spark.read.parquet(f"{root}/dedup_index/{sd.SHINGLES_DIR}")
            .where(F.col("doc_id") == 1)
            .count()
            == 0
        )
        from http_feeds_spark.streaming import monitor as mon

        assert mon.read_stats(spark, f"{root}/monitor").count() >= 1

        # second wave: new docs + another tombstone; re-run converges
        for i in range(5, 8):
            state.append(
                "org.example.document",
                str(i),
                {"doc_id": i, "text": f"window filter merge body{i} tail{i}"},
            )
        state.append("org.example.document", "0", None, method="DELETE")
        # wave 1 recorded epoch 0: pin it BEFORE wave 2 lands
        from http_feeds_spark import epochs

        assert out["epoch"]["epoch"] == 0
        pinned = epochs.pin(spark, root, 0)
        wave1_hits = {r.doc_id for r in pinned.text_search(["window"], k=10).collect()}
        assert wave1_hits == {0, 2, 3, 4}

        out2 = ingest.run_platform(spark, url, root)
        assert out2["landing"]["compacted_rows"] == 6  # 8 docs - 2 tombstoned
        assert out2["epoch"]["epoch"] == 1
        hits2 = {
            r.doc_id
            for r in ti.search(spark, f"{root}/text_index", ["window"], k=10).collect()
        }
        assert hits2 == {2, 3, 4, 5, 6, 7}
        # erasure TRUMPS the pin: wave 2 physically purged doc 0, which
        # rewrote (and vacuumed) the batch the epoch-0 pin references —
        # the pinned read fails stop instead of resurrecting erased data
        import pytest as _pytest

        with _pytest.raises(ValueError, match="pin a newer epoch"):
            pinned.text_search(["window"], k=10).collect()
        p1 = epochs.pin(spark, root, 1)
        assert {
            r.doc_id for r in p1.text_search(["window"], k=10).collect()
        } == hits2
        for store_root in (f"{root}/text_index", f"{root}/dedup_index"):
            assert erasure.erased_ids(spark, store_root) is None  # purged + cleared
    finally:
        srv.shutdown()


@pytest.mark.slow  # >30 s platform-integration (see pytest.ini)
def test_dedup_rebuild_splits_bridge_merged_clusters(spark, tmp_path):
    """Purge keeps history's merges (A~E~B stays one cluster after E is
    erased — documented); rebuild_assignment recomputes the closure from
    the surviving stores and SPLITS clusters whose only connection was
    the erased bridge."""
    root = str(tmp_path / "sd")
    # sliding 12-word windows stepping 2 over one 20-word sequence:
    # consecutive windows share 8 of 12 shingles (J = 8/12 ≈ 0.67 ≥ 0.5),
    # windows two steps apart share only 6 of 14 (J ≈ 0.43 < 0.5) — so
    # the chain d1—d2—d5—d3—d4 is connected ONLY through its middle
    W = [f"word{i:02d}" for i in range(20)]

    def win(start):
        return " ".join(W[start : start + 12])

    docs = spark.createDataFrame(
        [(1, win(0)), (2, win(2)), (5, win(4)), (3, win(6)), (4, win(8))],
        "doc_id long, text string",
    )
    sd.fold_batch(spark, docs, root)
    asg = {r.node: r.component for r in sd.read_assignment(spark, root).collect()}
    assert asg[1] == asg[3] == asg[5]  # one chain-connected cluster

    erasure.erase_ids(spark, root, spark.createDataFrame([(5,)], "id long"))
    sd.purge_erased(spark, root)
    merged = {r.node: r.component for r in sd.read_assignment(spark, root).collect()}
    assert 5 not in merged
    # history's merge survives the purge (the cheap default)
    assert merged[1] == merged[3]

    sd.rebuild_assignment(spark, root)
    split = {r.node: r.component for r in sd.read_assignment(spark, root).collect()}
    assert split[1] == split[2] and split[3] == split[4]
    assert split[1] != split[3]  # the bridge-only merge is gone


@pytest.mark.slow  # >30 s platform-integration (see pytest.ini)
def test_update_paths_replace_in_place(spark, sf_dir, tmp_path):
    """The explicit update paths (upsert is insert-only by design):
    text_index.update_documents makes the NEW text searchable and the
    old terms gone; ann_index.update_vectors moves the id to its new
    neighborhood; both are idempotent on retry."""
    docs = _docs(spark, sf_dir)
    ti_root = str(tmp_path / "ti")
    ti.build_text_index(spark, docs, ti_root)
    victim = int(
        ti.search(spark, ti_root, TERMS, k=1).select("doc_id").collect()[0].doc_id
    )
    new_doc = spark.createDataFrame(
        [(victim, "zzzunique qqqspecial zzzunique")], "doc_id long, text string"
    )
    out = ti.update_documents(spark, new_doc, ti_root)
    assert out["removed_rows"] > 0 and out["docs_indexed"] == 1
    assert victim not in {
        r.doc_id for r in ti.search(spark, ti_root, TERMS, k=10_000).collect()
    }
    hits = ti.search(spark, ti_root, ["zzzunique"], k=5).collect()
    assert [r.doc_id for r in hits] == [victim]
    # retry: the same update RE-APPLIES the replacement (erase the new
    # version, insert it again) — counts repeat, the final state is
    # identical either way
    again = ti.update_documents(spark, new_doc, ti_root)
    assert again["docs_indexed"] == 1
    hits2 = ti.search(spark, ti_root, ["zzzunique"], k=5).collect()
    assert [r.doc_id for r in hits2] == [victim]

    emb = _emb(spark, sf_dir)
    ann_root = str(tmp_path / "ann")
    ai.build_index(spark, emb, ann_root, k=8, iters=2)
    target = emb.where(F.col("vec_id") == 7).collect()[0]
    moved = spark.createDataFrame(
        [(3, [float(x) + 0.001 for x in target.embedding])],
        "vec_id long, embedding array<double>",
    )
    out = ai.update_vectors(spark, moved, ann_root)
    assert out == {"removed_rows": 1, "vectors_indexed": 1}
    q = spark.createDataFrame(
        [(1, [float(x) for x in target.embedding])],
        "query_id long, embedding array<double>",
    )
    top = ai.search(spark, q, ann_root, k=2, nprobe=8).collect()
    assert {r.vec_id for r in top} == {7, 3}  # id 3 now lives next to 7


@pytest.mark.slow  # >30 s platform-integration (see pytest.ini)
def test_run_platform_with_vector_indexes(spark, tmp_path):
    """Platform with the vector tiers on: one feed whose payloads carry
    text AND an embedding grows all five stores; the DELETE tombstone
    erases the subject from the ANN and PQ stores too."""
    import math

    from http_feeds_spark import ingest
    from tests.feed_server import FeedState, serve

    dim = 8

    def vec(i):
        return [round(math.sin(i * 0.7 + d) + 0.001 * i, 6) for d in range(dim)]

    state = FeedState()
    srv, url = serve(state)
    try:
        for i in range(10):
            state.append(
                "org.example.document",
                str(i),
                {
                    "doc_id": i,
                    "text": f"window filter merge body{i}",
                    "embedding": vec(i),
                },
            )
        state.append("org.example.document", "4", None, method="DELETE")
        root = str(tmp_path / "platform")
        out = ingest.run_platform(
            spark, url, root, ann_index=True, pq_index=True
        )
        assert out["ann_index"]["indexed_vectors"] == 10
        assert out["erasure"]["ann_index_erased"] == 1
        assert out["erasure"]["ann_index_purged"] == 1
        assert out["erasure"]["pq_index_purged"] == 1
        # the vector folds normalize the payload's id field to vec_id
        for store in (f"{root}/ann_index/corpus", f"{root}/pq_index/codes"):
            assert (
                spark.read.parquet(store).where(F.col("vec_id") == 4).count() == 0
            )
        q = spark.createDataFrame(
            [(1, vec(4))], "query_id long, embedding array<double>"
        )
        got = ai.search(spark, q, f"{root}/ann_index", k=3, nprobe=16).collect()
        assert got and 4 not in {r.vec_id for r in got}
    finally:
        srv.shutdown()


def test_purge_resume_merges_when_append_recreated_live(spark, sf_dir, tmp_path):
    """The r7 ADVICE data-loss window: crash lands between delete(live)
    and rename(staged->live), then a retry's UPSERT (which run_platform
    executes before the purge resume) recreates the live dir. The
    resume must MERGE the staged survivors in — the old restore-only-
    if-missing rule silently deleted the only copy of them."""
    emb = _emb(spark, sf_dir)
    root = str(tmp_path / "ann")
    ai.build_index(spark, emb, root, k=8, iters=2)
    corpus_path = f"{root}/{ai.CORPUS_DIR}"
    rows = spark.read.parquet(corpus_path)
    victim = int(rows.limit(1).collect()[0].vec_id)
    cluster = int(
        rows.where(F.col("vec_id") == victim).select("cluster").collect()[0].cluster
    )
    total = rows.count()
    survivors = {
        r.vec_id
        for r in rows.where(
            (F.col("cluster") == cluster) & (F.col("vec_id") != victim)
        ).collect()
    }
    assert survivors  # the partition must have rows to lose
    donor = next(iter(survivors))
    donor_vec = (
        rows.where(F.col("vec_id") == donor).select("embedding").collect()[0][0]
    )
    new_id = int(rows.agg(F.max("vec_id")).collect()[0][0]) + 1
    emb_schema = rows.select("vec_id", "embedding").schema
    erasure.erase_ids(spark, root, spark.createDataFrame([(victim,)], "id long"))

    # hand-build the torn state: staged survivors committed, live gone
    stage_root = corpus_path + "__purge_stage"
    (
        rows.where((F.col("cluster") == cluster) & (F.col("vec_id") != victim))
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(stage_root)
    )
    import shutil

    shutil.rmtree(f"{corpus_path}/cluster={cluster}")

    # the retry's append lands FIRST (run_platform order): a new vector
    # whose nearest centroid is the torn cluster recreates the live dir
    appended = ai.upsert_vectors(
        spark,
        spark.createDataFrame([(new_id, donor_vec)], emb_schema),
        root,
    )
    assert appended == 1
    got_cluster = int(
        spark.read.parquet(corpus_path)
        .where(F.col("vec_id") == new_id)
        .collect()[0]
        .cluster
    )
    assert got_cluster == cluster  # live dir really was recreated

    ai.purge_erased(spark, root)  # resume must merge, not discard
    after = spark.read.parquet(corpus_path)
    ids = {r.vec_id for r in after.select("vec_id").collect()}
    assert survivors <= ids, "staged survivors were lost on resume"
    assert victim not in ids and new_id in ids
    assert after.count() == total - 1 + 1  # no duplicates either
    assert not os.path.exists(stage_root)
    assert erasure.erased_ids(spark, root) is None


def test_purge_resume_no_duplicates_when_live_never_deleted(spark, sf_dir, tmp_path):
    """Crash BEFORE the swap loop: stage committed, live still the full
    original partition. The merge-on-resume must not duplicate the
    survivors (the rewrite collapses them by id)."""
    emb = _emb(spark, sf_dir)
    root = str(tmp_path / "ann2")
    ai.build_index(spark, emb, root, k=8, iters=2)
    corpus_path = f"{root}/{ai.CORPUS_DIR}"
    rows = spark.read.parquet(corpus_path)
    victim = int(rows.limit(1).collect()[0].vec_id)
    cluster = int(
        rows.where(F.col("vec_id") == victim).select("cluster").collect()[0].cluster
    )
    total = rows.count()
    erasure.erase_ids(spark, root, spark.createDataFrame([(victim,)], "id long"))
    stage_root = corpus_path + "__purge_stage"
    (
        rows.where((F.col("cluster") == cluster) & (F.col("vec_id") != victim))
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(stage_root)
    )  # live dir untouched — full original still in place

    assert ai.purge_erased(spark, root) == 1
    after = spark.read.parquet(corpus_path)
    assert after.count() == total - 1
    assert after.select("vec_id").distinct().count() == total - 1
    assert after.where(F.col("vec_id") == victim).count() == 0
    assert not os.path.exists(stage_root)


def test_purge_resume_merge_distinct_for_keyless_store(spark, tmp_path):
    """The dedup band/shingle stores have no unique id — merge-on-resume
    falls back to full-row distinct. Same crash-before-delete window on
    a synthetic multi-row-per-doc store."""
    store = str(tmp_path / "bands" / "data")
    df = spark.createDataFrame(
        [(d, b, 100 * d + b, d % 2) for d in range(1, 5) for b in range(3)],
        "doc_id long, band int, sig long, bucket int",
    )
    df.write.partitionBy("bucket").parquet(store)
    erased = spark.createDataFrame([(2,)], "id long")
    # stage the filtered bucket-0 survivors, crash before any swap
    (
        df.where((F.col("bucket") == 0) & (F.col("doc_id") != 2))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(store + "__purge_stage")
    )
    removed = erasure.purge_partitioned_store(
        spark, store, erased, "doc_id", "bucket"
    )
    assert removed == 3  # doc 2's three band rows
    after = spark.read.parquet(store)
    assert after.count() == 9  # 4 docs * 3 bands - 3, duplicates collapsed
    assert after.distinct().count() == 9
    assert after.where(F.col("doc_id") == 2).count() == 0


@pytest.mark.slow  # >30 s platform-integration (see pytest.ini)
def test_run_platform_rebuilds_clusters_after_purge(spark, tmp_path):
    """Opt-in cluster hygiene: a DELETE tombstone for the bridge doc of
    a chain-connected cluster triggers purge + full re-closure inside
    run_platform, splitting the cluster; without the flag the merge
    survives (documented purge semantics)."""
    from http_feeds_spark import ingest
    from tests.feed_server import FeedState, serve

    W = [f"word{i:02d}" for i in range(20)]

    def win(start):
        return " ".join(W[start : start + 12])

    chain = [(1, win(0)), (2, win(2)), (5, win(4)), (3, win(6)), (4, win(8))]
    for flag, expect_split in ((False, False), (True, True)):
        state = FeedState()
        srv, url = serve(state)
        try:
            for i, text in chain:
                state.append(
                    "org.example.document", str(i), {"doc_id": i, "text": text}
                )
            root = str(tmp_path / f"platform_{flag}")
            ingest.run_platform(
                spark, url, root, monitor=False, text_index=False,
                rebuild_clusters_after_purge=flag,
            )
            asg = {
                r.node: r.component
                for r in sd.read_assignment(spark, f"{root}/dedup_index").collect()
            }
            assert asg[1] == asg[3]  # chain-connected through doc 5

            state.append("org.example.document", "5", None, method="DELETE")
            out = ingest.run_platform(
                spark, url, root, monitor=False, text_index=False,
                rebuild_clusters_after_purge=flag,
            )
            assert out["erasure"]["dedup_index_purged"] > 0
            assert out["erasure"].get("dedup_clusters_rebuilt", False) is flag
            after = {
                r.node: r.component
                for r in sd.read_assignment(spark, f"{root}/dedup_index").collect()
            }
            assert 5 not in after
            assert (after[1] != after[3]) is expect_split
        finally:
            srv.shutdown()
