"""Persisted IVF ANN index (operators/ann_index.py): the build-once /
search-many contract — search equals the per-call pipeline exactly, the
search path runs ZERO training jobs, and the corpus scan is partition-
pruned to the probed clusters (the properties that make the benched
number mean "ANN search", not "index build")."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from http_feeds_spark import plans
from http_feeds_spark.functions import kmeans as km
from http_feeds_spark.operators import ann_index as ai


def _emb(spark, sf_dir):
    from http_feeds_spark.sources.tables import load_table

    return load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")


def _queries(emb, n=16):
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def test_search_equals_per_call_batch(spark, sf_dir, tmp_path):
    """Deterministic k-means ⇒ the persisted index and the per-call
    pipeline train the identical model, so search results must match
    row for row."""
    emb = _emb(spark, sf_dir)
    root = str(tmp_path / "ann")
    ai.build_index(spark, emb, root, k=8, iters=2)
    queries = _queries(emb)

    got = {
        (r.query_id, r.vec_id, round(r.cosine_sim, 9), r.rank)
        for r in ai.search(
            spark, queries, root, k=5, nprobe=3, exclude_self=True
        ).collect()
    }
    cents = km.kmeans_centroids(emb, "vec_id", "embedding", k=8, iters=2)
    want = {
        (r.query_id, r.vec_id, round(r.cosine_sim, 9), r.rank)
        for r in km.ann_search_batch(emb, queries, cents, k=5, nprobe=3).collect()
    }
    assert got == want and len(got) > 0


def test_search_path_runs_zero_training(spark, sf_dir, tmp_path, monkeypatch):
    """After build, neither ensure_index nor search may touch the
    trainer — the verdict's 'zero training jobs in the search path'."""
    emb = _emb(spark, sf_dir)
    root = str(tmp_path / "ann")
    assert ai.ensure_index(spark, emb, root, k=8, iters=1) is True

    def boom(*a, **kw):  # any training attempt is a hard failure
        raise AssertionError("training job in the search path")

    monkeypatch.setattr(km, "kmeans_centroids", boom)
    assert ai.ensure_index(spark, emb, root, k=8, iters=1) is False
    out = ai.search(spark, _queries(emb), root, k=5, nprobe=2, exclude_self=True)
    assert out.count() > 0


def test_search_scan_is_partition_pruned_and_broadcast(spark, sf_dir, tmp_path):
    """The probed cluster set must reach the corpus scan as a PARTITION
    filter (only cluster=N/ dirs read), and the probe join must
    broadcast the query side — the corpus never shuffles."""
    emb = _emb(spark, sf_dir)
    root = str(tmp_path / "ann")
    ai.build_index(spark, emb, root, k=8, iters=1)
    df = ai.search(spark, _queries(emb, 4), root, k=5, nprobe=2, exclude_self=True)
    p = plans.executed_plan(df)
    assert "PartitionFilters" in p, p
    pf = p.split("PartitionFilters", 1)[1][:200]
    assert "cluster" in pf and ("IN" in pf or "in(" in pf.lower()), pf
    assert plans.is_broadcast_join(df), p
    # the only hash exchange is the per-query ranking window (ids + one
    # double), never the corpus vectors
    assert plans.shuffle_count(df) <= 1, p


def test_torn_build_reads_as_absent(spark, sf_dir, tmp_path):
    """Crash story: corpus/ written but centroids/ missing (build died
    mid-way) must read as index-absent — ensure_index rebuilds, search
    raises rather than serving a torn artifact."""
    emb = _emb(spark, sf_dir)
    root = str(tmp_path / "ann")
    ai.build_index(spark, emb, root, k=8, iters=1)
    import shutil

    shutil.rmtree(f"{root}/{ai.CENTROIDS_DIR}")
    with pytest.raises(FileNotFoundError):
        ai.load_centroids(spark, root)
    assert ai.ensure_index(spark, emb, root, k=8, iters=1) is True
    assert ai.search(
        spark, _queries(emb, 4), root, k=5, nprobe=2, exclude_self=True
    ).count() > 0


def test_upsert_appends_assigns_and_is_idempotent(spark, sf_dir, tmp_path):
    """New vectors join the index without retraining, become findable by
    search, and re-delivering the same batch is a no-op (per-id guard)."""
    emb = _emb(spark, sf_dir)
    root = str(tmp_path / "ann")
    ai.build_index(spark, emb.filter(F.col("vec_id") < 400), root, k=8, iters=2)
    base_n = spark.read.parquet(f"{root}/{ai.CORPUS_DIR}").count()

    newbies = emb.filter(F.col("vec_id") >= 400)
    n_new = newbies.count()
    assert n_new > 0
    assert ai.upsert_vectors(spark, newbies, root) == n_new
    assert spark.read.parquet(f"{root}/{ai.CORPUS_DIR}").count() == base_n + n_new
    # redelivery: nothing appended, count unchanged
    assert ai.upsert_vectors(spark, newbies, root) == 0
    assert spark.read.parquet(f"{root}/{ai.CORPUS_DIR}").count() == base_n + n_new

    # an upserted vector is findable: querying BY it returns itself at
    # cosine 1.0 (exclude_self off)
    probe_id = newbies.agg(F.min("vec_id")).collect()[0][0]
    q = emb.filter(F.col("vec_id") == probe_id).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = ai.search(spark, q, root, k=1, nprobe=2).collect()
    assert top and top[0].vec_id == probe_id and top[0].cosine_sim >= 0.999999


def test_upsert_runs_zero_training(spark, sf_dir, tmp_path, monkeypatch):
    """The frozen-quantizer contract: upsert never touches the trainer."""
    emb = _emb(spark, sf_dir)
    root = str(tmp_path / "ann")
    ai.build_index(spark, emb.filter(F.col("vec_id") < 400), root, k=8, iters=1)

    def boom(*a, **kw):
        raise AssertionError("training job in the upsert path")

    monkeypatch.setattr(km, "kmeans_centroids", boom)
    assert ai.upsert_vectors(spark, emb.filter(F.col("vec_id") >= 400), root) > 0


def test_feed_grows_ann_index_e2e(spark, tmp_path):
    """Feed → ANN composition (ingest.run_ann_index): a live HTTP feed
    whose CloudEvents payloads are vectors grows the persisted IVF index
    — bootstrap build on the first batch, frozen-quantizer upserts after.
    Covers: catch-up → producer appends → RESTART from the same cursor
    → full-probe search over the stream-grown index ≡ full-probe search
    over a freshly batch-built index of the same corpus (full probe is
    exact, so quantizer drift cannot hide a lost/duplicated vector);
    payload-free tombstones are skipped; a third run is a no-op."""
    import math

    from http_feeds_spark import ingest
    from tests.feed_server import FeedState, serve

    dim = 8

    def vec(i):
        return [round(math.sin(i * 0.7 + d) + 0.001 * i, 6) for d in range(dim)]

    state = FeedState()
    srv, url = serve(state)
    try:
        phase1, phase2 = list(range(12)), list(range(12, 20))
        for i in phase1:
            state.append(
                "org.example.vector", str(i), {"vec_id": i, "embedding": vec(i)}
            )
        # a tombstone with no payload must be skipped, not crash the fold
        state.append("org.example.vector", "0", None, method="DELETE")
        root = str(tmp_path / "feed_ann")

        landing = str(tmp_path / "landing")
        ingest.run(spark, url, landing)
        s1 = ingest.run_ann_index(spark, landing, root, k=4, iters=1)
        assert s1["indexed_vectors"] == len(phase1)

        for i in phase2:
            state.append(
                "org.example.vector", str(i), {"vec_id": i, "embedding": vec(i)}
            )
        # restart: the store's cursor resumes; only new events fold
        ingest.run(spark, url, landing)
        s2 = ingest.run_ann_index(spark, landing, root, k=4, iters=1)
        assert s2["indexed_vectors"] == len(phase1) + len(phase2)
        # nothing new: a third run must change nothing
        ingest.run(spark, url, landing)
        s3 = ingest.run_ann_index(spark, landing, root, k=4, iters=1)
        assert s3["indexed_vectors"] == s2["indexed_vectors"]

        corpus = spark.createDataFrame(
            [(i, vec(i)) for i in phase1 + phase2],
            "vec_id long, embedding array<float>",
        )
        queries = spark.createDataFrame(
            [(3, vec(3)), (15, vec(15))], "query_id long, embedding array<float>"
        )
        batch_root = str(tmp_path / "batch_ann")
        ai.build_index(spark, corpus, batch_root, k=4, iters=1)

        def rows(r):
            return {
                (x.query_id, x.vec_id, round(x.cosine_sim, 9), x.rank)
                for x in ai.search(spark, queries, r, k=3, nprobe=4).collect()
            }

        got, want = rows(root), rows(batch_root)
        assert got == want and len(got) == 6
    finally:
        srv.shutdown()


def test_registered_query_matches_ann_batch(spark, sf_dir):
    """q_llm_ann_index must reproduce q_llm_ann_batch exactly (same
    deterministic model, same search semantics)."""
    from http_feeds_spark.queries import registry

    reg = registry()

    def rows(name):
        return {
            (r.query_id, r.vec_id, r.cosine_sim, r.rank)
            for r in reg[name].fn(spark, sf_dir).collect()
        }

    assert rows("q_llm_ann_index") == rows("q_llm_ann_batch")


def test_search_plan_carries_dynamic_pruning(spark, sf_dir, tmp_path):
    """ADVICE r16: _dpp_enabled gates out the static probed-cluster
    filter on the conf flag alone — if the optimizer ever DECLINES to
    insert dynamic partition pruning at plan time, every search would
    silently scan all cluster=N/ dirs. Pin the dynamicpruningexpression
    into the live search plan so such a regression surfaces here, not
    as an unnoticed full-store scan."""
    emb = _emb(spark, sf_dir)
    root = str(tmp_path / "ann_dpp")
    ai.build_index(spark, emb, root, k=8, iters=1)
    df = ai.search(spark, _queries(emb, 4), root, k=5, nprobe=2, exclude_self=True)
    p = plans.executed_plan(df)
    assert "dynamicpruningexpression" in p, p


def test_centroid_cache_warm_search_and_rebuild_invalidation(spark, sf_dir, tmp_path):
    """r16 model cache: the centroid store loads ONCE per root — a warm
    search construction schedules zero driver jobs — and build_index
    (the only writer) invalidates it, so the next load serves the new
    quantizer."""
    import uuid

    emb = _emb(spark, sf_dir)
    root = str(tmp_path / "ann")
    ai.build_index(spark, emb, root, k=8, iters=1)
    q = _queries(emb, 4)
    cold = [tuple(r) for r in ai.search(spark, q, root, k=5, nprobe=2, exclude_self=True).collect()]
    sc = spark.sparkContext
    gid = f"warm-cent-{uuid.uuid4()}"
    sc.setJobGroup(gid, "warm ann search construction")
    try:
        warm_df = ai.search(spark, q, root, k=5, nprobe=2, exclude_self=True)
        assert ai.ensure_index(spark, emb, root, k=8, iters=1) is False
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(gid)) == 0
    assert [tuple(r) for r in warm_df.collect()] == cold
    ai.build_index(spark, emb, root, k=4, iters=1)
    assert len(ai.load_centroids(spark, root)) == 4
