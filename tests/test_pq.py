"""Product quantization (functions/pq.py, operators/pq_index.py):
ADC exactness on reconstructable vectors, recall against exact search,
the compression contract, and the search path's plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from http_feeds_spark import plans
from http_feeds_spark.functions import kmeans as km
from http_feeds_spark.functions import pq
from http_feeds_spark.operators import pq_index as pqi


def _emb(spark, sf_dir):
    from http_feeds_spark.sources.tables import load_table

    return load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")


def _queries(emb, n=8):
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def _exact_topk(emb, queries, k):
    """Brute-force squared-L2 top-k ground truth (driver-sized fixture)."""
    corpus = {r.vec_id: list(r.embedding) for r in emb.collect()}
    out = {}
    for q in queries.collect():
        qv = list(q.embedding)
        d = sorted(
            (sum((float(a) - float(b)) ** 2 for a, b in zip(v, qv)), vid)
            for vid, v in corpus.items()
        )
        out[q.query_id] = [vid for _, vid in d[:k]]
    return out


def test_codes_shape_and_type(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    books = pq.train_codebooks(emb, m=4, ksub=16, iters=1)
    assert len(books) == 4 and all(len(b) == 16 for b in books)
    codes = pq.encode(emb, books)
    assert dict(codes.dtypes)["codes"] == "array<tinyint>"
    row = codes.agg(
        F.min(F.array_min("codes")).alias("lo"),
        F.max(F.array_max("codes")).alias("hi"),
        F.min(F.size("codes")).alias("m"),
    ).collect()[0]
    assert 0 <= row.lo and row.hi < 16 and row.m == 4


def test_adc_is_exact_on_reconstructable_vectors(spark):
    """When every subvector sits exactly on a codebook centroid the
    quantization error is zero, so the ADC estimate must equal the true
    squared L2 distance — the identity that pins the distance-table and
    zip_with/aggregate wiring (a wrong index or a swapped subspace
    breaks it)."""
    base = [
        [1.0, 2.0, 10.0, 20.0],
        [3.0, 4.0, 30.0, 40.0],
        [5.0, 6.0, 50.0, 60.0],
        [7.0, 8.0, 70.0, 80.0],
    ]
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(base)], "vec_id long, embedding array<double>"
    )
    books = pq.train_codebooks(emb, m=2, ksub=4, iters=3)
    codes = pq.encode(emb, books)
    q = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    got = pq.search_adc(codes, q, books, k=4)
    for r in got.collect():
        qv, cv = base[r.query_id], base[r.vec_id]
        true_d2 = sum((a - b) ** 2 for a, b in zip(qv, cv))
        assert r.adc_d2 == pytest.approx(true_d2, abs=1e-9), (r, true_d2)


def test_adc_recall_vs_exact(spark, sf_dir):
    """The synthetic embeddings are near-random in 64 dims, where ANY
    quantization error scrambles ranking (neighbors are near-
    equidistant — the regime the PQ paper's §VI calls out), so this
    pins two things separately:

    - on the real table, ADC top-10 must still beat chance decisively
      (random overlap expectation here is 10/500 = 2% per slot);
    - on PLANTED structure (each query given 5 close clones, the regime
      PQ exists for), ADC must recover the clones near-perfectly."""
    emb = _emb(spark, sf_dir)
    queries = _queries(emb, 8)
    books = pq.train_codebooks(emb, m=8, ksub=32, iters=2)
    codes = pq.encode(emb, books)
    got = pq.search_adc(codes, queries, books, k=10)
    truth = _exact_topk(emb, queries, 10)
    hits = tot = 0
    for qid, want in truth.items():
        have = {r.vec_id for r in got.where(F.col("query_id") == qid).collect()}
        hits += len(have & set(want))
        tot += len(want)
    assert hits / tot >= 0.25, f"recall@10 {hits}/{tot}"


def test_adc_recall_on_planted_neighbors(spark, sf_dir):
    """Plant 5 deterministic near-clones of each of 4 queries into the
    corpus; ADC's top-5 must be dominated by the clones (true neighbor
    gaps ≫ quantization error — the workload PQ is built for)."""
    emb = _emb(spark, sf_dir)
    base = [(int(r.vec_id), [float(x) for x in r.embedding]) for r in emb.collect()]
    planted = []
    for qi in range(4):
        qv = base[qi][1]
        for j in range(5):
            # deterministic ±0.01-scale perturbation, no RNG
            clone = [v + 0.01 * (((qi * 31 + j * 17 + d) % 7) - 3) / 3.0 for d, v in enumerate(qv)]
            planted.append((10_000 + qi * 10 + j, clone))
    corpus = spark.createDataFrame(
        base + planted, "vec_id long, embedding array<double>"
    )
    queries = corpus.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    books = pq.train_codebooks(corpus, m=8, ksub=32, iters=2)
    codes = pq.encode(corpus, books)
    got = pq.search_adc(codes, queries, books, k=6, exclude_self=True)
    hits = tot = 0
    for qi in range(4):
        want = {10_000 + qi * 10 + j for j in range(5)}
        have = {r.vec_id for r in got.where(F.col("query_id") == qi).collect()}
        hits += len(have & want)
        tot += 5
    assert hits / tot >= 0.8, f"planted recall {hits}/{tot}"


def test_pq_index_end_to_end_and_compression(spark, sf_dir, tmp_path):
    """Build → search returns k per query; the codes store is an order
    of magnitude smaller than the raw-vector store it replaces."""
    import os

    emb = _emb(spark, sf_dir)
    root = str(tmp_path / "pq")
    pqi.build_pq_index(spark, emb, root, nlist=8, m=4, ksub=16, iters=1)
    out = pqi.search(spark, _queries(emb, 4), root, k=5, nprobe=3)
    rows = out.collect()
    assert len(rows) == 4 * 5
    assert {r.rank for r in rows} == {1, 2, 3, 4, 5}

    raw_root = str(tmp_path / "raw")
    emb.write.parquet(raw_root)

    def _bytes(path):
        return sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        )

    codes_b = _bytes(f"{root}/{pqi.CODES_DIR}")
    raw_b = _bytes(raw_root)
    assert codes_b * 5 < raw_b, (codes_b, raw_b)


def test_pq_index_search_runs_zero_training(spark, sf_dir, tmp_path, monkeypatch):
    emb = _emb(spark, sf_dir)
    root = str(tmp_path / "pq")
    assert pqi.ensure_pq_index(spark, emb, root, nlist=8, m=4, ksub=16, iters=1)

    def boom(*a, **kw):
        raise AssertionError("training job in the PQ search path")

    monkeypatch.setattr(km, "kmeans_centroids", boom)
    assert not pqi.ensure_pq_index(spark, emb, root, nlist=8, m=4, ksub=16, iters=1)
    assert pqi.search(spark, _queries(emb, 4), root, k=5, nprobe=2).count() > 0


def test_pq_index_scan_is_pruned_and_broadcast(spark, sf_dir, tmp_path):
    """IVF pruning must reach the CODES scan as a partition filter, the
    probe join must broadcast the query side (codes never shuffle), and
    the only hash exchange is the ranking window."""
    emb = _emb(spark, sf_dir)
    root = str(tmp_path / "pq")
    pqi.build_pq_index(spark, emb, root, nlist=8, m=4, ksub=16, iters=1)
    df = pqi.search(spark, _queries(emb, 4), root, k=5, nprobe=2)
    p = plans.executed_plan(df)
    assert "PartitionFilters" in p, p
    pf = p.split("PartitionFilters", 1)[1][:200]
    assert "cluster" in pf and ("IN" in pf or "in(" in pf.lower()), pf
    assert plans.is_broadcast_join(df), p
    assert plans.shuffle_count(df) <= 1, p


def test_torn_build_reads_as_absent(spark, sf_dir, tmp_path):
    """codes/ + codebooks/ present but centroids/ missing = torn build:
    loads raise, ensure rebuilds."""
    import shutil

    emb = _emb(spark, sf_dir)
    root = str(tmp_path / "pq")
    pqi.build_pq_index(spark, emb, root, nlist=8, m=4, ksub=16, iters=1)
    shutil.rmtree(f"{root}/{pqi.CENTROIDS_DIR}")
    with pytest.raises(FileNotFoundError):
        pqi.load_model(spark, root)
    assert pqi.ensure_pq_index(spark, emb, root, nlist=8, m=4, ksub=16, iters=1)
    assert pqi.search(spark, _queries(emb, 2), root, k=3, nprobe=2).count() > 0


def test_pq_upsert_appends_assigns_and_is_idempotent(spark, sf_dir, tmp_path, monkeypatch):
    """New vectors join the code index without retraining (trainer
    monkeypatched to fail), become findable by search, and redelivery
    is a no-op."""
    emb = _emb(spark, sf_dir)
    root = str(tmp_path / "pq")
    pqi.build_pq_index(spark, emb.filter(F.col("vec_id") < 400), root, nlist=8, m=4, ksub=16, iters=1)
    base_n = spark.read.parquet(f"{root}/{pqi.CODES_DIR}").count()

    def boom(*a, **kw):
        raise AssertionError("training job in the PQ upsert path")

    monkeypatch.setattr(km, "kmeans_centroids", boom)
    newbies = emb.filter(F.col("vec_id") >= 400)
    n_new = newbies.count()
    assert n_new > 0
    assert pqi.upsert_vectors(spark, newbies, root) == n_new
    assert spark.read.parquet(f"{root}/{pqi.CODES_DIR}").count() == base_n + n_new
    assert pqi.upsert_vectors(spark, newbies, root) == 0
    assert spark.read.parquet(f"{root}/{pqi.CODES_DIR}").count() == base_n + n_new

    # an upserted vector is findable: querying BY it returns itself
    # first (ADC distance to its own code is the minimum for its row)
    probe_id = newbies.agg(F.min("vec_id")).collect()[0][0]
    q = emb.filter(F.col("vec_id") == probe_id).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = pqi.search(spark, q, root, k=3, nprobe=8).collect()
    assert any(r.vec_id == probe_id for r in top), top


def test_feed_to_pq_index_e2e(spark, tmp_path):
    """Live HTTP feed → run_pq_index: bootstrap build on the first
    batch, frozen-model upsert after, redelivered run a no-op, and an
    upserted vector findable by search."""
    from http_feeds_spark import ingest
    from tests.feed_server import FeedState, serve

    def vec(i):
        return [float((i * 13 + d * 7) % 10) for d in range(8)]

    state = FeedState()
    srv, url = serve(state)
    try:
        for i in range(20):
            state.append(
                "org.example.vector", str(i), {"vec_id": i, "embedding": vec(i)}
            )
        root = str(tmp_path / "feed_pq")
        landing = str(tmp_path / "landing")
        ingest.run(spark, url, landing)
        s1 = ingest.run_pq_index(spark, landing, root, nlist=4, m=2, ksub=4, iters=1)
        assert s1["indexed_vectors"] == 20

        for i in range(20, 30):
            state.append(
                "org.example.vector", str(i), {"vec_id": i, "embedding": vec(i)}
            )
        ingest.run(spark, url, landing)
        s2 = ingest.run_pq_index(spark, landing, root, nlist=4, m=2, ksub=4, iters=1)
        assert s2["indexed_vectors"] == 30
        ingest.run(spark, url, landing)
        s3 = ingest.run_pq_index(spark, landing, root, nlist=4, m=2, ksub=4, iters=1)
        assert s3["indexed_vectors"] == 30

        q = spark.createDataFrame(
            [(25, vec(25))], "query_id long, embedding array<double>"
        )
        top = pqi.search(spark, q, root, k=3, nprobe=4).collect()
        assert any(r.vec_id == 25 for r in top), top
    finally:
        srv.shutdown()


def test_rerank_improves_on_adc_and_matches_exact_on_shortlist(spark, sf_dir, tmp_path, monkeypatch):
    """IVFADC-R: re-ranked results must (a) run zero training jobs,
    (b) agree with EXACT cosine wherever the true top-k made the ADC
    shortlist (full-probe setting makes the shortlist = everything, so
    re-rank ≡ the raw-index exact search), and (c) never be worse than
    plain ADC on planted-clone recall."""
    from http_feeds_spark.operators import ann_index as ai

    emb = _emb(spark, sf_dir)
    pq_root, ann_root = str(tmp_path / "pq"), str(tmp_path / "ann")
    pqi.build_pq_index(spark, emb, pq_root, nlist=8, m=4, ksub=16, iters=1)
    ai.build_index(spark, emb, ann_root, k=8, iters=1)

    def boom(*a, **kw):
        raise AssertionError("training job in the rerank path")

    monkeypatch.setattr(km, "kmeans_centroids", boom)
    queries = _queries(emb, 4)

    # full probe + shortlist = corpus → re-rank must equal the raw
    # index's exact ranking over the same candidate set
    got = {
        (r.query_id, r.vec_id, r.rank)
        for r in pqi.search_rerank(
            spark, queries, pq_root, ann_root, k=5, rerank=500, nprobe=8,
            exclude_self=True,
        ).collect()
    }
    want = {
        (r.query_id, r.vec_id, r.rank)
        for r in ai.search(
            spark, queries, ann_root, k=5, nprobe=8, exclude_self=True
        ).collect()
    }
    assert got == want and len(got) == 20


def test_rerank_stage2_prunes_with_shared_quantizer_and_falls_back(
    spark, sf_dir, tmp_path
):
    """ADVICE r6: the raw-vector fetch must carry the probe set as a
    partition filter when the two tiers share the coarse quantizer
    (bit-identical centroid stores), and must fall back to the full
    id join — still exact — when the quantizers differ."""
    from http_feeds_spark import plans
    from http_feeds_spark.operators import ann_index as ai

    emb = _emb(spark, sf_dir)
    queries = _queries(emb, 4)
    pq_root = str(tmp_path / "pq")
    pqi.build_pq_index(spark, emb, pq_root, nlist=8, m=4, ksub=16, iters=1)

    # shared quantizer: same corpus, same k/iters -> identical centroids
    shared_root = str(tmp_path / "ann_shared")
    ai.build_index(spark, emb, shared_root, k=8, iters=1)
    pruned = pqi.search_rerank(
        spark, queries, pq_root, shared_root, k=5, rerank=20, nprobe=2,
        exclude_self=True,
    )
    p = plans.executed_plan(pruned)
    # both scans (codes + raw corpus) carry cluster partition filters
    assert p.count("PartitionFilters: [") >= 2, p
    segs = [
        s[:200] for s in p.split("PartitionFilters")[1:] if "cluster" in s[:200]
    ]
    assert len(segs) >= 2, p

    # different quantizer (k=4): fallback path, exactness preserved in
    # the full-probe setting where re-rank == the raw index's ranking
    diff_root = str(tmp_path / "ann_diff")
    ai.build_index(spark, emb, diff_root, k=4, iters=1)
    got = {
        (r.query_id, r.vec_id, r.rank)
        for r in pqi.search_rerank(
            spark, queries, pq_root, diff_root, k=5, rerank=500, nprobe=8,
            exclude_self=True,
        ).collect()
    }
    want = {
        (r.query_id, r.vec_id, r.rank)
        for r in ai.search(
            spark, queries, diff_root, k=5, nprobe=4, exclude_self=True
        ).collect()
    }
    assert got == want and len(got) == 20


def _clustered_fixture(spark, n_clusters=32, per=20, dim=32, noise=0.15, seed=3):
    """Clustered Gaussian corpus where coarse residuals carry the
    neighbor-ranking signal (the regime residual PQ is built for; the
    driver's synthetic embeddings are isotropic, where no variant can
    shine)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    centers = rng.randn(n_clusters, dim) * 4.0
    X = np.vstack(
        [centers[c] + noise * rng.randn(per, dim) for c in range(n_clusters)]
    )
    return (
        spark.createDataFrame(
            [(i, [float(x) for x in X[i]]) for i in range(len(X))],
            "vec_id long, embedding array<double>",
        ),
        X,
    )


def test_residual_variant_beats_flat_recall_and_upserts(spark, tmp_path):
    """IVFADC residual codebooks: on clustered data, recall@10 vs exact
    L2 must IMPROVE on the flat variant at identical storage (same
    nlist/m/ksub); upsert re-encodes against the frozen residual model
    idempotently, and the upserted vector is its own nearest neighbor."""
    import numpy as np

    emb, X = _clustered_fixture(spark)
    queries = emb.filter(F.col("vec_id") < 12).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def exact_top10(qi):
        d = ((X - X[qi]) ** 2).sum(axis=1)
        order = [int(j) for j in np.argsort(d) if j != qi]
        return set(order[:10])

    recalls = {}
    for name, residual in [("flat", False), ("residual", True)]:
        root = str(tmp_path / name)
        # MORE clusters than any one subquantizer can locate (32 centers
        # vs ksub=16 entries/subspace): flat codebooks burn their budget
        # approximating center offsets, residual codebooks spend it all
        # on the within-cluster detail that ranks neighbors
        pqi.build_pq_index(
            spark, emb, root, nlist=32, m=8, ksub=16, iters=3, residual=residual
        )
        # shortlist recall (the IVFADC-R protocol): does the ADC top-30
        # contain the true top-10? That is the quantity the rerank
        # stage's accuracy is bounded by.
        got = pqi.search(
            spark, queries, root, k=30, nprobe=8, exclude_self=True
        ).collect()  # nprobe high enough that coarse recall ~1: the
        # deterministic Lloyd shatters one true cluster across several
        # cells here, and this test measures CODEBOOK quality, not probes
        by_q = {}
        for r in got:
            by_q.setdefault(r.query_id, set()).add(r.vec_id)
        hits = sum(len(by_q.get(qi, set()) & exact_top10(qi)) for qi in range(12))
        recalls[name] = hits / (12 * 10)
    assert recalls["residual"] >= recalls["flat"], recalls
    assert recalls["residual"] >= 0.9, recalls

    # upsert against the frozen residual model
    root = str(tmp_path / "residual")
    extra_vec = [float(x) for x in (X[0] + 0.01)]
    extra = spark.createDataFrame(
        [(10_000, extra_vec)], "vec_id long, embedding array<double>"
    )
    assert pqi.upsert_vectors(spark, extra, root) == 1
    assert pqi.upsert_vectors(spark, extra, root) == 0  # idempotent
    q = spark.createDataFrame(
        [(1, extra_vec)], "query_id long, embedding array<double>"
    )
    top = pqi.search(spark, q, root, k=3, nprobe=8).collect()
    assert any(r.vec_id == 10_000 for r in top), top


def test_pq_search_plans_carry_dynamic_pruning(spark, sf_dir, tmp_path):
    """ADVICE r16: same pin as test_ann_index's — the live pq search
    (and the rerank raw-tier fetch) must carry dynamicpruningexpression
    in their scans' PartitionFilters; a planner regression that drops
    DPP must fail here rather than silently scanning every cluster."""
    from http_feeds_spark.operators import ann_index as ai

    emb = _emb(spark, sf_dir)
    pq_root = str(tmp_path / "pq_dpp")
    ann_root = str(tmp_path / "ann_dpp")
    pqi.build_pq_index(spark, emb, pq_root, nlist=8, m=4, ksub=16, iters=1)
    ai.build_index(spark, emb, ann_root, k=8, iters=1)

    p = plans.executed_plan(
        pqi.search(spark, _queries(emb, 4), pq_root, k=5, nprobe=2)
    )
    assert "dynamicpruningexpression" in p, p

    p2 = plans.executed_plan(
        pqi.search_rerank(
            spark, _queries(emb, 4), pq_root, ann_root, k=5, rerank=20, nprobe=2
        )
    )
    # both tiers pruned: the codes scan (stage 1) and the raw corpus
    # scan (stage 2's probe-set semi-join)
    assert p2.count("dynamicpruningexpression") >= 2, p2


def test_model_cache_warm_search_and_rebuild_invalidation(spark, sf_dir, tmp_path):
    """r16 model cache: the frozen model loads ONCE per root — a warm
    search construction schedules zero driver jobs — and a rebuild (the
    only writer of the model stores) invalidates it, so the next load
    serves the NEW model, results included."""
    import uuid

    emb = _emb(spark, sf_dir)
    root = str(tmp_path / "pq")
    pqi.build_pq_index(spark, emb, root, nlist=8, m=4, ksub=16, iters=1)
    cold = [tuple(r) for r in pqi.search(spark, _queries(emb, 2), root, k=3, nprobe=2).collect()]
    sc = spark.sparkContext
    gid = f"warm-model-{uuid.uuid4()}"
    sc.setJobGroup(gid, "warm pq search construction")
    try:
        warm_df = pqi.search(spark, _queries(emb, 2), root, k=3, nprobe=2)
        assert pqi.ensure_pq_index(spark, emb, root) is False
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(gid)) == 0
    assert [tuple(r) for r in warm_df.collect()] == cold
    # rebuild with a different geometry: the cached model must not survive
    pqi.build_pq_index(spark, emb, root, nlist=4, m=4, ksub=8, iters=1)
    cents, books, _ = pqi.load_model(spark, root)
    assert len(cents) == 4 and len(books[0]) == 8
