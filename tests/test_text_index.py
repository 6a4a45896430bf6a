"""Persisted inverted index (operators/text_index.py): search ≡ the
per-query BM25 operator exactly, partition-pruned posting reads, torn-
build crash story, and the join-free scoring plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from http_feeds_spark import plans
from http_feeds_spark.operators import retrieval as rt
from http_feeds_spark.operators import text_index as ti

TERMS = ["window", "filter", "merge"]


def _docs(spark, sf_dir):
    from http_feeds_spark.sources.tables import load_table

    return load_table(spark, sf_dir, "documents").select("doc_id", "text")


def test_search_equals_per_query_bm25(spark, sf_dir, tmp_path):
    """Same idf, same rounding, same tie-break — row for row, for both
    a multi-term and a single-term query, and k larger than hits."""
    docs = _docs(spark, sf_dir)
    root = str(tmp_path / "ti")
    ti.build_text_index(spark, docs, root)
    for terms, k in [(TERMS, 10), (["window"], 5), (["window", "nosuchterm"], 10)]:
        got = [tuple(r) for r in ti.search(spark, root, terms, k=k).collect()]
        want = [tuple(r) for r in rt.bm25_topk(docs, terms, k=k).collect()]
        assert got == want and len(got) > 0, terms


def test_unknown_terms_only_returns_empty(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir)
    root = str(tmp_path / "ti")
    ti.build_text_index(spark, docs, root)
    assert ti.search(spark, root, ["zzznope"], k=5).count() == 0


def test_posting_scan_is_partition_pruned(spark, sf_dir, tmp_path):
    """The query terms' hash buckets must reach the posting scan as a
    PARTITION filter — only those bucket=N/ directories are read."""
    docs = _docs(spark, sf_dir)
    root = str(tmp_path / "ti")
    ti.build_text_index(spark, docs, root)
    df = ti.search(spark, root, TERMS, k=10)
    p = plans.executed_plan(df)
    assert "PartitionFilters" in p, p
    pf = p.split("PartitionFilters", 1)[1][:200]
    assert "bucket" in pf, pf


def test_torn_build_reads_as_absent(spark, sf_dir, tmp_path):
    """postings/ + terms/ present but meta/ missing = torn build."""
    import shutil

    docs = _docs(spark, sf_dir)
    root = str(tmp_path / "ti")
    ti.build_text_index(spark, docs, root)
    shutil.rmtree(f"{root}/{ti.META_DIR}")
    with pytest.raises(FileNotFoundError):
        ti.search(spark, root, TERMS)
    assert ti.ensure_text_index(spark, docs, root) is True
    assert ti.search(spark, root, TERMS, k=3).count() == 3
    assert ti.ensure_text_index(spark, docs, root) is False


def test_upsert_equals_full_rebuild_and_is_idempotent(spark, sf_dir, tmp_path):
    """Append half the corpus to an index built on the other half: search
    must equal a from-scratch build over the union, row for row;
    redelivering the batch is a no-op."""
    docs = _docs(spark, sf_dir)
    old = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)
    root = str(tmp_path / "ti")
    ti.build_text_index(spark, old, root)
    n_new = new.count()
    assert ti.upsert_documents(spark, new, root) == n_new
    assert ti.upsert_documents(spark, new, root) == 0  # redelivery

    full_root = str(tmp_path / "ti_full")
    ti.build_text_index(spark, docs, full_root)
    got = [tuple(r) for r in ti.search(spark, root, TERMS, k=10).collect()]
    want = [tuple(r) for r in ti.search(spark, full_root, TERMS, k=10).collect()]
    assert got == want and len(got) == 10


def test_search_heals_stale_derived_stores(spark, sf_dir, tmp_path):
    """A crash between the posting-batch commit and the derived-store
    rewrite leaves n_batches mismatched: search must detect it and
    recompute df/avgdl from the visible postings — results equal the
    fully-repaired index."""
    docs = _docs(spark, sf_dir)
    old = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)
    root = str(tmp_path / "ti")
    ti.build_text_index(spark, old, root)
    # simulate the crash: batch lands, derived stores do NOT
    ti._write_postings_batch(spark, new, f"{root}/{ti.POSTINGS_DIR}", 1)
    got = [tuple(r) for r in ti.search(spark, root, TERMS, k=10).collect()]

    full_root = str(tmp_path / "ti_full")
    ti.build_text_index(spark, docs, full_root)
    want = [tuple(r) for r in ti.search(spark, full_root, TERMS, k=10).collect()]
    assert got == want

    # the next upsert repairs the derived stores (fingerprint catches up)
    assert ti.upsert_documents(spark, new.limit(0), root) == 0
    # note: a zero-row upsert does not rewrite stores; a real one does —
    # run one with a fresh doc and confirm the fast path serves again
    extra = spark.createDataFrame(
        [(10_000_000, "window filter merge window")], "doc_id long, text string"
    )
    assert ti.upsert_documents(spark, extra, root) == 1
    meta = spark.read.parquet(f"{root}/{ti.META_DIR}").collect()[0]
    assert int(meta.n_batches) == 3


def test_torn_batch_without_marker_is_invisible(spark, sf_dir, tmp_path):
    """A batch dir missing _SUCCESS (torn write) must not affect search."""
    import os

    docs = _docs(spark, sf_dir)
    root = str(tmp_path / "ti")
    ti.build_text_index(spark, docs, root)
    before = [tuple(r) for r in ti.search(spark, root, TERMS, k=10).collect()]
    junk = spark.createDataFrame(
        [(20_000_000, "window window window merge filter")], "doc_id long, text string"
    )
    ti._write_postings_batch(spark, junk, f"{root}/{ti.POSTINGS_DIR}", 1)
    os.remove(f"{root}/{ti.POSTINGS_DIR}/batch=000001/_SUCCESS")
    after = [tuple(r) for r in ti.search(spark, root, TERMS, k=10).collect()]
    assert after == before


def test_feed_to_text_index_e2e(spark, tmp_path):
    """Live HTTP feed → run_text_index: bootstrap on the first batch,
    upsert after, redelivered run a no-op, and search over the landed
    corpus equals a from-scratch build on the same docs."""
    from http_feeds_spark import ingest
    from tests.feed_server import FeedState, serve

    texts = {
        i: f"common window filter stock{i} merge clause{i} phrase" for i in range(6)
    }
    state = FeedState()
    srv, url = serve(state)
    try:
        for i in range(3):
            state.append(
                "org.example.document", str(i), {"doc_id": i, "text": texts[i]}
            )
        state.append("org.example.document", "0", None, method="DELETE")
        root = str(tmp_path / "feed_ti")
        landing = str(tmp_path / "landing")
        ingest.run(spark, url, landing)
        s1 = ingest.run_text_index(spark, landing, root)
        assert s1["indexed_docs"] == 3

        for i in range(3, 6):
            state.append(
                "org.example.document", str(i), {"doc_id": i, "text": texts[i]}
            )
        ingest.run(spark, url, landing)
        s2 = ingest.run_text_index(spark, landing, root)
        assert s2["indexed_docs"] == 6
        ingest.run(spark, url, landing)
        s3 = ingest.run_text_index(spark, landing, root)  # nothing new
        assert s3["indexed_docs"] == 6

        docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
        full_root = str(tmp_path / "ti_full")
        ti.build_text_index(spark, docs, full_root)
        got = [tuple(r) for r in ti.search(spark, root, ["window", "merge"], k=6).collect()]
        want = [tuple(r) for r in ti.search(spark, full_root, ["window", "merge"], k=6).collect()]
        assert got == want and len(got) == 6
    finally:
        srv.shutdown()


def test_stale_layout_reads_as_absent_and_rebuilds(spark, sf_dir, tmp_path):
    """An index whose postings predate the batch-dir layout (meta/
    present, no committed batch dirs — e.g. a persistent warehouse
    artifact from an older build) must read as ABSENT: ensure rebuilds
    in place, search raises a clear error instead of crashing."""
    import shutil

    docs = _docs(spark, sf_dir)
    root = str(tmp_path / "ti")
    ti.build_text_index(spark, docs, root)
    # simulate the old layout: remove every batch dir, keep meta/terms
    shutil.rmtree(f"{root}/{ti.POSTINGS_DIR}")
    with pytest.raises(FileNotFoundError, match="stale or\n?\\s*incompatible|incompatible"):
        ti.search(spark, root, TERMS)
    assert ti.ensure_text_index(spark, docs, root) is True
    assert ti.search(spark, root, TERMS, k=3).count() == 3


def test_compact_postings_is_exact_and_crash_safe(spark, sf_dir, tmp_path):
    """Posting-batch compaction (retention for a feed-folded index):
    search must be bit-identical before/after; a crash AFTER the
    manifest but BEFORE the merged dir leaves the manifest inert (view
    unchanged, reserved number never reused); re-running converges; a
    torn vacuum leaves hidden garbage that the next vacuum removes."""
    docs = _docs(spark, sf_dir)
    thirds = [docs.where(F.col("doc_id") % 3 == i) for i in range(3)]
    root = str(tmp_path / "ti")
    ti.build_text_index(spark, thirds[0], root)
    ti.upsert_documents(spark, thirds[1], root)
    ti.upsert_documents(spark, thirds[2], root)
    before = [tuple(r) for r in ti.search(spark, root, TERMS, k=10).collect()]
    post_path = f"{root}/{ti.POSTINGS_DIR}"
    assert [no for no, _ in ti._complete_batches(spark, post_path)] == [0, 1, 2]

    # crash window 1: manifest commits, merged dir never lands -> inert
    spark.createDataFrame(
        [(3, [0, 1])], "new_batch int, sources array<int>"
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{root}/{ti.COMPACTION_DIR}/000000"
    )
    assert [no for no, _ in ti._complete_batches(spark, post_path)] == [0, 1, 2]
    assert [
        tuple(r) for r in ti.search(spark, root, TERMS, k=10).collect()
    ] == before
    # the inert manifest's reserved number is skipped by new writes
    assert ti._next_batch_no(spark, post_path) == 4

    # retry completes (supersedes the inert manifest)
    remaining = ti.compact_postings(spark, root, upto=2)
    assert remaining == [4]
    assert [
        tuple(r) for r in ti.search(spark, root, TERMS, k=10).collect()
    ] == before
    # sources physically gone, upsert still works afterwards
    import os

    assert not os.path.exists(f"{post_path}/batch=000000")
    extra = spark.createDataFrame(
        [(30_000_000, "window filter merge")], "doc_id long, text string"
    )
    assert ti.upsert_documents(spark, extra, root) == 1
    assert ti.search(spark, root, TERMS, k=10).count() == 10


def test_compact_postings_switch_is_atomic(spark, sf_dir, tmp_path):
    """Crash window 2: manifest + merged dir committed, but vacuum and
    the derived rewrite never ran. The view must ALREADY be switched —
    sources hidden, no posting double-counted — and search must heal the
    stale meta fingerprint to the exact same answers."""
    import os

    docs = _docs(spark, sf_dir)
    halves = [docs.where(F.col("doc_id") % 2 == i) for i in range(2)]
    # the second root's own path holds a /compaction/<n>/ segment: the
    # manifest generation must come from the file's parent directory
    for root in (str(tmp_path / "ti"), str(tmp_path / "compaction" / "3" / "ti")):
        ti.build_text_index(spark, halves[0], root)
        ti.upsert_documents(spark, halves[1], root)
        before = [tuple(r) for r in ti.search(spark, root, TERMS, k=10).collect()]
        post_path = f"{root}/{ti.POSTINGS_DIR}"

        # simulate: manifest + merged batch land; derived rewrite + vacuum crash
        merged = spark.read.option("basePath", post_path).parquet(
            f"{post_path}/batch=000000", f"{post_path}/batch=000001"
        )
        spark.createDataFrame(
            [(2, [0, 1])], "new_batch int, sources array<int>"
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{root}/{ti.COMPACTION_DIR}/000000"
        )
        (
            merged.select("doc_id", "dl", "term", "tf")
            .withColumn("bucket", ti._bucket("term"))
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(f"{post_path}/batch=000002")
        )
        # switched: only the merge is visible, sources still on disk
        assert [no for no, _ in ti._complete_batches(spark, post_path)] == [2]
        got = [tuple(r) for r in ti.search(spark, root, TERMS, k=10).collect()]
        assert got == before  # heal path: stale n_batches recomputed

        # vacuum removes the hidden sources and the spent manifest
        assert ti.vacuum_postings(spark, root) >= 2
        assert not os.path.exists(f"{post_path}/batch=000000")
        assert not os.path.exists(f"{root}/{ti.COMPACTION_DIR}/000000")
        assert [
            tuple(r) for r in ti.search(spark, root, TERMS, k=10).collect()
        ] == before


def _phrase_counts_reference(spark, docs, phrase):
    """Pure-python sliding-window phrase count over the engine's own
    tokenization (tx.words) — the oracle for phrase_search."""
    from http_feeds_spark.functions import text as tx

    rows = docs.select(
        "doc_id", tx.words(F.col("text")).alias("toks")
    ).collect()
    n = len(phrase)
    out = {}
    for r in rows:
        toks = list(r.toks)
        c = sum(
            1
            for i in range(len(toks) - n + 1)
            if toks[i : i + n] == phrase
        )
        if c:
            out[r.doc_id] = c
    return out


def test_phrase_search_matches_reference_and_survives_maintenance(
    spark, sf_dir, tmp_path
):
    """Positional phrase queries: results equal the sliding-window
    reference count (same tokenizer), multi-word and repeated-term
    phrases included; upsert and posting compaction preserve answers;
    a term absent from the corpus yields no hits."""
    docs = _docs(spark, sf_dir)
    root = str(tmp_path / "ti")
    halves = [docs.where(F.col("doc_id") % 2 == i) for i in range(2)]
    ti.build_text_index(spark, halves[0], root)
    ti.upsert_documents(spark, halves[1], root)

    # pick a real bigram from the corpus so the test is not vacuous
    sample = docs.limit(20).collect()
    phrase = None
    for r in sample:
        toks = r.text.lower().split()
        if len(toks) >= 2:
            phrase = None  # tokenized via tx.words below for fidelity
            break
    from http_feeds_spark.functions import text as tx

    toks = (
        docs.select(tx.words(F.col("text")).alias("t")).limit(1).collect()[0].t
    )
    assert len(toks) >= 3
    phrase = [toks[0], toks[1]]

    want = _phrase_counts_reference(spark, docs, phrase)
    got = {
        r.doc_id: r.n_matches
        for r in ti.phrase_search(spark, root, phrase, k=10_000).collect()
    }
    assert got == want and len(got) > 0

    tri = [toks[0], toks[1], toks[2]]
    want3 = _phrase_counts_reference(spark, docs, tri)
    got3 = {
        r.doc_id: r.n_matches
        for r in ti.phrase_search(spark, root, tri, k=10_000).collect()
    }
    assert got3 == want3

    assert ti.phrase_search(spark, root, [toks[0], "zzznope"], k=5).count() == 0

    # repeated-term phrase on a crafted doc: "ho ho" occurs twice in
    # "ho ho ho" (overlapping starts 0 and 1)
    extra = spark.createDataFrame(
        [(40_000_000, "ho ho ho")], "doc_id long, text string"
    )
    ti.upsert_documents(spark, extra, root)
    rep = {
        r.doc_id: r.n_matches
        for r in ti.phrase_search(spark, root, ["ho", "ho"], k=10).collect()
    }
    assert rep == {40_000_000: 2}

    # compaction keeps positions: answers identical after the merge
    before = [tuple(r) for r in ti.phrase_search(spark, root, phrase, k=20).collect()]
    ti.compact_postings(spark, root, upto=10)
    after = [tuple(r) for r in ti.phrase_search(spark, root, phrase, k=20).collect()]
    assert after == before

    # erasure filters phrase reads like search
    from http_feeds_spark.operators import erasure

    victim = before[0][0]
    erasure.erase_ids(spark, root, spark.createDataFrame([(victim,)], "id long"))
    assert victim not in {
        r.doc_id for r in ti.phrase_search(spark, root, phrase, k=10_000).collect()
    }


def _proximity_reference(spark, docs, terms, slop):
    """Pure-python greedy earliest-next-occurrence walk over the
    engine's own tokenization — the oracle for proximity_search:
    doc_id -> (n_matches, best_span, score)."""
    from http_feeds_spark.functions import text as tx

    rows = docs.select("doc_id", tx.words(F.col("text")).alias("toks")).collect()
    m = len(terms)
    out = {}
    for r in rows:
        toks = list(r.toks)
        pos = {
            t: [i for i, w in enumerate(toks) if w == t] for t in set(terms)
        }
        spans = []
        for p0 in pos.get(terms[0], []):
            q, ok = p0, True
            for t in terms[1:]:
                nxt = [x for x in pos.get(t, []) if x > q]
                if not nxt:
                    ok = False
                    break
                q = min(nxt)
            if ok and q - p0 <= m - 1 + slop:
                spans.append(q - p0)
        if spans:
            out[r.doc_id] = (
                len(spans),
                min(spans),
                round(sum(1.0 / (1 + s - (m - 1)) for s in spans), 6),
            )
    return out


def test_proximity_search_matches_reference_all_slops(spark, sf_dir, tmp_path):
    """proximity_search == the greedy-walk reference at every slop on
    the real corpus (repeated terms included), and slop=0 degenerates to
    phrase_search: same docs, score == n_matches."""
    from http_feeds_spark.functions import text as tx

    docs = _docs(spark, sf_dir)
    root = str(tmp_path / "ti")
    ti.build_text_index(spark, docs, root)
    toks = (
        docs.select(tx.words(F.col("text")).alias("t")).limit(1).collect()[0].t
    )
    terms = [toks[0], toks[2]]  # a gapped pair: slop sensitivity
    for slop in (0, 1, 2, 4):
        want = _proximity_reference(spark, docs, terms, slop)
        got = {
            r.doc_id: (r.n_matches, r.best_span, r.score)
            for r in ti.proximity_search(
                spark, root, terms, slop=slop, k=100_000
            ).collect()
        }
        assert got == want, f"slop={slop}"
    assert any(
        ti.proximity_search(spark, root, terms, slop=s, k=100_000).count()
        < ti.proximity_search(spark, root, terms, slop=s + 2, k=100_000).count()
        for s in (0, 1)
    )  # widening the window must admit more docs somewhere

    # slop=0 ≡ phrase_search on an adjacent pair
    pair = [toks[0], toks[1]]
    phrase = {
        r.doc_id: r.n_matches
        for r in ti.phrase_search(spark, root, pair, k=100_000).collect()
    }
    prox = {
        r.doc_id: r.score
        for r in ti.proximity_search(spark, root, pair, slop=0, k=100_000).collect()
    }
    assert prox == {d: float(n) for d, n in phrase.items()} and len(prox) > 0


def test_proximity_search_repeated_terms_and_windows(spark, tmp_path):
    """Crafted windows: repeated terms walk strictly forward, and the
    span filter is exact at the boundary."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta"),            # adjacent: span 1
            (2, "alpha x beta"),          # one gap: span 2
            (3, "alpha x y z beta"),      # span 4
            (4, "beta alpha"),            # wrong order: no match
            (5, "ho ho x ho"),            # repeated: (0,1) and (1,3)
        ],
        "doc_id long, text string",
    )
    root = str(tmp_path / "ti")
    ti.build_text_index(spark, docs, root)
    for slop, want_docs in ((0, {1}), (1, {1, 2}), (3, {1, 2, 3})):
        got = {
            r.doc_id
            for r in ti.proximity_search(
                spark, root, ["alpha", "beta"], slop=slop, k=10
            ).collect()
        }
        assert got == want_docs, f"slop={slop}"
    rep = {
        r.doc_id: (r.n_matches, r.best_span)
        for r in ti.proximity_search(spark, root, ["ho", "ho"], slop=1, k=10).collect()
    }
    assert rep == {5: (2, 1)}  # starts 0 and 1; greedy next, spans 1 and 2
    assert _proximity_reference(spark, docs, ["ho", "ho"], 1) == {
        5: (2, 1, round(1.0 + 0.5, 6))
    }


def test_buckets_of_computes_all_terms_with_zero_jobs(spark):
    """r8 fixed phrase_search's per-term spark.range(1).collect() down
    to one 1-row job; r15 removes the job entirely — _buckets_of hashes
    driver-side with the pure-Python XXH64 twin. Pin BOTH properties:
    no Spark job is scheduled, and values stay identical to the
    engine's per-term hash."""
    import uuid

    sc = spark.sparkContext
    gid = f"buckets-{uuid.uuid4()}"
    sc.setJobGroup(gid, "bucket hashing")
    try:
        got = ti._buckets_of(spark, ["alpha", "beta", "gamma", "alpha"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(gid)) == 0
    for t, v in got.items():
        single = (
            spark.range(1).select(ti._bucket(F.lit(t)).alias("b")).collect()[0].b
        )
        assert v == single


def test_upsert_into_fully_purged_index(spark, tmp_path):
    """The whole-index-erased state (meta present, zero batches) is an
    EMPTY index, not a broken one: search answers 0 hits AND
    upsert_documents accepts the next batch directly — no rebuild
    required (r8, the r7 asymmetry where only ensure_text_index could
    recover)."""
    from http_feeds_spark.operators import erasure

    root = str(tmp_path / "ti")
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha delta")], "doc_id long, text string"
    )
    ti.build_text_index(spark, docs, root)
    erasure.erase_ids(spark, root, spark.createDataFrame([(1,), (2,)], "id long"))
    ti.purge_erased(spark, root)
    assert ti.search(spark, root, ["alpha"], k=5).count() == 0

    added = ti.upsert_documents(
        spark,
        spark.createDataFrame([(3, "alpha epsilon")], "doc_id long, text string"),
        root,
    )
    assert added == 1
    hits = {r.doc_id for r in ti.search(spark, root, ["alpha"], k=5).collect()}
    assert hits == {3}


def test_upsert_refuses_widening_id_type(spark, tmp_path):
    """Type conformance is refuse-loudly (r8): a long-id batch must not
    truncate into an int-keyed store (aliased ids would index the wrong
    documents); the lossless direction (int into long) still casts."""
    import pytest

    root = str(tmp_path / "ti_int")
    ti.build_text_index(
        spark,
        spark.createDataFrame([(1, "alpha beta")], "doc_id int, text string"),
        root,
    )
    with pytest.raises(ValueError, match="losslessly"):
        ti.upsert_documents(
            spark,
            spark.createDataFrame(
                [(2**40, "gamma delta")], "doc_id long, text string"
            ),
            root,
        )
    root2 = str(tmp_path / "ti_long")
    ti.build_text_index(
        spark,
        spark.createDataFrame([(1, "alpha beta")], "doc_id long, text string"),
        root2,
    )
    assert (
        ti.upsert_documents(
            spark,
            spark.createDataFrame([(7, "gamma delta")], "doc_id int, text string"),
            root2,
        )
        == 1
    )


def test_ann_upsert_strict_types_refuses_lossy_vector_cast(spark, sf_dir, tmp_path):
    """The default ANN upsert quantizes incoming vectors to the store's
    element precision (documented ingest quantization); strict_types
    refuses a lossy cast, and a widening id batch refuses always."""
    import pytest

    from http_feeds_spark.operators import ann_index as ai
    from http_feeds_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    root = str(tmp_path / "ann")
    ai.build_index(spark, emb, root, k=4, iters=1)
    store_elem = (
        spark.read.parquet(f"{root}/{ai.CORPUS_DIR}")
        .schema["embedding"].dataType.elementType.simpleString()
    )
    dim = len(emb.limit(1).collect()[0].embedding)
    doubles = spark.createDataFrame(
        [(10**9, [0.1] * dim)], "vec_id long, embedding array<double>"
    )
    if store_elem == "float":
        with pytest.raises(ValueError, match="losslessly"):
            ai.upsert_vectors(spark, doubles, root, strict_types=True)
        assert ai.upsert_vectors(spark, doubles, root) == 1  # default quantizes


def _proximity_any_reference(spark, docs, terms, slop):
    """Pure-python minimal-covering-window sweep (unordered): doc_id ->
    (n_matches, best_span, score) counting windows ending at each
    position where all terms have occurred within the span bound."""
    from http_feeds_spark.functions import text as tx

    uniq = sorted(set(terms))
    m = len(uniq)
    rows = docs.select("doc_id", tx.words(F.col("text")).alias("toks")).collect()
    out = {}
    for r in rows:
        toks = list(r.toks)
        last = {t: None for t in uniq}
        spans = []
        for p, wtok in enumerate(toks):
            if wtok in last:
                last[wtok] = p
                if all(v is not None for v in last.values()):
                    span = p - min(last.values())
                    if span <= m - 1 + slop:
                        spans.append(span)
        if spans:
            out[r.doc_id] = (
                len(spans),
                min(spans),
                round(sum(1.0 / (1 + s - (m - 1)) for s in spans), 6),
            )
    return out


def test_proximity_any_matches_reference_and_order_free(spark, tmp_path):
    """Unordered proximity: both orders match, the span boundary is
    exact, and the window-function sweep equals the pure-python
    minimal-covering-window reference."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta x"),          # adjacent, in order
            (2, "beta alpha x"),          # adjacent, REVERSED — still a match
            (3, "alpha x beta"),          # span 2
            (4, "alpha x y z beta"),      # span 4
            (5, "alpha only here"),       # missing beta
            (6, "beta x alpha y beta"),   # two windows end at 2 and 4
        ],
        "doc_id long, text string",
    )
    root = str(tmp_path / "ti")
    ti.build_text_index(spark, docs, root)
    for slop in (0, 1, 3):
        want = _proximity_any_reference(spark, docs, ["alpha", "beta"], slop)
        got = {
            r.doc_id: (r.n_matches, r.best_span, r.score)
            for r in ti.proximity_search_any(
                spark, root, ["alpha", "beta"], slop=slop, k=100
            ).collect()
        }
        assert got == want, f"slop={slop}"
    got0 = {
        r.doc_id
        for r in ti.proximity_search_any(
            spark, root, ["alpha", "beta"], slop=0, k=100
        ).collect()
    }
    assert got0 == {1, 2}  # reversed adjacency matches; gaps do not
    got1 = {
        r.doc_id: r.n_matches
        for r in ti.proximity_search_any(
            spark, root, ["alpha", "beta"], slop=1, k=100
        ).collect()
    }
    assert got1[6] == 2  # both span-2 windows admitted at slop=1
    # ordered variant on the same corpus does NOT match doc 2
    ordered = {
        r.doc_id
        for r in ti.proximity_search(
            spark, root, ["alpha", "beta"], slop=0, k=100
        ).collect()
    }
    assert 2 not in ordered and 1 in ordered


def test_proximity_any_matches_reference_on_corpus(spark, sf_dir, tmp_path):
    """Corpus parity at several slops, three-term queries included."""
    from http_feeds_spark.functions import text as tx

    docs = _docs(spark, sf_dir)
    root = str(tmp_path / "ti")
    ti.build_text_index(spark, docs, root)
    toks = docs.select(tx.words(F.col("text")).alias("t")).limit(1).collect()[0].t
    for terms in ([toks[0], toks[2]], [toks[0], toks[1], toks[3]]):
        for slop in (0, 2):
            want = _proximity_any_reference(spark, docs, terms, slop)
            got = {
                r.doc_id: (r.n_matches, r.best_span, r.score)
                for r in ti.proximity_search_any(
                    spark, root, terms, slop=slop, k=100_000
                ).collect()
            }
            assert got == want, (terms, slop)


@pytest.mark.slow  # >30 s platform-integration (see pytest.ini)
def test_tiered_compaction_merges_runs_not_settled_batches(spark, sf_dir, tmp_path):
    """Size-tiered compaction (r8): a run of same-class small batches
    merges into one; the settled LARGE batch's files are untouched on
    disk (the write-amplification bound — the whole point vs the
    full-prefix merge); search is bit-identical throughout."""
    import os

    docs = _docs(spark, sf_dir)
    root = str(tmp_path / "ti")
    # one large settled batch (the full corpus) ...
    ti.build_text_index(spark, docs, root)
    # ... plus six tiny upsert batches
    for i in range(6):
        ti.upsert_documents(
            spark,
            spark.createDataFrame(
                [(10_000 + i, f"window filter merge tiny{i}")],
                "doc_id long, text string",
            ),
            root,
        )
    before_search = [tuple(r) for r in ti.search(spark, root, TERMS, k=20).collect()]
    assert len(ti.visible_batches(spark, root)) == 7
    post_path = f"{root}/{ti.POSTINGS_DIR}"
    large_files = {
        os.path.join(dp, f)
        for dp, _, fs in os.walk(f"{post_path}/batch=000000")
        for f in fs
    }
    assert large_files

    after = ti.compact_postings_tiered(spark, root, min_run=4)
    assert len(after) == 2  # six tinies -> one; the large batch stays
    assert 0 in after  # the settled batch number survives
    still = {
        os.path.join(dp, f)
        for dp, _, fs in os.walk(f"{post_path}/batch=000000")
        for f in fs
    }
    assert still == large_files  # settled batch never rewritten
    assert [
        tuple(r) for r in ti.search(spark, root, TERMS, k=20).collect()
    ] == before_search
    hits = {r.doc_id for r in ti.search(spark, root, ["tiny3"], k=5).collect()}
    assert hits == {10_003}

    # below min_run nothing merges (no churn on a settled store)
    assert ti.compact_postings_tiered(spark, root, min_run=4) == after


@pytest.mark.slow  # >30 s platform-integration (see pytest.ini)
def test_run_maintenance_uses_tiering_with_prefix_fallback(spark, tmp_path):
    """The policy path: tiering bounds amplification when runs exist;
    the full-prefix merge still guarantees the compact_after bound when
    tiering alone cannot reach it."""
    from http_feeds_spark import ingest

    root = str(tmp_path / "platform")
    ti_root = f"{root}/text_index"
    for w in range(8):
        docs = spark.createDataFrame(
            [(w, f"window filter merge body{w}")], "doc_id long, text string"
        )
        if not ti.ensure_text_index(spark, docs, ti_root):
            ti.upsert_documents(spark, docs, ti_root)
    out = ingest.run_maintenance(spark, root, monitor=False, compact_after=4)
    assert out["text_index"]["batches_before"] == 8
    assert out["text_index"]["batches_after"] <= 4
    hits = {r.doc_id for r in ti.search(spark, ti_root, ["window"], k=20).collect()}
    assert hits == set(range(8))


@pytest.mark.slow  # >30 s platform-integration (see pytest.ini)
def test_text_index_maintenance_interleave_fuzz(spark, tmp_path):
    """Seeded random interleave of every text-index lifecycle op —
    upsert batches, in-place updates, erasure purges, size-tiered and
    full-prefix compactions, vacuums — checked at intervals against a
    FRESH index built from exactly the surviving documents: search
    answers must be bit-identical (same idf, same avgdl, same ranks)
    no matter which maintenance history produced the store."""
    import random

    from http_feeds_spark.operators import erasure

    rng = random.Random(8)
    root = str(tmp_path / "ti")

    def text_for(i, rev=0):
        extra = f"rev{rev}" if rev else f"body{i}"
        return f"window filter merge {extra} unique{i} tail{i % 7}"

    next_id = 0
    live: dict[int, tuple[str, int]] = {}  # id -> (text, rev)

    def fold(n):
        nonlocal next_id
        batch = []
        for _ in range(n):
            live[next_id] = (text_for(next_id), 0)
            batch.append((next_id, text_for(next_id)))
            next_id += 1
        df = spark.createDataFrame(batch, "doc_id long, text string")
        if not ti.ensure_text_index(spark, df, root):
            ti.upsert_documents(spark, df, root)

    fold(4)
    checkpoints = 0
    for step in range(22):
        op = rng.choices(
            ["fold", "update", "erase", "tiered", "full", "vacuum"],
            weights=[5, 2, 2, 2, 1, 1],
        )[0]
        if op == "fold":
            fold(rng.randint(1, 3))
        elif op == "update" and live:
            doc = rng.choice(sorted(live))
            rev = live[doc][1] + 1
            live[doc] = (text_for(doc, rev), rev)
            ti.update_documents(
                spark,
                spark.createDataFrame([(doc, live[doc][0])], "doc_id long, text string"),
                root,
            )
        elif op == "erase" and len(live) > 1:
            doc = rng.choice(sorted(live))
            del live[doc]
            erasure.erase_ids(
                spark, root, spark.createDataFrame([(doc,)], "id long")
            )
            ti.purge_erased(spark, root)
        elif op == "tiered":
            ti.compact_postings_tiered(spark, root, min_run=3)
        elif op == "full":
            batches = ti.visible_batches(spark, root)
            if batches:
                ti.compact_postings(spark, root, upto=max(batches))
        elif op == "vacuum":
            ti.vacuum_postings(spark, root)

        if step % 7 == 6:
            checkpoints += 1
            fresh = str(tmp_path / f"fresh{step}")
            ti.build_text_index(
                spark,
                spark.createDataFrame(
                    [(d, t) for d, (t, _) in sorted(live.items())],
                    "doc_id long, text string",
                ),
                fresh,
            )
            for terms in (["window"], ["unique1", "filter"], ["tail3", "merge"]):
                got = [tuple(r) for r in ti.search(spark, root, terms, k=50).collect()]
                want = [
                    tuple(r) for r in ti.search(spark, fresh, terms, k=50).collect()
                ]
                assert got == want, (step, terms)
    assert checkpoints >= 3 and len(live) > 4


def test_python_xxh64_twin_matches_engine(spark):
    """The driver-side XXH64 twin (functions/sketch_xxh64.py) must equal
    the engine's xxhash64 EXACTLY — a divergence would misroute query
    terms to the wrong posting bucket and silently miss hits. Covers
    every input-length class of the algorithm (empty, <4, <8, <32, 32+
    bytes), multi-byte UTF-8, and the bucket mapping itself."""
    from http_feeds_spark.functions.sketch_xxh64 import spark_xxhash64_str

    cases = [
        "", "a", "ab", "abc", "abcd", "abcde", "abcdefg", "abcdefgh",
        "window", "filter", "merge", "rollup",
        "x" * 31, "y" * 32, "z" * 33, "w" * 100,
        "héllo wörld", "日本語テキスト",
        "mixed ascii と 日本語 1234567890" * 3,
        "\x00\x01", "tab\tsep", " lead", "trail ",
    ]
    row = (
        spark.sql("select 1")
        .select(*[F.xxhash64(F.lit(c)).alias(f"h{i}") for i, c in enumerate(cases)])
        .collect()[0]
    )
    for i, c in enumerate(cases):
        assert row[i] == spark_xxhash64_str(c), repr(c)
    # and the derived bucket routing agrees with the engine's _bucket
    brow = (
        spark.sql("select 1")
        .select(*[ti._bucket(F.lit(c)).alias(f"b{i}") for i, c in enumerate(cases)])
        .collect()[0]
    )
    got = ti._buckets_of(spark, cases)
    for i, c in enumerate(cases):
        assert brow[i] == got[c], repr(c)


def test_warm_search_serves_metadata_from_frontier_cache(spark, sf_dir, tmp_path):
    """r16 committed-frontier cache: the FIRST call on an index pays the
    meta collect + directory listing; building the SAME searches again
    (warm frontier) schedules exactly ONE driver job total — the bm25
    terms lookup — and phrase/proximity construction schedules ZERO.
    Results must be identical cold vs warm (same committed frontier)."""
    import uuid

    docs = _docs(spark, sf_dir)
    root = str(tmp_path / "ti")
    ti.build_text_index(spark, docs, root)
    cold_bm25 = [tuple(r) for r in ti.search(spark, root, TERMS, k=10).collect()]
    cold_phrase = [
        tuple(r) for r in ti.phrase_search(spark, root, ["the", "data"], k=10).collect()
    ]
    sc = spark.sparkContext
    gid = f"warm-frontier-{uuid.uuid4()}"
    sc.setJobGroup(gid, "warm search construction")
    try:
        warm_bm25_df = ti.search(spark, root, TERMS, k=10)
        warm_phrase_df = ti.phrase_search(spark, root, ["the", "data"], k=10)
        ti.proximity_search(spark, root, ["the", "data"], slop=2, k=10)
        ti.proximity_search_any(spark, root, ["the", "data"], slop=2, k=10)
        assert ti.ensure_text_index(spark, docs, root) is False  # zero work
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(gid)) == 1
    assert [tuple(r) for r in warm_bm25_df.collect()] == cold_bm25
    assert [tuple(r) for r in warm_phrase_df.collect()] == cold_phrase


def test_frontier_cache_invalidated_by_direct_ledger_write(spark, sf_dir, tmp_path):
    """erasure.erase_ids called DIRECTLY (not through update_documents)
    must invalidate the cached frontier: the very next search filters
    the erased doc — no staleness window. clear_ledger restores it."""
    from http_feeds_spark.operators import erasure

    docs = _docs(spark, sf_dir)
    root = str(tmp_path / "ti")
    ti.build_text_index(spark, docs, root)
    top = ti.search(spark, root, TERMS, k=1).collect()[0].doc_id  # warms the cache
    erasure.erase_ids(
        spark, root, spark.createDataFrame([(int(top),)], "id long")
    )
    assert top not in {
        r.doc_id for r in ti.search(spark, root, TERMS, k=10).collect()
    }
    assert top not in {
        r.doc_id
        for r in ti.proximity_search_any(spark, root, TERMS, slop=50, k=50).collect()
    }
    erasure.clear_ledger(spark, root)
    assert ti.search(spark, root, TERMS, k=1).collect()[0].doc_id == top


def test_frontier_cache_invalidated_by_upsert_and_compaction(spark, sf_dir, tmp_path):
    """A warm frontier must not outlive a commit: upsert makes the new
    batch visible to the NEXT search; compaction keeps results
    bit-identical through the swapped batch set."""
    docs = _docs(spark, sf_dir)
    old = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)
    root = str(tmp_path / "ti")
    ti.build_text_index(spark, old, root)
    before = [tuple(r) for r in ti.search(spark, root, TERMS, k=10).collect()]
    ti.upsert_documents(spark, new, root)
    after = [tuple(r) for r in ti.search(spark, root, TERMS, k=10).collect()]
    assert after != before  # the appended half is visible immediately
    ti.compact_postings(spark, root, upto=10**6)
    assert [tuple(r) for r in ti.search(spark, root, TERMS, k=10).collect()] == after
