"""End-to-end corpus preparation (pipeline.py): planted documents meet
their designed fate at the right stage, stage counts are monotone,
the whole composition is run-to-run deterministic, and the packed train
split honors the budget bound."""

from __future__ import annotations

from pyspark.sql import functions as F

from http_feeds_spark.pipeline import prepare_training_corpus


def _docs(spark, sf_dir):
    from http_feeds_spark.sources.tables import load_table

    return load_table(spark, sf_dir, "documents")


def test_planted_fates(spark, sf_dir):
    """One plant per stage: a junk-lang doc dies at quality, an exact
    copy dies at exact-dedup, a one-word-changed near-copy dies at
    near-dedup, and a doc matching the eval set dies at decontamination
    — while a clean doc survives to the split."""
    docs = _docs(spark, sf_dir)
    base = docs.filter(
        F.col("lang").isin("en", "de", "es")
        & F.col("n_chars").between(150, 1000)
        & (F.size(F.split("text", " ")) >= 30)
    )
    victims = [r for r in base.orderBy("doc_id").limit(3).collect()]
    assert len(victims) == 3
    v_exact, v_near, v_decon = victims
    near_toks = v_near.text.split(" ")
    near_toks[len(near_toks) // 2] = "mutated"
    plants = spark.createDataFrame(
        [
            (900001, "junk text that is long enough to pass size checks maybe",
             "xx", "srcX", 100),
            (900002, v_exact.text, v_exact.lang, v_exact.source, v_exact.n_chars),
            (900003, " ".join(near_toks), v_near.lang, v_near.source, v_near.n_chars),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    corpus = docs.unionByName(plants)
    eval_docs = spark.createDataFrame(
        [(1, v_decon.text)], "doc_id long, text string"
    )
    result = prepare_training_corpus(spark, corpus, eval_docs=eval_docs)
    stages = dict(result["report"])
    final_ids = {r.doc_id for r in result["corpus"].select("doc_id").collect()}

    assert 900001 not in final_ids          # junk lang: quality gate
    assert 900002 not in final_ids          # exact copy (min-id survivor wins)
    assert v_exact.doc_id in final_ids      # the original survives
    assert 900003 not in final_ids          # near-copy: LSH closure
    assert v_decon.doc_id not in final_ids  # fingerprint match with eval set
    # monotone: every stage only removes documents
    counts = [n for _, n in result["report"]]
    assert counts == sorted(counts, reverse=True)
    assert stages["decontaminate"] < stages["near_dedup"]  # plant actually hit


def test_deterministic_end_to_end(spark, sf_dir):
    """Same inputs + seed ⇒ identical final corpus membership, splits
    and packed bins — the reproducibility contract, composed."""
    docs = _docs(spark, sf_dir)
    kw = dict(mixture={"src0": 0.4, "src1": 0.4, "src2": 0.2}, pack_budget=512)
    r1 = prepare_training_corpus(spark, docs, **kw)
    r2 = prepare_training_corpus(spark, docs, **kw)
    assert r1["report"] == r2["report"]
    c1 = {(r.doc_id, r.split) for r in r1["corpus"].select("doc_id", "split").collect()}
    c2 = {(r.doc_id, r.split) for r in r2["corpus"].select("doc_id", "split").collect()}
    assert c1 == c2 and len(c1) > 0
    p1 = {(r.doc_id, r.bin) for r in r1["train_packed"].collect()}
    p2 = {(r.doc_id, r.bin) for r in r2["train_packed"].collect()}
    assert p1 == p2 and len(p1) > 0
    # mixture stage honored: only the three named sources remain
    srcs = {r.source for r in r1["corpus"].select("source").distinct().collect()}
    assert srcs <= {"src0", "src1", "src2"}


def test_packed_bins_bounded(spark, sf_dir):
    budget = 512
    r = prepare_training_corpus(spark, _docs(spark, sf_dir), pack_budget=budget)
    by_bin: dict[int, list[int]] = {}
    for row in r["train_packed"].collect():
        by_bin.setdefault(row.bin, []).append(row.n_tokens)
    assert by_bin
    for b, sizes in by_bin.items():
        assert sum(sizes) < budget + max(sizes), (b, sum(sizes))


def test_boilerplate_stage_composes(spark, sf_dir):
    """With strip_boilerplate on, a header planted across many docs is
    gone from every surviving text BEFORE dedup runs — and the doc's
    metadata (lang/source) survives the text rewrite."""
    docs = _docs(spark, sf_dir)
    hdr = "hh0 hh1 hh2 hh3 hh4 hh5 hh6 hh7 hh8 hh9"
    planted = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.lit(hdr + " "), F.col("text")))
        .otherwise(F.col("text"))
        .alias("text"),
        "lang",
        "source",
        # n_chars must describe the planted text: the quality gate reads it
        F.when(F.col("doc_id") % 3 == 0, F.col("n_chars") + len(hdr) + 1)
        .otherwise(F.col("n_chars"))
        .alias("n_chars"),
    )
    r = prepare_training_corpus(
        spark, planted, strip_boilerplate=True, boilerplate_min_docs=5, near_dup=False
    )
    stages = dict(r["report"])
    assert "boilerplate" in stages and stages["boilerplate"] > 0
    rows = r["corpus"].select("doc_id", "text", "lang", "source").collect()
    assert rows
    assert all("hh0" not in row.text for row in rows)      # header stripped
    assert all(row.lang and row.source for row in rows)    # metadata intact


def test_registered_query_report_shape(spark, sf_dir):
    from http_feeds_spark.queries import registry

    rows = registry()["q_llm_pipeline"].fn(spark, sf_dir).collect()
    stages = [r.stage for r in sorted(rows, key=lambda r: r.stage_idx)]
    assert stages == [
        "input", "quality", "exact_dedup", "near_dedup", "decontaminate", "train"
    ]
    counts = [r.n_docs for r in sorted(rows, key=lambda r: r.stage_idx)]
    assert counts == sorted(counts, reverse=True) and counts[-1] > 0


def test_pipeline_with_perplexity_and_substr_stages(spark, sf_dir):
    """The round-6 stages compose: the LM gate trims exactly the
    high-perplexity tail (the driver corpus is uniform word soup — the
    alien-vs-indomain DISCRIMINATION contract lives in
    tests/test_ngram_lm.py where margins are constructed), the
    substring scrub cuts the span planted verbatim into two docs, and
    the stage report carries both boundaries in order."""
    from pyspark.sql import functions as F

    from http_feeds_spark import pipeline as pl
    from http_feeds_spark.functions import ngram_lm as nlm
    from http_feeds_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(120)
    span = " ".join(f"plantspan{i}" for i in range(14))
    # plant into two docs that (a) pass the quality gate and (b) have
    # corpus-unique text — the synthetic corpus contains planted exact
    # duplicates whose bodies the scrub would legitimately remove
    from pyspark.sql import Window as W

    uniq = (
        pl.quality_gate(docs)
        .withColumn("__n", F.count("*").over(W.partitionBy("text")))
        .where(F.col("__n") == 1)
        .orderBy("doc_id")
        .limit(2)
        .collect()
    )
    tgt_a, tgt_b = uniq[0].doc_id, uniq[1].doc_id
    doctored = docs.select(
        "doc_id",
        F.when(F.col("doc_id") == tgt_a, F.concat(F.lit(span + " "), F.col("text")))
        .when(F.col("doc_id") == tgt_b, F.concat(F.col("text"), F.lit(" " + span)))
        .otherwise(F.col("text"))
        .alias("text"),
        "lang",
        "source",
    ).withColumn("n_chars", F.length("text").cast("long"))

    # threshold at the quality-gated corpus's own median perplexity →
    # the gate must drop roughly the worse half, exactly per-doc
    gated = pl.quality_gate(doctored)
    uni, bi, V = nlm.train_bigram_lm(gated.select("text"))
    ppls = sorted(
        r.ppl for r in nlm.perplexity(gated, uni, bi, V).collect()
    )
    thresh = ppls[len(ppls) // 2]

    # run A: median threshold — the gate must drop exactly the docs the
    # standalone scorer puts above it (per-doc wiring, not heuristics)
    out_a = pl.prepare_training_corpus(
        spark,
        doctored,
        max_ppl=thresh,
        ppl_reference=gated,
        near_dup=False,
    )
    stages_a = [s for s, _ in out_a["report"]]
    counts_a = dict(out_a["report"])
    assert stages_a[:3] == ["input", "quality", "perplexity"]
    n_below = sum(1 for p in ppls if p <= thresh)
    assert counts_a["perplexity"] == n_below  # exact per-doc gating

    # run B: keep-everything threshold so BOTH planted copies reach the
    # scrub — the span (duplicated at any offset) must come off both,
    # and the report must order the stages correctly
    out_b = pl.prepare_training_corpus(
        spark,
        doctored,
        max_ppl=max(ppls) + 1.0,
        ppl_reference=gated,
        scrub_substrings=True,
        substr_length=14,
        near_dup=False,
    )
    stages_b = [s for s, _ in out_b["report"]]
    assert "perplexity" in stages_b and "substr_scrub" in stages_b
    assert stages_b.index("perplexity") < stages_b.index("substr_scrub")
    by_id = {r.doc_id: r.text for r in out_b["corpus"].select("doc_id", "text").collect()}
    present = [did for did in (tgt_a, tgt_b) if did in by_id]
    assert present  # unique-text targets survive dedup by construction
    for did in present:
        assert "plantspan0" not in by_id[did]  # span scrubbed wherever it survived


def test_pipeline_exports_shards(spark, sf_dir, tmp_path):
    """shard_root wires the terminal export: shards round-trip the
    packed train set and the report carries the shard count."""
    from pyspark.sql import functions as F

    from http_feeds_spark import pipeline as pl
    from http_feeds_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(150)
    root = str(tmp_path / "shards")
    out = pl.prepare_training_corpus(
        spark, docs, near_dup=False, shard_root=root, bins_per_shard=2,
        pack_budget=512,
    )
    assert out["n_shards"] >= 1
    assert ("shards", out["n_shards"]) in out["report"]
    back = spark.read.parquet(root)
    assert back.count() == out["train_packed"].count()
    assert "text" in back.columns  # shards carry the payload


def test_feed_to_trainer_shards_e2e(spark, tmp_path):
    """The whole engine, one path: a live HTTP feed of document events
    lands via orchestrated ingest, the landed read model feeds
    prepare_training_corpus, and trainer-ready shards come out — raw
    protocol to training artifact with no manual glue."""
    from pyspark.sql import functions as F

    from http_feeds_spark import ingest
    from http_feeds_spark import pipeline as pl
    from tests.feed_server import FeedState, serve

    state = FeedState()
    srv, url = serve(state)
    try:
        for i in range(30):
            text = " ".join(f"w{(i * 7 + j) % 40}" for j in range(30))
            state.append(
                "org.example.document",
                str(i),
                {"doc_id": i, "text": text, "lang": "en", "source": "feedA"},
            )
        landing = str(tmp_path / "landing")
        summary = ingest.run(spark, url, landing)
        assert summary["raw_rows"] == 30

        landed = ingest.read_model(spark, landing)
        docs = landed.select(
            F.get_json_object("data", "$.doc_id").cast("long").alias("doc_id"),
            F.get_json_object("data", "$.text").alias("text"),
            F.get_json_object("data", "$.lang").alias("lang"),
            F.get_json_object("data", "$.source").alias("source"),
        ).withColumn("n_chars", F.length("text").cast("long"))

        shard_root = str(tmp_path / "shards")
        out = pl.prepare_training_corpus(
            spark,
            docs,
            min_chars=10,
            max_chars=10_000,
            near_dup=False,
            pack_budget=256,
            shard_root=shard_root,
            bins_per_shard=2,
        )
        assert out["n_shards"] >= 1
        back = spark.read.parquet(shard_root)
        assert back.count() == out["train_packed"].count() > 0
        assert {"doc_id", "text", "bin", "shard"} <= set(back.columns)
    finally:
        srv.shutdown()


def test_entropy_stage_drops_both_tails(spark, sf_dir):
    """r10: the optional zlib entropy gate — a planted degenerate
    repeater (ratio → 0) and planted incompressible junk (ratio → 1)
    both die at the 'entropy' boundary while normal docs pass; default
    None leaves the pipeline byte-identical (no stage in the report)."""
    import base64
    import hashlib

    docs = _docs(spark, sf_dir)
    junk_text = base64.b85encode(
        b"".join(hashlib.sha256(bytes([i])).digest() for i in range(40))
    ).decode()
    plants = spark.createDataFrame(
        [
            (910001, "spam ham " * 60, "en", "srcE", len("spam ham " * 60)),
            (910002, junk_text, "en", "srcE", len(junk_text)),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    corpus = docs.unionByName(plants)
    result = prepare_training_corpus(
        spark, corpus, near_dup=False, zlib_ratio_bounds=(0.2, 0.75)
    )
    stages = dict(result["report"])
    final_ids = {r.doc_id for r in result["corpus"].select("doc_id").collect()}
    assert 910001 not in final_ids and 910002 not in final_ids
    assert stages["entropy"] < stages["quality"]  # the plants actually hit
    # default: no entropy stage anywhere in the report
    base = prepare_training_corpus(spark, corpus, near_dup=False)
    assert "entropy" not in dict(base["report"])


def test_near_dup_failure_settles_overlapped_eval_fingerprints(
    spark, sf_dir, monkeypatch
):
    """When the near-dup stage raises, the overlapped eval-fingerprint
    job is cancelled or awaited (its checkpoint released) before the
    error propagates, not left running behind it."""
    import concurrent.futures
    import time

    import pytest

    from http_feeds_spark import pipeline
    from http_feeds_spark.queries import llm

    futures = []

    class RecordingPool(concurrent.futures.ThreadPoolExecutor):
        def submit(self, *a, **kw):
            futures.append(super().submit(*a, **kw))
            return futures[-1]

    eval_fp_rows = pipeline._eval_fp_rows

    def slow_eval_fp_rows(eval_docs):
        time.sleep(3)  # still running when the near-dup stage fails
        return eval_fp_rows(eval_docs)

    def failing_tokenized(*a, **kw):
        raise RuntimeError("near-dup stage failed")

    monkeypatch.setattr(concurrent.futures, "ThreadPoolExecutor", RecordingPool)
    monkeypatch.setattr(pipeline, "_eval_fp_rows", slow_eval_fp_rows)
    monkeypatch.setattr(llm, "tokenized", failing_tokenized)
    eval_docs = spark.createDataFrame(
        [(1, "one two three four five six seven eight nine ten")],
        "doc_id long, text string",
    )
    with pytest.raises(RuntimeError, match="near-dup stage failed"):
        prepare_training_corpus(spark, _docs(spark, sf_dir), eval_docs=eval_docs)
    assert len(futures) == 1 and futures[0].done()
    if not futures[0].cancelled():
        fps = futures[0].result()
        rdd = fps._jdf.queryExecution().analyzed().rdd()
        assert not rdd.getStorageLevel().isValid()  # checkpoint released
