"""End-to-end training-corpus preparation — the Group D operators
composed in their canonical order, one call.

Every stage exists (and is tested) on its own; what a data team actually
runs is the COMPOSITION, and the composition has ordering semantics
worth pinning:

    quality gate          map-only predicates; cheapest first
    boilerplate strip     (optional) rewrite text BEFORE dedup — shared
                          chrome otherwise glues unrelated docs into
                          near-dup clusters
    exact dedup           content-hash, min-id survivor
    near-dup dedup        MinHash-LSH pairs -> closure -> survivor filter
    decontamination       (optional) drop corpus docs fingerprint-
                          matching an external eval/benchmark set
    domain mixture        (optional) downsample to target source shares
    split                 deterministic value-hash train/val/test
    pack                  offset-pack the train split into token bins

All membership decisions are value-hash deterministic (functions/
sampling.py), every dedup exchange is ids-only (operators/components.py)
and the only full-text passes are the scan-side token pipelines — so the
whole composition is one DAG Spark executes with no driver-side data
movement, and running it twice yields byte-identical corpora
(pinned in tests/test_pipeline.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from http_feeds_spark.functions import sampling as smp
from http_feeds_spark.functions import text as tx


DEFAULT_SPLIT = {"train": 0.9, "val": 0.05, "test": 0.05}


def quality_gate(
    docs: DataFrame,
    langs: tuple[str, ...] = ("en", "de", "es"),
    min_chars: int = 100,
    max_chars: int = 2000,
    min_words: int = 10,
) -> DataFrame:
    """The q_llm_quality predicates as a reusable stage: language
    whitelist + char bounds + minimum word count. Map-only, pushes into
    the scan."""
    n_words = F.size(tx.words("text"))
    return docs.filter(
        F.col("lang").isin(*langs)
        & F.col("n_chars").between(min_chars, max_chars)
        & (n_words >= min_words)
    )


def exact_dedup(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id copy of every byte-identical text. One shuffle on
    the 256-bit hash; survivor ids come back as an ids-only semi-join so
    document payloads shuffle once, not twice."""
    keep = (
        docs.groupBy(F.sha2("text", 256).alias("h"))
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return docs.join(keep, id_col, "left_semi")


def _eval_fp_rows(eval_docs: DataFrame) -> DataFrame:
    """The eval/benchmark side of decontamination as its own frame:
    negative-remapped ids (never collide with corpus ids), "standard"
    tokenization, exploded winnow fingerprints. Independent of every
    corpus stage — the pipeline materializes it CONCURRENTLY with the
    near-dup stage (guide §2.6) so the eval tokenize+winnow pass rides
    executors the corpus stages leave idle."""
    from http_feeds_spark.queries.llm import _fp_rows

    return _fp_rows(
        eval_docs.select(
            (-F.col("doc_id") - 1).alias("doc_id"),
            F.lit("test").alias("split"),
            tx.analyze(F.col("text"), "standard").alias("tokens"),
        )
    )


def _abandon_checkpoint(future) -> None:
    """Failure path of an overlapped ``localCheckpoint`` job: cancel it
    if it has not started, else wait for it and release its blocks now
    rather than at session end."""
    if future.cancel():
        return
    try:
        df = future.result()
    except Exception:
        return  # the job failed too: nothing was materialized
    # unpersist() on a checkpointed frame does not reach the
    # checkpoint's blocks; they belong to the plan's LogicalRDD
    df._jdf.queryExecution().analyzed().rdd().unpersist(True)


def _decontaminate_against(
    corpus: DataFrame,
    eval_docs: DataFrame,
    min_shared: int,
    corpus_tokens: DataFrame | None = None,
    eval_fps: DataFrame | None = None,
) -> DataFrame:
    """Drop corpus docs sharing >= min_shared winnowing fingerprints
    with any eval/benchmark document (queries/llm.decontaminate run
    with the corpus as 'train' and the eval set as 'test'). Eval ids are
    remapped to a negative id space so they can never collide with
    corpus ids.

    ``corpus_tokens`` (r16, guide §1.2 "don't compute things twice"):
    a pre-tokenized ``(doc_id, tokens)`` frame covering exactly the
    corpus ids, under the SAME "standard" analyzer ``decontaminate``
    would apply — when the near-dup stage already tokenized the corpus,
    passing its (filtered) token table here removes decontamination's
    own full-corpus tokenize pass; fingerprints are identical because
    ``tx.analyze`` is deterministic per row.

    ``eval_fps`` (r16, guide §2.6): a pre-MATERIALIZED
    :func:`_eval_fp_rows` frame, computed concurrently with earlier
    stages; identical rows to computing it here (same deterministic
    per-row expressions), so the union the back half sees is unchanged."""
    from http_feeds_spark.queries.llm import (
        _decontaminate_fps,
        _fp_rows,
        decontaminate,
    )

    if corpus_tokens is not None:
        corpus_fps = _fp_rows(
            corpus_tokens.select("doc_id", F.lit("train").alias("split"), "tokens")
        ).localCheckpoint()
        fps = corpus_fps.unionByName(
            eval_fps
            if eval_fps is not None
            else _eval_fp_rows(eval_docs).localCheckpoint()
        )
        contaminated = (
            _decontaminate_fps(fps, min_shared=min_shared)
            .select(F.col("train_doc_id").alias("doc_id"))
            .distinct()
        )
        return corpus.join(contaminated, "doc_id", "left_anti")

    tagged = corpus.select("doc_id", "text", F.lit("train").alias("split")).unionByName(
        eval_docs.select(
            (-F.col("doc_id") - 1).alias("doc_id"), "text", F.lit("test").alias("split")
        )
    )
    contaminated = (
        decontaminate(tagged, min_shared=min_shared)
        .select(F.col("train_doc_id").alias("doc_id"))
        .distinct()
    )
    return corpus.join(contaminated, "doc_id", "left_anti")


def prepare_training_corpus(
    spark: SparkSession,
    docs: DataFrame,
    *,
    langs: tuple[str, ...] = ("en", "de", "es"),
    min_chars: int = 100,
    max_chars: int = 2000,
    min_words: int = 10,
    strip_boilerplate: bool = False,
    boilerplate_min_docs: int = 5,
    segment_tokens: int = 10,
    scrub_substrings: bool = False,
    substr_length: int = 12,
    max_ppl: float | None = None,
    ppl_reference: DataFrame | None = None,
    zlib_ratio_bounds: tuple[float, float] | None = None,
    near_dup: bool = True,
    eval_docs: DataFrame | None = None,
    min_shared_fps: int = 2,
    mixture: dict[str, float] | None = None,
    split_weights: dict[str, float] | None = None,
    seed: int = 0,
    pack_budget: int = 2048,
    shard_root: str | None = None,
    bins_per_shard: int = 64,
) -> dict:
    """Run the full preparation pipeline; returns::

        {"corpus":       DataFrame(doc_id, text, lang, source, n_chars, split),
         "train_packed": DataFrame(doc_id, n_tokens, bin),
         "report":       [(stage, n_docs), ...]  # in pipeline order}

    Audit counts (r16, guide §1 "remove passes outright" + the r15 §10
    Observation precedent): every stage boundary's count is an
    ``Observation`` riding the NEXT job that consumes the stage's frame
    — a ``CollectMetrics`` node directly below the stage's persist, so
    the count materializes with the cache instead of scheduling its own
    full pass per stage. Stage set, report order and values are
    byte-identical to the eager form (pinned in tests/test_pipeline.py);
    the first action that materializes a stage fixes its metric per the
    Observation contract. Counts resolve before this function returns
    (the split/pack passes at the tail consume the whole chain, so
    every boundary is guaranteed materialized).

    Stage boundaries are PERSISTED (memory-and-disk): without the pin,
    every downstream consumer re-executes the whole lineage back to the
    scan — the near-dup LSH pipeline alone would re-run once per LATER
    stage, turning an n-stage audit into O(n²) stage executions
    (measured ~10× wall at sf0.1). Caches materialize lazily under the
    deferred counts; after each EAGER intra-stage pass (a tokenize or
    LSH checkpoint, an LM vocab count, a mixture count) every older
    boundary is fully consumed and is unpersisted then, so the
    steady-state footprint stays 1-2 stage corpora (3 briefly at the
    split/pack tail when near-dup's token table fed decontamination).
    The last pins drop before returning, leaving the result frames as
    the usual lazy DAG."""
    from pyspark.sql import Observation
    from pyspark.storagelevel import StorageLevel

    split_weights = dict(split_weights or DEFAULT_SPLIT)
    # value = int (already known) | Observation (resolves at the end)
    report: list[tuple[str, object]] = []
    pinned: list[DataFrame] = []

    def _boundary(df: DataFrame, stage: str) -> DataFrame:
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("rows")).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        report.append((stage, obs))
        pinned.append(df)
        return df

    def _settled() -> None:
        # an eager pass just consumed the NEWEST boundary's whole chain:
        # every older pinned cache is materialized and its consumers are
        # done — release all but the newest (the next stage reads it)
        while len(pinned) > 1:
            pinned.pop(0).unpersist()

    # The input audit count rides the quality boundary's materialization
    # as an observed metric instead of its own full pass: the
    # CollectMetrics node sits below the quality filter, so it counts
    # every input row exactly once whenever the quality stage first
    # materializes. (The quality predicates no longer push into the
    # scan — the input count needs every row read anyway, so the fused
    # pass is never wider than the two passes it replaces.)
    obs_in = Observation()
    cur = _boundary(
        quality_gate(
            docs.observe(obs_in, F.count(F.lit(1)).alias("rows")),
            langs, min_chars, max_chars, min_words,
        ),
        "quality",
    )
    report.insert(0, ("input", obs_in))

    if zlib_ratio_bounds is not None:
        # entropy gate (functions/text.compression_ratio, r10): both
        # tails are degenerate — ratios below `lo` are character-level
        # repetition the word-window rules miss, above `hi`
        # incompressible junk. Runs BEFORE the LM gate: one cheap
        # Arrow-batched pass that spares perplexity scoring the
        # documents it would reject anyway.
        lo, hi = zlib_ratio_bounds
        cur = _boundary(
            cur.filter(tx.compression_ratio("text").between(lo, hi)), "entropy"
        )

    if max_ppl is not None:
        # CCNet-style LM gate (functions/ngram_lm.py): reference = the
        # caller's clean corpus, else the quality-gated corpus itself
        # (self-referential filtering drops only the distribution TAIL).
        from http_feeds_spark.functions import ngram_lm as nlm

        ref = ppl_reference if ppl_reference is not None else cur
        uni, bi, vocab = nlm.train_bigram_lm(ref.select("text"))
        if ppl_reference is None:
            _settled()  # the vocab count consumed cur's chain
        keep = (
            nlm.perplexity(cur, uni, bi, vocab)
            .filter(F.col("ppl") <= max_ppl)
            .select("doc_id")
        )
        cur = _boundary(cur.join(keep, "doc_id", "left_semi"), "perplexity")

    if strip_boilerplate:
        from http_feeds_spark.operators import boilerplate as bp

        stripped = bp.strip_frequent_segments(
            cur, n=segment_tokens, min_docs=boilerplate_min_docs
        ).select("doc_id", F.col("clean_text").alias("text"),
                 F.col("n_chars_clean").alias("n_chars"))
        cur = _boundary(
            stripped.filter(F.col("n_chars") > 0)
            .join(cur.select("doc_id", "lang", "source"), "doc_id"),
            "boilerplate",
        )

    if scrub_substrings:
        # sliding-window complement of the aligned-frame strip: cut
        # >= substr_length-token spans repeated verbatim ANYWHERE
        # (operators/substr_dedup.py), then re-derive n_chars
        from http_feeds_spark.operators import substr_dedup as sdd

        scrubbed = sdd.scrub_duplicated_spans(
            cur, length=substr_length
        ).select(
            "doc_id",
            F.col("scrubbed_text").alias("text"),
            F.length("scrubbed_text").cast("long").alias("n_chars"),
        )
        _settled()  # the window checkpoint inside scrub consumed cur
        cur = _boundary(
            scrubbed.filter(F.col("n_chars") > 0)
            .join(cur.select("doc_id", "lang", "source"), "doc_id"),
            "substr_scrub",
        )

    cur = _boundary(exact_dedup(cur), "exact_dedup")

    # near-dup's token table doubles as decontamination's corpus-side
    # tokenization (one tokenize pass, not two — guide §1.2); filtered
    # to the near-dup survivors by the same losers anti-join that
    # filters the corpus itself.
    corpus_tokens: DataFrame | None = None
    eval_fps_future = None
    if near_dup:
        from http_feeds_spark.operators.components import connected_components
        from http_feeds_spark.queries.llm import _near_dup_pairs, tokenized

        if eval_docs is not None:
            # overlap independent jobs (guide §2.6): the eval side of
            # decontamination (tokenize + winnow fingerprints of the
            # benchmark slice) depends on NOTHING the corpus stages
            # compute — materialize it on a driver thread so its tasks
            # back-fill executors while the near-dup stage's shuffles
            # run, instead of serializing after them. Rows are identical
            # to the inline form (deterministic per-row expressions);
            # only the schedule changes.
            from concurrent.futures import ThreadPoolExecutor

            from pyspark import inheritable_thread_target

            def _eval_side() -> DataFrame:
                spark.sparkContext.setJobDescription(
                    "decontaminate: eval fingerprints (overlapped)"
                )
                try:
                    return _eval_fp_rows(eval_docs).localCheckpoint()
                finally:
                    spark.sparkContext.setJobDescription(None)

            _eval_pool = ThreadPoolExecutor(max_workers=1)
            eval_fps_future = _eval_pool.submit(
                inheritable_thread_target(_eval_side)
            )
            _eval_pool.shutdown(wait=False)

        try:
            toks = tokenized(cur.select("doc_id", "text"))
            _settled()  # the token checkpoint consumed cur's chain
            pairs = _near_dup_pairs(cur.select("doc_id", "text"), tokens=toks)
            losers = (
                connected_components(pairs, src="a", dst="b")
                .where(F.col("node") != F.col("component"))
                .select(F.col("node").alias("doc_id"))
            )
            cur = _boundary(cur.join(losers, "doc_id", "left_anti"), "near_dedup")
        except BaseException:
            if eval_fps_future is not None:
                _abandon_checkpoint(eval_fps_future)
            raise
        if eval_docs is not None:
            corpus_tokens = toks.join(losers, "doc_id", "left_anti")

    if eval_docs is not None:
        dec = _decontaminate_against(
            cur,
            eval_docs,
            min_shared_fps,
            corpus_tokens=corpus_tokens,
            eval_fps=eval_fps_future.result() if eval_fps_future else None,
        )
        if corpus_tokens is None:
            _settled()  # the fingerprint checkpoint consumed cur's chain
        cur = _boundary(dec, "decontaminate")

    if mixture:
        mixed = smp.resample_to_mixture(cur, mixture, seed=seed)
        _settled()  # the per-source count collect consumed cur's chain
        cur = _boundary(mixed, "mixture")

    corpus = smp.with_split(cur, "doc_id", split_weights, seed=seed)
    train = corpus.filter(F.col("split") == "train").select(
        "doc_id", F.size(tx.words("text")).alias("n_tokens")
    )
    # the train count rides pack's own passes over the train frame (its
    # two-pass bucketing snapshot consumes it; the percentile probe is
    # gone on the default hash order — r16, fixed equi-spaced cuts)
    obs_train = Observation()
    train_packed = smp.pack_into_bins(
        train.observe(obs_train, F.count(F.lit(1)).alias("rows")),
        "n_tokens",
        pack_budget,
        seed=seed,
    )
    _settled()  # pack's eager passes consumed the whole chain
    report.append(("train", obs_train))

    out = {"corpus": corpus, "train_packed": train_packed}
    if shard_root is not None:
        # terminal artifact: trainer-ready shards in consumption order
        out["n_shards"] = smp.export_training_shards(
            corpus.filter(F.col("split") == "train"),
            train_packed,
            shard_root,
            bins_per_shard=bins_per_shard,
            seed=seed,
        )
        report.append(("shards", out["n_shards"]))
    # every deferred count has fired by now (pack's passes consumed the
    # full chain); resolve the audit report in stage order, then drop
    # the final pins — every eager pass (metrics, shard export) is
    # done, and the returned frames stay the usual lazy DAG: a caller
    # consuming them recomputes the pipeline once, exactly as before
    out["report"] = [
        (stage, v if isinstance(v, int) else int(v.get["rows"]))
        for stage, v in report
    ]
    while pinned:
        pinned.pop().unpersist()
    return out
