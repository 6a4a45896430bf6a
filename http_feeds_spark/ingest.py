"""Orchestrated ingest — the one-call composition of the engine's pieces:

    HTTP feed connector  →  Parquet landing zone  →  compaction  →  read model

Each piece exists standalone (sources/http_feed.py, operators/maintenance.py,
operators/feed.py); this module wires them into the pipeline a consumer
actually deploys, with ONE checkpoint story:

- The streaming checkpoint lives under ``<landing_root>/_checkpoint`` and
  holds the feed cursor (the spec's "client must persist the lastEventId",
  /root/reference/README.md:111). Every run — bounded catch-up or live —
  resumes from it; a mid-stream restart replays at-least-once
  (README.md:113) and the parquet sink's commit log makes landing-zone
  files exactly-once.
- Catch-up uses ``Trigger.AvailableNow``: drain everything the feed holds,
  then stop — the batch-backfill-through-the-streaming-path pattern, so a
  later live run continues from where the backfill ended with no seam.
  Spark runs AvailableNow as one micro-batch for a Python source, and the
  connector's read walks the feed to its end, so one catch-up is one
  batch (up to ``http_feed._READ_MAX_EVENTS`` events).
- ``seq`` is minted at ingest from the wire id (``parse_seq_auto``:
  composite ``sequence::uuid`` prefix or UUIDv6 timestamp — the spec's two
  sanctioned encodings, README.md:156-159); opaque ids leave seq null and
  callers fall back to ``operators.feed.mint_seq`` at compaction time.

100 TB posture: the connector is a serial cursor walk by protocol design
(see sources/http_feed.py) — the landing zone is where scale-out begins.
Bootstrap of a NEW consumer therefore reads the landing zone (distributed
parquet scan), never re-walks HTTP; compaction is the periodic maintenance
rewrite (window per subject, one shuffle) that keeps bootstrap cost
proportional to live subjects, not feed history (README.md:184).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from http_feeds_spark.operators import feed as ops
from http_feeds_spark.sources import http_feed

RAW_DIR = "raw"
CHECKPOINT_DIR = "_checkpoint"
COMPACTED_DIR = "compacted"
# how long one AvailableNow catch-up may take before it is stopped and
# reported as a TimeoutError naming the component
CATCH_UP_TIMEOUT_S = 240.0


def _paths(landing_root: str) -> tuple[str, str, str]:
    root = landing_root.rstrip("/")
    return (
        f"{root}/{RAW_DIR}",
        f"{root}/{CHECKPOINT_DIR}",
        f"{root}/{COMPACTED_DIR}",
    )


def _feed(spark: SparkSession, url: str, timeout_ms: int | None = None) -> DataFrame:
    """The feed at `url` as an ``httpfeed`` stream (long-polling when
    `timeout_ms` is set)."""
    http_feed.register(spark)
    reader = spark.readStream.format("httpfeed").option("url", url)
    if timeout_ms is not None:
        reader = reader.option("timeout", str(timeout_ms))
    return reader.load()


def _drain(q, label: str) -> None:
    """Wait for an AvailableNow query to finish; stop it and raise when
    it overruns :data:`CATCH_UP_TIMEOUT_S`."""
    if not q.awaitTermination(CATCH_UP_TIMEOUT_S):
        q.stop()
        raise TimeoutError(
            f"{label} catch-up did not drain the feed within {CATCH_UP_TIMEOUT_S}s"
        )


def _fold_feed(spark: SparkSession, url: str, root: str, fold, label: str) -> None:
    """One catch-up of a feed consumer: the micro-batch goes to
    ``fold(batch_df, batch_id)`` through ``foreachBatch``; the cursor
    lives in ``<root>/_checkpoint``, so each call resumes where the last
    one stopped. AvailableNow runs one micro-batch, which holds every
    page from the cursor to the current feed end (a backlog past
    ``http_feed._READ_MAX_EVENTS`` events takes more calls). A restart
    replays at-least-once (README.md:113); every fold here is
    idempotent per id, which absorbs the redelivery."""
    q = (
        _feed(spark, url)
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", f"{root}/{CHECKPOINT_DIR}")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, label)


def _docs(batch_df: DataFrame, doc_id_field: str, text_field: str) -> DataFrame:
    """(doc_id, text) documents of a batch's payloads; events without
    both fields (tombstones, other event types) are skipped."""
    return batch_df.select(
        F.get_json_object("data", f"$.{doc_id_field}").cast("long").alias("doc_id"),
        F.get_json_object("data", f"$.{text_field}").alias("text"),
    ).where(F.col("doc_id").isNotNull() & F.col("text").isNotNull())


def _vectors(
    batch_df: DataFrame, id_field: str, vec_field: str, element: str
) -> DataFrame:
    """(vec_id, embedding array<element>) vectors of a batch's payloads,
    one per id (:func:`_earliest_per_id`); events without both fields
    are skipped."""
    vecs = batch_df.select(
        F.get_json_object("data", f"$.{id_field}").cast("long").alias("vec_id"),
        F.from_json(
            F.get_json_object("data", f"$.{vec_field}"), f"array<{element}>"
        ).alias("embedding"),
    ).where(F.col("vec_id").isNotNull() & F.col("embedding").isNotNull())
    return _earliest_per_id(vecs, "vec_id")


def _earliest_per_id(rows: DataFrame, key: str) -> DataFrame:
    """One row per `key`: the earliest in feed order. The id-guarded
    folds keep a stored id's first version and drop later ones; this
    applies the same rule inside one batch, so the result does not
    depend on how pages were grouped into batches. The batch is one
    partition, and ``coalesce(1)`` says so to the planner: the
    aggregate then needs no shuffle, hence no extra job."""
    rest = [c for c in rows.columns if c != key]
    return (
        rows.withColumn("_pos", F.monotonically_increasing_id())
        .coalesce(1)
        .groupBy(key)
        .agg(*[F.min_by(c, "_pos").alias(c) for c in rest])
    )


def run(
    spark: SparkSession,
    url: str,
    landing_root: str,
    *,
    timeout_ms: int | None = None,
    catch_up: bool = True,
    compact: bool = False,
    tombstone_horizon_seq: int | None = None,
):
    """Ingest the feed at `url` into `landing_root`.

    catch_up=True (default): AvailableNow — drain the feed to its current
    end in one micro-batch (a backlog larger than
    ``http_feed._READ_MAX_EVENTS`` events takes one call per that many),
    stop, optionally compact (``tombstone_horizon_seq`` passes
    through to :func:`compact_now` so a rewrite with lagging consumers
    retains their undelivered DELETEs); returns a summary dict. Safe to
    call repeatedly: the shared checkpoint resumes the cursor each time.

    catch_up=False: start a continuous live subscription (long-polling
    when `timeout_ms` is set) and return the running StreamingQuery —
    the caller owns stop(); a later catch_up run reuses the same
    checkpoint seamlessly.
    """
    raw, ckpt, _ = _paths(landing_root)
    writer = (
        ops.parse_seq_auto(_feed(spark, url, timeout_ms))
        .writeStream.format("parquet")
        .option("path", raw)
        .option("checkpointLocation", ckpt)
    )
    if not catch_up:
        return writer.trigger(processingTime="500 milliseconds").start()

    _drain(writer.trigger(availableNow=True).start(), "landing")
    summary = {"landing_root": landing_root, "raw_rows": _count_or_zero(spark, raw)}
    if compact:
        if summary["raw_rows"] == 0:
            summary["compacted_rows"] = 0
        else:
            summary["compacted_rows"] = compact_now(
                spark, landing_root, tombstone_horizon_seq=tombstone_horizon_seq
            ).count()
    return summary


def run_dedup_index(
    spark: SparkSession,
    url: str,
    index_root: str,
    *,
    doc_id_field: str = "doc_id",
    text_field: str = "text",
) -> dict:
    """Feed → streaming near-dup index: the engine's two streaming halves
    composed. Each micro-batch's ``data`` payloads are projected to
    (doc_id, text) documents and folded into the persistent LSH index
    (streaming/dedup.fold_batch) — "dedup the corpus as it grows from
    the feed".

    Catch-up and redelivery follow :func:`_fold_feed`: the cursor lives
    under ``<index_root>/_checkpoint``, and fold_batch's per-doc-id
    idempotence absorbs every redelivery — the exactly-once effect
    without a transactional sink. Call repeatedly as the feed grows —
    each run folds only the new events. Returns
    {"index_root", "indexed_docs"}."""
    from http_feeds_spark.streaming import dedup as sd

    root = index_root.rstrip("/")

    def _fold(batch_df: DataFrame, _batch_id: int) -> None:
        docs = _earliest_per_id(_docs(batch_df, doc_id_field, text_field), "doc_id")
        sd.fold_batch(spark, docs, index_root)

    _fold_feed(spark, url, root, _fold, "dedup-index")
    n = _count_or_zero(spark, f"{root}/{sd.SHINGLES_DIR}")
    return {"index_root": index_root, "indexed_docs": n}


def run_ann_index(
    spark: SparkSession,
    url: str,
    index_root: str,
    *,
    id_field: str = "vec_id",
    vec_field: str = "embedding",
    k: int = 16,
    iters: int = 2,
) -> dict:
    """Feed → persisted ANN index: the vector twin of
    :func:`run_dedup_index`. Each micro-batch's ``data`` payloads are
    projected to (vec_id, embedding) vectors and folded into the
    persistent IVF index (operators/ann_index.py) — "the corpus becomes
    searchable as it arrives from the feed".

    Bootstrap-then-upsert: the first non-empty batch against an ABSENT
    index trains the coarse quantizer from itself (build_index — the
    deterministic Lloyd rounds); every later batch is a frozen-quantizer
    ``upsert_vectors`` append. Centroid drift vs the growing corpus is
    the documented upsert trade (recall degrades gracefully, correctness
    never — see ann_index.upsert_vectors); periodic ``build_index`` over
    the landed corpus is the caller's rebuild policy.

    Redelivery (see :func:`_fold_feed`): upsert's per-id anti-join guard
    absorbs it. The build-vs-upsert branch is re-decided per batch from
    index PRESENCE, so a redelivered bootstrap batch lands on the upsert
    path and no-ops. Returns {"index_root", "indexed_vectors"}."""
    from http_feeds_spark.operators import ann_index as ai

    root = index_root.rstrip("/")

    def _fold(batch_df: DataFrame, _batch_id: int) -> None:
        vecs = _vectors(batch_df, id_field, vec_field, "float")
        if vecs.limit(1).count() == 0:
            return  # vector-free batch: never bootstrap an empty quantizer
        if not ai.ensure_index(spark, vecs, index_root, k=k, iters=iters):
            ai.upsert_vectors(spark, vecs, index_root)

    _fold_feed(spark, url, root, _fold, "ann-index")
    n = _count_or_zero(spark, f"{root}/{ai.CORPUS_DIR}")
    return {"index_root": index_root, "indexed_vectors": n}


def run_media_index(
    spark: SparkSession,
    url: str,
    media_root: str,
    *,
    doc_id_field: str = "doc_id",
    payload_field: str = "payload_b64",
) -> dict:
    """Feed → persisted media store: the MEDIA sibling of
    :func:`run_dedup_index` (r13 — the media tier becomes a platform
    citizen). Each micro-batch's ``data`` payloads are projected to
    (doc_id, payload) binary documents — the payload rides the feed
    base64-encoded under ``payload_field`` (CloudEvents ``data`` is
    JSON; base64 is its binary convention) — and folded into the
    persistent media store (streaming/media.fold_batch): one router
    metadata row per payload plus pixel-phash rows for decodable images
    and constellation rows for decodable audio.

    Redelivery (see :func:`_fold_feed`): fold_batch's per-doc-id
    anti-join absorbs it. Events whose payload lacks the fields
    (tombstones, text documents, other event types) are skipped.
    Returns {"index_root", "indexed_docs"}."""
    from http_feeds_spark.streaming import media as smedia

    root = media_root.rstrip("/")

    def _fold(batch_df: DataFrame, _batch_id: int) -> None:
        docs = batch_df.select(
            F.get_json_object("data", f"$.{doc_id_field}")
            .cast("long")
            .alias("doc_id"),
            # try_to_binary, not unbase64: one malformed base64 payload
            # must become a skipped NULL row (the media tier's
            # skip-don't-crash convention), not an ANSI error that
            # kills the whole fold
            F.try_to_binary(
                F.get_json_object("data", f"$.{payload_field}"), F.lit("base64")
            ).alias("payload"),
        ).where(F.col("doc_id").isNotNull() & F.col("payload").isNotNull())
        smedia.fold_batch(spark, _earliest_per_id(docs, "doc_id"), media_root)

    _fold_feed(spark, url, root, _fold, "media-index")
    n = _count_or_zero(spark, f"{root}/{smedia.META_DIR}")
    return {"index_root": media_root, "indexed_docs": n}


def run_monitor(
    spark: SparkSession,
    url: str,
    monitor_root: str,
    *,
    doc_id_field: str = "doc_id",
    text_field: str = "text",
) -> dict:
    """Feed → continuous corpus monitoring (streaming/monitor.py): each
    micro-batch's document payloads are summarized into the mergeable
    stats/word-count stores, keyed by the foreachBatch batch id —
    at-least-once replay rewrites the same batch directories with the
    same deterministic content (exactly-once store effect, the
    run_dedup_index convention). Drift between any two batch ranges is
    then answerable from the store alone (monitor.js_between), no
    document re-reads. Returns {"monitor_root", "batches", "n_docs"}."""
    from http_feeds_spark.streaming import monitor as mon

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        docs = _docs(batch_df, doc_id_field, text_field)
        mon.fold_batch(spark, docs, monitor_root, batch_id)

    _fold_feed(spark, url, monitor_root.rstrip("/"), _fold, "monitor")
    stats = mon.read_stats(spark, monitor_root)
    agg = stats.agg(
        F.count("*").alias("b"), F.coalesce(F.sum("n_docs"), F.lit(0)).alias("d")
    ).collect()[0]
    return {"monitor_root": monitor_root, "batches": int(agg.b), "n_docs": int(agg.d)}


def run_text_index(
    spark: SparkSession,
    url: str,
    index_root: str,
    *,
    doc_id_field: str = "doc_id",
    text_field: str = "text",
) -> dict:
    """Feed → persisted inverted index: the lexical twin of
    :func:`run_ann_index` — each micro-batch's document payloads land
    as one posting batch (operators/text_index.upsert_documents), so
    the corpus becomes BM25-searchable as it arrives from the feed.

    Redelivery (see :func:`_fold_feed`): the upsert's per-doc-id
    anti-join guard absorbs it; a batch torn mid-write has no _SUCCESS
    marker and is invisible until the retry overwrites it; a crash
    between batch commit and the derived-store rewrite is healed at
    search time (text_index module docstring). Bootstrap = build on
    first documents, upsert after, decided per batch from index presence
    (the run_ann_index rule). Returns {"index_root", "indexed_docs"}."""
    from http_feeds_spark.operators import text_index as ti
    from http_feeds_spark.stores import parquet_exists

    root = index_root.rstrip("/")

    def _fold(batch_df: DataFrame, _batch_id: int) -> None:
        docs = _earliest_per_id(_docs(batch_df, doc_id_field, text_field), "doc_id")
        if docs.limit(1).count() == 0:
            return
        if not ti.ensure_text_index(spark, docs, index_root):
            ti.upsert_documents(spark, docs, index_root)

    _fold_feed(spark, url, root, _fold, "text-index")
    meta = f"{root}/{ti.META_DIR}"
    n = (
        int(spark.read.parquet(meta).collect()[0].n_docs)
        if parquet_exists(spark, meta)
        else 0
    )
    return {"index_root": index_root, "indexed_docs": n}


def run_pq_index(
    spark: SparkSession,
    url: str,
    index_root: str,
    *,
    id_field: str = "vec_id",
    vec_field: str = "embedding",
    nlist: int = 16,
    m: int = 4,
    ksub: int = 16,
    iters: int = 2,
) -> dict:
    """Feed → persisted IVF+PQ index: the compressed twin of
    :func:`run_ann_index`. Bootstrap trains quantizer + codebooks from
    the first non-empty batch (build_pq_index); every later batch is a
    frozen-model ``pq_index.upsert_vectors`` append (map-only encode,
    per-id idempotence absorbs at-least-once redelivery). Codebook
    drift vs the growing corpus is the documented frozen-model trade;
    rebuild policy is the caller's. Returns
    {"index_root", "indexed_vectors"}."""
    from http_feeds_spark.operators import pq_index as pqi

    root = index_root.rstrip("/")

    def _fold(batch_df: DataFrame, _batch_id: int) -> None:
        vecs = _vectors(batch_df, id_field, vec_field, "double")
        if vecs.limit(1).count() == 0:
            return
        # validate=False: the bootstrap trains from the FIRST batch of a
        # growing feed — under-populated codebooks are the documented
        # bootstrap trade there, not the configuration mistake the
        # refuse-loudly gate exists for (pq_index.build_pq_index)
        if not pqi.ensure_pq_index(
            spark, vecs, index_root, nlist=nlist, m=m, ksub=ksub, iters=iters,
            validate=False,
        ):
            pqi.upsert_vectors(spark, vecs, index_root)

    _fold_feed(spark, url, root, _fold, "pq-index")
    n = _count_or_zero(spark, f"{root}/{pqi.CODES_DIR}")
    return {"index_root": index_root, "indexed_vectors": n}


def run_erasure(
    spark: SparkSession,
    url: str,
    *,
    text_index_root: str | None = None,
    ann_index_root: str | None = None,
    pq_index_root: str | None = None,
    dedup_index_root: str | None = None,
    media_index_root: str | None = None,
    purge: bool = False,
) -> dict:
    """Feed DELETE tombstones → erasure across every derived store.

    The spec's deletion signal is the tombstone (README.md:270-292): a
    DELETE entry tells consumers to drop the aggregate. The landing
    zone honors it via compaction (compact_now); the DERIVED stores —
    inverted index, ANN/PQ vector indexes, LSH dedup index — need this
    propagation pass (operators/erasure.py). The erase set is every
    subject whose LATEST feed entry is a DELETE (drop_tombstoned's
    latest-method test), read once through the batch feed connector; subjects
    must be (string-encoded) numeric doc ids, the same key the index
    ingests (run_dedup_index et al.) extract from the payload.

    ``purge=False`` commits logical erasure only — from that commit, no
    erased id can surface from any store read (each read path anti-joins
    the ledger). ``purge=True`` also rewrites the affected storage and
    clears the ledgers. Idempotent end to end: re-running re-derives the
    same erase set; already-recorded ids are dropped by erase_ids and an
    already-purged store has no affected partitions.

    Landing-zone scope: the RAW landing zone is a parquet STREAMING sink
    — its ``_spark_metadata`` commit log owns file visibility, so an
    in-place rewrite would orphan the log (the next micro-batch would
    re-create it listing only new files, hiding the retained history
    from every log-aware read). Its erasure story is therefore the
    spec's own (README.md:184, :270-292): serve from the COMPACTED copy
    (``compact_now`` — a deleted subject's content never enters it) and
    age raw files out wholesale on a retention window; this function
    covers the DERIVED stores, where targeted physical deletion is
    possible. Returns the per-store counts from propagate_erasure plus
    {"erase_ids": n}."""
    from http_feeds_spark.operators import erasure

    http_feed.register(spark)
    events = spark.read.format("httpfeed").option("url", url).load()
    latest = ops.compact(ops.parse_seq_auto(events))
    is_tomb = F.coalesce(F.col("method"), F.lit("PUT")) == F.lit("DELETE")
    # one walk of the feed: every store's erase_ids and the count below
    # read this snapshot instead of re-walking HTTP from the start
    ids = (
        latest.where(is_tomb)
        .select(F.col("subject").cast("long").alias("id"))
        .where(F.col("id").isNotNull())
        .localCheckpoint()
    )
    out = erasure.propagate_erasure(
        spark,
        ids,
        text_index_root=text_index_root,
        ann_index_root=ann_index_root,
        pq_index_root=pq_index_root,
        dedup_index_root=dedup_index_root,
        media_index_root=media_index_root,
        purge=purge,
    )
    out["erase_ids"] = int(ids.count())
    return out


def run_platform(
    spark: SparkSession,
    url: str,
    platform_root: str,
    *,
    landing: bool = True,
    text_index: bool = True,
    dedup_index: bool = True,
    monitor: bool = True,
    ann_index: bool = False,
    pq_index: bool = False,
    media_index: bool = False,
    erasure: bool = True,
    purge: bool = True,
    rebuild_clusters_after_purge: bool = False,
    compact: bool = True,
    compact_after: int | None = 16,
    record_epochs: bool = True,
    retire_below_seq: int | None = None,
    doc_id_field: str = "doc_id",
    text_field: str = "text",
    vec_field: str = "embedding",
    payload_field: str = "payload_b64",
    verify: bool = False,
) -> dict:
    """The whole document platform in one idempotent catch-up call:

        feed → landing zone (+ compaction honoring tombstones)
             → text index fold        (run_text_index)
             → LSH dedup index fold   (run_dedup_index)
             → corpus monitor fold    (run_monitor)
             → [ANN / PQ vector index folds, when the feed carries an
                embedding field — run_ann_index / run_pq_index]
             → [media store fold, when the feed carries binary payloads
                (base64 under ``payload_field``) — run_media_index
                (r13): router metadata + pixel-phash + audio
                constellation rows per micro-batch]
             → erasure propagation    (run_erasure — DELETE tombstones
               logically erased everywhere, physically purged when
               ``purge``)

    Each component keeps its own store + checkpoint under
    ``<platform_root>/<name>`` and is individually idempotent (per-id
    guards, batch-dir overwrites, snapshot-cleared ledgers), so the
    composition is too: re-running after ANY partial failure resumes
    each component from its own cursor and converges — there is no
    cross-component transaction to tear. Call it on a schedule and the
    platform follows the feed.

    Erasure scope: the monitor holds AGGREGATES (counts, unigram count
    frames, HLL sketches), not subject rows — like k-means centroids,
    they are outside per-subject erasure; the raw landing zone's story
    is compaction + retention (see run_erasure).

    Store maintenance: every fold appends one posting batch / monitor
    unit, so a platform following a feed accumulates one directory per
    catch-up forever unless something merges the prefix. When
    ``compact_after`` is set (default 16), :func:`run_maintenance` runs
    LAST: any store whose visible batch/unit count exceeds it is
    compacted (text_index.compact_postings / monitor.compact_batches —
    both crash-safe by their manifest protocols, answers bit-identical)
    and vacuumed. None disables, for callers scheduling maintenance at
    their own granularity.

    Epochs (r9): after a successful wave (and after maintenance, so the
    recorded frontier survives it) every component's read frontier is
    committed as ``<root>/epochs/<n>`` (http_feeds_spark/epochs.py) —
    a reader that pins epoch N sees EVERY store at wave N while wave
    N+1 lands concurrently: the platform's cross-store consistency
    token without a cross-component transaction. ``record_epochs=False``
    disables. ``retire_below_seq`` runs :func:`retire_landing_history`
    after the landing catch-up (the spec's retention story from the
    one-call API — pass the minimum cursor across consumers that still
    bootstrap from raw). ``verify=True`` (r11) runs the one-call
    :func:`operators.fsck.fsck_platform` audit after everything: the
    report rides the summary under ``"fsck"``, and a MUST-BE-ZERO
    violation (corruption) raises — the audit surface now matches the
    one-call ingest surface. Returns the per-component summaries (+ the
    epoch record)."""
    root = platform_root.rstrip("/")
    out: dict = {"platform_root": platform_root}
    if landing:
        out["landing"] = run(spark, url, f"{root}/landing", compact=compact)
        if retire_below_seq is not None and out["landing"]["raw_rows"]:
            # the spec's retention story from the one-call API: raw ages
            # out below the caller's horizon (the minimum cursor across
            # consumers bootstrapping from raw), compacted serves history
            out["landing"]["retention"] = retire_landing_history(
                spark, f"{root}/landing", horizon_seq=retire_below_seq
            )
    kw = dict(doc_id_field=doc_id_field, text_field=text_field)
    if text_index:
        out["text_index"] = run_text_index(spark, url, f"{root}/text_index", **kw)
    if dedup_index:
        out["dedup_index"] = run_dedup_index(spark, url, f"{root}/dedup_index", **kw)
    if monitor:
        out["monitor"] = run_monitor(spark, url, f"{root}/monitor", **kw)
    vkw = dict(id_field=doc_id_field, vec_field=vec_field)
    if ann_index:
        out["ann_index"] = run_ann_index(spark, url, f"{root}/ann_index", **vkw)
    if pq_index:
        out["pq_index"] = run_pq_index(spark, url, f"{root}/pq_index", **vkw)
    if media_index:
        out["media_index"] = run_media_index(
            spark,
            url,
            f"{root}/media_index",
            doc_id_field=doc_id_field,
            payload_field=payload_field,
        )
    if erasure:
        out["erasure"] = run_erasure(
            spark,
            url,
            text_index_root=f"{root}/text_index" if text_index else None,
            dedup_index_root=f"{root}/dedup_index" if dedup_index else None,
            ann_index_root=f"{root}/ann_index" if ann_index else None,
            pq_index_root=f"{root}/pq_index" if pq_index else None,
            media_index_root=f"{root}/media_index" if media_index else None,
            purge=purge,
        )
        if (
            rebuild_clusters_after_purge
            and out["erasure"].get("dedup_index_purged", 0) > 0
        ):
            # cluster hygiene after a purge: the incremental closure
            # only ever ADDS edges, so a purged bridge doc leaves its
            # merges behind (documented). Opt-in because the rebuild is
            # a full closure over the stored indexes — right after
            # erasures that matter, wasteful on every catch-up.
            from http_feeds_spark.streaming import dedup as sd

            sd.rebuild_assignment(spark, f"{root}/dedup_index")
            out["erasure"]["dedup_clusters_rebuilt"] = True
    if compact_after is not None:
        out["maintenance"] = run_maintenance(
            spark,
            platform_root,
            text_index=text_index,
            monitor=monitor,
            dedup_index=dedup_index,
            ann_index=ann_index,
            pq_index=pq_index,
            media_index=media_index,
            landing=landing,
            compact_after=compact_after,
        )
    if record_epochs:
        # AFTER maintenance, so the recorded frontier names the
        # post-compaction batch/unit ids a pinned reader can still open
        from http_feeds_spark import epochs

        out["epoch"] = epochs.record_epoch(spark, platform_root)
    if verify:
        # one-call audit LAST (r11): the full fsck_platform report rides
        # the summary, and a hard violation — store corruption no retry
        # heals — fails the wave loudly rather than letting a corrupt
        # platform keep serving. Warnings (heal-pending states of the
        # crash-resumable protocols) pass; they are in the report.
        from http_feeds_spark.operators import fsck

        out["fsck"] = fsck.fsck_platform(spark, platform_root)
        if not out["fsck"]["clean"]:
            raise PlatformVerifyError(out)
    return out


class PlatformVerifyError(RuntimeError):
    """run_platform(verify=True) found fsck invariant violations after
    the wave. Carries the FULL wave summary (``.summary``) and the
    complete fsck_platform report (``.report``) so operators get the
    whole audit — per-store families, warnings, clean list — not just
    the violations line, even though the wave raised instead of
    returning. A RuntimeError subclass: pre-r12 callers that caught
    RuntimeError keep working."""

    def __init__(self, summary: dict):
        self.summary = summary
        self.report = summary["fsck"]
        super().__init__(
            "platform fsck found invariant violations after the wave: "
            f"{self.report['violations']} (full report on this "
            "exception's .report; wave summary on .summary)"
        )


def run_maintenance(
    spark: SparkSession,
    platform_root: str,
    *,
    text_index: bool = True,
    monitor: bool = True,
    dedup_index: bool = True,
    ann_index: bool = False,
    pq_index: bool = False,
    media_index: bool = False,
    landing: bool = True,
    compact_after: int = 16,
    files_per_partition: int = 8,
    landing_max_files: int = 64,
) -> dict:
    """The store-maintenance policy: threshold-triggered compaction +
    vacuum for the platform's append-accumulating stores, so a platform
    that follows a feed stays BOUNDED without an external scheduler
    knowing the store internals.

    Policy: a store whose visible batch/unit count exceeds
    ``compact_after`` has its full prefix merged (upto = max visible id);
    the vacuums run unconditionally — they are pure cleanup the view
    never depends on, no-ops when nothing is hidden, and running them
    every call is what makes a crash between a previous compact and its
    vacuum converge on the NEXT call even when the post-compact count is
    back under the threshold. Both compactions are individually
    crash-safe (manifest protocols in text_index.compact_postings /
    monitor.compact_batches) and leave answers bit-identical, so the
    policy layer adds no new crash window. Monitor caveat:
    merging collapses range granularity (you can no longer split inside
    the merged prefix) — callers needing range queries at batch
    granularity should disable here and schedule compact_batches at the
    granularity they keep (e.g. daily).

    Text-index write amplification: the policy is SIZE-TIERED first
    (compact_postings_tiered — only ≥min_run runs of the same size
    class merge, so each byte is rewritten O(log store) times over its
    lifetime and settled large batches are never churned), with the
    full-prefix merge as the fallback that guarantees the
    ``compact_after`` bound when tiering's steady state (min_run ×
    size classes) still exceeds it. The monitor keeps the simple
    full-prefix merge: its units are model-sized aggregate frames, not
    corpus bytes, so amplification there is noise.

    Returns per-store {"batches_before", "batches_after", "vacuumed"}
    (absent stores count 0 and are skipped)."""
    from http_feeds_spark.operators import text_index as ti
    from http_feeds_spark.streaming import monitor as mon

    root = platform_root.rstrip("/")
    out: dict = {}
    if text_index:
        ti_root = f"{root}/text_index"
        before = ti.visible_batches(spark, ti_root)
        summary = {"batches_before": len(before), "batches_after": len(before)}
        if len(before) > compact_after:
            # size-tiered first (LSM write-amplification bound: settled
            # large batches are not rewritten until enough same-sized
            # peers accumulate); full-prefix merge only as the fallback
            # that guarantees the compact_after bound when tiering's
            # steady state (min_run x size classes) still exceeds it
            after = ti.compact_postings_tiered(spark, ti_root)
            if len(after) > compact_after:
                after = ti.compact_postings(spark, ti_root, upto=max(after))
            summary["batches_after"] = len(after)
        summary["vacuumed"] = ti.vacuum_postings(spark, ti_root) if before else 0
        out["text_index"] = summary
    if monitor:
        mon_root = f"{root}/monitor"
        before = mon.visible_units(spark, mon_root)
        summary = {"batches_before": len(before), "batches_after": len(before)}
        if len(before) > compact_after:
            summary["batches_after"] = len(
                mon.compact_batches(
                    spark, mon_root, upto=max(before), run_vacuum=False
                )
            )
        summary["vacuumed"] = mon.vacuum(spark, mon_root) if before else 0
        out["monitor"] = summary

    # the append-partitioned stores (dedup buckets, ANN/PQ clusters) gain
    # one FILE-SET per fold/upsert rather than new batch dirs — their
    # bound is files per partition dir, not batch count
    from http_feeds_spark.stores import data_file_stats

    def _file_compact(name: str, probe_path: str, compact_fn) -> None:
        files, dirs = data_file_stats(spark, probe_path)
        summary = {"files_before": files, "files_after": files}
        if dirs and files > files_per_partition * dirs:
            compact_fn()
            summary["files_after"] = data_file_stats(spark, probe_path)[0]
        if files:
            out[name] = summary

    if dedup_index:
        from http_feeds_spark.streaming import dedup as sd

        sd_root = f"{root}/dedup_index"
        _file_compact(
            "dedup_index",
            f"{sd_root}/{sd.SHINGLES_DIR}",
            lambda: sd.compact_store(spark, sd_root),
        )
    if ann_index:
        from http_feeds_spark.operators import ann_index as ai

        ai_root = f"{root}/ann_index"
        _file_compact(
            "ann_index",
            f"{ai_root}/{ai.CORPUS_DIR}",
            lambda: ai.compact_store(spark, ai_root),
        )
    if pq_index:
        from http_feeds_spark.operators import pq_index as pqi

        pq_root = f"{root}/pq_index"
        _file_compact(
            "pq_index",
            f"{pq_root}/{pqi.CODES_DIR}",
            lambda: pqi.compact_store(spark, pq_root),
        )
    if media_index:
        from http_feeds_spark.streaming import media as smedia

        m_root = f"{root}/media_index"
        _file_compact(
            "media_index",
            f"{m_root}/{smedia.META_DIR}",
            lambda: smedia.compact_store(spark, m_root),
        )
    if landing:
        # the raw landing zone is the streaming SINK — its file bound
        # must go through the sink's commit log (r9, compact_landing_files)
        summary = compact_landing_files(
            spark, f"{root}/landing", max_files=landing_max_files
        )
        if summary["files_before"]:
            out["landing"] = summary
    return out


def _sink_log_state(spark: SparkSession, meta_dir: str):
    """(fs, entries) for a streaming parquet sink's ``_spark_metadata``
    commit log: entries maps batch id -> (file name, [SinkFileStatus
    dicts]). Entry files are written by Spark via temp+rename, so
    presence = committed. Returns (fs, None) when the log is absent."""
    import json

    from http_feeds_spark.stores import hadoop_fs

    fs, jmeta = hadoop_fs(spark, meta_dir)
    if not fs.exists(jmeta):
        return fs, None
    jvm = spark.sparkContext._jvm
    entries: dict[int, tuple[str, list]] = {}
    for st in fs.listStatus(jmeta):
        name = st.getPath().getName()
        base = name[:-8] if name.endswith(".compact") else name
        if name.startswith(".") or not base.isdigit():
            continue
        text = jvm.org.apache.commons.io.IOUtils.toString(
            fs.open(st.getPath()), "UTF-8"
        )
        lines = text.splitlines()
        if not lines or lines[0] != "v1":
            raise ValueError(
                f"unrecognized sink log version in {meta_dir}/{name}: "
                f"{lines[:1]!r} (only v1 is supported)"
            )
        entries[int(base)] = (name, [json.loads(ln) for ln in lines[1:] if ln])
    return fs, entries


def _write_sink_log_entry(spark, fs, meta_dir: str, name: str, statuses: list) -> None:
    """Overwrite one commit-log entry (temp + atomic rename, through the
    Hadoop FS so checksum sidecars stay consistent). A name that does not
    parse as a batch id (the .tmp) is invisible to the log reader."""
    import json

    from http_feeds_spark.stores import hadoop_fs

    _, tmp = hadoop_fs(spark, f"{meta_dir}/.{name}.maint.tmp")
    _, final = hadoop_fs(spark, f"{meta_dir}/{name}")
    body = "v1\n" + "".join(
        json.dumps(s, separators=(",", ":")) + "\n" for s in statuses
    )
    out = fs.create(tmp, True)
    out.write(bytearray(body.encode("utf-8")))
    out.close()
    fs.delete(final, False)
    fs.rename(tmp, final)


def compact_landing_files(
    spark: SparkSession,
    landing_root: str,
    *,
    max_files: int = 64,
    target_files: int = 4,
) -> dict:
    """Small-file compaction for the RAW landing zone — the one store
    run_maintenance could not bound before r9: the streaming parquet
    sink lands one file-set per micro-batch forever (a feed-following
    platform at one catch-up per minute accumulates ~500K files/year),
    and a naive rewrite would orphan the sink's ``_spark_metadata``
    commit log, which OWNS file visibility for every log-aware read.

    This rewrite honors the log. The sink reads its view as: the latest
    compaction entry C (arithmetic from the configured
    ``spark.sql.streaming.fileSink.log.compactInterval``) plus the delta
    entries C+1..B. The rewrite therefore (a) rewrites all committed
    rows into ``target_files`` new data files, (b) rewrites entry C (or
    entry 0 when no boundary has passed) to list exactly those files and
    every later delta entry to list nothing, and (c) deletes the old
    data files. Batch NUMBERING IS PRESERVED — the sink's next
    micro-batch still lands as B+1 and its own future compactions build
    on the rewritten entry (pinned in tests by crossing the next
    boundary after a rewrite). ``rows`` in the summary is re-counted
    through the log-aware reader AFTER the rewrite, so bit-identity is
    part of the operation's own contract.

    Crash story (stage -> manifest -> apply, the store convention):
    new files move into the sink dir FIRST (unreferenced = invisible to
    log readers), then a manifest commits under
    ``<raw>__maint_stage/manifest`` (temp+rename) recording the log
    rewrite and the old files; the log rewrite and old-file deletion
    re-apply idempotently from the manifest on the next call after a
    crash at any point. A fresh attempt first deletes any ``maint-*``
    files the log does not reference (orphans of an attempt that died
    before its manifest committed).

    Single-maintainer assumption, like every store rewrite here: run
    from the platform's maintenance pass, never concurrently with the
    sink or with readers (mid-rewrite a reader can transiently see a
    mixed file set; note the read MODEL is insensitive even then — its
    per-subject latest-row window collapses duplicated rows — but raw
    row counts are not). Returns {"files_before", "files_after",
    "rows"} (no-op below ``max_files``)."""
    return _rewrite_landing(
        spark, landing_root, max_files=max_files, target_files=target_files
    )


def _rewrite_landing(
    spark: SparkSession,
    landing_root: str,
    keep_fn=None,
    *,
    max_files: int | None = None,
    target_files: int = 4,
) -> dict:
    """The shared commit-log surgery (see compact_landing_files for the
    full protocol): resume a torn rewrite from its manifest, then — when
    the gate passes — rewrite ``keep_fn(log-aware raw)`` (None = keep
    everything) into ``target_files`` data files, swap them into the
    log, delete the old files. ``max_files=None`` always rewrites (the
    retention caller); an int gates on the visible file count."""
    import json

    from http_feeds_spark.stores import hadoop_fs

    raw, _, _ = _paths(landing_root)
    meta_dir = f"{raw}/_spark_metadata"
    fs, entries = _sink_log_state(spark, meta_dir)
    stage_dir = f"{raw}__maint_stage"
    manifest_path = f"{stage_dir}/manifest"
    _, jmanifest = hadoop_fs(spark, manifest_path)
    _, jstage = hadoop_fs(spark, stage_dir)

    def _apply(man: dict) -> None:
        """Re-playable post-commit phase: log rewrite + old-file delete."""
        _write_sink_log_entry(
            spark, fs, meta_dir, man["list_entry"], man["new_statuses"]
        )
        for name in man["empty_entries"]:
            _write_sink_log_entry(spark, fs, meta_dir, name, [])
        for p in man["old_paths"]:
            _, jp = hadoop_fs(spark, p)
            fs.delete(jp, False)
        fs.delete(jstage, True)

    if fs.exists(jmanifest):  # resume a torn rewrite, converge first
        jvm = spark.sparkContext._jvm
        man = json.loads(
            jvm.org.apache.commons.io.IOUtils.toString(fs.open(jmanifest), "UTF-8")
        )
        _apply(man)
        fs, entries = _sink_log_state(spark, meta_dir)

    if entries is None:
        return {"files_before": 0, "files_after": 0, "rows": 0}
    B = max(entries)
    # the boundary is the latest OBSERVED .compact entry — the log is
    # self-describing (Spark's own sink reader derives its interval from
    # the compact filenames), so a log written under a different
    # compactInterval than the live config still resolves to exactly the
    # view the sink's reader serves; the rewrite below targets the
    # boundary entry by its existing NAME, so the layout is preserved
    compact_ids = [i for i, (name, _) in entries.items() if name.endswith(".compact")]
    C = max(compact_ids) if compact_ids else -1  # latest boundary <= B, or -1
    view_ids = ([C] if C >= 0 else [0]) + list(range((C if C >= 0 else 0) + 1, B + 1))
    missing = [i for i in view_ids if i not in entries]
    if missing:
        raise ValueError(
            f"sink log at {meta_dir} is missing visible entries {missing}"
        )
    old_statuses = [s for i in view_ids for s in entries[i][1] if s.get("action") != "delete"]
    files_before = len(old_statuses)
    if max_files is not None and files_before <= max_files:
        return {"files_before": files_before, "files_after": files_before}
    if files_before == 0:
        return {"files_before": 0, "files_after": 0, "rows": 0}

    # orphan sweep: maint-* files not referenced by the log are leftovers
    # of an attempt that died before its manifest committed. The sweep
    # also yields the next rewrite GENERATION: names must be fresh per
    # attempt — a second rewrite with no new sink batches in between
    # would otherwise re-target the previous rewrite's file names, and
    # Hadoop rename onto an existing path silently no-ops (the old file
    # would then be deleted as an old path while the log references it)
    referenced = {s["path"].rsplit("/", 1)[-1] for s in old_statuses}
    _, jraw = hadoop_fs(spark, raw)
    gen = 0
    for st in fs.listStatus(jraw):
        name = st.getPath().getName()
        if name.startswith("maint-"):
            if name not in referenced:
                fs.delete(st.getPath(), False)
            else:
                try:
                    gen = max(gen, int(name.split("-")[1]) + 1)
                except ValueError:
                    pass

    rows_df = spark.read.parquet(raw)  # log-aware: exactly the committed rows
    if keep_fn is not None:
        rows_df = keep_fn(rows_df)
    rows_df.repartition(max(1, target_files)).write.mode("overwrite").parquet(
        f"{stage_dir}/data"
    )
    _, jdata = hadoop_fs(spark, f"{stage_dir}/data")
    new_statuses = []
    i = 0
    for st in fs.listStatus(jdata):
        fname = st.getPath().getName()
        if not fname.endswith(".parquet"):
            continue
        dst_name = f"maint-{gen:06d}-{i:05d}.parquet"
        _, jdst = hadoop_fs(spark, f"{raw}/{dst_name}")
        if not fs.rename(st.getPath(), jdst):
            raise IOError(f"could not move {st.getPath()} to {dst_name}")
        dst_st = fs.getFileStatus(jdst)
        new_statuses.append(
            {
                "path": dst_st.getPath().toString(),
                "size": dst_st.getLen(),
                "isDir": False,
                "modificationTime": dst_st.getModificationTime(),
                "blockReplication": 1,
                "blockSize": int(dst_st.getBlockSize()),
                "action": "add",
            }
        )
        i += 1

    man = {
        "list_entry": entries[C][0] if C >= 0 else entries[0][0],
        "new_statuses": new_statuses,
        "empty_entries": [
            entries[j][0] for j in range((C if C >= 0 else 0) + 1, B + 1)
        ],
        "old_paths": [s["path"] for s in old_statuses],
    }
    _, jtmp = hadoop_fs(spark, f"{stage_dir}/.manifest.tmp")
    out = fs.create(jtmp, True)
    out.write(bytearray(json.dumps(man).encode("utf-8")))
    out.close()
    fs.rename(jtmp, jmanifest)  # commit point

    _apply(man)
    return {
        "files_before": files_before,
        "files_after": len(new_statuses),
        "rows": spark.read.parquet(raw).count(),
    }


RETENTION_DIR = "retention"


def retention_horizon(spark: SparkSession, landing_root: str) -> int | None:
    """The landing zone's retirement horizon: raw entries with seq ≤ it
    have been aged out wholesale and live ONLY in the compacted copy.
    None = no retirement has ever run (raw is self-sufficient)."""
    from http_feeds_spark.stores import parquet_exists

    path = f"{landing_root.rstrip('/')}/{RETENTION_DIR}"
    if not parquet_exists(spark, path):
        return None
    return int(spark.read.parquet(path).collect()[0].horizon_seq)


def _full_feed(spark: SparkSession, landing_root: str) -> DataFrame:
    """The COMPLETE event set irrespective of retirement: raw alone
    before any retirement; raw ∪ compacted (deduped on seq — unique per
    entry) after one. Every full-history consumer (compact_now,
    read_model) must read through this, or a post-retirement pass would
    silently drop the aged-out subjects.

    Null-seq rows (opaque wire ids carry no position) bypass the seq
    dedup and union back verbatim: ``dropDuplicates`` treats NULLs as
    EQUAL, so post-retirement it would silently collapse every null-seq
    event into one survivor. They cannot be duplicated between the two
    sides anyway — retirement itself refuses null seqs, so the
    compacted copy's retired slice is all non-null."""
    raw, _, compacted = _paths(landing_root)
    feed = spark.read.parquet(raw)
    if retention_horizon(spark, landing_root) is not None:
        both = feed.unionByName(spark.read.parquet(compacted))
        feed = both.where(F.col("seq").isNotNull()).dropDuplicates(
            ["seq"]
        ).unionByName(both.where(F.col("seq").isNull()))
    return feed


def retire_landing_history(
    spark: SparkSession,
    landing_root: str,
    *,
    horizon_seq: int,
    tombstone_horizon_seq: int | None = None,
    target_files: int = 4,
) -> dict:
    """Age raw landing history out WHOLESALE below a seq horizon — the
    spec's own retention story (README.md:184: keep the feed small;
    compaction owns superseded entries) applied to the landing zone, and
    the missing half of its erasure story (run_erasure docstring): a
    tombstoned subject's content never enters the compacted copy, and
    this pass makes it leave raw, completing physical deletion.

    Protocol, in crash-safe order:

    1. ``compact_now`` — refresh the compacted copy from the FULL feed
       (it reads through :func:`_full_feed`, so re-compaction after a
       prior retirement loses nothing). Everything about to be retired
       is now represented there (latest-per-subject, seq preserved
       verbatim so consumer cursors stay valid; ``tombstone_horizon_seq``
       passes through for mid-replay consumers, README.md:290).
    2. commit the retention marker (max of the prior horizon and this
       one) — from here every full-history read unions compacted in, so
       a crash between marker and rewrite over-serves (duplicates the
       compaction window collapses), never under-serves.
    3. rewrite raw through the commit-log surgery keeping only
       ``seq > horizon_seq`` (same manifest-resume protocol as
       compact_landing_files — re-running converges).

    Refused on a raw zone with null seqs (opaque ids): retiring by seq
    would be meaningless there — mint seq at ingest (parse_seq_auto) or
    normalize upstream. Returns {"horizon_seq", "compacted_rows",
    "files_before", "files_after", "rows"} (rows = raw rows kept)."""
    raw, _, _ = _paths(landing_root)
    if (
        spark.read.parquet(raw)
        .filter(F.col("seq").isNull())
        .limit(1)
        .count()
        > 0
    ):
        raise ValueError(
            "landing zone has null-seq rows (opaque event ids): a seq "
            "retirement horizon is meaningless there — mint seq at "
            "ingest (parse_seq_auto) or normalize the feed upstream"
        )
    compacted_rows = compact_now(
        spark, landing_root, tombstone_horizon_seq=tombstone_horizon_seq
    ).count()
    prior = retention_horizon(spark, landing_root)
    horizon = max(horizon_seq, prior if prior is not None else horizon_seq)
    spark.createDataFrame(
        [(int(horizon),)], "horizon_seq long"
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{landing_root.rstrip('/')}/{RETENTION_DIR}"
    )
    out = _rewrite_landing(
        spark,
        landing_root,
        keep_fn=lambda df: df.where(F.col("seq") > horizon),
        target_files=target_files,
    )
    out.update({"horizon_seq": horizon, "compacted_rows": compacted_rows})
    return out


def _count_or_zero(spark: SparkSession, path: str) -> int:
    """Row count of a parquet dataset; 0 when the sink has committed no
    data files yet (first catch-up against a still-empty feed writes only
    the sink's metadata log — a normal deployment order, not an error)."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path).count()
    except AnalysisException as e:
        msg = str(e)
        if (
            "UNABLE_TO_INFER_SCHEMA" in msg
            or "PATH_NOT_FOUND" in msg
            or "Path does not exist" in msg
        ):
            return 0
        raise


def compact_now(
    spark: SparkSession,
    landing_root: str,
    tombstone_horizon_seq: int | None = None,
) -> DataFrame:
    """Compaction rewrite over the landing zone: latest entry per
    subject, seq positions preserved verbatim (README.md:150-154) so
    consumer cursors stay valid.

    Tombstones: by default every tombstoned subject is dropped — the
    read-model-serving semantics, correct when all consumers of the
    compacted copy are caught up. Pass ``tombstone_horizon_seq`` (the
    minimum cursor across consumers still replaying the compacted copy)
    to retain DELETE entries above the horizon, exactly as
    ``operators/maintenance.compact_landing_zone`` does (README.md:290:
    a mid-replay consumer must still learn of the deletion).

    Seq handling: an all-opaque-id feed (every seq null) gets seqs
    minted from the deterministic (time, id) rank. A feed MIXING
    positional and opaque ids is rejected: re-minting would renumber the
    positional rows and silently invalidate every persisted consumer
    cursor — the one thing this rewrite promises not to do.

    Retirement-aware (r9): reads through :func:`_full_feed`, so after a
    ``retire_landing_history`` pass — raw holding only the tail — the
    rewrite still compacts the COMPLETE history (the prior compacted
    copy is an input to its own replacement; dropping it here would be
    the data-loss bug the retention marker exists to prevent).
    """
    raw, _, compacted = _paths(landing_root)
    feed = _full_feed(spark, landing_root)
    if retention_horizon(spark, landing_root) is not None:
        # the plan now READS `compacted` while this rewrite OVERWRITES
        # it — materialize first (Spark refuses read-and-overwrite of
        # one path in a single job, and rightly so)
        feed = feed.localCheckpoint()
    has_null = feed.filter(F.col("seq").isNull()).limit(1).count() > 0
    if has_null:
        if feed.filter(F.col("seq").isNotNull()).limit(1).count() > 0:
            raise ValueError(
                "landing zone mixes positional and opaque event ids: "
                "re-minting seq would invalidate persisted consumer "
                "cursors (README.md:150-154). Normalize the feed's id "
                "encoding upstream, or mint seq at ingest."
            )
        feed = ops.mint_seq(feed.drop("seq"))
    compacted_df = ops.drop_tombstoned(
        ops.compact(feed), horizon_seq=tombstone_horizon_seq
    )
    # size the rewrite from the session's parallelism — deriving it from
    # the plan's RDD would materialize the whole lineage just to read a
    # partition count; AQE coalesces any excess at write time
    (
        compacted_df.repartitionByRange(
            max(1, spark.sparkContext.defaultParallelism), "seq"
        )
        .sortWithinPartitions("seq")
        .write.mode("overwrite")
        .parquet(compacted)
    )
    return spark.read.parquet(compacted)


def read_model(spark: SparkSession, landing_root: str, prefer_compacted: bool = False) -> DataFrame:
    """The consumer-facing read model (latest live state per subject,
    README.md:168-179) from the landing zone.

    Served from RAW by default: raw is append-only and always current,
    while the compacted rewrite is only as fresh as the last
    ``compact_now`` call — serving it unconditionally would silently
    omit every event ingested since (new subjects missing, updates
    stale, deletions resurrected). ``prefer_compacted=True`` opts into
    the cheaper compacted scan for callers that control the
    compact-then-read ordering (e.g. a bootstrap job that just ran
    ``run(..., compact=True)``); it falls back to raw when no compacted
    copy exists.

    Retirement-aware (r9): once ``retire_landing_history`` has aged raw
    history out, raw alone is NOT self-sufficient — the retention
    marker routes every read through :func:`_full_feed` (raw tail ∪
    compacted), so retired-but-live subjects keep answering and
    ``prefer_compacted`` only matters pre-retirement."""
    from http_feeds_spark.stores import parquet_exists

    raw, _, compacted = _paths(landing_root)
    if retention_horizon(spark, landing_root) is not None:
        return ops.read_model(_full_feed(spark, landing_root))
    # only a definitively-ABSENT compacted store falls back to raw; a
    # corrupted/unreadable one propagates (silently masking it would hide
    # a broken artifact behind a correct-but-expensive raw scan)
    if prefer_compacted and parquet_exists(spark, compacted):
        # compacted is already latest-per-subject minus tombstones;
        # re-applying read_model is an idempotent no-op kept for safety
        return ops.read_model(spark.read.parquet(compacted))
    return ops.read_model(spark.read.parquet(raw))
