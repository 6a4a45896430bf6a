"""Orchestrated ingest — the one-call composition of the engine's pieces:

    HTTP feed connector  →  Parquet landing zone  →  folds, compaction,
                                                      read model

Each piece exists standalone (sources/http_feed.py, operators/maintenance.py,
operators/feed.py); this module wires them into the pipeline a consumer
actually deploys. The platform is ONE consumer of the feed, as a broker
replacement should be: :func:`run` is its only HTTP reader and only
streaming query.

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
- Every derived store folds the landed events after its own cursor — an
  ``offset_scan`` on ``seq``, which landing compaction and retirement keep
  verbatim — in ranges of at most ``_FOLD_MAX_ROWS`` rows, and commits the
  highest ``seq`` it folded to ``<store>/_cursor`` only after its store
  write. A crash in between refolds the same range: the id-guarded folds
  drop what they hold, and the monitor rewrites the unit keyed by the
  range's start. A landed null-seq row has no position to keep, so a fold
  refuses it (:class:`NullSeqError`) before any write.

100 TB posture: the connector is a serial cursor walk by protocol design
(see sources/http_feed.py) — the landing zone is where scale-out begins.
Folds, erasure and a new consumer's bootstrap read it (distributed parquet
scan), never re-walk HTTP; compaction is the periodic maintenance rewrite
(window per subject, one shuffle) that keeps bootstrap cost proportional
to live subjects, not feed history (README.md:184).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from http_feeds_spark.operators import feed as ops
from http_feeds_spark.session import job_tag, run_concurrently
from http_feeds_spark.sources import http_feed
from http_feeds_spark.stores import data_file_stats, hadoop_fs, or_none, parquet_exists

RAW_DIR = "raw"
CHECKPOINT_DIR = "_checkpoint"
COMPACTED_DIR = "compacted"
# a fold's cursor: the highest landed seq it has folded
CURSOR_FILE = "_cursor"
# most landed rows one fold range holds, as http_feed._READ_MAX_EVENTS
# bounds a micro-batch: a new or lagging store folds its backlog in steps
_FOLD_MAX_ROWS = 100_000
# how long one AvailableNow landing catch-up may take before it is
# stopped and reported as a TimeoutError
CATCH_UP_TIMEOUT_S = 240.0


class NullSeqError(ValueError):
    """Landed rows without ``seq``: opaque wire ids carry no position a
    cursor could keep across compaction (README.md:150-159)."""


def _paths(landing_root: str) -> tuple[str, str, str]:
    root = landing_root.rstrip("/")
    return (
        f"{root}/{RAW_DIR}",
        f"{root}/{CHECKPOINT_DIR}",
        f"{root}/{COMPACTED_DIR}",
    )


def _read_text(spark: SparkSession, path: str) -> str | None:
    """A small file's content through the Hadoop FS; None when absent."""
    fs, p = hadoop_fs(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return spark.sparkContext._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def _write_text(spark: SparkSession, path: str, body: str) -> None:
    """Replace a small file: a dot-named temp beside it, renamed over
    `path` through the Hadoop FS (checksum sidecars stay consistent);
    delete + rename where rename refuses to replace."""
    parent, name = path.rstrip("/").rsplit("/", 1)
    fs, final = hadoop_fs(spark, path)
    _, tmp = hadoop_fs(spark, f"{parent}/.{name}.tmp")
    out = fs.create(tmp, True)
    out.write(bytearray(body.encode("utf-8")))
    out.close()
    if not fs.rename(tmp, final):
        fs.delete(final, False)
        if not fs.rename(tmp, final):
            raise IOError(f"could not move {tmp} to {path}")


def _uncommitted_batch(spark: SparkSession, ckpt: str) -> bool:
    """Whether the checkpoint's offset log holds a batch its commit log
    lacks — a crash between the two writes."""
    def last(log: str) -> int:
        fs, p = hadoop_fs(spark, f"{ckpt}/{log}")
        if not fs.exists(p):
            return -1
        names = (st.getPath().getName() for st in fs.listStatus(p))
        return max((int(n) for n in names if n.isdigit()), default=-1)

    return last("offsets") > last("commits")


def _fold_landing(spark: SparkSession, landing_root: str, root: str, fold) -> None:
    """One catch-up of a derived store at `root`: ``fold(rows, cursor)``
    gets the events landed after the store's cursor in seq ranges of at
    most :data:`_FOLD_MAX_ROWS` rows, each one partition (as a feed
    micro-batch is, so per-id reductions plan without a shuffle), and
    the cursor moves to a range's end only after ``fold`` returns. A
    retry cuts the same ranges from the committed cursor. Null-seq rows
    raise :class:`NullSeqError` before ``fold`` runs. Reading the
    snapshot's size, end and null count materialises it (two jobs: the
    aggregate's shuffle map stage, then its result); finding a range's
    end costs one more job per range when the backlog exceeds one."""
    feed = or_none(lambda: _full_feed(spark, landing_root))
    if feed is None:
        return
    cursor_path = f"{root}/{CURSOR_FILE}"
    text = _read_text(spark, cursor_path)
    cursor = int(text) if text else None
    rows = ops.offset_scan(feed, cursor)
    if cursor is not None:  # the range predicate drops null seqs
        rows = rows.unionByName(feed.where(F.col("seq").isNull()))
    # not an Observation: once a session holds one, Spark's observation
    # listener logs every later failed query (an absent-path probe) as
    # an ERROR with its stack trace
    rows = rows.localCheckpoint(eager=False)
    hi, n, nulls = rows.agg(
        F.max("seq"), F.count(F.lit(1)), F.count_if(F.col("seq").isNull())
    ).first()
    if nulls:
        raise NullSeqError(
            f"{nulls} rows landed under {landing_root} have no seq (opaque "
            "event ids): a fold cursor needs positions — mint seq at ingest "
            "or normalize the feed's ids upstream"
        )
    while hi is not None:
        end = hi
        if n > _FOLD_MAX_ROWS:
            # the range's end: the _FOLD_MAX_ROWS-th lowest seq left
            nth = rows.select("seq").orderBy("seq").offset(_FOLD_MAX_ROWS - 1).first()
            end = nth.seq if nth is not None else hi
        fold(rows.where(F.col("seq") <= end).coalesce(1), cursor)
        _write_text(spark, cursor_path, str(end))
        if end == hi:
            return
        cursor, n = end, n - _FOLD_MAX_ROWS
        rows = rows.where(F.col("seq") > end)


def _docs(rows: DataFrame, doc_id_field: str, text_field: str) -> DataFrame:
    """(doc_id, text, seq) documents of landed payloads; events without
    both fields (tombstones, other event types) are skipped."""
    return rows.select(
        F.get_json_object("data", f"$.{doc_id_field}").cast("long").alias("doc_id"),
        F.get_json_object("data", f"$.{text_field}").alias("text"),
        "seq",
    ).where(F.col("doc_id").isNotNull() & F.col("text").isNotNull())


def _vectors(
    rows: DataFrame, id_field: str, vec_field: str, element: str
) -> DataFrame:
    """(vec_id, embedding array<element>) vectors of landed payloads, one
    per id (:func:`_earliest_per_id`); events without both fields are
    skipped."""
    vecs = rows.select(
        F.get_json_object("data", f"$.{id_field}").cast("long").alias("vec_id"),
        F.from_json(
            F.get_json_object("data", f"$.{vec_field}"), f"array<{element}>"
        ).alias("embedding"),
        "seq",
    ).where(F.col("vec_id").isNotNull() & F.col("embedding").isNotNull())
    return _earliest_per_id(vecs, "vec_id")


def _earliest_per_id(rows: DataFrame, key: str) -> DataFrame:
    """One row per `key`: the earliest landed (lowest ``seq``), without
    the ``seq`` column. The id-guarded folds keep a stored id's first
    version and drop later ones; this applies the same rule inside one
    range, so the result does not depend on how events were grouped
    into ranges."""
    rest = [c for c in rows.columns if c not in (key, "seq")]
    return rows.groupBy(key).agg(*[F.min_by(c, "seq").alias(c) for c in rest])


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
    http_feed.register(spark)
    reader = spark.readStream.format("httpfeed").option("url", url)
    if timeout_ms is not None:
        reader = reader.option("timeout", str(timeout_ms))
    writer = (
        ops.parse_seq_auto(reader.load())
        .writeStream.format("parquet")
        .option("path", raw)
        .option("checkpointLocation", ckpt)
    )
    if not catch_up:
        return writer.trigger(processingTime="500 milliseconds").start()

    # after a crash between a batch's offset and commit writes, Spark's
    # single-batch AvailableNow (its fallback for Python sources) only
    # re-runs that batch; a second trigger walks on to the feed end
    for _ in range(1 + _uncommitted_batch(spark, ckpt)):
        q = writer.trigger(availableNow=True).start()
        if not q.awaitTermination(CATCH_UP_TIMEOUT_S):
            q.stop()
            raise TimeoutError(
                f"landing catch-up did not drain the feed within {CATCH_UP_TIMEOUT_S}s"
            )
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
    landing_root: str,
    index_root: str,
    *,
    doc_id_field: str = "doc_id",
    text_field: str = "text",
) -> dict:
    """Landing zone → near-dup index: the (doc_id, text) documents
    landed after the index's cursor fold into the persistent LSH index
    (streaming/dedup.fold_batch) — "dedup the corpus as it grows from
    the feed". fold_batch's per-doc-id idempotence absorbs a refold
    (:func:`_fold_landing`). Returns {"index_root", "indexed_docs"}."""
    from http_feeds_spark.streaming import dedup as sd

    root = index_root.rstrip("/")

    def _fold(rows: DataFrame, _cursor) -> None:
        docs = _earliest_per_id(_docs(rows, doc_id_field, text_field), "doc_id")
        sd.fold_batch(spark, docs, index_root)

    _fold_landing(spark, landing_root, root, _fold)
    n = _count_or_zero(spark, f"{root}/{sd.SHINGLES_DIR}")
    return {"index_root": index_root, "indexed_docs": n}


def run_ann_index(
    spark: SparkSession,
    landing_root: str,
    index_root: str,
    *,
    id_field: str = "vec_id",
    vec_field: str = "embedding",
    k: int = 16,
    iters: int = 2,
) -> dict:
    """Landing zone → persisted ANN index: the vector twin of
    :func:`run_dedup_index` — the (vec_id, embedding) vectors landed
    after the index's cursor fold into the IVF index
    (operators/ann_index.py).

    Bootstrap-then-upsert: the first non-empty range against an ABSENT
    index trains the coarse quantizer from itself (build_index); every
    later range is a frozen-quantizer ``upsert_vectors`` append, whose
    per-id anti-join absorbs a refold. The build-vs-upsert branch is
    re-decided per range from index PRESENCE, so a refolded bootstrap
    range lands on the upsert path and no-ops. Centroid drift vs the
    growing corpus is the documented upsert trade (recall degrades
    gracefully, correctness never — see ann_index.upsert_vectors);
    periodic ``build_index`` over the landed corpus is the caller's
    rebuild policy. Returns {"index_root", "indexed_vectors"}."""
    from http_feeds_spark.operators import ann_index as ai

    root = index_root.rstrip("/")

    def _fold(rows: DataFrame, _cursor) -> None:
        vecs = _vectors(rows, id_field, vec_field, "float")
        if vecs.limit(1).count() == 0:
            return  # vector-free range: never bootstrap an empty quantizer
        if not ai.ensure_index(spark, vecs, index_root, k=k, iters=iters):
            ai.upsert_vectors(spark, vecs, index_root)

    _fold_landing(spark, landing_root, root, _fold)
    n = _count_or_zero(spark, f"{root}/{ai.CORPUS_DIR}")
    return {"index_root": index_root, "indexed_vectors": n}


def run_media_index(
    spark: SparkSession,
    landing_root: str,
    media_root: str,
    *,
    doc_id_field: str = "doc_id",
    payload_field: str = "payload_b64",
) -> dict:
    """Landing zone → persisted media store: the MEDIA sibling of
    :func:`run_dedup_index`. The (doc_id, payload) binary documents
    landed after the store's cursor — the payload rides the feed
    base64-encoded under ``payload_field`` (CloudEvents ``data`` is
    JSON; base64 is its binary convention) — fold into the media store
    (streaming/media.fold_batch): router metadata plus pixel-phash and
    audio constellation rows for decodable payloads. fold_batch's
    per-doc-id anti-join absorbs a refold; events without the fields
    are skipped. Returns {"index_root", "indexed_docs"}."""
    from http_feeds_spark.streaming import media as smedia

    root = media_root.rstrip("/")

    def _fold(rows: DataFrame, _cursor) -> None:
        docs = rows.select(
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
            "seq",
        ).where(F.col("doc_id").isNotNull() & F.col("payload").isNotNull())
        smedia.fold_batch(spark, _earliest_per_id(docs, "doc_id"), media_root)

    _fold_landing(spark, landing_root, root, _fold)
    n = _count_or_zero(spark, f"{root}/{smedia.META_DIR}")
    return {"index_root": media_root, "indexed_docs": n}


def run_monitor(
    spark: SparkSession,
    landing_root: str,
    monitor_root: str,
    *,
    doc_id_field: str = "doc_id",
    text_field: str = "text",
) -> dict:
    """Landing zone → corpus monitoring (streaming/monitor.py): the
    documents landed after the monitor's cursor are summarized into the
    mergeable stats/word-count/sketch stores as one unit. The monitor
    counts rows, so it is not idempotent per id: the unit is keyed by
    the cursor the fold started from, and a refold
    (:func:`_fold_landing`) rewrites the same unit. Drift between unit
    ranges is answerable from the store alone (monitor.js_between).
    Returns {"monitor_root", "batches", "n_docs"}."""
    from http_feeds_spark.streaming import monitor as mon

    def _fold(rows: DataFrame, cursor: int | None) -> None:
        unit = 0 if cursor is None else cursor + 1  # first seq the range can hold
        mon.fold_batch(spark, _docs(rows, doc_id_field, text_field), monitor_root, unit)

    _fold_landing(spark, landing_root, monitor_root.rstrip("/"), _fold)
    stats = mon.read_stats(spark, monitor_root)
    agg = stats.agg(
        F.count("*").alias("b"), F.coalesce(F.sum("n_docs"), F.lit(0)).alias("d")
    ).collect()[0]
    return {"monitor_root": monitor_root, "batches": int(agg.b), "n_docs": int(agg.d)}


def run_text_index(
    spark: SparkSession,
    landing_root: str,
    index_root: str,
    *,
    doc_id_field: str = "doc_id",
    text_field: str = "text",
) -> dict:
    """Landing zone → persisted inverted index: the documents landed
    after the index's cursor land as one posting batch
    (operators/text_index), built on first documents and upserted after,
    so the corpus becomes BM25-searchable as it arrives. The upsert's
    per-doc-id anti-join absorbs a refold (:func:`_fold_landing`); a
    batch torn mid-write has no _SUCCESS marker and stays invisible
    until the retry overwrites it; a crash between batch commit and the
    derived-store rewrite is healed at search time (text_index module
    docstring). Returns {"index_root", "indexed_docs"}."""
    from http_feeds_spark.operators import text_index as ti
    root = index_root.rstrip("/")

    def _fold(rows: DataFrame, _cursor) -> None:
        docs = _earliest_per_id(_docs(rows, doc_id_field, text_field), "doc_id")
        if docs.limit(1).count() == 0:
            return
        if not ti.ensure_text_index(spark, docs, index_root):
            ti.upsert_documents(spark, docs, index_root)

    _fold_landing(spark, landing_root, root, _fold)
    meta = or_none(lambda: spark.read.parquet(f"{root}/{ti.META_DIR}").first())
    return {"index_root": index_root, "indexed_docs": int(meta.n_docs) if meta else 0}


def run_pq_index(
    spark: SparkSession,
    landing_root: str,
    index_root: str,
    *,
    id_field: str = "vec_id",
    vec_field: str = "embedding",
    nlist: int = 16,
    m: int = 4,
    ksub: int = 16,
    iters: int = 2,
) -> dict:
    """Landing zone → persisted IVF+PQ index: the compressed twin of
    :func:`run_ann_index` — bootstrap trains quantizer + codebooks from
    the first non-empty range, every later range is a frozen-model
    ``pq_index.upsert_vectors`` append (map-only encode) whose per-id
    idempotence absorbs a refold. Codebook drift vs the growing corpus
    is the documented frozen-model trade; rebuild policy is the
    caller's. Returns {"index_root", "indexed_vectors"}."""
    from http_feeds_spark.operators import pq_index as pqi

    root = index_root.rstrip("/")

    def _fold(rows: DataFrame, _cursor) -> None:
        vecs = _vectors(rows, id_field, vec_field, "double")
        if vecs.limit(1).count() == 0:
            return
        # validate=False: the bootstrap trains from the FIRST range of a
        # growing feed — under-populated codebooks are the documented
        # bootstrap trade there, not the configuration mistake the
        # refuse-loudly gate exists for (pq_index.build_pq_index)
        if not pqi.ensure_pq_index(
            spark, vecs, index_root, nlist=nlist, m=m, ksub=ksub, iters=iters,
            validate=False,
        ):
            pqi.upsert_vectors(spark, vecs, index_root)

    _fold_landing(spark, landing_root, root, _fold)
    n = _count_or_zero(spark, f"{root}/{pqi.CODES_DIR}")
    return {"index_root": index_root, "indexed_vectors": n}


def run_erasure(
    spark: SparkSession,
    landing_root: str,
    *,
    text_index_root: str | None = None,
    ann_index_root: str | None = None,
    pq_index_root: str | None = None,
    dedup_index_root: str | None = None,
    media_index_root: str | None = None,
    purge: bool = False,
) -> dict:
    """Landed DELETE tombstones → erasure across every derived store.

    The spec's deletion signal is the tombstone (README.md:270-292). The
    landing zone honors it via compaction (compact_now); the DERIVED
    stores need this propagation pass (operators/erasure.py). The erase
    set is every subject whose LATEST landed entry is a DELETE, read
    once from the landing zone — so run it before
    :func:`retire_landing_history` ages a DELETE out of raw. Subjects
    must be (string-encoded) numeric doc ids, the key the folds extract
    from the payload.

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

    feed = or_none(lambda: _full_feed(spark, landing_root))
    if feed is None:
        ids = spark.createDataFrame([], "id long")
    else:
        is_tomb = F.coalesce(F.col("method"), F.lit("PUT")) == F.lit("DELETE")
        # one snapshot: every store's erase_ids and the count below read
        # it instead of recompacting the landing zone
        ids = (
            ops.compact(feed)
            .where(is_tomb)
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
             → folds of the landing zone: text index, LSH dedup index,
               corpus monitor, and optionally the ANN / PQ vector
               indexes and the media store (base64 under
               ``payload_field``)
             → erasure propagation (DELETE tombstones logically erased
               everywhere, physically purged when ``purge``)

    The landing catch-up into ``<platform_root>/landing`` is the wave's
    only HTTP walk and only streaming query. Each other component keeps
    its own store + landed-``seq`` cursor under
    ``<platform_root>/<name>`` and is individually idempotent (per-id
    guards, cursor-keyed units, snapshot-cleared ledgers), so the
    composition is too: re-running after ANY partial failure resumes
    each component from its own cursor and converges — there is no
    cross-component transaction to tear. Call it on a schedule and the
    platform follows the feed.

    Stages. The components that only read what the others write run
    side by side, one thread each (``session.run_concurrently``):

    1. landing (with its compaction), alone;
    2. every enabled fold at once: text, dedup, monitor, ANN, PQ, media.
       They all read the landing zone, which nothing writes until the
       last of them returns — the barrier — so every store's count
       (``indexed_docs``, ...) is taken before any erasure;
    3. erasure: the erase set is read once, then each store's
       ``erase_ids`` + purge run at once (erasure.propagate_erasure),
       followed by the optional cluster rebuild;
    4. retirement, maintenance, epochs and fsck, one after another.

    A failure inside a concurrent stage does not stop the stage: the
    other components run to their end and commit their cursors or
    purges, then the first failure (in the order above) is raised, and
    no later stage runs. The next call resumes every component from its
    own cursor. Every job of the wave carries the job tag
    ``platform:<component>`` (``session.job_tag``) and each store's
    erasure jobs also ``erasure:<store>``, so a component's jobs can be
    told apart in the event log although their spans overlap.

    Erasure scope: the monitor holds AGGREGATES (counts, unigram count
    frames, HLL sketches), not subject rows — like k-means centroids,
    they are outside per-subject erasure; the raw landing zone's story
    is compaction + retention (see run_erasure).

    ``retire_below_seq`` runs :func:`retire_landing_history` after the
    folds and erasure, so nothing rewrites raw before this wave's
    consumers have read it (pass the minimum cursor across consumers
    that still bootstrap from raw).

    Store maintenance: every fold appends one posting batch / monitor
    unit, so a platform following a feed accumulates one directory per
    catch-up forever unless something merges the prefix. So
    :func:`run_maintenance` runs next: a store whose visible batch/unit
    count exceeds ``compact_after`` (default 16; None disables, for
    callers scheduling maintenance at their own granularity) is
    compacted and vacuumed, crash-safe and answers bit-identical.

    Epochs (r9): after a successful wave (and after maintenance, so the
    recorded frontier survives it) every component's read frontier is
    committed as ``<root>/epochs/<n>`` (http_feeds_spark/epochs.py) —
    a reader that pins epoch N sees EVERY store at wave N while wave
    N+1 lands concurrently: the platform's cross-store consistency
    token without a cross-component transaction. ``record_epochs=False``
    disables. ``verify=True`` runs :func:`operators.fsck.fsck_platform`
    last; its report rides the summary under ``"fsck"``, and a
    MUST-BE-ZERO violation raises :class:`PlatformVerifyError`. Returns
    the per-component summaries (+ the epoch record)."""
    root = platform_root.rstrip("/")
    land = f"{root}/landing"
    out: dict = {"platform_root": platform_root}
    with job_tag(spark, "platform:landing"):
        out["landing"] = run(spark, url, land, compact=compact)
    kw = dict(doc_id_field=doc_id_field, text_field=text_field)
    vkw = dict(id_field=doc_id_field, vec_field=vec_field)
    mkw = dict(doc_id_field=doc_id_field, payload_field=payload_field)
    folds = [
        (name, partial(fold, spark, land, f"{root}/{name}", **args))
        for name, enabled, fold, args in (
            ("text_index", text_index, run_text_index, kw),
            ("dedup_index", dedup_index, run_dedup_index, kw),
            ("monitor", monitor, run_monitor, kw),
            ("ann_index", ann_index, run_ann_index, vkw),
            ("pq_index", pq_index, run_pq_index, vkw),
            ("media_index", media_index, run_media_index, mkw),
        )
        if enabled
    ]
    results = run_concurrently(spark, [(f"platform:{name}", fold) for name, fold in folds])
    out.update(zip([name for name, _ in folds], results))
    if erasure:
        with job_tag(spark, "platform:erasure"):
            out["erasure"] = run_erasure(
                spark,
                land,
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
    if retire_below_seq is not None and out["landing"]["raw_rows"]:
        # the spec's retention story from the one-call API: raw ages out
        # below the caller's horizon (the minimum cursor across consumers
        # bootstrapping from raw), compacted serves history. Last among
        # the readers of raw: a DELETE it ages out has reached the stores
        with job_tag(spark, "platform:retention"):
            out["landing"]["retention"] = retire_landing_history(
                spark, land, horizon_seq=retire_below_seq
            )
    if compact_after is not None:
        with job_tag(spark, "platform:maintenance"):
            out["maintenance"] = run_maintenance(
                spark,
                platform_root,
                text_index=text_index,
                monitor=monitor,
                dedup_index=dedup_index,
                ann_index=ann_index,
                pq_index=pq_index,
                media_index=media_index,
                compact_after=compact_after,
            )
    if record_epochs:
        # AFTER maintenance, so the recorded frontier names the
        # post-compaction batch/unit ids a pinned reader can still open
        from http_feeds_spark import epochs

        with job_tag(spark, "platform:epoch"):
            out["epoch"] = epochs.record_epoch(spark, platform_root)
    if verify:
        # one-call audit LAST (r11): the full fsck_platform report rides
        # the summary, and a hard violation — store corruption no retry
        # heals — fails the wave loudly rather than letting a corrupt
        # platform keep serving. Warnings (heal-pending states of the
        # crash-resumable protocols) pass; they are in the report.
        from http_feeds_spark.operators import fsck

        with job_tag(spark, "platform:fsck"):
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

    # the append-partitioned stores (dedup buckets, ANN/PQ clusters, media
    # buckets) gain one FILE-SET per fold/upsert rather than new batch
    # dirs — their bound is files per partition dir, not batch count
    from http_feeds_spark.operators import ann_index as ai
    from http_feeds_spark.operators import pq_index as pqi
    from http_feeds_spark.streaming import dedup as sd
    from http_feeds_spark.streaming import media as smedia

    for name, enabled, mod, data_dir in [
        ("dedup_index", dedup_index, sd, sd.SHINGLES_DIR),
        ("ann_index", ann_index, ai, ai.CORPUS_DIR),
        ("pq_index", pq_index, pqi, pqi.CODES_DIR),
        ("media_index", media_index, smedia, smedia.META_DIR),
    ]:
        if not enabled:
            continue
        store = f"{root}/{name}"
        probe = f"{store}/{data_dir}"
        files, dirs = data_file_stats(spark, probe)
        if not files:
            continue
        out[name] = {"files_before": files, "files_after": files}
        if dirs and files > files_per_partition * dirs:
            mod.compact_store(spark, store)
            out[name]["files_after"] = data_file_stats(spark, probe)[0]
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

    fs, jmeta = hadoop_fs(spark, meta_dir)
    if not fs.exists(jmeta):
        return fs, None
    entries: dict[int, tuple[str, list]] = {}
    for st in fs.listStatus(jmeta):
        name = st.getPath().getName()
        base = name[:-8] if name.endswith(".compact") else name
        if name.startswith(".") or not base.isdigit():
            continue
        lines = _read_text(spark, f"{meta_dir}/{name}").splitlines()
        if not lines or lines[0] != "v1":
            raise ValueError(
                f"unrecognized sink log version in {meta_dir}/{name}: "
                f"{lines[:1]!r} (only v1 is supported)"
            )
        entries[int(base)] = (name, [json.loads(ln) for ln in lines[1:] if ln])
    return fs, entries


def _write_sink_log_entry(spark, meta_dir: str, name: str, statuses: list) -> None:
    """Overwrite one commit-log entry (:func:`_write_text`; its dot-named
    temp does not parse as a batch id, so the log reader skips it)."""
    import json

    body = "v1\n" + "".join(
        json.dumps(s, separators=(",", ":")) + "\n" for s in statuses
    )
    _write_text(spark, f"{meta_dir}/{name}", body)


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

    raw, _, _ = _paths(landing_root)
    meta_dir = f"{raw}/_spark_metadata"
    fs, entries = _sink_log_state(spark, meta_dir)
    stage_dir = f"{raw}__maint_stage"
    manifest_path = f"{stage_dir}/manifest"
    _, jstage = hadoop_fs(spark, stage_dir)

    def _apply(man: dict) -> None:
        """Re-playable post-commit phase: log rewrite + old-file delete."""
        _write_sink_log_entry(spark, meta_dir, man["list_entry"], man["new_statuses"])
        for name in man["empty_entries"]:
            _write_sink_log_entry(spark, meta_dir, name, [])
        for p in man["old_paths"]:
            _, jp = hadoop_fs(spark, p)
            fs.delete(jp, False)
        fs.delete(jstage, True)

    torn = _read_text(spark, manifest_path)
    if torn is not None:  # resume a torn rewrite, converge first
        _apply(json.loads(torn))
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
    _write_text(spark, manifest_path, json.dumps(man))  # commit point

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
    path = f"{landing_root.rstrip('/')}/{RETENTION_DIR}"
    if not parquet_exists(spark, path):
        return None
    row = spark.read.parquet(path).first()
    return None if row is None else int(row.horizon_seq)


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
    from pyspark.sql.types import StructField, StructType

    from http_feeds_spark.schema import ENVELOPE

    raw, _, compacted = _paths(landing_root)
    # the landed schema is known: naming it skips the inference job.
    # Nullable, so rows landed without an envelope field still read
    read = spark.read.schema(
        StructType([StructField(f.name, f.dataType) for f in ENVELOPE.fields])
    )
    feed = read.parquet(raw)
    if retention_horizon(spark, landing_root) is not None:
        both = feed.unionByName(read.parquet(compacted))
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

    Refused on a raw zone with null seqs (opaque ids,
    :class:`NullSeqError`): retiring by seq would be meaningless there.
    Returns {"horizon_seq", "compacted_rows", "files_before",
    "files_after", "rows"} (rows = raw rows kept)."""
    raw, _, _ = _paths(landing_root)
    if spark.read.parquet(raw).filter(F.col("seq").isNull()).limit(1).count():
        raise NullSeqError(
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
    return or_none(lambda: spark.read.parquet(path).count()) or 0


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
