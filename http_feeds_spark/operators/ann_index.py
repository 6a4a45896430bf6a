"""Persistent IVF ANN index — build once, search many (SURVEY §2 D3b at
deployment shape).

``kmeans.ann_search_batch`` trains its coarse quantizer inside every
invocation — right for a self-contained query, wrong for deployment,
where the index is an ARTIFACT: built by one batch job, probed by every
search after. This module persists the two pieces the search path needs
as parquet stores under one index root (the streaming/dedup.py store
pattern — any Hadoop filesystem, object-store ready):

    centroids/   (cid, cvec)                      k rows — the model
    corpus/      (id, vector) partitioned by cluster=N/

which buys the search path three scale properties the per-call form
cannot have:

- **zero training jobs per search** — loading the model is a k-row
  collect of the centroids store, nothing else;
- **partition-pruned candidate scan** — the corpus is laid out by
  cluster directory, and the probed cluster set (≤ nlist ints,
  model-sized) is pushed as a partition filter, so a search reads
  ~nprobe/nlist of the corpus BYTES off disk — the IVF promise made
  physical at the storage layer, not just in the join;
- the broadcast probe join of :func:`kmeans.search_assigned` unchanged —
  the corpus side never shuffles.

Crash story: ``corpus/`` writes first, ``centroids/`` last, and presence
of ``centroids/`` is the index-present check — a build torn anywhere
reads as absent and the (deterministic) rebuild overwrites both stores
idempotently. The artifact is tied to its input corpus: rebuild after
the corpus changes (an incremental upsert would re-assign only new
vectors into their cluster partitions; the streaming/dedup.py fold is
the template if that path is ever needed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from http_feeds_spark import stores
from http_feeds_spark.functions import kmeans as km
from http_feeds_spark.operators import erasure
from http_feeds_spark.stores import parquet_exists, require_lossless_cast

CENTROIDS_DIR = "centroids"
CORPUS_DIR = "corpus"


def _id_col_of(spark: SparkSession, store_path: str) -> str:
    """The id column of a (id, payload, cluster) store — the one scalar
    column that is not the partition key (the payload is an array)."""
    import pyspark.sql.types as T

    for f in spark.read.parquet(store_path).schema.fields:
        if f.name != "cluster" and not isinstance(
            f.dataType, (T.ArrayType, T.BinaryType)
        ):
            return f.name
    raise ValueError(f"no id column found in {store_path}")


def purge_erased(spark: SparkSession, index_root: str) -> int:
    """Physically remove the ledger's erased vectors from the corpus
    store (operators/erasure.py tier 2): only the cluster partitions
    holding erased rows are rewritten (erasure.purge_partitioned_store's
    stage→swap protocol), then exactly the processed ledger batches are
    cleared — readers keep filtering until then, so the invariant holds
    through every crash window. The centroid model is untouched: k-means
    centroids are aggregates, not subject rows. Returns rows removed."""
    nos, erased = erasure.ledger_snapshot(spark, index_root)
    if erased is None:
        return 0
    _, corpus_path = _paths(index_root)
    id_col = _id_col_of(spark, corpus_path)
    removed = erasure.purge_partitioned_store(
        spark, corpus_path, erased, id_col, "cluster", dedup_keys=[id_col]
    )
    erasure.clear_ledger_batches(spark, index_root, nos)
    return removed


def compact_store(spark: SparkSession, index_root: str) -> tuple[int, int]:
    """Small-file compaction for the corpus store: each upsert appends
    one file-set into the touched cluster dirs; this rewrites to ~one
    file per cluster (stores.rewrite_partitioned_store — rows exact,
    crash-resumable). Returns (files before, files after)."""
    from http_feeds_spark.stores import rewrite_partitioned_store

    _, corpus_path = _paths(index_root)
    return rewrite_partitioned_store(spark, corpus_path, "cluster")


def _paths(index_root: str) -> tuple[str, str]:
    root = index_root.rstrip("/")
    return (f"{root}/{CENTROIDS_DIR}", f"{root}/{CORPUS_DIR}")


def default_root(spark: SparkSession, tag: str) -> str:
    """Deterministic index location under the session warehouse dir —
    executor-visible on any cluster (unlike a driver-local temp dir)."""
    wh = spark.conf.get("spark.sql.warehouse.dir").rstrip("/")
    return f"{wh}/ann_index/{tag}"


def build_index(
    spark: SparkSession,
    emb: DataFrame,
    index_root: str,
    *,
    k: int | None = None,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Train the coarse quantizer and persist the index artifact.

    One Lloyd training (functions/kmeans.py — deterministic, so rebuilds
    are bit-identical), one map-only assignment pass, one write of the
    corpus clustered into ``cluster=N/`` partition directories. Write
    order is the crash story (module docstring): centroids land last.

    ``k=None`` (the r9 default) sizes nlist from the corpus itself —
    vectuner.suggest_params' nlist ≈ growth·√N capped at N/39 training
    points per centroid — so a full-corpus build needs no magic number
    (the knob a 100 TB user gets wrong first). An explicit ``k`` is
    honored verbatim: the feed-bootstrap path (ingest.run_ann_index)
    deliberately passes one, because sizing from the FIRST BATCH of a
    growing feed would freeze a too-small quantizer."""
    cent_path, corpus_path = _paths(index_root)
    stores.forget(cent_path)  # the stores are being rewritten
    stores.forget(corpus_path)
    if k is None:
        from http_feeds_spark.functions.vectuner import suggest_params

        k = suggest_params(emb.count(), 1)["nlist"]  # dim irrelevant sans PQ
    cents = km.kmeans_centroids(emb, id_col, vec_col, k=k, iters=iters)
    (
        km.assign_clusters(emb, cents, vec_col)
        .select(id_col, vec_col, "cluster")
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(corpus_path)
    )
    (
        spark.createDataFrame(
            [(int(cid), [float(x) for x in vec]) for cid, vec in cents],
            "cid int, cvec array<double>",
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(cent_path)
    )
    stores.forget(cent_path)  # readers must reload the model
    stores.forget(corpus_path)


def _corpus_df(spark: SparkSession, index_root: str) -> DataFrame:
    return stores.cached_scan(spark, _paths(index_root)[1])


def ensure_index(spark: SparkSession, emb: DataFrame, index_root: str, **kw) -> bool:
    """Build the index iff absent; returns True when a build ran. The
    presence probe is a driver-side walk (stores.parquet_exists)."""
    cent_path, _ = _paths(index_root)
    if parquet_exists(spark, cent_path):
        return False
    build_index(spark, emb, index_root, **kw)
    return True


def upsert_vectors(
    spark: SparkSession,
    new_vectors: DataFrame,
    index_root: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    strict_types: bool = False,
) -> int:
    """Append new vectors to the index WITHOUT retraining: each vector
    is assigned to its nearest existing centroid (one map-only pass
    against the broadcast centroid literal) and appended into that
    cluster's partition directory. Returns the number of rows appended.

    Idempotent per id, at-least-once safe: already-indexed ids are
    dropped first (ids-only anti-join against a column-pruned corpus
    scan), and because the guard is per ID — not per batch — a retry
    after a torn append converges: rows whose files landed are skipped,
    rows that were lost are re-appended. No duplicate, no loss, no
    ordering requirement.

    The quantizer is deliberately frozen — that is what makes upsert
    O(batch). Centroids drift from their clusters' true means as
    appends accumulate, degrading recall gracefully (never
    correctness: search probes real partitions whatever their shape).
    Rebuild policy is the caller's; `build_index` over the full corpus
    is the reset, exactly the streaming/dedup.py artifact pattern."""
    cents = load_centroids(spark, index_root)
    _, corpus_path = _paths(index_root)
    store = _corpus_df(spark, index_root)
    existing = store.select(F.col(id_col))
    fresh = new_vectors.select(id_col, vec_col).join(existing, id_col, "left_anti")
    # conform to the store's schema: appending (say) array<double> rows
    # into an array<float> corpus would poison the store — every later
    # read fails on the parquet type mismatch. Ids conform refuse-loudly
    # (a long id batch must not truncate into an int-keyed store —
    # aliased ids index the wrong vectors); the VECTOR cast stays
    # permissive by design: the store's element precision is the tier's
    # declared quantization (float corpus ≈ the PQ tier's code budget
    # argument), so double->float narrowing here is the documented
    # ingest quantization, with strict_types=True to refuse instead
    field = dict((f.name, f.dataType) for f in store.schema.fields)
    id_type = field.get(id_col)
    if id_type is not None:
        require_lossless_cast(
            dict((f.name, f.dataType) for f in fresh.schema.fields)[id_col],
            id_type,
            f"ANN corpus ids at {index_root}",
        )
        fresh = fresh.withColumn(id_col, F.col(id_col).cast(id_type))
    store_type = field.get(vec_col)
    if store_type is not None:
        if strict_types:
            require_lossless_cast(
                dict((f.name, f.dataType) for f in fresh.schema.fields)[vec_col],
                store_type,
                f"ANN corpus vectors at {index_root}",
            )
        fresh = fresh.withColumn(vec_col, F.col(vec_col).cast(store_type))
    assigned = km.assign_clusters(fresh, cents, vec_col).select(
        id_col, vec_col, "cluster"
    )
    # count and write from one snapshot: the anti-join must not be
    # recomputed between the two actions against a moving store
    assigned = assigned.localCheckpoint()
    n = assigned.count()
    if n:
        assigned.write.mode("append").partitionBy("cluster").parquet(corpus_path)
        stores.forget(corpus_path)  # new files are visible
    return n


def update_vectors(
    spark: SparkSession,
    new_vectors: DataFrame,
    index_root: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Replace existing ids' vectors in place (the re-embedding path —
    a model refresh changes vectors under the SAME ids, which the
    insert-only ``upsert_vectors`` deliberately ignores): logically
    erase the ids, physically purge their rows from the affected
    cluster partitions, then upsert the new vectors against the frozen
    quantizer. Crash windows inherit the erasure story (old vectors
    can't surface once the erase commits; retries converge). Returns
    {"removed_rows", "vectors_indexed"}."""
    ids = new_vectors.select(F.col(id_col).cast("long").alias("id")).distinct()
    erasure.erase_ids(spark, index_root, ids)
    removed = purge_erased(spark, index_root)
    added = upsert_vectors(
        spark, new_vectors, index_root, id_col=id_col, vec_col=vec_col
    )
    return {"removed_rows": int(removed), "vectors_indexed": int(added)}


def snapshot_files(spark: SparkSession, index_root: str) -> dict[str, list[str]]:
    """The index's EXACT data-file frontier right now —
    ``{"centroids": [...], "corpus": [...]}`` — the token a platform
    epoch records (epochs.py D46). Upserts only APPEND corpus files and
    rebuilds/compactions/purges REPLACE files, so a search over exactly
    this list reads exactly the current wave's rows whatever lands
    later, and fails stop (stores.read_pinned_files) once maintenance
    has rewritten any of them. Metadata-only; {} when the index is
    absent."""
    cent_path, corpus_path = _paths(index_root)
    if not parquet_exists(spark, cent_path):
        return {}
    from http_feeds_spark.stores import list_data_files

    return {
        "centroids": list_data_files(spark, cent_path),
        "corpus": list_data_files(spark, corpus_path),
    }


def load_centroids(
    spark: SparkSession, index_root: str, *, files: list[str] | None = None
) -> list[tuple[int, list[float]]]:
    """The trained model: k (cid, vector) rows — model-sized collect.
    ``files`` pins the exact centroid files of a recorded epoch (a
    rebuild overwrites them, so a stale pin fails stop — the quantizer
    and the pinned corpus must come from the same wave)."""
    cent_path, _ = _paths(index_root)
    if files is not None:
        from http_feeds_spark.stores import read_pinned_files

        rows = read_pinned_files(
            spark, cent_path, files, "ANN centroid"
        ).collect()
        return sorted((int(r.cid), [float(x) for x in r.cvec]) for r in rows)

    def load():
        if not parquet_exists(spark, cent_path):
            return None
        rows = spark.read.parquet(cent_path).collect()
        return sorted((int(r.cid), [float(x) for x in r.cvec]) for r in rows)

    # the centroid store is single-write (only build_index rewrites it),
    # so the model is memoized; callers never mutate it (module contract)
    cents = stores.memo(spark, cent_path, (cent_path,), load)
    if cents is None:
        raise FileNotFoundError(f"no ANN index at {index_root}; build_index first")
    return cents


def search(
    spark: SparkSession,
    queries: DataFrame,
    index_root: str,
    *,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    qid_col: str = "query_id",
    vec_col: str = "embedding",
    broadcast_queries: bool = True,
    exclude_self: bool = False,
    snapshot: dict | None = None,
) -> DataFrame:
    """SEARCH-ONLY IVF ANN against the prebuilt index: no training jobs
    anywhere in this path (pinned in tests/test_ann_index.py).

    With ``broadcast_queries`` (queries ≪ corpus) the distinct probed
    cluster set is collected first (≤ nlist ints — one job on the SMALL
    query table, never the corpus) and pushed as a partition filter on
    the corpus scan, so only probed ``cluster=N/`` directories are read.
    ``exclude_self`` defaults False here — index queries are usually an
    external table; pass True when querying the corpus against itself
    (see kmeans.ann_search_batch's id-space note).

    ``snapshot`` (a :func:`snapshot_files` dict, usually from a pinned
    platform epoch) makes the read AS-OF that frontier: centroids and
    corpus resolve to exactly the recorded files — ``basePath`` keeps
    the cluster partition column, so probe pruning still prunes — and a
    file maintenance has since rewritten fails stop. The erasure ledger
    is still consulted LIVE: erasure trumps pins (epochs.py contract),
    an erased id never surfaces through an older epoch."""
    _, corpus_path = _paths(index_root)
    if snapshot is not None:
        from http_feeds_spark.stores import read_pinned_files

        cents = load_centroids(spark, index_root, files=snapshot["centroids"])
        corpus = read_pinned_files(
            spark, corpus_path, snapshot["corpus"], "ANN corpus"
        )
    else:
        cents = load_centroids(spark, index_root)
        corpus = _corpus_df(spark, index_root)
    # logical-erasure window: ids in the erase ledger must not surface
    # (no-op plan while the ledger is absent — erasure.not_erased)
    corpus = erasure.not_erased(spark, index_root, corpus, id_col)
    if broadcast_queries:
        from http_feeds_spark.operators.pq_index import _dpp_enabled

        if snapshot is not None or not _dpp_enabled(spark):
            # no runtime pruning, or a pinned file-list read (whose scan
            # the optimizer may decline to dynamically prune — r16,
            # ADVICE): pre-collect the probed cluster set
            # (one job on the SMALL query table) as a static filter
            probed = (
                km.probe_clusters(
                    queries.select(F.col(qid_col), F.col(vec_col).alias("__qv")),
                    cents,
                    nprobe,
                    "__qv",
                )
                .select("cluster")
                .distinct()
                .collect()
            )  # ≤ nlist ints of model-sized metadata
            corpus = corpus.where(F.col("cluster").isin([r.cluster for r in probed]))
        # else: dynamic partition pruning on the probes⋈corpus cluster
        # join prunes the scan to probed cluster=N/ dirs at runtime —
        # same read set, one job fewer per search (r15, guide §2.4)
    return km.search_assigned(
        corpus,
        queries,
        cents,
        k=k,
        nprobe=nprobe,
        id_col=id_col,
        qid_col=qid_col,
        vec_col=vec_col,
        broadcast_queries=broadcast_queries,
        exclude_self=exclude_self,
    )
