"""Erasure propagation — right-to-be-forgotten across the derived stores.

The feed spec's source-of-truth deletion is the tombstone: a DELETE
entry tells consumers to drop the aggregate, and compaction physically
rewrites the log (reference README.md:270-292 — our operators/feed.py +
ingest.compact_now). But a training-data platform derives MORE stores
from the feed — the inverted index (operators/text_index.py), the
ANN/PQ vector indexes (operators/ann_index.py, pq_index.py), the LSH
dedup index (streaming/dedup.py) — and a GDPR erasure request is only
complete when the subject's rows are gone from every one of them. This
module is that propagation pass: the derived-store twin of
``compact_now``.

Two tiers, the deletion-vector design (Delta/Iceberg practice):

1. **Logical erasure** (``erase_ids``) — an append-only committed-batch
   ledger ``<index_root>/erased/batch=NNNNNN`` of erased ids (schema:
   one ``id`` long per row). Crash-proof by construction: each batch is
   visible only with its committer _SUCCESS marker; a torn write is
   invisible and the retry overwrites it. Every read path in the store
   modules anti-joins the ledger, so from the moment the erase batch
   commits, **no erased id can surface from any search or assignment
   read — the GDPR invariant — regardless of later crash timing.**

2. **Physical purge** (each store module's ``purge_erased``) — rewrites
   the affected storage so the bytes are gone, then clears the ledger
   LAST. The ledger doubles as the retry signal: a crash anywhere in a
   purge leaves it non-empty, readers keep filtering (the invariant
   holds), and re-running ``purge_erased`` completes the rewrite from
   its committed staging copy. See each store's purge docstring for its
   exact crash windows.

100 TB posture: the ledger is ids-only (8 bytes/row); every filter is
one anti-join Spark plans as broadcast while the ledger is small and as
a shuffled join when it is not; purge touches only the batch dirs /
cluster partitions that actually contain erased rows (found by an
ids-only semi-join), never the whole store.

Re-indexing semantics: while an id is in the ledger it cannot surface
and (because its rows still exist until purge) cannot be re-upserted.
After a purge clears the ledger the id is physically gone and MAY be
indexed again — that is a NEW document (fresh-consent semantics). The
feed side must be tombstoned first (``ingest.run_erasure`` derives the
erase set from DELETE events), so at-least-once replays cannot
re-introduce erased content: replays past the compaction horizon no
longer carry it.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from http_feeds_spark import stores
from http_feeds_spark.session import run_concurrently
from http_feeds_spark.stores import hadoop_fs

ERASED_DIR = "erased"


def _ledger_root(index_root: str) -> str:
    return f"{index_root.rstrip('/')}/{ERASED_DIR}"


def erased_ids(spark: SparkSession, index_root: str) -> DataFrame | None:
    """Distinct erased ids (one ``id`` long column), or None when the
    ledger is absent/empty — callers treat None as "no filtering"."""
    return ledger_snapshot(spark, index_root)[1]


def ledger_snapshot(
    spark: SparkSession, index_root: str
) -> tuple[list[int], DataFrame | None]:
    """(committed ledger batch numbers, their distinct ids) — the
    snapshot a purge takes up front so it clears exactly what it
    processed (clear_ledger_batches) and nothing committed later. The
    schema is named (``erase_ids`` writes only ``id long``), so building
    the frame runs no schema-inference job."""
    batches = stores.committed_dirs(spark, _ledger_root(index_root), "batch=")
    if not batches:
        return [], None
    ids = spark.read.schema("id long").parquet(*[p for _, p in batches]).distinct()
    return [n for n, _ in batches], ids


def erase_ids(
    spark: SparkSession, index_root: str, ids: DataFrame, id_col: str = "id"
) -> int:
    """Commit one erase batch for `ids` (logical erasure). Idempotent:
    ids already in the ledger are dropped; an empty remainder writes
    nothing. Returns the number of NEW ids recorded. Torn writes are
    invisible (no _SUCCESS) and reclaimed by the retry, which targets
    max(committed)+1 — the same number the torn attempt used."""
    fresh = ids.select(F.col(id_col).cast("long").alias("id")).distinct()
    nos, prior = ledger_snapshot(spark, index_root)
    if prior is not None:
        fresh = fresh.join(prior, "id", "left_anti")
    fresh = fresh.localCheckpoint()  # count + write must see one snapshot
    n = fresh.count()
    if n:
        nxt = (nos[-1] + 1) if nos else 0
        fresh.coalesce(1).write.mode("overwrite").parquet(
            f"{_ledger_root(index_root)}/batch={nxt:06d}"
        )
        stores.forget(index_root)  # readers must filter the new batch
    return n


def not_erased(
    spark: SparkSession, index_root: str, df: DataFrame, id_col: str
) -> DataFrame:
    """`df` minus rows whose `id_col` is in the erase ledger — the filter
    every store read path applies. No-op (same plan) when the ledger is
    absent, so the fast path costs nothing until an erasure happens."""
    er = erased_ids(spark, index_root)
    if er is None:
        return df
    return df.join(er.withColumnRenamed("id", id_col), id_col, "left_anti")


def clear_ledger(spark: SparkSession, index_root: str) -> None:
    """Drop the ledger — the LAST step of a successful physical purge.
    A crash before this leaves the ledger serving as the retry signal;
    deleting it is safe only once every store rewrite has committed."""
    fs, root = hadoop_fs(spark, _ledger_root(index_root))
    if fs.exists(root):
        fs.delete(root, True)
        stores.forget(index_root)


def clear_ledger_batches(
    spark: SparkSession, index_root: str, batch_nos: list[int]
) -> None:
    """Drop ONLY the named ledger batches — the LAST step of a purge
    that snapshotted its erase set up front. An erase batch committed
    DURING the purge (a newer request) stays in the ledger: its readers
    keep filtering and the next purge handles it — clearing the whole
    ledger here would silently un-erase it."""
    fs, _ = hadoop_fs(spark, index_root)
    for no in batch_nos:
        _, p = hadoop_fs(spark, f"{_ledger_root(index_root)}/batch={no:06d}")
        if fs.exists(p):
            fs.delete(p, True)
    if batch_nos:
        stores.forget(index_root)


def purge_partitioned_store(
    spark: SparkSession,
    store_path: str,
    erased: DataFrame,
    id_col: str,
    part_col: str,
    dedup_keys: list[str] | None = None,
) -> int:
    """Physically remove every row of a ``part_col=N``-partitioned
    parquet store whose ``id_col`` is in ``erased`` (one ``id`` column),
    touching ONLY the partitions that contain erased rows. The shared
    rewrite for the ANN corpus, the PQ code store, and the dedup
    band/shingle stores.

    Protocol (stage → swap), with every crash window recoverable:

    1. **Resume** any torn swap first (``stores.resume_stage_swap``).
       A committed staged partition dir whose live dir is MISSING holds the only copy of that
       partition's survivors — rename it into place. A committed staged
       dir whose live dir EXISTS is merged, never discarded: the live
       dir may be the pre-swap original (crash before the delete) or a
       post-crash recreation by an append (upsert/fold to the same
       partition after a crash between delete and rename) — in either
       case the staged files are moved in ALONGSIDE the live files and
       the partition is force-included in this purge's rewrite, which
       re-filters against the current ledger and collapses the
       duplicates the merge can introduce (``dedup_keys``; all columns
       when None — callers whose rows carry a unique id pass [id_col]).
       Only then is the stage root dropped: staged rows are represented
       in live first. (A stale stage from an older erase set is safe to
       merge: its ledger batches are still present — the ledger clears
       only after a purge fully succeeds — so the re-filter below sees
       its erase set too.)
    2. Find affected partitions by an ids-only semi-join; write their
       FILTERED survivors to the stage root (one job, its _SUCCESS is
       the stage commit).
    3. Per affected partition: delete the live dir, rename the staged
       dir in (a fully-erased partition has no staged dir — the delete
       is the whole swap). Crash between delete and rename hides that
       partition's survivors until the next purge resumes (availability
       only — the erasure invariant holds throughout, because the
       ledger keeps readers filtering until the caller clears it LAST).

    Returns the number of rows physically removed."""
    stage_root = store_path.rstrip("/") + "__purge_stage"
    merged_parts = [
        name[len(part_col) + 1 :]
        for name in stores.resume_stage_swap(spark, store_path, "__purge_stage")
    ]
    stores.forget(store_path)  # the resume may have moved partitions in
    fs, jstage = hadoop_fs(spark, stage_root)
    df = spark.read.parquet(store_path)
    key = erased.withColumnRenamed("id", id_col)
    affected = [
        r[part_col]
        for r in df.join(key, id_col, "semi").select(part_col).distinct().collect()
    ]
    part_str = {str(p) for p in affected}
    rewrite = affected + [
        # merged partitions are rewritten even with no erased rows left,
        # to collapse merge duplicates (dir names are strings — match on
        # the cast to stay type-agnostic across int/string part values)
        p
        for p in merged_parts
        if p not in part_str
    ]
    if not rewrite:
        return 0
    if merged_parts:
        # dir-name values are strings — match on the cast to stay
        # type-agnostic across int/string partition values
        sub = df.where(
            F.col(part_col).cast("string").isin([str(p) for p in rewrite])
        )
    else:
        sub = df.where(F.col(part_col).isin(affected))
    removed = sub.join(key, id_col, "semi").count()
    kept = sub.join(key, id_col, "left_anti")
    if merged_parts:
        kept = kept.dropDuplicates(dedup_keys) if dedup_keys else kept.distinct()
    kept.write.mode("overwrite").partitionBy(part_col).parquet(stage_root)
    for p in rewrite:
        _, live = hadoop_fs(spark, f"{store_path}/{part_col}={p}")
        _, staged = hadoop_fs(spark, f"{stage_root}/{part_col}={p}")
        if fs.exists(live):
            fs.delete(live, True)
        if fs.exists(staged):
            fs.rename(staged, live)
    fs.delete(jstage, True)
    stores.forget(store_path)  # partitions were rewritten/deleted
    return removed


def propagate_erasure(
    spark: SparkSession,
    ids: DataFrame,
    *,
    id_col: str = "id",
    text_index_root: str | None = None,
    ann_index_root: str | None = None,
    pq_index_root: str | None = None,
    dedup_index_root: str | None = None,
    media_index_root: str | None = None,
    purge: bool = False,
) -> dict:
    """One erasure request fanned out to every derived store: commit the
    ids into each store's ledger (logical — the invariant holds from
    here on), then optionally run each store's physical purge. Stores
    are independent and run concurrently, one thread each
    (``session.run_concurrently``, job tag ``erasure:<store>``): a
    failure in one leaves its ledger set (its readers keep filtering)
    while the others still erase, purge and clear theirs; once all have
    finished, the first failure in the order below is raised. Returns
    per-store counts ({"<store>_erased": n, "<store>_purged": rows})."""
    targets: list[tuple[str, str, object]] = []
    if text_index_root is not None:
        from http_feeds_spark.operators import text_index as ti

        targets.append(("text_index", text_index_root, ti.purge_erased))
    if ann_index_root is not None:
        from http_feeds_spark.operators import ann_index as ai

        targets.append(("ann_index", ann_index_root, ai.purge_erased))
    if pq_index_root is not None:
        from http_feeds_spark.operators import pq_index as pqi

        targets.append(("pq_index", pq_index_root, pqi.purge_erased))
    if dedup_index_root is not None:
        from http_feeds_spark.streaming import dedup as sd

        targets.append(("dedup_index", dedup_index_root, sd.purge_erased))
    if media_index_root is not None:
        from http_feeds_spark.streaming import media as smedia

        targets.append(("media_index", media_index_root, smedia.purge_erased))

    def one_store(name: str, root: str, purge_fn) -> dict[str, int]:
        res = {f"{name}_erased": erase_ids(spark, root, ids, id_col=id_col)}
        if purge:
            res[f"{name}_purged"] = purge_fn(spark, root)
        return res

    out: dict[str, int] = {}
    thunks = [(f"erasure:{t[0]}", partial(one_store, *t)) for t in targets]
    for res in run_concurrently(spark, thunks):
        out.update(res)
    return out
