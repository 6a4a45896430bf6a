"""The committed-store layer every derived store in this package shares.

A derived store (text postings, monitor units, dedup epochs, erase
ledgers, platform epochs, the bucketed vector and band stores) is a
set of directories that become visible only when a writer commits
them. This module owns that rule once:

- **probing** (``hadoop_fs``, ``committed``, ``parquet_exists``): driver-
  side listings through the Hadoop FileSystem API, so they work on any
  Hadoop-supported store and never schedule a Spark job. A streaming
  sink directory is the exception: its ``_spark_metadata`` log, not the
  listing, decides which files are visible, so read a sink through
  ``or_none``, never ``parquet_exists``;
- **listing** (``committed_dirs`` over ``numbered_dirs``): the numbered
  ``<prefix><digits>`` batch, manifest and epoch dirs, visible once
  their committer ``_SUCCESS`` marker exists;
- **resume** (``resume_stage_swap``): the stage→swap recovery shared by
  the whole-store rewrites and the erasure purge;
- **metadata memo** (``memo``, ``forget``, ``cached_scan``): one bounded
  cache of committed-store metadata.
"""

from __future__ import annotations

from collections import OrderedDict

from pyspark.sql import SparkSession


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for `path` via the Hadoop FS API — the only
    portable way to list/delete/probe directories on every Spark-
    supported store."""
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jvm_path.getFileSystem(spark._jsc.hadoopConfiguration()), jvm_path


def committed(spark: SparkSession, path: str) -> bool:
    """True when `path` carries its committer _SUCCESS marker — the
    visibility rule every batch/epoch store in this package uses (a torn
    write has no marker and is invisible)."""
    fs, p = hadoop_fs(spark, path)
    return bool(
        fs.exists(spark._jvm.org.apache.hadoop.fs.Path(p, "_SUCCESS"))
    )


def numbered_dirs(spark: SparkSession, root: str, prefix: str = "") -> list[tuple[int, str]]:
    """Ascending (n, path) of every child dir of `root` named
    ``<prefix><digits>``, committed or not: the one walk behind
    ``committed_dirs``, used directly only by cleanups that must also
    reach torn dirs. Digits may be padded (``000012``) or not
    (``batch=12``); they sort numerically. [] when `root` is absent."""
    fs, jroot = hadoop_fs(spark, root)
    if not fs.exists(jroot):
        return []
    out = []
    for st in fs.listStatus(jroot):
        name = st.getPath().getName()
        digits = name[len(prefix):]
        if (
            st.isDirectory()
            and name.startswith(prefix)
            and digits.isascii()
            and digits.isdigit()
        ):
            out.append((int(digits), st.getPath().toString()))
    return sorted(out)


def committed_dirs(spark: SparkSession, root: str, prefix: str = "") -> list[tuple[int, str]]:
    """Ascending (n, path) of the ``<prefix><digits>`` child dirs of
    `root` that carry ``_SUCCESS``: the visible batches, manifests or
    epochs of a derived store. A torn write has no marker and is
    skipped; its retry overwrites it."""
    return [(n, p) for n, p in numbered_dirs(spark, root, prefix) if committed(spark, p)]


def parquet_exists(spark: SparkSession, path: str) -> bool:
    """True when `path` is a readable parquet dataset: it holds at least
    one data file that Spark's reader would see. A driver-side walk
    through the Hadoop FS (``_data_files``) that stops at the first such
    file, so the check runs no Spark job and works on ANY Hadoop-
    supported filesystem (s3://, hdfs://, local). Not for streaming sink
    directories (see the module docstring).

    Only a definitive store-absent answer maps to False; any OTHER
    failure (transient object-store error, permissions) propagates.
    Swallowing it would be catastrophic for the callers: an index fold
    that mistakes a transient read error for "no index yet" would skip
    its idempotence anti-join and rebuild from one batch's data,
    silently destroying prior state."""
    return next(_data_files(spark, path), None) is not None


def or_none(read):
    """``read()``, or None when it fails because nothing was written
    there yet: a missing path, or a streaming sink that has committed no
    data file. Any other failure propagates."""
    from pyspark.errors import AnalysisException

    try:
        return read()
    except AnalysisException as e:
        absent = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA", "Path does not exist")
        if any(m in str(e) for m in absent):
            return None
        raise


def _data_files(spark: SparkSession, path: str):
    """Lazily yield the FileStatus of every data file under `path`,
    recursively (partition dirs included). Skips ``_``- and ``.``-
    prefixed names at every level, as Spark's file index does
    (``_SUCCESS``, ``_temporary/``, ``.crc`` files). Yields nothing
    when `path` is absent; any other Hadoop error propagates."""
    fs, root = hadoop_fs(spark, path)
    if not fs.exists(root):
        return
    stack = [root]
    while stack:
        for st in fs.listStatus(stack.pop()):
            name = st.getPath().getName()
            if name.startswith(("_", ".")):
                continue
            if st.isDirectory():
                stack.append(st.getPath())
            else:
                yield st


def list_data_files(spark: SparkSession, store_path: str) -> list[str]:
    """Every data file under a parquet store, recursively (partition
    dirs included), sorted — the exact-file frontier a platform epoch
    pins (epochs.py). Skips committer/metadata names (``_SUCCESS``,
    dot-files). Metadata-only: one recursive listing, no data read.
    Returns [] when the store is absent."""
    return sorted(st.getPath().toString() for st in _data_files(spark, store_path))


def read_pinned_files(spark: SparkSession, base_path: str, files: list[str], what: str):
    """Read an EXACT pinned file list (an epoch frontier) as one
    DataFrame: ``basePath`` keeps key=value partition columns parsing —
    and with them partition-filter file pruning — exactly as the live
    directory scan would. Fail-stop contract (epochs.py): a pinned file
    a later rewrite/compaction/purge deleted raises with the remedy,
    never silently re-resolves to newer data."""
    for p in files:
        fs, jp = hadoop_fs(spark, p)
        if not fs.exists(jp):
            raise ValueError(
                f"{what} file {p} of the pinned epoch is gone "
                "(store rewrite, compaction, or purge); pin a newer epoch"
            )
    if not files:
        return spark.read.parquet(base_path).limit(0)
    # the existence probe above runs once at plan-build time on the
    # driver; a file deleted between probe and job execution must ALSO
    # fail stop per-read, so pin ignoreMissingFiles=false at the read —
    # a cluster-wide spark.sql.files.ignoreMissingFiles=true would
    # otherwise silently drop the pinned data instead of raising
    return (
        spark.read.option("basePath", base_path)
        .option("ignoreMissingFiles", "false")
        .parquet(*files)
    )


def require_lossless_cast(incoming, store, what: str) -> None:
    """Refuse-loudly type conformance for store appends (the dedup
    fold_batch rule applied to the cast sites): upserts cast incoming
    batches to the store's schema so one odd batch cannot poison every
    later multi-batch read — but with ANSI off a NARROWING cast coerces
    silently (long doc ids truncate into an int-keyed store, indexing
    wrong documents under aliased ids; double embeddings lose precision
    into a float store). Raise unless the cast provably round-trips:
    equal types, integral widening, float->double, or an array of a
    lossless element cast."""
    from pyspark.sql import types as T

    if incoming == store:
        return
    int_rank = {T.ByteType(): 1, T.ShortType(): 2, T.IntegerType(): 3, T.LongType(): 4}
    if incoming in int_rank and store in int_rank:
        if int_rank[incoming] <= int_rank[store]:
            return
    elif incoming == T.FloatType() and store == T.DoubleType():
        return
    elif isinstance(incoming, T.ArrayType) and isinstance(store, T.ArrayType):
        return require_lossless_cast(
            incoming.elementType, store.elementType, what
        )
    raise ValueError(
        f"{what}: incoming type {incoming.simpleString()} does not cast "
        f"losslessly into the store's {store.simpleString()} — rebuild the "
        "store with the wider type, or cast the batch explicitly upstream"
    )


# --- committed-store metadata memo --------------------------------------------
# Readers re-derive the same committed metadata on every call: a parquet
# scan handle (spark.read.parquet schedules a listing/footer job even
# though the frame is lazy), a frozen ANN/PQ model (one collect), a text
# index's read frontier (a meta collect, a batch listing, the manifests
# and the erase ledger). It changes only when a writer commits, so it is
# memoized here, once, keyed by the path it was read from:
#
# - METADATA only: a plan handle, a model-sized list, a frontier dict;
#   never query output or rows of data. Every search still executes from
#   the parquet inputs.
# - A hit is served only to the session that built it (a restarted
#   session never gets a dead plan), and only while the modification
#   stamp of each stamp path is unchanged: an out-of-band writer (another
#   process, a crash-recovery hand edit) reads as a miss. Every writer in
#   this package also calls ``forget`` at its commit, since a stamp only
#   moves when a writer replaces or appends under the stamped directory.
# - Absence (None) is never cached: a build may land any moment.
# - The stage→swap protocols below live in this module so that a
#   maintenance rewrite or a crash-window resume forgets the handle at
#   the file-set swap itself, whichever module called it.
_MEMO: OrderedDict[str, tuple] = OrderedDict()
_MEMO_MAX = 64


def memo(spark: SparkSession, key: str, stamp_paths, load):
    """``load()``, memoized under `key` (the path the value is read
    from) for this session while every path in `stamp_paths` keeps its
    modification stamp. A None result is returned but not cached. The
    least recently used entry goes once ``_MEMO_MAX`` are held."""
    key = key.rstrip("/")
    stamp = tuple(modification_stamp(spark, p) for p in stamp_paths)
    hit = _MEMO.get(key)
    if hit is not None and hit[0] is spark and hit[1] == stamp:
        _MEMO.move_to_end(key)
        return hit[2]
    value = load()
    if value is None:
        _MEMO.pop(key, None)
        return None
    _MEMO[key] = (spark, stamp, value)
    _MEMO.move_to_end(key)
    while len(_MEMO) > _MEMO_MAX:
        _MEMO.popitem(last=False)
    return value


def forget(key: str) -> None:
    """Drop the memo entry for `key`: called by every path that writes,
    rewrites or deletes what that entry was read from."""
    _MEMO.pop(key.rstrip("/"), None)


def cached_scan(spark: SparkSession, store_path: str):
    """Memoized ``spark.read.parquet(store_path)`` handle: the listing/
    footer work runs once per committed layout instead of once per call.
    Session-checked only (no stamp), so every writer of the store must
    ``forget`` it (see module writers and the rewrite/purge protocols)."""
    return memo(spark, store_path, (), lambda: spark.read.parquet(store_path))


def modification_stamp(spark: SparkSession, path: str) -> int:
    """Modification time (ms) of ``path`` via the Hadoop FS API, −1 when
    absent — the cheap committed-frontier token the metadata caches
    validate against (a driver-side stat, never a Spark job). Every
    store writer in this package lands its commit by replacing or
    appending under the stamped directory, so a changed layout reads as
    a changed stamp even when the writer was another process."""
    fs, p = hadoop_fs(spark, path)
    if not fs.exists(p):
        return -1
    return int(fs.getFileStatus(p).getModificationTime())


def data_file_stats(spark: SparkSession, store_path: str) -> tuple[int, int]:
    """(n_data_files, n_partition_dirs) of a key=value-partitioned
    parquet store — the metadata-only signal a maintenance policy
    thresholds on (files per partition grows by one file-set per
    append; the data itself never grows stale)."""
    fs, root = hadoop_fs(spark, store_path)
    if not fs.exists(root):
        return 0, 0
    files = dirs = 0
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if st.isDirectory() and "=" in name:
            dirs += 1
            for f in fs.listStatus(st.getPath()):
                if not f.getPath().getName().startswith(("_", ".")):
                    files += 1
    return files, dirs


def resume_stage_swap(spark: SparkSession, store_path: str, suffix: str) -> list[str]:
    """Shared stage→swap resume for the whole-store rewrites (file
    compaction, legacy migration) and the erasure purge: a committed
    stage with live MISSING renames in whole (it holds the only copy); a
    committed stage with live PRESENT moves each staged partition in —
    renamed when live lacks it, its files merged in as ``restored-*``
    alongside when live has it (the live dir may be a post-crash
    recreation by a fold that could not see the store, so discarding the
    stage would lose every pre-crash row); an uncommitted stage is
    dropped. Returns the partition dir names merged into EXISTING live
    partitions, which the caller rewrites to collapse the duplicates a
    merge can introduce ([] when none). The stage root is always gone on
    return."""
    stage = store_path.rstrip("/") + suffix
    fs, jstage = hadoop_fs(spark, stage)
    _, jlive = hadoop_fs(spark, store_path)
    merged: list[str] = []
    if fs.exists(jstage):
        if committed(spark, stage):
            if not fs.exists(jlive):
                fs.rename(jstage, jlive)
                return []
            for st in fs.listStatus(jstage):
                name = st.getPath().getName()
                if not st.isDirectory() or "=" not in name:
                    continue
                _, dlive = hadoop_fs(spark, f"{store_path}/{name}")
                if not fs.exists(dlive):
                    fs.rename(st.getPath(), dlive)
                    continue
                for fst in fs.listStatus(st.getPath()):
                    fname = fst.getPath().getName()
                    if fname.startswith(("_", ".")):
                        continue
                    _, tgt = hadoop_fs(
                        spark, f"{store_path}/{name}/restored-{fname}"
                    )
                    fs.rename(fst.getPath(), tgt)
                merged.append(name)
        fs.delete(jstage, True)
    return merged


def rewrite_partitioned_store(
    spark: SparkSession,
    store_path: str,
    part_col: str,
    target_files: int = 1,
    collapse_duplicates: bool = False,
) -> tuple[int, int]:
    """Rewrite a key=value-partitioned store in place down to ~one data
    file per partition dir — the small-file compaction for the
    APPEND-partitioned stores (dedup band/shingle buckets, ANN corpus
    and PQ code clusters), which gain one file-set per fold/upsert and
    otherwise accumulate files forever. Rows are preserved exactly; only
    the file layout changes.

    Protocol (the migrate_legacy_store stage→swap, store-wide):

    1. resume: a committed ``__rewrite_stage`` whose live dir is MISSING
       holds the only copy — rename it in. A committed stage whose live
       dir EXISTS is MERGED, never discarded: the live dir is either
       the pre-swap original (crash before the delete) or a post-crash
       recreation by a fold/upsert that could not see the store — in
       both cases the staged files move in alongside and the rewrite
       below collapses the exact-duplicate rows the merge can introduce
       (safe for these stores: every row is a deterministic function of
       its doc/vector, so a re-folded doc reproduces byte-identical
       rows). An UNcommitted stage is dropped (torn stage write — live
       is authoritative).
    2. read live, ``repartition(part_col)`` (each partition's rows land
       in one task → ~one file per dir), write to the stage (_SUCCESS =
       stage commit), delete live, rename stage in.

    ``target_files`` guards the scale trap of one-task-per-partition:
    a store with FEW partition values (the 64-bucket dedup stores)
    funnels huge partitions through single tasks at target_files=1 —
    passing N adds a deterministic row-hash salt to the repartition so
    each partition dir lands as ~N files written by N tasks. Size it as
    ceil(partition bytes / a task-friendly chunk).

    Single-maintainer assumption as for purges: run from the platform's
    maintenance pass, not concurrently with folds. Returns (files
    before, files after)."""
    from pyspark.sql import functions as F

    merged = resume_stage_swap(spark, store_path, "__rewrite_stage")
    # the resume may have renamed/merged a stage in, and the rewrite
    # below re-materializes under NEW file names either way: any cached
    # scan handle for this store is dead from here on
    forget(store_path)
    # one namespace walk serves both the before-count and the dir count
    # (at a 100K-partition store each listing is a full metadata pass)
    before, n_dirs = data_file_stats(spark, store_path)
    if not parquet_exists(spark, store_path):
        return 0, 0
    stage = store_path.rstrip("/") + "__rewrite_stage"
    fs, jstage = hadoop_fs(spark, stage)
    _, jlive = hadoop_fs(spark, store_path)
    live = spark.read.parquet(store_path)
    if merged or collapse_duplicates:
        live = live.distinct()
    if target_files > 1:
        salt = F.pmod(
            F.xxhash64(F.struct(*[c for c in live.columns if c != part_col])),
            F.lit(target_files),
        )
        shaped = (
            live.withColumn("__salt", salt)
            # explicit numPartitions: AQE must not coalesce the salted
            # exchange back into one-task-per-partition
            .repartition(max(1, n_dirs) * target_files, F.col(part_col), F.col("__salt"))
            .drop("__salt")
        )
    else:
        shaped = live.repartition(F.col(part_col))
    (
        shaped.write.mode("overwrite")
        .partitionBy(part_col)
        .parquet(stage)
    )
    fs.delete(jlive, True)
    fs.rename(jstage, jlive)
    forget(store_path)  # the swapped-in file set is the store now
    after, _ = data_file_stats(spark, store_path)
    return before, after
