"""Continuous corpus monitoring — fold per-batch corpus aggregates into
a stats store as the feed grows, and answer drift questions from the
STORE, never by re-reading documents.

The missing operational piece between ingest (ingest.py) and the batch
drift gate (operators/drift.py): a pipeline that ingests continuously
wants "has the last hour drifted from last week?" answerable at
aggregate cost. So each micro-batch appends two MERGEABLE summaries:

    stats/batch=<id>/   one row: n_docs, n_tokens, n_chars, short_docs
                        (plain sums — any batch range re-aggregates
                        exactly by summing)
    words/batch=<id>/   the batch's (word, n) unigram counts
                        (vocabulary-sized; count frames are the other
                        classically mergeable aggregate)
    sketches/batch=<id>/ one row: Datasketches HLL sketches of the
                        batch's distinct vocabulary and doc ids —
                        sketches union losslessly, so COUNT DISTINCT
                        over any range is O(sketch bytes) from the
                        store (distinct_counts / new_vocabulary)

Idempotence = the directory layout: each batch writes BY OVERWRITE to
its own ``batch=<id>`` directory, and ingest.run_monitor keys a unit by
the cursor its fold started from, so a refold after a crash rewrites
the same paths with the same deterministic content — at-least-once
delivery, exactly-once store effect, no transactional sink needed.

``js_between`` then computes the exact Jensen-Shannon divergence
between ANY two batch ranges by summing their stored count frames
(drift.js_divergence_counts) — O(vocabulary), zero document reads.

Retention (``compact_batches``) merges a PREFIX of batches into one
unit so the stores stay bounded. The merge is manifest-committed so a
crash can never double-count (the r6 verdict defect — the old design
overwrote one of its own merge inputs first):

    merged/<gen>/{words,stats}/   merged frames, written FIRST
    manifest/<gen>/               one row (keep_id, covered ids),
                                  written LAST — its _SUCCESS marker is
                                  the ATOMIC switch

Readers resolve through the latest COMMITTED manifest: raw ``batch=``
dirs named in its covered set are hidden and the merged unit is exposed
under ``keep_id`` (the lowest merged id). Source dirs are deleted only
by ``vacuum`` (compact runs it by default AFTER the manifest commits),
so at every instant exactly one of {sources, merged unit} is visible:

- crash after the merged frames, before the manifest → the merge is
  invisible; a re-run recomputes the same content into the same gen
  and retries the commit;
- crash after the manifest, before vacuum → the view has already
  switched; the surviving source dirs are hidden garbage that the next
  vacuum removes;
- re-running compaction is a no-op either side of the commit point.

Snapshot rule for concurrent readers: a reader holding a
PRE-compaction batch list keeps answering exactly (ids inside the
merged range resolve to their raw dirs) until ``vacuum`` physically
removes them — after that, naming a covered id other than ``keep_id``
raises. A post-compaction reader naming ``keep_id`` gets the merged
unit. Pinned in tests/test_monitor.py.

At 100 TB: per-batch work is one aggregation pass over the batch; the
stores grow by (1 + vocab) rows per batch until compaction folds the
prefix; range queries read only the directories they name (the manifest
is one model-sized row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from http_feeds_spark.functions import text as tx
from http_feeds_spark.operators import drift
from http_feeds_spark.stores import committed, committed_dirs, hadoop_fs, numbered_dirs

STATS_DIR = "stats"
WORDS_DIR = "words"
SKETCHES_DIR = "sketches"
MERGED_DIR = "merged"
MANIFEST_DIR = "manifest"


def fold_batch(
    spark: SparkSession,
    docs: DataFrame,
    monitor_root: str,
    batch_id: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Append one micro-batch's summaries (idempotent per batch id)."""
    root = monitor_root.rstrip("/")
    toks = F.size(tx.words(F.col(text_col))).cast("long")
    stats = docs.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.coalesce(F.sum(toks), F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce(F.sum(F.length(text_col)), F.lit(0)).cast("long").alias("n_chars"),
        F.coalesce(F.sum(F.when(toks < 50, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("short_docs"),
    )
    stats.coalesce(1).write.mode("overwrite").parquet(
        f"{root}/{STATS_DIR}/batch={batch_id}"
    )
    drift.word_counts(docs, text_col).write.mode("overwrite").parquet(
        f"{root}/{WORDS_DIR}/batch={batch_id}"
    )
    # the third mergeable summary family: Datasketches HLL sketches of
    # the batch's distinct vocabulary and distinct doc ids — sketches
    # union losslessly, so distinct counts over ANY batch range come
    # from the store at O(sketch bytes), zero document re-reads (the
    # count-frame argument, applied to COUNT DISTINCT)
    wsk = docs.select(F.explode(tx.words(F.col(text_col))).alias("__w")).agg(
        F.hll_sketch_agg("__w").alias("words_sk")
    )
    dsk = docs.agg(
        F.hll_sketch_agg(F.col(id_col)).alias("docs_sk"),
        # distinct CONTENT sketch: overlap between ranges by
        # inclusion-exclusion = exact-duplicate documents shared across
        # them (content_overlap) — the cross-snapshot contamination
        # signal, answered from the store
        F.hll_sketch_agg(F.xxhash64(F.col(text_col))).alias("content_sk"),
    )
    wsk.crossJoin(dsk).coalesce(1).write.mode("overwrite").parquet(
        f"{root}/{SKETCHES_DIR}/batch={batch_id}"
    )


# --- manifest-resolved view --------------------------------------------------


def _latest_manifest(
    spark: SparkSession, root: str
) -> tuple[int, int, set[int]] | None:
    """(gen, keep_id, covered raw ids) of the highest _SUCCESS-committed
    compaction manifest, or None. A torn manifest has no marker and is
    invisible — the commit point is atomic by construction."""
    gens = committed_dirs(spark, f"{root}/{MANIFEST_DIR}")
    if not gens:
        return None
    gen, path = gens[-1]
    row = spark.read.parquet(path).collect()[0]
    return gen, int(row.keep_id), {int(b) for b in row.covered}


def _view(
    spark: SparkSession, root: str
) -> tuple[list[int], tuple[int, int, set[int]] | None]:
    """(exposed raw batch ids, latest manifest or None). Raw ids are the
    committed ``stats/batch=<id>`` dirs: a torn fold is invisible until
    its replay rewrites it."""
    man = _latest_manifest(spark, root)
    raw = [b for b, _ in committed_dirs(spark, f"{root}/{STATS_DIR}", "batch=")]
    if man is None:
        return raw, None
    _, _, covered = man
    return [b for b in raw if b not in covered], man


def visible_units(spark: SparkSession, monitor_root: str) -> list[int]:
    """Visible unit ids, ascending: exposed raw batches plus, after a
    compaction, the merged unit under its keep_id ([] when the store is
    absent) — the read-only count a maintenance policy thresholds on
    (ingest.run_maintenance) before deciding to ``compact_batches``."""
    root = monitor_root.rstrip("/")
    exposed, man = _view(spark, root)
    keep = [man[1]] if man is not None else []
    return sorted(set(keep) | set(exposed))


def read_stats(spark: SparkSession, monitor_root: str) -> DataFrame:
    """(batch, n_docs, n_tokens, n_chars, short_docs) — one row per
    visible unit: exposed raw batches plus, after compaction, the merged
    unit under its keep_id."""
    root = monitor_root.rstrip("/")
    exposed, man = _view(spark, root)
    frames = []
    if exposed:
        frames.append(
            spark.read.option("basePath", f"{root}/{STATS_DIR}").parquet(
                *[f"{root}/{STATS_DIR}/batch={b}" for b in exposed]
            )
        )
    if man is not None:
        gen, keep, _ = man
        frames.append(
            spark.read.parquet(f"{root}/{MERGED_DIR}/{gen:06d}/{STATS_DIR}")
            .withColumn("batch", F.lit(keep).cast("long"))
        )
    if not frames:
        raise FileNotFoundError(f"no monitor batches at {monitor_root}")
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _unit_paths(
    spark: SparkSession, root: str, batches: list[int], store_dir: str
) -> list[str]:
    """Physical store paths for the requested unit ids under the
    snapshot rule: if any requested id sits INSIDE the merged range
    (covered, not the keep id), the request is a pre-compaction list —
    serve every id from its raw dir (still present until vacuum; gone
    raises). Otherwise keep_id resolves to the merged unit and the rest
    to their raw dirs."""
    req = list(dict.fromkeys(batches))
    if not req:
        raise ValueError("empty batch range")
    exposed, man = _view(spark, root)
    if man is None:
        return [f"{root}/{store_dir}/batch={b}" for b in req]
    gen, keep, covered = man
    legacy = [b for b in req if b in covered and b != keep]
    if legacy:
        paths = [f"{root}/{store_dir}/batch={b}" for b in req]
        for b, p in zip(req, paths):
            if not committed(spark, p):
                raise ValueError(
                    f"batch {b} was compacted away (inside the merged "
                    f"range and vacuumed); query the merged unit {keep}"
                )
        return paths
    paths = []
    for b in req:
        if b == keep:
            paths.append(f"{root}/{MERGED_DIR}/{gen:06d}/{store_dir}")
        elif b in exposed:
            paths.append(f"{root}/{store_dir}/batch={b}")
        else:
            raise ValueError(f"unknown monitor batch {b}")
    return paths


def _range_counts(
    spark: SparkSession, monitor_root: str, batches: list[int]
) -> DataFrame:
    root = monitor_root.rstrip("/")
    return (
        spark.read.parquet(*_unit_paths(spark, root, batches, WORDS_DIR))
        .groupBy("word")
        .agg(F.sum("n").alias("n"))
    )


def js_between(
    spark: SparkSession,
    monitor_root: str,
    batches_a: list[int],
    batches_b: list[int],
) -> float:
    """Exact JS divergence between two batch RANGES, from the stored
    count frames only — count frames merge by summation, so the range
    distribution is exact, and no document is ever re-read."""
    return drift.js_divergence_counts(
        _range_counts(spark, monitor_root, batches_a),
        _range_counts(spark, monitor_root, batches_b),
    )


def distinct_counts(
    spark: SparkSession, monitor_root: str, batches: list[int]
) -> dict:
    """{"words": n, "docs": n} — estimated distinct vocabulary and doc
    ids over ANY batch range, from the stored HLL sketches only (the
    Datasketches union is lossless over merges, so the range estimate
    equals a single sketch built over the whole range; default lgK=12 →
    ~1.6% relative standard error). Same unit-resolution rules as
    js_between (merged units, snapshot rule)."""
    root = monitor_root.rstrip("/")
    df = spark.read.parquet(*_unit_paths(spark, root, batches, SKETCHES_DIR))
    row = df.agg(
        F.hll_sketch_estimate(F.hll_union_agg("words_sk")).alias("w"),
        F.hll_sketch_estimate(F.hll_union_agg("docs_sk")).alias("d"),
    ).collect()[0]
    return {"words": int(row.w or 0), "docs": int(row.d or 0)}


def _distinct_contents(
    spark: SparkSession, monitor_root: str, batches: list[int]
) -> int:
    root = monitor_root.rstrip("/")
    df = spark.read.parquet(*_unit_paths(spark, root, batches, SKETCHES_DIR))
    if "content_sk" not in df.columns:
        raise ValueError(
            "sketch store predates content sketches; refold (or compact "
            "only post-upgrade batches) to enable content_overlap"
        )
    row = df.agg(
        F.hll_sketch_estimate(F.hll_union_agg("content_sk")).alias("c")
    ).collect()[0]
    return int(row.c or 0)


def content_overlap(
    spark: SparkSession,
    monitor_root: str,
    batches_a: list[int],
    batches_b: list[int],
) -> int:
    """Estimated count of DISTINCT exact document contents present in
    BOTH ranges — |A| + |B| − |A∪B| over the stored content-hash
    sketches (inclusion-exclusion; same error model as distinct_counts).
    The cross-snapshot contamination signal: 'how much of last week's
    corpus reappears verbatim this week', answered with zero document
    re-reads."""
    a = _distinct_contents(spark, monitor_root, batches_a)
    b = _distinct_contents(spark, monitor_root, batches_b)
    both = _distinct_contents(
        spark, monitor_root, list(batches_a) + list(batches_b)
    )
    return max(0, a + b - both)


def new_vocabulary(
    spark: SparkSession,
    monitor_root: str,
    baseline: list[int],
    batches: list[int],
) -> int:
    """Estimated count of words in ``batches`` NEVER seen in
    ``baseline`` — |baseline ∪ batches| − |baseline| by sketch algebra
    (inclusion-exclusion on the union estimate; same error model as
    distinct_counts). The vocabulary-growth drift signal, answered from
    the store alone."""
    both = distinct_counts(spark, monitor_root, list(baseline) + list(batches))
    base = distinct_counts(spark, monitor_root, list(baseline))
    return max(0, both["words"] - base["words"])


def vacuum(spark: SparkSession, monitor_root: str) -> int:
    """Delete everything the latest committed manifest hides: the
    covered raw ``batch=`` dirs and every superseded generation's
    merged/manifest dirs. Pure cleanup — the view never depends on it,
    so a crash at any point changes nothing a reader sees. Returns the
    number of directories removed."""
    root = monitor_root.rstrip("/")
    man = _latest_manifest(spark, root)
    if man is None:
        return 0
    gen, _, covered = man
    removed = 0
    fs, _ = hadoop_fs(spark, root)
    for b in sorted(covered):
        for d in (WORDS_DIR, STATS_DIR, SKETCHES_DIR):
            _, p = hadoop_fs(spark, f"{root}/{d}/batch={b}")
            if fs.exists(p):
                fs.delete(p, True)
                removed += 1
    for parent in (MERGED_DIR, MANIFEST_DIR):
        # merged/<gen> dirs carry no marker of their own: walk them all
        for g, path in numbered_dirs(spark, f"{root}/{parent}"):
            if g < gen:
                _, p = hadoop_fs(spark, path)
                fs.delete(p, True)
                removed += 1
    return removed


def compact_batches(
    spark: SparkSession,
    monitor_root: str,
    upto: int,
    run_vacuum: bool = True,
) -> list[int]:
    """Merge every visible unit ≤ ``upto`` into one unit (exposed under
    the LOWEST merged id) — the retention story that keeps the monitor
    stores bounded: count frames and stat sums are mergeable, so the
    merged unit answers every range query the originals did, just at
    coarser granularity (you can no longer split inside the merged
    range — compact at the granularity you still need, e.g. daily).

    Crash-safe by manifest commit (module docstring): merged frames
    write FIRST into ``merged/<gen>``, the one-row manifest commits
    LAST and atomically switches the view; sources are deleted only by
    ``vacuum`` afterwards, so no reader ever sees the merged unit AND
    its sources together, and a re-run at any crash point recomputes
    the same merge into the same generation. Returns the unit ids
    visible after compaction."""
    root = monitor_root.rstrip("/")
    exposed, man = _view(spark, root)
    gen_prev, keep_prev, covered_prev = (
        man if man is not None else (-1, None, set())
    )
    units = ([keep_prev] if man is not None else []) + exposed
    merge = sorted(b for b in units if b <= upto)
    if len(merge) < 2:
        if run_vacuum:
            vacuum(spark, root)
        return sorted(units)
    if man is not None and keep_prev not in merge:
        # fold_batch accepts arbitrary ids, so a unit can land BELOW the
        # compacted range. Merging such units without the prior merged
        # unit would cover keep_prev (covered_new ⊇ covered_prev ∋ its
        # raw ids) while the new generation no longer carries its data —
        # silently hiding it. Refuse loudly instead.
        raise ValueError(
            f"compact_batches(upto={upto}) would merge units {merge} "
            f"without the prior merged unit {keep_prev}; use "
            f"upto >= {keep_prev} so the prior generation is re-merged"
        )
    new_gen = gen_prev + 1
    keep_new = merge[0]
    covered_new = sorted(covered_prev | set(merge))

    merged_words = _range_counts(spark, root, merge).localCheckpoint()
    merged_stats = (
        spark.read.parquet(*_unit_paths(spark, root, merge, STATS_DIR))
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            F.sum("short_docs").cast("long").alias("short_docs"),
        )
        .localCheckpoint()
    )
    sk_paths = _unit_paths(spark, root, merge, SKETCHES_DIR)
    merged_sk = None
    if all(committed(spark, p) for p in sk_paths):
        sk_df = spark.read.parquet(*sk_paths)
        aggs = [
            F.hll_union_agg("words_sk").alias("words_sk"),
            F.hll_union_agg("docs_sk").alias("docs_sk"),
        ]
        if "content_sk" in sk_df.columns:
            aggs.append(F.hll_union_agg("content_sk").alias("content_sk"))
        merged_sk = sk_df.agg(*aggs).localCheckpoint()
        # sketches union losslessly — the merged unit answers every
        # distinct-count range query the originals did
    gdir = f"{root}/{MERGED_DIR}/{new_gen:06d}"
    merged_words.write.mode("overwrite").parquet(f"{gdir}/{WORDS_DIR}")
    merged_stats.coalesce(1).write.mode("overwrite").parquet(f"{gdir}/{STATS_DIR}")
    if merged_sk is not None:
        merged_sk.coalesce(1).write.mode("overwrite").parquet(
            f"{gdir}/{SKETCHES_DIR}"
        )
    # commit point: the manifest's _SUCCESS flips the view atomically
    spark.createDataFrame(
        [(int(keep_new), [int(b) for b in covered_new])],
        "keep_id bigint, covered array<bigint>",
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{root}/{MANIFEST_DIR}/{new_gen:06d}"
    )
    if run_vacuum:
        vacuum(spark, root)
    return [keep_new] + [b for b in exposed if b > upto]
