"""Store integrity checks — the fsck of the persisted index tiers.

Every index store in this engine maintains invariants its operators
rely on (batch-dir doc-disjointness, manifest consistency, frozen-model
assignment agreement, fresh derived stats). They hold by construction
through every documented crash window, but an operator debugging a
production store wants them CHECKABLE, not assumed — this module reads
a store and reports each invariant pass/fail with a count, touching
ids-only projections wherever possible (no text, no vectors beyond the
one assignment-agreement scan).

Nothing here mutates anything: fsck is read-only by contract. A failed
check names the repair (rebuild / vacuum / purge retry), it never runs
it.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from http_feeds_spark.operators import erasure
from http_feeds_spark.stores import (
    committed,
    committed_dirs,
    hadoop_fs,
    numbered_dirs,
    parquet_exists,
)


def _ledger_count(spark: SparkSession, index_root: str) -> int:
    ids = erasure.erased_ids(spark, index_root)
    return int(ids.count()) if ids is not None else 0


def fsck_text_index(spark: SparkSession, index_root: str) -> dict:
    """Invariant report for a text-index store:

    - ``doc_overlap_violations``: doc ids present in MORE than one
      visible posting batch (must be 0 — upsert's anti-join and
      compaction's atomic switch both guarantee disjointness; a nonzero
      count means double-counted BM25 scores);
    - ``meta_fresh``: the derived-store fingerprint matches the visible
      batch count (False = a crash landed a batch without the derived
      rewrite; search heals on the fly, the next upsert repairs);
    - ``inert_manifests``: committed manifests whose merged dir never
      landed (harmless — their numbers stay reserved — but a growing
      count means compaction keeps crashing before its merge write);
    - ``vacuum_backlog``: committed source dirs hidden by an active
      manifest but not yet deleted (run vacuum_postings);
    - ``positional``: postings carry the positions column (phrase
      queries available);
    - ``analyzer``: the tokenization this index was built under (from
      meta/; a pre-analyzer store reports "whitespace" — its actual
      build-time behavior). Every query and upsert runs under it;
    - ``erase_ledger_ids``: ids awaiting physical purge (readers filter
      them meanwhile)."""
    from http_feeds_spark.operators import text_index as ti

    post_path, _, meta_path = ti._paths(index_root)
    raw = committed_dirs(spark, post_path, "batch=")
    visible = ti._complete_batches(spark, post_path)
    manifests = ti._manifests(spark, index_root)
    raw_nos = {no for no, _ in raw}
    visible_nos = {no for no, _ in visible}
    inert = [g for g, new, _ in manifests if new not in raw_nos]
    backlog = sum(
        1
        for _, new, sources in manifests
        if new in raw_nos
        for b in sources
        if b in raw_nos
    )
    out = {
        "committed_batches": len(raw),
        "visible_batches": len(visible),
        "inert_manifests": len(inert),
        "vacuum_backlog": backlog,
        "erase_ledger_ids": _ledger_count(spark, index_root),
    }
    post, n_batches = ti._visible_postings(spark, post_path)
    if post is None:
        out.update(
            {"doc_overlap_violations": 0, "meta_fresh": True, "positional": False}
        )
        if parquet_exists(spark, meta_path):
            meta = spark.read.parquet(meta_path).collect()[0]
            out["analyzer"] = getattr(meta, "analyzer", None) or "whitespace"
        return out
    out["positional"] = "positions" in post.columns
    out["doc_overlap_violations"] = int(
        post.select("doc_id", "batch")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") > 1)
        .count()
    )
    if parquet_exists(spark, meta_path):
        meta = spark.read.parquet(meta_path).collect()[0]
        out["meta_fresh"] = int(getattr(meta, "n_batches", -1)) == len(visible_nos)
        out["analyzer"] = getattr(meta, "analyzer", None) or "whitespace"
    else:
        out["meta_fresh"] = False
    return out


def fsck_monitor(spark: SparkSession, monitor_root: str) -> dict:
    """Invariant report for a monitor store:

    - ``torn_merges``: merged/<gen> dirs with no committed manifest
      (invisible by design; the next compaction overwrites them);
    - ``superseded_gens``: older generations an eventual vacuum removes;
    - ``vacuum_backlog``: raw batch dirs hidden by the active manifest
      but still on disk (pre-compaction readers may still be using them
      — the snapshot rule — until vacuum);
    - ``sketch_coverage``: visible units carrying the HLL sketch family
      over total visible units (distinct-count queries need full
      coverage)."""
    from http_feeds_spark.streaming import monitor as mon

    root = monitor_root.rstrip("/")
    exposed, man = mon._view(spark, root)
    raw = [b for b, _ in committed_dirs(spark, f"{root}/{mon.STATS_DIR}", "batch=")]
    # merged/<gen> dirs carry no marker of their own: list them all
    gens = [g for g, _ in numbered_dirs(spark, f"{root}/{mon.MERGED_DIR}")]
    active_gen = man[0] if man is not None else None
    torn = [
        g
        for g in gens
        if not committed(spark, f"{root}/{mon.MANIFEST_DIR}/{g:06d}")
    ]
    hidden = man[2] if man is not None else set()
    units = list(exposed) + ([man[1]] if man is not None else [])
    covered = sum(
        1
        for b in units
        for p in [mon._unit_paths(spark, root, [b], mon.SKETCHES_DIR)[0]]
        if committed(spark, p)
    )
    return {
        "visible_units": len(units),
        "raw_batches": len(raw),
        "active_gen": active_gen,
        "torn_merges": len(torn),
        "superseded_gens": sum(
            1 for g in gens if active_gen is not None and g < active_gen
        ),
        "vacuum_backlog": sum(1 for b in raw if b in hidden),
        "sketch_coverage": f"{covered}/{len(units)}",
    }


def fsck_ann_index(spark: SparkSession, index_root: str) -> dict:
    """Invariant report for an ANN corpus store:

    - ``duplicate_ids``: ids appearing more than once in the corpus
      (must be 0 — the upsert anti-join guarantees it);
    - ``assignment_violations``: rows whose stored cluster is NOT the
      nearest centroid of the frozen quantizer (must be 0: build AND
      upsert both assign against the same centroids — a nonzero count
      means store corruption, one map-only comparison pass);
    - ``stage_leftover``: a purge stage dir survived (the next purge
      resumes/cleans it; its presence right after a purge means the
      purge crashed mid-swap);
    - ``erase_ledger_ids``: ids awaiting physical purge."""
    from http_feeds_spark.functions import kmeans as km
    from http_feeds_spark.operators import ann_index as ai

    _, corpus_path = ai._paths(index_root)
    cents = ai.load_centroids(spark, index_root)
    corpus = spark.read.parquet(corpus_path)
    id_col = ai._id_col_of(spark, corpus_path)
    vec_col = next(
        f.name for f in corpus.schema.fields if f.name not in (id_col, "cluster")
    )
    dup = int(
        corpus.groupBy(id_col)
        .agg(F.count("*").alias("n"))
        .where(F.col("n") > 1)
        .count()
    )
    mismatches = int(
        km.assign_clusters(
            corpus.select(id_col, vec_col, F.col("cluster").alias("__stored")),
            cents,
            vec_col,
        )
        .where(F.col("cluster") != F.col("__stored"))
        .count()
    )
    fs, stage = hadoop_fs(spark, corpus_path.rstrip("/") + "__purge_stage")
    _, rw = hadoop_fs(spark, corpus_path.rstrip("/") + "__rewrite_stage")
    return {
        "corpus_rows": int(corpus.count()),
        "n_centroids": len(cents),
        "duplicate_ids": dup,
        "assignment_violations": mismatches,
        "stage_leftover": bool(fs.exists(stage)),
        "rewrite_stage_leftover": bool(fs.exists(rw)),
        "erase_ledger_ids": _ledger_count(spark, index_root),
    }


def fsck_pq_index(spark: SparkSession, index_root: str) -> dict:
    """Invariant report for a PQ code store:

    - ``duplicate_ids``: as the ANN check;
    - ``code_shape_violations``: rows whose code array length ≠ m or
      whose codes fall outside [0, ksub) — either means the store was
      written against a different codebook model than the one persisted
      (rebuild);
    - ``residual``: which codebook variant the store declares;
    - ``stage_leftover`` / ``erase_ledger_ids``: as the ANN check."""
    from http_feeds_spark.operators import ann_index as ai
    from http_feeds_spark.operators import pq_index as pqi

    codes_path, _, _ = pqi._paths(index_root)
    _, books, residual = pqi.load_model(spark, index_root)
    m, ksub = len(books), len(books[0])
    codes = spark.read.parquet(codes_path)
    id_col = ai._id_col_of(spark, codes_path)
    dup = int(
        codes.groupBy(id_col)
        .agg(F.count("*").alias("n"))
        .where(F.col("n") > 1)
        .count()
    )
    bad_shape = int(
        codes.where(
            (F.size("codes") != m)
            | (F.array_min("codes") < 0)
            | (F.array_max("codes") >= ksub)
        ).count()
    )
    fs, stage = hadoop_fs(spark, codes_path.rstrip("/") + "__purge_stage")
    _, rw = hadoop_fs(spark, codes_path.rstrip("/") + "__rewrite_stage")
    return {
        "code_rows": int(codes.count()),
        "m": m,
        "ksub": ksub,
        "residual": bool(residual),
        "duplicate_ids": dup,
        "code_shape_violations": bad_shape,
        "stage_leftover": bool(fs.exists(stage)),
        "rewrite_stage_leftover": bool(fs.exists(rw)),
        "erase_ledger_ids": _ledger_count(spark, index_root),
    }


def fsck_dedup_index(spark: SparkSession, index_root: str) -> dict:
    """Invariant report for the streaming dedup index (the fourth store
    family gets its check in r8):

    - ``legacy_layout``: the band/shingle stores lack the bucket column
      (pre-r7 layout — folds refuse it; run
      streaming/dedup.migrate_legacy_store once);
    - ``band_orphans``: doc ids with band rows but NO shingle row. The
      fold writes shingles LAST (its commit point), so a nonzero count
      is the torn-middle state an at-least-once redelivery heals —
      persistent orphans with no pending redelivery mean the batch's
      source is gone (refold those docs);
    - ``assignment_orphans``: assignment nodes absent from the shingle
      store — same torn-fold signature, same healing story;
    - ``stage_leftovers``: purge/migrate/rewrite stage dirs present
      (each protocol's next run resumes or discards them);
    - ``erase_ledger_ids``: ids awaiting physical purge."""
    from http_feeds_spark.streaming import dedup as sd

    bands_path, shingles_path, asg_path = sd._paths(index_root)
    bands = spark.read.parquet(bands_path)
    shingles = spark.read.parquet(shingles_path)
    legacy = "bucket" not in bands.columns or "bucket" not in shingles.columns
    sh_ids = shingles.select("doc_id").distinct()
    band_orphans = int(
        bands.select("doc_id").distinct().join(sh_ids, "doc_id", "left_anti").count()
    )
    asg = sd._read_assignment_or_none(spark, asg_path)
    asg_orphans = (
        int(
            asg.select(F.col("node").alias("doc_id"))
            .distinct()
            .join(sh_ids, "doc_id", "left_anti")
            .count()
        )
        if asg is not None
        else 0
    )
    fs, _ = hadoop_fs(spark, index_root)
    leftovers = []
    for store in (bands_path, shingles_path):
        for suffix in ("__purge_stage", "__migrate_stage", "__rewrite_stage"):
            _, p = hadoop_fs(spark, store.rstrip("/") + suffix)
            if fs.exists(p):
                leftovers.append(store.rsplit("/", 1)[-1] + suffix)
    return {
        "shingle_docs": int(sh_ids.count()),
        "assignment_nodes": int(asg.count()) if asg is not None else 0,
        "legacy_layout": bool(legacy),
        "band_orphans": band_orphans,
        "assignment_orphans": asg_orphans,
        "stage_leftovers": leftovers,
        "erase_ledger_ids": _ledger_count(spark, index_root),
    }


def fsck_media_index(spark: SparkSession, media_root: str) -> dict:
    """Invariant report for the media store (the EIGHTH store family,
    r13 — streaming/media.py):

    - ``fingerprint_orphans``: doc ids with phash/audiofp rows but NO
      meta row. The fold writes meta LAST (its commit point), so a
      nonzero count is the torn-middle state an at-least-once
      redelivery heals — the dedup family's band-orphan story;
    - ``modality_mismatches``: phash rows whose meta row is not image
      modality, or audiofp rows whose meta row is not audio — MUST BE
      ZERO (both tables are written from the same router verdict in one
      fold; a mismatch is store corruption no redelivery heals);
    - ``duplicate_meta``: doc ids with >1 meta row (torn-append
      duplicates — the read paths collapse them and the next
      maintenance compaction rewrites them away);
    - ``stage_leftovers``: purge/rewrite stage dirs (each protocol's
      next run resumes or discards them);
    - ``erase_ledger_ids``: ids awaiting physical purge."""
    from http_feeds_spark.stores import parquet_exists
    from http_feeds_spark.streaming import media as smedia

    meta_path, phash_path, fp_path, vfp_path = smedia._paths(media_root)
    if not parquet_exists(spark, meta_path):
        # torn very-first fold (fingerprints land before meta — the
        # fold's documented crash window) or a bare erasure ledger:
        # every fingerprint row is an orphan the redelivery re-folds;
        # fsck must report that state, not crash on the missing store
        orphans = 0
        for path in (phash_path, fp_path, vfp_path):
            if parquet_exists(spark, path):
                orphans += int(
                    spark.read.parquet(path).select("doc_id").distinct().count()
                )
        return {
            "meta_docs": 0,
            "fingerprint_orphans": orphans,
            "modality_mismatches": 0,
            "duplicate_meta": 0,
            "stage_leftovers": [],
            "erase_ledger_ids": _ledger_count(spark, media_root),
        }
    meta = spark.read.parquet(meta_path)
    meta_ids = meta.select("doc_id").distinct()
    orphans = 0
    mismatches = 0
    for path, modality in (
        (phash_path, "image"), (fp_path, "audio"), (vfp_path, "video")
    ):
        if not parquet_exists(spark, path):
            continue
        fp_ids = spark.read.parquet(path).select("doc_id").distinct()
        orphans += int(fp_ids.join(meta_ids, "doc_id", "left_anti").count())
        right_ids = (
            meta.where(F.col("modality") == modality).select("doc_id").distinct()
        )
        mismatches += int(
            fp_ids.join(meta_ids, "doc_id", "semi")
            .join(right_ids, "doc_id", "left_anti")
            .count()
        )
    dup_meta = int(
        meta.groupBy("doc_id").count().where(F.col("count") > 1).count()
    )
    fs, _ = hadoop_fs(spark, media_root)
    leftovers = []
    for store in (meta_path, phash_path, fp_path, vfp_path):
        for suffix in ("__purge_stage", "__rewrite_stage"):
            _, p = hadoop_fs(spark, store.rstrip("/") + suffix)
            if fs.exists(p):
                leftovers.append(store.rsplit("/", 1)[-1] + suffix)
    return {
        "meta_docs": int(meta_ids.count()),
        "fingerprint_orphans": orphans,
        "modality_mismatches": mismatches,
        "duplicate_meta": dup_meta,
        "stage_leftovers": leftovers,
        "erase_ledger_ids": _ledger_count(spark, media_root),
    }


def fsck_landing(spark: SparkSession, landing_root: str) -> dict:
    """Invariant report for the landing zone (the streaming sink plus
    its r9 maintenance/retention machinery — the sixth store family):

    - ``log_present``: the sink's ``_spark_metadata`` commit log exists;
    - ``visible_entries_missing``: batch ids the log reader's view needs
      (latest compaction entry + deltas) that are absent — MUST be empty
      (a torn log; log-aware reads throw);
    - ``files_listed`` / ``files_missing``: data files the view lists,
      and how many are gone from disk — ``files_missing`` MUST be 0 (a
      rewrite deleted files the log still references);
    - ``maint_orphans``: ``maint-*`` files on disk the log does NOT
      reference (leftovers of a rewrite that died pre-manifest; the next
      maintenance pass sweeps them);
    - ``rewrite_stage_leftover``: a ``raw__maint_stage`` dir exists
      (with its manifest = a committed rewrite mid-apply, resumed by the
      next maintenance call; without = torn staging, discarded);
    - ``retention_horizon``: the retirement marker (None = never
      retired); ``compacted_present``: the compacted copy exists —
      with a horizon set its absence is DATA LOSS (retired rows lived
      only there); ``unretired_rows``: raw rows with seq ≤ horizon
      (legal between the marker commit and the rewrite — readers union
      and stay exact — and converged by the next retirement pass);
      reported as -1 when ``files_missing`` > 0 (the count itself would
      need the files the log has lost — fsck stays read-only-robust)."""
    from http_feeds_spark import ingest
    from http_feeds_spark.stores import parquet_exists

    raw = f"{landing_root.rstrip('/')}/{ingest.RAW_DIR}"
    meta_dir = f"{raw}/_spark_metadata"
    fs, entries = ingest._sink_log_state(spark, meta_dir)
    out: dict = {"log_present": entries is not None}
    if entries is None:
        return out
    B = max(entries)
    # boundary from the OBSERVED .compact entries (r11, matching the
    # readers): the log is self-describing, so fsck must not report a
    # config-interval mismatch as missing entries
    compact_ids = [i for i, (name, _) in entries.items() if name.endswith(".compact")]
    C = max(compact_ids) if compact_ids else -1
    view_ids = ([C] if C >= 0 else [0]) + list(
        range((C if C >= 0 else 0) + 1, B + 1)
    )
    out["visible_entries_missing"] = [i for i in view_ids if i not in entries]
    listed = [
        s["path"]
        for i in view_ids
        if i in entries
        for s in entries[i][1]
        if s.get("action") != "delete"
    ]
    out["files_listed"] = len(listed)
    missing = 0
    for p in listed:
        _, jp = hadoop_fs(spark, p)
        if not fs.exists(jp):
            missing += 1
    out["files_missing"] = missing
    referenced = {p.rsplit("/", 1)[-1] for p in listed}
    _, jraw = hadoop_fs(spark, raw)
    out["maint_orphans"] = sum(
        1
        for st in fs.listStatus(jraw)
        if st.getPath().getName().startswith("maint-")
        and st.getPath().getName() not in referenced
    )
    _, jstage = hadoop_fs(spark, f"{raw}__maint_stage")
    out["rewrite_stage_leftover"] = bool(fs.exists(jstage))
    horizon = ingest.retention_horizon(spark, landing_root)
    out["retention_horizon"] = horizon
    compacted = f"{landing_root.rstrip('/')}/{ingest.COMPACTED_DIR}"
    out["compacted_present"] = parquet_exists(spark, compacted)
    if horizon is not None:
        out["unretired_rows"] = (
            int(spark.read.parquet(raw).where(F.col("seq") <= horizon).count())
            if missing == 0
            else -1
        )
    return out


def fsck_epochs(spark: SparkSession, platform_root: str) -> dict:
    """Invariant report for the platform-epoch store (the seventh store
    family, r10): each committed epoch's recorded frontiers are probed
    for SERVABILITY — whether a pin taken now would read, or fail stop
    because maintenance/retention/erasure has rewritten what it
    references. Metadata-only (existence/commit-marker probes; no data
    read), read-only like every fsck.

    Per epoch:

    - ``stale``: stores whose recorded frontier no longer resolves (a
      pinned read of that store raises with the pin-a-newer-epoch
      remedy — EXPECTED after maintenance; a growing stale tail just
      means retention is working);
    - ``absent``: stores the epoch recorded no frontier for (that
      component didn't exist at record time; pinned reads raise
      store-absent);

    plus ``fully_servable``: epochs every recorded store still serves.
    The latest epoch SHOULD normally be fully servable — run_platform
    records it after maintenance; a stale LATEST epoch means something
    rewrote stores outside the platform wave (manual compaction,
    erasure purge) and a fresh record_epoch is due."""
    from http_feeds_spark import epochs as ep
    from http_feeds_spark.streaming import dedup as sd
    from http_feeds_spark.streaming import monitor as mon

    root = platform_root.rstrip("/")
    dirs = committed_dirs(spark, f"{root}/{ep.EPOCHS_DIR}")
    out: dict = {"epochs": [n for n, _ in dirs], "reports": []}
    if not dirs:
        return out
    asg_have = {
        n for n, _ in committed_dirs(spark, f"{root}/dedup_index/{sd.ASSIGNMENT_DIR}")
    }
    fs, _ = hadoop_fs(spark, root)

    def _gone(paths: list[str]) -> bool:
        for p in paths:
            _, jp = hadoop_fs(spark, p)
            if not fs.exists(jp):
                return True
        return False

    for n, path in dirs:
        pin = ep.PlatformEpoch(spark, platform_root, spark.read.parquet(path).collect()[0])
        stale: list[str] = []
        absent: list[str] = []
        if not pin.text_batches:
            absent.append("text_index")
        elif any(
            not committed(spark, f"{root}/text_index/postings/batch={b:06d}")
            for b in pin.text_batches
        ):
            stale.append("text_index")
        if not pin.monitor_units:
            absent.append("monitor")
        else:
            try:
                paths = mon._unit_paths(
                    spark, f"{root}/monitor", pin.monitor_units, mon.STATS_DIR
                )
                if any(not committed(spark, p) for p in paths):
                    stale.append("monitor")
            except Exception:
                stale.append("monitor")
        if pin.dedup_epoch < 0:
            absent.append("dedup_index")
        elif pin.dedup_epoch not in asg_have:
            stale.append("dedup_index")
        if pin.landing_batch < 0:
            absent.append("landing")
        elif _gone(pin.landing_files):
            stale.append("landing")
        if not pin.ann_files["centroids"]:
            absent.append("ann_index")
        elif _gone(pin.ann_files["centroids"] + pin.ann_files["corpus"]):
            stale.append("ann_index")
        if not pin.pq_files["centroids"]:
            absent.append("pq_index")
        elif _gone(
            pin.pq_files["centroids"] + pin.pq_files["codebooks"] + pin.pq_files["codes"]
        ):
            stale.append("pq_index")
        if not pin.media_files["meta"]:
            absent.append("media_index")
        elif _gone(
            pin.media_files["meta"]
            + pin.media_files["phash"]
            + pin.media_files["audiofp"]
            + pin.media_files.get("videofp", [])
        ):
            stale.append("media_index")
        out["reports"].append({"epoch": n, "stale": stale, "absent": absent})
    out["fully_servable"] = [r["epoch"] for r in out["reports"] if not r["stale"]]
    return out


def fsck_platform(spark: SparkSession, platform_root: str) -> dict:
    """ONE-CALL audit of a ``run_platform`` root (the r10 verdict's
    missing #4): the per-store family reports (eight since the r13
    media store), keyed by component, under
    the layout run_platform itself lays down — callers no longer need
    to know which store lives where to audit a platform. Read-only like
    every fsck; a component whose directory is absent reports
    ``{"present": False}`` instead of raising (a platform configured
    without vector indexes is not corrupt).

    On top of the raw reports, the per-family signals are folded into
    two triage lists so one glance answers "is this platform healthy":

    - ``violations``: MUST-BE-ZERO invariants that aren't — store
      corruption no retry heals (posting doc overlap, duplicate vector
      ids, quantizer assignment mismatches, PQ code-shape breaks, sink
      log entries/files the readers need but cannot find, a retention
      horizon whose compacted copy is GONE = data loss, a legacy dedup
      layout folds refuse);
    - ``warnings``: heal-pending or backlog states the platform's own
      protocols converge (torn-fold orphans an at-least-once redelivery
      refolds, stage/maintenance leftovers the next pass resumes or
      sweeps, vacuum backlogs, stale derived meta the next upsert
      repairs, erasure ledgers awaiting purge, a latest epoch no longer
      fully servable);

    and ``clean`` = no violations (warnings allowed — they are the
    normal in-between states of crash-resumable protocols)."""
    root = platform_root.rstrip("/")
    fs, _ = hadoop_fs(spark, root)

    def _present(sub: str) -> bool:
        _, jp = hadoop_fs(spark, f"{root}/{sub}")
        return bool(fs.exists(jp))

    checks = {
        "text_index": fsck_text_index,
        "monitor": fsck_monitor,
        "dedup_index": fsck_dedup_index,
        "ann_index": fsck_ann_index,
        "pq_index": fsck_pq_index,
        "media_index": fsck_media_index,
        "landing": fsck_landing,
    }
    out: dict = {"components": {}}
    for name, check in checks.items():
        if not _present(name):
            out["components"][name] = {"present": False}
            continue
        out["components"][name] = {"present": True, **check(spark, f"{root}/{name}")}
    out["components"]["epochs"] = {
        "present": _present("epochs"),
        **fsck_epochs(spark, platform_root),
    }

    violations: list[str] = []
    warnings: list[str] = []

    def _flag(into: list[str], comp: str, key: str, value=None) -> None:
        rep = out["components"][comp]
        v = rep.get(key) if value is None else value
        if v:
            into.append(f"{comp}.{key}={v}")

    c = out["components"]
    if c["text_index"].get("present"):
        _flag(violations, "text_index", "doc_overlap_violations")
        _flag(warnings, "text_index", "inert_manifests")
        _flag(warnings, "text_index", "vacuum_backlog")
        _flag(warnings, "text_index", "erase_ledger_ids")
        if not c["text_index"].get("meta_fresh", True):
            warnings.append("text_index.meta_fresh=False")
    if c["monitor"].get("present"):
        _flag(warnings, "monitor", "torn_merges")
        _flag(warnings, "monitor", "vacuum_backlog")
    if c["dedup_index"].get("present"):
        if c["dedup_index"].get("legacy_layout"):
            violations.append("dedup_index.legacy_layout=True")
        _flag(warnings, "dedup_index", "band_orphans")
        _flag(warnings, "dedup_index", "assignment_orphans")
        _flag(warnings, "dedup_index", "stage_leftovers")
        _flag(warnings, "dedup_index", "erase_ledger_ids")
    if c["media_index"].get("present"):
        _flag(violations, "media_index", "modality_mismatches")
        _flag(warnings, "media_index", "fingerprint_orphans")
        _flag(warnings, "media_index", "duplicate_meta")
        _flag(warnings, "media_index", "stage_leftovers")
        _flag(warnings, "media_index", "erase_ledger_ids")
    for vec in ("ann_index", "pq_index"):
        if not c[vec].get("present"):
            continue
        _flag(violations, vec, "duplicate_ids")
        if vec == "ann_index":
            _flag(violations, vec, "assignment_violations")
        else:
            _flag(violations, vec, "code_shape_violations")
        _flag(warnings, vec, "stage_leftover")
        _flag(warnings, vec, "rewrite_stage_leftover")
        _flag(warnings, vec, "erase_ledger_ids")
    if c["landing"].get("present") and c["landing"].get("log_present"):
        _flag(violations, "landing", "visible_entries_missing")
        _flag(violations, "landing", "files_missing")
        if (
            c["landing"].get("retention_horizon") is not None
            and not c["landing"].get("compacted_present")
        ):
            violations.append("landing.compacted_missing=True (retired rows lost)")
        _flag(warnings, "landing", "maint_orphans")
        _flag(warnings, "landing", "rewrite_stage_leftover")
        _flag(warnings, "landing", "unretired_rows")
    ep = c["epochs"]
    if ep.get("epochs"):
        latest = ep["epochs"][-1]
        if latest not in ep.get("fully_servable", []):
            warnings.append(f"epochs.latest_not_fully_servable={latest}")

    out["violations"] = violations
    out["warnings"] = warnings
    out["clean"] = not violations
    return out
