"""Platform epochs — cross-store consistent reads for a multi-store
platform that has NO cross-component transaction by design.

Each store under ``ingest.run_platform`` folds the landing zone from its
own cursor, so a reader joining text-index hits against the dedup
assignment mid-catch-up can see store A at wave N and store B at wave
N−1. The classical fix without a transaction is the SNAPSHOT TOKEN:
after a successful wave the platform records every component's read
frontier into one committed manifest (``<root>/epochs/<n>``), and a
reader PINS an epoch — every store read then resolves against the
frontier that manifest recorded, all from the same wave, while later
waves land concurrently.

What a frontier is, per store (each already versions its reads):

- text index: the visible posting batch ids — ``text_index.search``
  takes ``batches=`` and recomputes df/avgdl/N from exactly those dirs;
- monitor: the visible unit ids — every monitor range read already
  takes a unit list (``_unit_paths``'s snapshot rule);
- dedup index: the committed assignment epoch number —
  ``dedup.read_assignment_epoch`` (folds retain
  ``ASSIGNMENT_KEEP_EPOCHS`` epochs so a pinned reader survives a
  concurrent wave);
- landing zone: the sink commit-log batch id — the pinned read lists
  files from log entries ≤ that id, the same arithmetic the sink's own
  reader uses;
- ANN / PQ indexes: the EXACT data-file lists of their stores
  (ann_index.snapshot_files / pq_index.snapshot_files) — feed upserts
  only append files, so a search over the recorded list serves exactly
  the wave-N corpus while wave N+1 lands, and a hybrid reader (BM25 ⊕
  ANN, the RRF composition) sees ONE wave on both index families.

Honesty about lifetime: an epoch is a SHORT-LIVED consistency token,
not time travel. Maintenance compaction (run_maintenance) rewrites the
batch sets a pin references; a read through a pin whose physical dirs
are gone raises with the remedy ("pin a newer epoch") — fail-stop,
never a silently newer answer. Record epochs AFTER maintenance (as
run_platform does) and pin only for the duration of a query round.

Scale: recording an epoch is a handful of metadata listings plus one
one-row parquet write; pinned reads add zero shuffles over their live
counterparts (same plans, explicit path lists). The exact-file
frontiers (landing, ANN, PQ) are O(store data files) strings — bounded
by the same maintenance that motivates them (landing_max_files for the
sink; compact_store folds the vector corpora to ~one file per cluster,
so an epoch row carries ~nlist paths, not one per historical append).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from http_feeds_spark.stores import committed, hadoop_fs

EPOCHS_DIR = "epochs"


def _epoch_dirs(spark: SparkSession, platform_root: str) -> list[tuple[int, str]]:
    root = f"{platform_root.rstrip('/')}/{EPOCHS_DIR}"
    fs, jroot = hadoop_fs(spark, root)
    if not fs.exists(jroot):
        return []
    out = []
    for st in fs.listStatus(jroot):
        name = st.getPath().getName()
        if st.isDirectory() and name.isdigit() and committed(spark, st.getPath().toString()):
            out.append((int(name), st.getPath().toString()))
    return sorted(out)


def list_epochs(spark: SparkSession, platform_root: str) -> list[int]:
    """Committed epoch numbers, ascending."""
    return [n for n, _ in _epoch_dirs(spark, platform_root)]


def _capture_frontiers(spark: SparkSession, root: str) -> dict:
    """One pass over every component's CURRENT read frontier — a
    handful of metadata listings, no data read. Factored out so
    record_epoch can capture TWICE and compare (its cross-store
    barrier)."""
    from http_feeds_spark import ingest
    from http_feeds_spark.operators import ann_index as ai
    from http_feeds_spark.operators import pq_index as pqi
    from http_feeds_spark.operators import text_index as ti
    from http_feeds_spark.stores import parquet_exists
    from http_feeds_spark.streaming import dedup as sd
    from http_feeds_spark.streaming import monitor as mon

    text_batches: list[int] = []
    if parquet_exists(spark, f"{root}/text_index/{ti.META_DIR}"):
        text_batches = ti.visible_batches(spark, f"{root}/text_index")
    monitor_units = mon.visible_units(spark, f"{root}/monitor")
    asg_epochs = sd._complete_epochs(spark, f"{root}/dedup_index/{sd.ASSIGNMENT_DIR}")
    dedup_epoch = asg_epochs[-1][0] if asg_epochs else -1
    ann_snap = ai.snapshot_files(spark, f"{root}/ann_index")
    pq_snap = pqi.snapshot_files(spark, f"{root}/pq_index")
    from http_feeds_spark.streaming import media as smedia

    media_snap = smedia.snapshot_files(spark, f"{root}/media_index")
    _, entries = ingest._sink_log_state(
        spark, f"{root}/landing/raw/_spark_metadata"
    )
    landing_batch = max(entries) if entries else -1
    # the landing frontier is the exact FILE LIST, not just a batch id:
    # a later landing file-compaction rewrites the compaction entry the
    # batch-id arithmetic would resolve to (listing rows from NEWER
    # waves too), so an id-pinned read could silently over-serve. A
    # file-pinned read either serves exactly the wave-N rows or fails
    # stop when maintenance has rewritten them away.
    landing_files: list[str] = []
    if entries:
        # the visible window derives from the OBSERVED log, not the live
        # session config: the boundary is the latest .compact entry (the
        # log is self-describing — Spark's own sink reader derives its
        # interval from the compact filenames), so a log written under a
        # different compactInterval, or a legitimate config change since,
        # still resolves instead of permanently refusing. A visible entry
        # MISSING (torn log) still refuses — recording a partial frontier
        # would make the later pinned read silently under-serve, the
        # exact lie this module exists to stop.
        compact_ids = [
            i for i, (name, _) in entries.items() if name.endswith(".compact")
        ]
        c = max(compact_ids) if compact_ids else -1
        view_ids = ([c] if c >= 0 else [0]) + list(
            range((c if c >= 0 else 0) + 1, landing_batch + 1)
        )
        missing = [i for i in view_ids if i not in entries]
        if missing:
            raise ValueError(
                f"sink log at {root}/landing/raw/_spark_metadata is missing "
                f"visible entries {missing}; refusing to record a partial "
                "landing frontier"
            )
        landing_files = [
            s["path"]
            for i in view_ids
            for s in entries[i][1]
            if s.get("action") != "delete"
        ]

    return {
        "text_batches": sorted(text_batches),
        "monitor_units": sorted(monitor_units),
        "dedup_epoch": dedup_epoch,
        "landing_batch": landing_batch,
        "landing_files": sorted(landing_files),
        "ann_centroid_files": ann_snap.get("centroids", []),
        "ann_corpus_files": ann_snap.get("corpus", []),
        "pq_centroid_files": pq_snap.get("centroids", []),
        "pq_codebook_files": pq_snap.get("codebooks", []),
        "pq_code_files": pq_snap.get("codes", []),
        "media_meta_files": media_snap.get("meta", []),
        "media_phash_files": media_snap.get("phash", []),
        "media_audiofp_files": media_snap.get("audiofp", []),
        "media_videofp_files": media_snap.get("videofp", []),
    }


def record_epoch(
    spark: SparkSession, platform_root: str, *, keep_epochs: int = 8
) -> dict:
    """Capture every component's CURRENT read frontier as epoch N
    (max committed + 1) and commit it as one one-row parquet manifest.
    Components whose store is absent record an empty frontier (readers
    of that component raise store-absent exactly like live reads).
    Retention: epochs ≤ N − keep_epochs are deleted — the epoch store
    itself must not become the next unbounded directory.

    Cross-store barrier: the per-store frontiers are metadata listings
    taken at DIFFERENT instants with no transaction, so a wave landing
    concurrently could straddle the record (ANN sees the new upsert,
    the text index does not — exactly the inconsistency epochs exist to
    stop). The frontiers are therefore captured TWICE and the epoch
    refuses to commit unless both passes agree — a moved frontier means
    ingestion is live, and the caller must record from a quiescent
    point (run_platform records after its wave completes, which is the
    intended call site)."""
    root = platform_root.rstrip("/")

    frontiers = _capture_frontiers(spark, root)
    again = _capture_frontiers(spark, root)
    if again != frontiers:
        moved = sorted(k for k in frontiers if frontiers[k] != again[k])
        raise RuntimeError(
            f"store frontiers moved while recording an epoch ({moved}): "
            "a wave is landing concurrently and the epoch would straddle "
            "it; record from a quiescent point (run_platform records "
            "after its wave completes)"
        )

    prior = _epoch_dirs(spark, platform_root)
    n = (prior[-1][0] + 1) if prior else 0
    rec = {"epoch": n, **frontiers}
    dedup_epoch = rec["dedup_epoch"]
    landing_batch = rec["landing_batch"]
    spark.createDataFrame(
        [
            (
                n,
                rec["text_batches"],
                rec["monitor_units"],
                dedup_epoch,
                landing_batch,
                rec["landing_files"],
                rec["ann_centroid_files"],
                rec["ann_corpus_files"],
                rec["pq_centroid_files"],
                rec["pq_codebook_files"],
                rec["pq_code_files"],
                rec["media_meta_files"],
                rec["media_phash_files"],
                rec["media_audiofp_files"],
                rec["media_videofp_files"],
            )
        ],
        "epoch int, text_batches array<int>, monitor_units array<bigint>, "
        "dedup_epoch int, landing_batch int, landing_files array<string>, "
        "ann_centroid_files array<string>, ann_corpus_files array<string>, "
        "pq_centroid_files array<string>, pq_codebook_files array<string>, "
        "pq_code_files array<string>, media_meta_files array<string>, "
        "media_phash_files array<string>, media_audiofp_files array<string>, "
        "media_videofp_files array<string>",
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{root}/{EPOCHS_DIR}/{n:06d}"
    )
    fs, _ = hadoop_fs(spark, root)
    for old_n, path in prior:
        if old_n <= n - keep_epochs:
            _, jp = hadoop_fs(spark, path)
            fs.delete(jp, True)
    return rec


class PlatformEpoch:
    """A pinned epoch: every read resolves against the recorded wave-N
    frontier. Construct via :func:`pin`."""

    def __init__(self, spark: SparkSession, platform_root: str, rec):
        self.spark = spark
        self.root = platform_root.rstrip("/")
        self.epoch = int(rec.epoch)
        self.text_batches = [int(b) for b in rec.text_batches]
        self.monitor_units = [int(u) for u in rec.monitor_units]
        self.dedup_epoch = int(rec.dedup_epoch)
        self.landing_batch = int(rec.landing_batch)
        self.landing_files = [str(p) for p in (getattr(rec, "landing_files", None) or [])]
        # pre-r10 epochs lack the vector-index frontiers; their pinned
        # vector reads raise not-recorded, never silently read live
        self.ann_files = {
            "centroids": [str(p) for p in (getattr(rec, "ann_centroid_files", None) or [])],
            "corpus": [str(p) for p in (getattr(rec, "ann_corpus_files", None) or [])],
        }
        self.pq_files = {
            "centroids": [str(p) for p in (getattr(rec, "pq_centroid_files", None) or [])],
            "codebooks": [str(p) for p in (getattr(rec, "pq_codebook_files", None) or [])],
            "codes": [str(p) for p in (getattr(rec, "pq_code_files", None) or [])],
        }
        # pre-r13 epochs lack the media frontier; pinned media reads of
        # them raise not-recorded, never silently read live
        self.media_files = {
            "meta": [str(p) for p in (getattr(rec, "media_meta_files", None) or [])],
            "phash": [str(p) for p in (getattr(rec, "media_phash_files", None) or [])],
            "audiofp": [
                str(p) for p in (getattr(rec, "media_audiofp_files", None) or [])
            ],
            "videofp": [
                str(p) for p in (getattr(rec, "media_videofp_files", None) or [])
            ],
        }

    def text_search(self, terms: list[str], k: int = 10) -> DataFrame:
        from http_feeds_spark.operators import text_index as ti

        return ti.search(
            self.spark, f"{self.root}/text_index", terms, k=k,
            batches=self.text_batches,
        )

    def monitor_stats(self) -> DataFrame:
        """(batch, n_docs, n_tokens, n_chars, short_docs) over exactly
        the pinned units, resolved through the monitor's own snapshot
        rule (a pinned unit later covered by a compaction still serves
        from its raw dir until vacuum; gone raises)."""
        from pyspark.sql import functions as F

        from http_feeds_spark.streaming import monitor as mon

        if not self.monitor_units:
            raise FileNotFoundError(f"epoch {self.epoch} recorded no monitor units")
        mon_root = f"{self.root}/monitor"
        paths = mon._unit_paths(self.spark, mon_root, self.monitor_units, mon.STATS_DIR)
        frames = []
        raw_paths = [p for p in paths if f"/{mon.MERGED_DIR}/" not in p]
        if raw_paths:
            frames.append(
                self.spark.read.option(
                    "basePath", f"{mon_root}/{mon.STATS_DIR}"
                ).parquet(*raw_paths)
            )
        for u, p in zip(self.monitor_units, paths):
            if f"/{mon.MERGED_DIR}/" in p:
                frames.append(
                    self.spark.read.parquet(p).withColumn(
                        "batch", F.lit(u).cast("long")
                    )
                )
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    def ann_search(self, queries: DataFrame, **kw) -> DataFrame:
        """IVF ANN search as of the pinned wave: centroids and corpus
        resolve to exactly the recorded files (ann_index.search's
        ``snapshot=``), so a wave-N+1 upsert landing concurrently never
        leaks into the result; a file maintenance has rewritten fails
        stop. Erasure trumps the pin (the ledger is consulted live)."""
        from http_feeds_spark.operators import ann_index as ai

        if not self.ann_files["centroids"]:
            raise FileNotFoundError(f"epoch {self.epoch} recorded no ANN index")
        return ai.search(
            self.spark, queries, f"{self.root}/ann_index",
            snapshot=self.ann_files, **kw,
        )

    def pq_search(self, queries: DataFrame, **kw) -> DataFrame:
        """IVF+PQ search as of the pinned wave (pq_index.search's
        ``snapshot=``) — same contract as :meth:`ann_search`."""
        from http_feeds_spark.operators import pq_index as pqi

        if not self.pq_files["centroids"]:
            raise FileNotFoundError(f"epoch {self.epoch} recorded no PQ index")
        return pqi.search(
            self.spark, queries, f"{self.root}/pq_index",
            snapshot=self.pq_files, **kw,
        )

    def embeddings(self) -> DataFrame:
        """The ANN corpus vectors (vec_id, embedding, cluster) as of
        the pinned wave: EXACTLY the recorded corpus files, with the
        fail-stop contract of every pinned read (a file a later
        rewrite/compaction deleted raises, never re-resolves)."""
        if not self.ann_files["corpus"]:
            raise FileNotFoundError(f"epoch {self.epoch} recorded no ANN index")
        from http_feeds_spark.operators import ann_index as ai
        from http_feeds_spark.stores import read_pinned_files

        return read_pinned_files(
            self.spark,
            f"{self.root}/ann_index/{ai.CORPUS_DIR}",
            self.ann_files["corpus"],
            "ANN corpus",
        )

    def topic_profile(self, docs: DataFrame, **kw) -> DataFrame:
        """Topic profile AS OF the pinned wave — the workflow the
        topics module documents (operators/topics.py: profile a
        quiescent epoch, never a moving corpus) as ONE call: the
        pinned ANN corpus supplies the embeddings, and the pinned
        coarse-quantizer centroids ARE the trained k-means, reused via
        ``centroids=`` — so the profile costs ZERO Lloyd trainings and
        labels exactly the clusters the epoch's ANN index serves,
        byte-stable while wave N+1 lands. ``docs`` is the (doc_id,
        text) frame to label with (inner-joined — the profile
        describes the clustered corpus); ``**kw`` passes through to
        :func:`operators.topics.topic_profile` (top_terms, analyzer,
        ...; ``k``/``iters`` are ignored with centroids supplied)."""
        from http_feeds_spark.operators import ann_index as ai
        from http_feeds_spark.operators import topics

        if not self.ann_files["centroids"]:
            raise FileNotFoundError(f"epoch {self.epoch} recorded no ANN index")
        cents = ai.load_centroids(
            self.spark,
            f"{self.root}/ann_index",
            files=self.ann_files["centroids"],
        )
        return topics.topic_profile(
            docs, self.embeddings(), centroids=cents, **kw
        )

    def dedup_assignment(self) -> DataFrame:
        from http_feeds_spark.streaming import dedup as sd

        if self.dedup_epoch < 0:
            raise FileNotFoundError(f"epoch {self.epoch} recorded no dedup assignment")
        return sd.read_assignment_epoch(
            self.spark, f"{self.root}/dedup_index", self.dedup_epoch
        )

    def media_meta(self) -> DataFrame:
        """The media-metadata table as of the pinned wave: EXACTLY the
        recorded meta files (streaming/media.read_meta's pinned path —
        fail stop once maintenance/purge rewrote any of them). Erasure
        trumps the pin: the ledger is consulted live, so an id erased
        after the record never surfaces from the pinned read."""
        from http_feeds_spark.streaming import media as smedia

        if not self.media_files["meta"]:
            raise FileNotFoundError(f"epoch {self.epoch} recorded no media store")
        return smedia.read_meta(
            self.spark, f"{self.root}/media_index", files=self.media_files["meta"]
        )

    def media_near_dup(self, **kw) -> DataFrame:
        """Cross-container media near-dup pairs as of the pinned wave:
        the phash/audiofp stores resolve to exactly the recorded files,
        so a wave-N+1 fold landing concurrently never adds pairs to the
        pinned answer. ``**kw`` passes through to
        streaming/media.near_dup_pairs (max_hamming, min_match)."""
        from http_feeds_spark.streaming import media as smedia

        if not self.media_files["meta"]:
            raise FileNotFoundError(f"epoch {self.epoch} recorded no media store")
        return smedia.near_dup_pairs(
            self.spark,
            f"{self.root}/media_index",
            snapshot=self.media_files,
            **kw,
        )

    def landing(self) -> DataFrame:
        """The raw landing rows as of the pinned wave: EXACTLY the data
        files the commit-log view listed when the epoch was recorded. A
        file a later maintenance rewrite or retirement has deleted makes
        the read fail stop (re-resolving the log by batch id instead
        would silently OVER-serve after a file compaction — the
        rewritten compaction entry lists rows from newer waves too)."""
        if self.landing_batch < 0:
            raise FileNotFoundError(f"epoch {self.epoch} recorded no landing batches")
        from http_feeds_spark.stores import read_pinned_files

        # read_pinned_files carries the whole fail-stop contract: the
        # driver-side existence probe AND ignoreMissingFiles=false on
        # the read itself (a file deleted between probe and execution
        # must raise, even under a cluster-wide ignoreMissingFiles=true)
        return read_pinned_files(
            self.spark, f"{self.root}/landing/raw", self.landing_files, "landing"
        )


def pin(
    spark: SparkSession, platform_root: str, epoch: int | None = None
) -> PlatformEpoch:
    """Pin an epoch (default: the latest committed). Raises when none
    exist or the requested one is outside the retention window."""
    dirs = _epoch_dirs(spark, platform_root)
    if not dirs:
        raise FileNotFoundError(
            f"no committed epochs under {platform_root}/{EPOCHS_DIR}; "
            "run_platform records one per wave"
        )
    have = dict(dirs)
    if epoch is None:
        epoch = dirs[-1][0]
    if epoch not in have:
        raise ValueError(
            f"epoch {epoch} is outside the retention window "
            f"(have {sorted(have)}); pin a newer epoch"
        )
    rec = spark.read.parquet(have[epoch]).collect()[0]
    return PlatformEpoch(spark, platform_root, rec)
