"""Persisted inverted index — build-once lexical search, the BM25
analogue of the ANN index store (operators/ann_index.py): at 100 TB a
retrieval tier cannot re-scan the corpus per query; it probes a posting
store (the classical IR architecture — Zobel & Moffat, "Inverted files
for text search engines", CSUR 2006).

Stores under one index root (any Hadoop filesystem):

    postings/NNNNNN/ (term, doc_id, tf, dl) partitioned by bucket=N/
                     — one dir per build/upsert batch; a batch is
                     VISIBLE only with its committer _SUCCESS marker
                     (torn writes are invisible; retries re-write the
                     same content idempotently per doc id)
    terms/    (term, df, …)          partitioned by bucket=N/
    meta/     (n_docs, avgdl, n_batches) one row — written LAST

``upsert_documents`` appends new docs WITHOUT rebuilding: per-doc-id
idempotence (ids-only anti-join against the visible postings), a new
batch dir, then terms/ and meta/ recomputed from the visible postings
(index-sized, not corpus-sized). The derived stores carry
``n_batches`` as a freshness fingerprint: if a crash lands a batch but
not the recomputed stores, the next ``search`` notices the mismatch
and recomputes df/avgdl from the postings on the fly (one
vocabulary-sized aggregate — correctness never depends on the derived
stores being fresh), and the next upsert/repair rewrites them.

- **Doc length rides the posting row** (denormalized at build): BM25's
  length normalization then needs NO doc-table join at query time —
  the standard search-engine layout trade (a few bytes per posting buys
  a join-free read path).
- **Terms are bucketed by hash** so a query's posting reads prune to
  |query terms| directories of the posting store — the partition-filter
  trick the ANN index uses for clusters, applied to the lexicon.
- Crash story (ann_index.py convention): postings/ and terms/ write
  first, meta/ LAST; presence of meta/ is the index-present check, so
  a torn build reads as absent and the deterministic rebuild overwrites
  all stores idempotently.

Search (``search``) must return EXACTLY what the per-query operator
(operators/retrieval.py: bm25_topk) returns on the same corpus — same
idf, same rounding, same tie-break — pinned in tests/test_text_index.py.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from http_feeds_spark.functions import text as tx
from http_feeds_spark.operators import erasure
from http_feeds_spark.operators.retrieval import B, K1
from http_feeds_spark.stores import (
    committed,
    committed_dirs,
    forget,
    hadoop_fs,
    memo,
    parquet_exists,
    require_lossless_cast,
)

POSTINGS_DIR = "postings"
TERMS_DIR = "terms"
META_DIR = "meta"
COMPACTION_DIR = "compaction"
N_BUCKETS = 64


def _index_root_of(post_root: str) -> str:
    # _paths always derives post_root as <index_root>/postings
    return post_root.rstrip("/").rsplit("/", 1)[0]


def _manifests(spark: SparkSession, index_root: str) -> list[tuple[int, int, list[int]]]:
    """(gen, new_batch, sources) of every _SUCCESS-committed compaction
    manifest, ascending by generation. A torn manifest has no marker and
    never activates."""
    gens = committed_dirs(spark, f"{index_root.rstrip('/')}/{COMPACTION_DIR}")
    if not gens:
        return []
    # ONE tiny collect over every committed manifest dir, schema named
    # (_replace_batches writes only this one), so the collect is the
    # only job. The generation comes back from each file's parent
    # directory (not a path match, which the index root's own path could
    # also satisfy), so one read answers all of them.
    rows = (
        spark.read.schema("new_batch int, sources array<int>")
        .parquet(*[p for _, p in gens])
        .select(
            F.element_at(F.split(F.input_file_name(), "/"), -2)
            .cast("int")
            .alias("gen"),
            "new_batch",
            "sources",
        )
        .collect()
    )
    by_gen = {int(r.gen): r for r in rows}
    return [
        (g, int(by_gen[g].new_batch), [int(b) for b in by_gen[g].sources])
        for g, _ in gens
    ]


def _complete_batches(spark: SparkSession, post_root: str) -> list[tuple[int, str]]:
    """VISIBLE batch dirs: committed dirs minus the sources of every
    ACTIVE compaction manifest. A manifest is active the instant its
    merged ``batch=<new>`` dir commits — that single _SUCCESS atomically
    swaps the sources for their merge, so no read ever double-counts a
    posting (manifest-first protocol, see compact_postings)."""
    raw = committed_dirs(spark, post_root, "batch=")
    nos = {no for no, _ in raw}
    hidden: set[int] = set()
    for _, new_batch, sources in _manifests(spark, _index_root_of(post_root)):
        if new_batch in nos:
            hidden.update(sources)
    return [(no, p) for no, p in raw if no not in hidden]


def _visible_postings(spark: SparkSession, post_root: str) -> tuple[DataFrame | None, int]:
    batches = _complete_batches(spark, post_root)
    if not batches:
        return None, 0
    paths = [p for _, p in batches]
    return spark.read.option("basePath", post_root).parquet(*paths), len(paths)


def _frontier(spark: SparkSession, index_root: str) -> dict | None:
    """The committed read-state of the index, memoized (stores.memo,
    keyed by the index root): meta-row fields, visible batch dirs, the
    visible-postings frame, the layout probes and the erase-ledger
    filter. Every writer in this module lands its commit by rewriting
    meta/ LAST, and the ledger mutators create/delete batch dirs under
    erased/, so those two dirs are the stamps. ``None`` when no usable
    meta store exists (a zero-row committed meta is a torn artifact and
    reads as absent)."""
    post_path, terms_path, meta_path = _paths(index_root)

    def load() -> dict | None:
        if not parquet_exists(spark, meta_path):
            return None
        meta_rows = spark.read.parquet(meta_path).collect()
        if not meta_rows:
            return None
        m = meta_rows[0]
        batches = _complete_batches(spark, post_path)
        post_df = (
            spark.read.option("basePath", post_path).parquet(*[p for _, p in batches])
            if batches
            else None
        )
        return {
            "n_docs": int(m.n_docs),
            "avgdl": float(m.avgdl),
            "n_batches_meta": int(
                getattr(m, "n_batches", len(batches)) or len(batches)
            ),
            "analyzer": getattr(m, "analyzer", None) or "whitespace",
            # a pre-analyzer meta (no such column) answers queries as
            # "whitespace" but reads as a stale LAYOUT to ensure_text_index
            "has_analyzer_col": "analyzer" in m.__fields__,
            "batches": batches,
            "post_df": post_df,
            # ensure's layout probe reads the OLDEST batch's schema (footer
            # only), exactly as the uncached form did
            "first_batch_positional": bool(
                batches and "positions" in spark.read.parquet(batches[0][1]).columns
            ),
            "erased": erasure.erased_ids(spark, index_root),
            "terms_df": (
                spark.read.parquet(terms_path)
                if parquet_exists(spark, terms_path)
                else None
            ),
        }

    return memo(spark, index_root, (meta_path, erasure._ledger_root(index_root)), load)


def visible_batches(spark: SparkSession, index_root: str) -> list[int]:
    """Visible posting batch numbers, ascending ([] when the index is
    absent) — the read-only count a maintenance policy thresholds on
    (ingest.run_maintenance) before deciding to ``compact_postings``."""
    post_path, _, _ = _paths(index_root)
    return [no for no, _ in _complete_batches(spark, post_path)]


def _next_batch_no(spark: SparkSession, post_root: str) -> int:
    """max over committed dirs AND every committed manifest's reserved
    numbers, +1 — NOT the batch count: purges/compactions leave the
    numbering sparse, and a committed-but-inert manifest (crash before
    its merged dir landed) has RESERVED its new_batch number — reusing
    it for an upsert would activate that stale manifest and hide live
    batches. A torn (uncommitted) attempt at this number is reclaimed by
    the retry's overwrite, same as before."""
    taken = {no for no, _ in committed_dirs(spark, post_root, "batch=")}
    for _, new_batch, sources in _manifests(spark, _index_root_of(post_root)):
        taken.add(new_batch)
        taken.update(sources)
    return (max(taken) + 1) if taken else 0


def index_analyzer(spark: SparkSession, index_root: str) -> str:
    """The analyzer this index was built with (recorded in meta/). A
    pre-analyzer meta (no such column) reads as "whitespace" — exactly
    the tokenization those indexes were built under, so old stores keep
    answering correctly without a rebuild."""
    fr = _frontier(spark, index_root)
    if fr is None:
        raise FileNotFoundError(f"no text index at {index_root}; build_text_index first")
    return fr["analyzer"]


def _require_index_analyzer(stored: str, requested: str | None, index_root: str) -> str:
    """Refuse-loudly analyzer conformance (the stores.require_lossless_cast
    pattern): querying or upserting under a different analyzer than the
    index was built with silently misses — raise instead."""
    if requested is not None and requested != stored:
        raise ValueError(
            f"text index at {index_root} was built with analyzer "
            f"{stored!r} but {requested!r} was requested; rebuild with "
            "build_text_index(analyzer=...) to change analyzers"
        )
    return stored


def _write_derived(
    spark: SparkSession, index_root: str, n_batches: int, analyzer: str | None = None
) -> None:
    """Recompute terms/ + meta/ from the VISIBLE postings (index-sized
    passes) and stamp them with the batch fingerprint. meta/ last.
    ``analyzer=None`` carries the CURRENT meta's analyzer forward (the
    compaction/upsert paths must never change it)."""
    post_path, terms_path, meta_path = _paths(index_root)
    if analyzer is None:
        analyzer = (
            index_analyzer(spark, index_root)
            if parquet_exists(spark, meta_path)
            else "whitespace"
        )
    post, _ = _visible_postings(spark, post_path)
    terms = post.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    (
        terms.withColumn("bucket", _bucket("term"))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(terms_path)
    )
    stats = (
        post.select("doc_id", "dl")
        .groupBy("doc_id")
        .agg(F.first("dl").alias("dl"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.avg("dl").alias("avgdl"),
            F.lit(n_batches).cast("int").alias("n_batches"),
            F.lit(analyzer).alias("analyzer"),
        )
    )
    stats.coalesce(1).write.mode("overwrite").parquet(meta_path)


def _paths(index_root: str) -> tuple[str, str, str]:
    root = index_root.rstrip("/")
    return (f"{root}/{POSTINGS_DIR}", f"{root}/{TERMS_DIR}", f"{root}/{META_DIR}")


def _bucket(term_col) -> F.Column:
    c = F.col(term_col) if isinstance(term_col, str) else term_col
    return F.pmod(F.xxhash64(c), F.lit(N_BUCKETS)).cast("int")


def _buckets_of(spark: SparkSession, terms: list[str]) -> dict[str, int]:
    """term → posting bucket for every distinct term, computed DRIVER-
    side with the pure-Python XXH64 twin of the engine's xxhash64
    (functions/sketch_xxh64.py; exact-parity pinned in
    tests/test_text_index.py). r15: the previous spark.range(1) form
    scheduled a real 1-task job per search call just to hash a handful
    of literal terms (guide §1 job-overhead audit); this costs no Spark
    work at all. ``pmod`` semantics match Spark's (result sign follows
    the divisor — Python's % already does that for positive divisors)."""
    from http_feeds_spark.functions.sketch_xxh64 import spark_xxhash64_str

    return {t: spark_xxhash64_str(t) % N_BUCKETS for t in set(terms)}


def build_text_index(
    spark: SparkSession,
    docs: DataFrame,
    index_root: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    analyzer: str = "standard",
) -> None:
    """Two aggregates + three writes; every pass linear, corpus never
    collected. Postings carry dl so search is join-free.

    ``analyzer`` (functions/text.analyze) is the ONE tokenization the
    index lives under — recorded in meta/, enforced on every upsert and
    query (the classical analyzer-mismatch bug class: an index built
    lowercased and queried raw silently misses). "standard" =
    lowercase + Unicode non-alphanumeric split + drop empties — the
    real-text default; "whitespace" = the legacy single-space split.
    Under EVERY analyzer dl counts exactly the posted tokens (empties
    never counted), so idf/avgdl and the postings always agree.

    A build is a DESTRUCTIVE rebuild: meta/ is deleted FIRST (so a torn
    rebuild reads as absent — the module's crash story), then any prior
    posting batches and compaction manifests (a rebuild over an old
    multi-batch store must not leave stale dirs visible next to the new
    batch 0), then the fresh stores land with meta/ last."""
    tx._require_analyzer(analyzer)
    forget(index_root)  # the store stops being readable NOW
    post_path, _, meta_path = _paths(index_root)
    fs, jmeta = hadoop_fs(spark, meta_path)
    if fs.exists(jmeta):
        fs.delete(jmeta, True)
    for stale in (post_path, f"{index_root.rstrip('/')}/{COMPACTION_DIR}"):
        _, jp = hadoop_fs(spark, stale)
        if fs.exists(jp):
            fs.delete(jp, True)
    _write_postings_batch(spark, docs, post_path, 0, id_col, text_col, analyzer)
    _write_derived(spark, index_root, 1, analyzer)
    forget(index_root)  # readers must see the fresh build


def _exploded_postings(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    analyzer: str = "standard",
) -> DataFrame:
    """(doc_id, dl, pos, term) — one row per token occurrence, dl
    computed ONCE per document in a Project BELOW the Generate (two
    selects, like retrieval.py's posting shape). Putting
    ``size(analyze(...))`` in the SAME select as
    ``posexplode(analyze(...))`` hoists the size() ABOVE the Generate,
    where Catalyst re-evaluates the WHOLE tokenization once per
    EXPLODED row — ~dl× per document, and under ``standard_porter`` a
    second ArrowEvalPython node re-running the stemmer per exploded
    row. Measured on the 50K×3KB bench corpus that shape was ~8× the
    whole build (232s → 30s standard) and made the porter build
    effectively unbuildable (tens of minutes → 20s). The residual
    duplication is Spark's InferFiltersFromGenerate (one extra
    analyze() per DOCUMENT in the pushed-down size>0 filter) — per-doc,
    not per-token, so it stays. Plan shape pinned in tests/test_plans.py."""
    toks_df = docs.select(
        F.col(id_col).alias("doc_id"),
        tx.analyze(F.col(text_col), analyzer).alias("__toks"),
    ).select("doc_id", F.size("__toks").cast("int").alias("dl"), "__toks")
    return toks_df.select(
        "doc_id", "dl", F.posexplode("__toks").alias("pos", "term")
    ).where(F.col("term") != "")


def _write_postings_batch(
    spark: SparkSession,
    docs: DataFrame,
    post_path: str,
    batch_no: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    analyzer: str = "standard",
) -> None:
    # analyze() never emits empty tokens, so dl == exactly the tokens
    # posted below (the pre-analyzer layout counted raw split slots and
    # then filtered empties out of the postings — idf/avgdl and dl could
    # disagree on multi-space text); positions are offsets into the
    # ANALYZED token sequence, so phrase adjacency spans punctuation.
    exploded = _exploded_postings(docs, id_col, text_col, analyzer)
    # positions ride the posting (sorted, 0-based token offsets): a few
    # ints per posting buy exact PHRASE queries with no document reads —
    # the classical positional-index trade (Zobel & Moffat §6)
    postings = exploded.groupBy("doc_id", "dl", "term").agg(
        F.count("*").cast("int").alias("tf"),
        F.sort_array(F.collect_list(F.col("pos").cast("int"))).alias("positions"),
    )
    (
        postings.withColumn("bucket", _bucket("term"))
        .write.mode("overwrite")  # retry of a torn batch overwrites it
        .partitionBy("bucket")
        .parquet(f"{post_path}/batch={batch_no:06d}")
    )


def upsert_documents(
    spark: SparkSession,
    new_docs: DataFrame,
    index_root: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    analyzer: str | None = None,
) -> int:
    """Append new documents WITHOUT rebuilding: ids already indexed are
    dropped (ids-only anti-join against a column-pruned scan of the
    visible postings — at-least-once safe), the rest land as one new
    batch dir, then the derived stores are recomputed (index-sized).
    Returns the number of docs appended. Search ≡ a from-scratch build
    over the union corpus is pinned in tests/test_text_index.py.

    A meta-present store with ZERO visible batches is an EMPTY index
    (the whole-index-erased purge leaves exactly this state — the store
    still exists, answering every query with no hits) and accepts the
    upsert as its first batch; only a store with no meta at all raises.
    The id conformance cast is refuse-loudly: a batch whose id type
    does not cast losslessly into the store's (long ids into an
    int-keyed store) raises instead of silently truncating — truncated
    ids would index the wrong documents under aliases
    (stores.require_lossless_cast)."""
    post_path, _, meta_path = _paths(index_root)
    if not parquet_exists(spark, meta_path):
        raise FileNotFoundError(f"no text index at {index_root}; build_text_index first")
    # the new batch MUST tokenize exactly like the existing postings: an
    # explicit mismatched analyzer is refused; None inherits the store's
    analyzer = _require_index_analyzer(
        index_analyzer(spark, index_root), analyzer, index_root
    )
    post, n_batches = _visible_postings(spark, post_path)
    if post is not None:
        store_t = post.schema["doc_id"].dataType
        require_lossless_cast(
            new_docs.schema[id_col].dataType, store_t,
            f"text index doc ids at {index_root}",
        )
        new_docs = new_docs.withColumn(id_col, F.col(id_col).cast(store_t))
        existing = post.select(F.col("doc_id").alias(id_col)).distinct()
        fresh = new_docs.join(existing, id_col, "left_anti").localCheckpoint()
    else:
        fresh = new_docs.localCheckpoint()  # empty index: nothing to exclude
    n = fresh.count()
    if n:
        _write_postings_batch(
            spark, fresh, post_path, _next_batch_no(spark, post_path),
            id_col, text_col, analyzer,
        )
        _write_derived(spark, index_root, n_batches + 1, analyzer)
        forget(index_root)  # a new batch is visible
    return n


def update_documents(
    spark: SparkSession,
    docs: DataFrame,
    index_root: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    analyzer: str | None = None,
) -> dict:
    """Re-index CHANGED documents in place. ``upsert_documents`` is
    insert-only BY DESIGN (its per-id anti-join is what makes
    at-least-once redelivery safe), so an edited document needs the
    explicit update path: logically erase the ids, physically purge
    their current postings (ledger snapshot → batch rewrite → ledger
    clear, the purge_erased machinery), then upsert the new text —
    which, post-purge, indexes as a fresh document.

    Crash windows inherit the erasure story: after the erase commits
    the OLD version can no longer surface from any read (an update in
    flight reads as briefly absent, never stale). A retry — after a
    crash OR a full re-run — re-applies the replacement (erases
    whatever version the ids currently have, inserts the given one), so
    the final state is always exactly the given documents, never a
    duplicate and never a stale version. Returns {"removed_rows",
    "docs_indexed"}."""
    # conformance up front: refuse a mismatched analyzer BEFORE erasing
    # anything (the erase is destructive; the check is not)
    _require_index_analyzer(index_analyzer(spark, index_root), analyzer, index_root)
    ids = docs.select(F.col(id_col).cast("long").alias("id")).distinct()
    erasure.erase_ids(spark, index_root, ids)
    removed = purge_erased(spark, index_root)
    added = upsert_documents(spark, docs, index_root, id_col, text_col, analyzer)
    return {"removed_rows": int(removed), "docs_indexed": int(added)}


def ensure_text_index(spark: SparkSession, docs: DataFrame, index_root: str, **kw) -> bool:
    """Build iff absent. Present = meta/ exists AND records an analyzer
    AND at least one committed posting batch dir AND the postings carry
    the positions column — an index in a stale layout (a pre-batch-
    format, pre-positional, or pre-analyzer artifact under a persistent
    warehouse dir) reads as absent and is rebuilt in place (schema
    probes are footer-only). An EXPLICIT ``analyzer=`` kwarg that
    differs from a present index's also rebuilds (the caller is asking
    for a different tokenization, and an index cannot change analyzers
    in place)."""
    fr = _frontier(spark, index_root)
    # the cached frontier answers every probe (meta presence + row, batch
    # listing, oldest-batch layout) — a warm ensure call costs no Spark
    # work at all (r16); a committed-but-EMPTY meta reads as absent
    # (fr is None) and rebuilds (r16, ADVICE)
    if (
        fr is not None
        and fr["batches"]
        and fr["first_batch_positional"]
        and fr["has_analyzer_col"]
    ):
        want = kw.get("analyzer")
        if want is None or want == fr["analyzer"]:
            return False
    build_text_index(spark, docs, index_root, **kw)
    return True


def search(
    spark: SparkSession,
    index_root: str,
    terms: list[str],
    k: int = 10,
    k1: float = K1,
    b: float = B,
    analyzer: str | None = None,
    batches: list[int] | None = None,
) -> DataFrame:
    """SEARCH-ONLY BM25 against the prebuilt index: reads prune to the
    query terms' bucket directories (≤ |terms| of N_BUCKETS), idf comes
    from a |terms|-row lookup of the terms store, scoring is join-free
    (dl rides the posting). Output contract = retrieval.bm25_topk:
    (doc_id, score, rank), score rounded to 6 dp, rank dense over
    (score desc, doc_id asc).

    Query terms pass through the INDEX'S OWN analyzer (recorded in
    meta/) before lookup — an index built lowercased must see lowercased
    query terms or it silently misses (the classical analyzer-mismatch
    bug class). A term that analyzes to several tokens ("Don't" →
    don, t) queries as those tokens. ``analyzer`` is a conformance
    assertion only: passing one that differs from the index's raises.

    ``batches`` pins an AS-OF read (the platform-epoch reader,
    http_feeds_spark/epochs.py): exactly those posting batch dirs are
    read — later upserts invisible — and df/avgdl/N recompute from the
    pinned postings (the existing heal path), so the answer is the one
    the same query gave when that batch set WAS the visible frontier.
    A pinned batch that a later compaction has vacuumed raises (an
    epoch pin is a short-lived consistency token, not time travel)."""
    post_path, terms_path, meta_path = _paths(index_root)
    # ALL store metadata — the meta row, the visible batch listing, the
    # manifest set, the erase-ledger filter — comes from the committed-
    # frontier cache (r16): a warm search call schedules no meta job and
    # lists no directories; the only per-call driver work left on the
    # fresh path is the |terms|-row term-store lookup below.
    fr = _frontier(spark, index_root)
    if fr is None:
        raise FileNotFoundError(f"no text index at {index_root}; build_text_index first")
    n, avgdl = fr["n_docs"], fr["avgdl"]
    stored_analyzer = fr["analyzer"]
    _require_index_analyzer(stored_analyzer, analyzer, index_root)
    terms = tx.tokenize_query(terms, stored_analyzer)
    if not terms:  # every query term analyzed away (pure punctuation)
        return spark.createDataFrame([], "doc_id long, score double, rank int")
    if batches is not None:
        if not batches:  # pinned before the first batch: empty index
            return spark.createDataFrame([], "doc_id long, score double, rank int")
        paths = [f"{post_path}/batch={no:06d}" for no in sorted(set(batches))]
        for no, p in zip(sorted(set(batches)), paths):
            if not committed(spark, p):
                raise ValueError(
                    f"posting batch {no} of the pinned epoch was compacted "
                    f"away at {index_root}; pin a newer epoch"
                )
        post_df = spark.read.option("basePath", post_path).parquet(*paths)
        n_batches = len(paths)
        stale = True  # recompute df/avgdl/N from exactly the pinned postings
    else:
        post_df = fr["post_df"]
        n_batches = len(fr["batches"])
        if post_df is None:
            if n == 0:
                # fully-purged index: every document was erased and
                # physically removed — an empty corpus answers every
                # query with no hits
                return spark.createDataFrame([], "doc_id long, score double, rank int")
            raise FileNotFoundError(
                f"no committed posting batches at {index_root} (stale or "
                "incompatible layout); rebuild with build_text_index"
            )
        stale = fr["n_batches_meta"] != n_batches
    # the ledger mutators invalidate the frontier cache, so the cached
    # filter IS the live ledger (erasure trumps pins, epochs.py contract)
    erased = fr["erased"]
    if erased is not None:
        # logical-erasure window (ledger set, purge not yet run): erased
        # docs must not surface AND must not influence idf/avgdl — filter
        # the postings and take the heal path, which recomputes both from
        # the filtered postings. purge_erased restores the fast path.
        post_df = post_df.join(
            erased.withColumnRenamed("id", "doc_id"), "doc_id", "left_anti"
        )
        stale = True
    if stale:
        # a crash landed a posting batch but not the derived stores —
        # heal: recompute df/avgdl from the visible postings (one
        # vocabulary-sized aggregate; correctness never waits on repair)
        per_doc = post_df.groupBy("doc_id").agg(F.first("dl").alias("dl"))
        row = per_doc.agg(F.count("*"), F.avg("dl")).collect()[0]
        n, avgdl = int(row[0]), float(row[1])

    terms = sorted(set(terms))
    buckets = sorted(set(_buckets_of(spark, terms).values()))  # driver-side
    if stale:
        tstore = post_df.where(F.col("term").isin(terms)).groupBy("term").agg(
            F.count("*").cast("long").alias("df")
        )
    else:
        tstore = (
            fr["terms_df"]
            if batches is None and fr["terms_df"] is not None
            else spark.read.parquet(terms_path)
        ).where(F.col("bucket").isin(buckets) & F.col("term").isin(terms))
    dfs = {r.term: int(r.df) for r in tstore.select("term", "df").collect()}
    if not dfs:
        return spark.createDataFrame([], "doc_id long, score double, rank int")
    idf_rows = [
        (t, math.log(1.0 + (n - dfs[t] + 0.5) / (dfs[t] + 0.5))) for t in sorted(dfs)
    ]
    idf = spark.createDataFrame(idf_rows, "term string, idf double")

    post = post_df.where(
        F.col("bucket").isin(buckets) & F.col("term").isin(terms)
    )
    tf = F.col("tf").cast("double")
    dl_norm = 1.0 - b + b * F.col("dl").cast("double") / F.lit(avgdl)
    term_score = F.col("idf") * tf * (k1 + 1.0) / (tf + k1 * dl_norm)
    scored = (
        post.join(F.broadcast(idf), "term")
        .withColumn("__s", F.round(term_score, 9).cast("decimal(38,9)"))
        .groupBy("doc_id")
        .agg(F.round(F.sum("__s").cast("double"), 6).alias("score"))
    )
    return (
        scored.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .withColumn(
            "rank",
            # k rows by construction (limit above): the global rank
            # window is single-partition over k rows, so WindowExec's
            # unpartitioned-window warning is noise here, not a scale
            # bug (a foldable partition key would be optimized away)
            F.row_number().over(Window.orderBy(F.desc("score"), F.asc("doc_id"))),
        )
    )


def _positional_postings(
    spark: SparkSession, index_root: str, analyzer: str | None = None
) -> tuple[DataFrame | None, str]:
    """The guarded positional-posting view the phrase/proximity queries
    share: (visible postings — None when fully purged, index analyzer),
    positions column required, erase-ledger filter applied, analyzer
    conformance enforced (an explicit mismatched ``analyzer`` raises).
    Served entirely from the committed-frontier cache (r16): a warm
    phrase/proximity call schedules NO driver job before its search."""
    fr = _frontier(spark, index_root)
    if fr is None:
        raise FileNotFoundError(f"no text index at {index_root}; build_text_index first")
    stored = fr["analyzer"]
    _require_index_analyzer(stored, analyzer, index_root)
    post_df = fr["post_df"]
    if post_df is None:
        return None, stored
    if "positions" not in post_df.columns:
        raise ValueError(
            f"index at {index_root} predates positional postings; rebuild "
            "with build_text_index to enable phrase queries"
        )
    erased = fr["erased"]
    if erased is not None:
        post_df = post_df.join(
            erased.withColumnRenamed("id", "doc_id"), "doc_id", "left_anti"
        )
    return post_df, stored


def phrase_search(
    spark: SparkSession,
    index_root: str,
    phrase: list[str],
    k: int = 10,
    analyzer: str | None = None,
) -> DataFrame:
    """EXACT phrase query against the positional postings: documents
    containing the terms ADJACENT and in order, ranked by occurrence
    count. (doc_id, n_matches, rank), ties broken by doc_id asc.

    Plan shape (the classical positional-intersection, Zobel & Moffat
    §6.3, as pure JVM array algebra): the i-th term's posting read is
    pruned to its hash bucket (≤ |phrase| of N_BUCKETS directories);
    the candidate set narrows by an INNER equi-join on doc_id per term
    (docs missing any term leave the plan early); match start-positions
    are ``array_intersect(acc, positions_i − i)`` — codegen'd, no UDF,
    no document reads. Erased docs are filtered like ``search``.

    The phrase passes through the index's analyzer first (order
    preserved — a term analyzing to several tokens extends the phrase,
    so ["don't", "stop"] under "standard" queries don t stop, exactly
    how the corpus side was indexed)."""
    if not phrase:
        raise ValueError("empty phrase")
    post_df, stored = _positional_postings(spark, index_root, analyzer)
    phrase = tx.tokenize_query(phrase, stored)
    if not phrase:
        raise ValueError("phrase analyzed to zero tokens")
    if post_df is None:
        return spark.createDataFrame([], "doc_id long, n_matches int, rank int")

    bucket_of = _buckets_of(spark, phrase)  # ONE job for every term

    def term_postings(term: str) -> DataFrame:
        return post_df.where(
            (F.col("bucket") == bucket_of[term]) & (F.col("term") == term)
        ).select("doc_id", "positions")

    acc = term_postings(phrase[0]).select(
        "doc_id", F.col("positions").alias("__starts")
    )
    for i, term in enumerate(phrase[1:], start=1):
        nxt = term_postings(term).select(
            "doc_id",
            F.transform("positions", lambda p: p - i).alias("__shifted"),
        )
        acc = acc.join(nxt, "doc_id").select(
            "doc_id",
            F.array_intersect("__starts", "__shifted").alias("__starts"),
        )
    from pyspark.sql import Window

    hits = acc.select(
        "doc_id", F.size("__starts").cast("int").alias("n_matches")
    ).where(F.col("n_matches") > 0)
    return (
        hits.orderBy(F.desc("n_matches"), F.asc("doc_id"))
        .limit(k)
        .withColumn(
            "rank",
            # k rows by construction (limit above): the global rank
            # window is single-partition over k rows, so WindowExec's
            # unpartitioned-window warning is noise here, not a scale
            # bug (a foldable partition key would be optimized away)
            F.row_number().over(Window.orderBy(F.desc("n_matches"), F.asc("doc_id"))),
        )
    )


def proximity_search(
    spark: SparkSession,
    index_root: str,
    terms: list[str],
    slop: int = 0,
    k: int = 10,
    analyzer: str | None = None,
) -> DataFrame:
    """Ordered within-window proximity query over the positional
    postings — the slop-k generalization of ``phrase_search`` (Zobel &
    Moffat §6.3's positional companion): a match is an occurrence of the
    terms IN ORDER at strictly increasing positions q_0 < … < q_{m-1}
    whose span q_{m-1} − q_0 ≤ (m−1) + slop. ``slop=0`` degenerates to
    exact adjacency (score == phrase_search's n_matches, pinned).

    Matching is the greedy earliest-next-occurrence walk: from each
    start q_0 the i-th term takes its smallest position > q_{i-1} —
    which minimizes the final span for that start, so existence under
    the window test is exact. Scoring rewards TIGHT spans: each match
    contributes 1/(1 + span − (m−1)) (an adjacent match scores 1, one
    inserted word ½, …), summed per doc and rounded to 6 dp.

    Plan shape = phrase_search's: per-term reads pruned to ONE hash
    bucket each (one job computes all buckets), candidates narrow by an
    inner doc_id equi-join per term, and the walk itself is codegen'd
    array algebra — transform/filter/array_min over (start, q) structs,
    no UDF, no document reads. Returns (doc_id, n_matches, best_span,
    score, rank); rank dense over (score desc, doc_id asc)."""
    if not terms:
        raise ValueError("empty term list")
    post_df, stored = _positional_postings(spark, index_root, analyzer)
    terms = tx.tokenize_query(terms, stored)
    if not terms:
        raise ValueError("term list analyzed to zero tokens")
    if post_df is None:
        return spark.createDataFrame(
            [], "doc_id long, n_matches int, best_span int, score double, rank int"
        )
    m = len(terms)
    bucket_of = _buckets_of(spark, terms)

    def term_postings(term: str) -> DataFrame:
        return post_df.where(
            (F.col("bucket") == bucket_of[term]) & (F.col("term") == term)
        ).select("doc_id", "positions")

    acc = term_postings(terms[0]).select(
        "doc_id",
        F.transform(
            "positions", lambda p: F.struct(p.alias("p0"), p.alias("q"))
        ).alias("__cand"),
    )
    def _advance(c):
        # earliest occurrence of the current term strictly after c.q
        # (a one-arg inner lambda: filter's two-arg form is (x, index))
        return F.struct(
            c["p0"].alias("p0"),
            F.array_min(F.filter("__pos", lambda x: x > c["q"])).alias("q"),
        )

    for term in terms[1:]:
        nxt = term_postings(term).select(
            "doc_id", F.col("positions").alias("__pos")
        )
        acc = acc.join(nxt, "doc_id").select(
            "doc_id",
            F.filter(
                F.transform("__cand", _advance),
                lambda c: c["q"].isNotNull(),
            ).alias("__cand"),
        )
    win = m - 1 + slop
    spans = F.filter(
        F.transform("__cand", lambda c: (c["q"] - c["p0"]).cast("int")),
        lambda s: s <= F.lit(win),
    )
    from pyspark.sql import Window

    hits = acc.select(
        "doc_id",
        F.size(spans).cast("int").alias("n_matches"),
        F.array_min(spans).cast("int").alias("best_span"),
        F.round(
            F.aggregate(
                spans,
                F.lit(0.0),
                lambda s, x: s + 1.0 / (1.0 + x - F.lit(float(m - 1))),
            ),
            6,
        ).alias("score"),
    ).where(F.col("n_matches") > 0)
    return (
        hits.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .withColumn(
            "rank",
            # k rows by construction (limit above): the global rank
            # window is single-partition over k rows, so WindowExec's
            # unpartitioned-window warning is noise here, not a scale
            # bug (a foldable partition key would be optimized away)
            F.row_number().over(Window.orderBy(F.desc("score"), F.asc("doc_id"))),
        )
    )


def proximity_search_any(
    spark: SparkSession,
    index_root: str,
    terms: list[str],
    slop: int = 0,
    k: int = 10,
    analyzer: str | None = None,
) -> DataFrame:
    """UNORDERED proximity query — the Lucene-default slop semantics
    companion to the ordered :func:`proximity_search`: a match is a
    window containing ONE occurrence of every query term in ANY order,
    with span ≤ (m−1) + slop (slop=0 ⇒ the terms are consecutive in
    some permutation). Terms are SET semantics (duplicates dropped —
    unordered multiplicity is ill-defined).

    The classical minimal-covering-window sweep, expressed as window
    functions instead of a per-doc scan: occurrence rows (doc, term,
    pos) sort by position per doc; ``last_t(p)`` = the latest
    occurrence of term t at or before p (one running MAX per term);
    the minimal window ending at p spans ``p − least(last_1..last_m)``.
    Each p whose window passes the span test counts as one match
    (windows ending at distinct positions — the same counting rule as
    the ordered variant's distinct starts), scored 1/(1 + span − (m−1))
    and summed.

    Plan shape: per-term posting reads pruned to ONE bucket each (one
    job computes all buckets), candidate docs narrowed FIRST by per-term
    semi-joins (docs missing any term never reach the window), then one
    hash exchange on doc_id for the m running-max windows — all
    codegen'd, no UDF, no document reads. Returns (doc_id, n_matches,
    best_span, score, rank); rank dense over (score desc, doc_id
    asc)."""
    if not terms:
        raise ValueError("empty term list")
    post_df, stored = _positional_postings(spark, index_root, analyzer)
    uniq = sorted(set(tx.tokenize_query(terms, stored)))
    if not uniq:
        raise ValueError("term list analyzed to zero tokens")
    if post_df is None:
        return spark.createDataFrame(
            [], "doc_id long, n_matches int, best_span int, score double, rank int"
        )
    m = len(uniq)
    bucket_of = _buckets_of(spark, uniq)

    def term_postings(term: str) -> DataFrame:
        return post_df.where(
            (F.col("bucket") == bucket_of[term]) & (F.col("term") == term)
        ).select("doc_id", "term", "positions")

    frames = [term_postings(t) for t in uniq]
    docs = frames[0].select("doc_id")
    for f in frames[1:]:
        docs = docs.join(f.select("doc_id"), "doc_id", "semi")
    occ = frames[0]
    for f in frames[1:]:
        occ = occ.unionByName(f)
    occ = occ.join(docs, "doc_id", "semi").select(
        "doc_id", "term", F.explode("positions").alias("pos")
    )

    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lasts = [
        F.max(F.when(F.col("term") == t, F.col("pos"))).over(w).alias(f"__l{i}")
        for i, t in enumerate(uniq)
    ]
    span = F.col("pos") - F.least(*[F.col(f"__l{i}") for i in range(m)])
    # least() skips nulls — the all-terms-seen test must be explicit
    all_seen = F.lit(True)
    for i in range(m):
        all_seen = all_seen & F.col(f"__l{i}").isNotNull()
    win = m - 1 + slop
    swept = (
        occ.select("doc_id", "pos", *lasts)
        .withColumn("__span", span.cast("int"))
        .where(all_seen & (F.col("__span") <= win))
    )
    hits = swept.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_matches"),
        F.min("__span").cast("int").alias("best_span"),
        F.round(
            F.sum(1.0 / (1.0 + F.col("__span") - F.lit(float(m - 1)))), 6
        ).alias("score"),
    )
    return (
        hits.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .withColumn(
            "rank",
            # k rows by construction (limit above): the global rank
            # window is single-partition over k rows, so WindowExec's
            # unpartitioned-window warning is noise here, not a scale
            # bug (a foldable partition key would be optimized away)
            F.row_number().over(Window.orderBy(F.desc("score"), F.asc("doc_id"))),
        )
    )


def _replace_batches(
    spark: SparkSession,
    index_root: str,
    source_nos: list[int],
    frame: DataFrame,
) -> int:
    """Atomically replace the ``source_nos`` batch dirs with ``frame``
    as ONE new batch dir (manifest-first protocol):

    1. commit a ``compaction/<gen>`` manifest naming (new_batch,
       sources) — INERT until the merged dir exists, so a crash here
       changes nothing (the reserved number is never reused,
       _next_batch_no);
    2. write the frame to ``postings/batch=<new>`` — its _SUCCESS
       marker ATOMICALLY activates the manifest: sources hidden and
       merge visible in the same instant, so no reader ever sees both;
    3. recompute the derived stores, then vacuum the hidden sources.

    A crash between 2 and 3 leaves a stale meta fingerprint (search
    heals, module docstring) and hidden-garbage dirs (next vacuum).
    Returns the new batch number."""
    post_path, _, _ = _paths(index_root)
    new_no = _next_batch_no(spark, post_path)
    gens = [g for g, _, _ in _manifests(spark, index_root)]
    gen = (max(gens) + 1) if gens else 0
    spark.createDataFrame(
        [(int(new_no), [int(b) for b in sorted(source_nos)])],
        "new_batch int, sources array<int>",
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{index_root.rstrip('/')}/{COMPACTION_DIR}/{gen:06d}"
    )
    cols = ["doc_id", "dl", "term", "tf"] + (
        ["positions"] if "positions" in frame.columns else []
    )
    (
        frame.select(*cols)
        .withColumn("bucket", _bucket("term"))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{post_path}/batch={new_no:06d}")
    )  # commit point: this _SUCCESS swaps sources -> merge atomically
    forget(index_root)  # visibility flipped at the commit
    _write_derived(spark, index_root, len(_complete_batches(spark, post_path)))
    vacuum_postings(spark, index_root)
    forget(index_root)
    return new_no


def compact_postings(spark: SparkSession, index_root: str, upto: int) -> list[int]:
    """Merge every visible posting batch ≤ ``upto`` into one batch dir —
    the retention story for a feed-driven index that folds every few
    minutes: without it the store accumulates thousands of small
    ``batch=`` dirs (listing cost + the small-file problem). Postings
    are DISJOINT by doc id across batches (upsert anti-joins), so the
    merge is an exact concatenation; search results are bit-identical
    before and after (pinned in tests/test_text_index.py).

    Crash-safe via the manifest-first protocol of _replace_batches —
    the merged dir's own _SUCCESS is the atomic switch; re-running at
    any crash point converges. Returns the visible batch numbers after
    compaction."""
    post_path, _, _ = _paths(index_root)
    visible = _complete_batches(spark, post_path)
    merge = [(no, p) for no, p in visible if no <= upto]
    if len(merge) < 2:
        vacuum_postings(spark, index_root)
        return [no for no, _ in _complete_batches(spark, post_path)]
    frame = spark.read.option("basePath", post_path).parquet(
        *[p for _, p in merge]
    )
    _replace_batches(spark, index_root, [no for no, _ in merge], frame)
    return [no for no, _ in _complete_batches(spark, post_path)]


def _batch_bytes(spark: SparkSession, path: str) -> int:
    fs, p = hadoop_fs(spark, path)
    return int(fs.getContentSummary(p).getLength())


def compact_postings_tiered(
    spark: SparkSession,
    index_root: str,
    *,
    tier_factor: int = 4,
    min_run: int = 4,
) -> list[int]:
    """SIZE-TIERED posting compaction (the LSM practice): merge only
    runs of ≥ ``min_run`` batches in the SAME size class (class =
    floor(log_{tier_factor}(bytes)), so a merge promotes its output
    roughly one class up) instead of rewriting the whole prefix.

    Why: the all-or-nothing ``compact_postings(upto=max)`` costs one
    O(store) rewrite per threshold crossing. Tiering bounds write
    amplification the standard way — each byte is rewritten
    O(log_{tier_factor}(store/batch)) times over its lifetime, never
    once per maintenance pass — while the steady-state batch count
    stays O(min_run · #classes) = O(min_run · log(store)). Visible
    listing cost stays bounded; large settled batches are never touched
    until enough same-sized peers accumulate.

    Each selected run merges through the same manifest-first
    ``_replace_batches`` protocol as the prefix form (crash-safe,
    search bit-identical, pinned). Batch sizes come from one metadata
    pass (content summaries — no data read). Returns the visible batch
    numbers after compaction."""
    if tier_factor < 2 or min_run < 2:
        raise ValueError("need tier_factor >= 2 and min_run >= 2")
    post_path, _, _ = _paths(index_root)
    visible = _complete_batches(spark, post_path)
    if len(visible) < min_run:
        vacuum_postings(spark, index_root)
        return [no for no, _ in visible]
    classes: dict[int, list[tuple[int, str]]] = {}
    for no, p in visible:
        b = max(1, _batch_bytes(spark, p))
        cls = 0
        while b >= tier_factor:
            b //= tier_factor
            cls += 1
        classes.setdefault(cls, []).append((no, p))
    for cls in sorted(classes):
        run = classes[cls]
        if len(run) >= min_run:
            frame = spark.read.option("basePath", post_path).parquet(
                *[p for _, p in run]
            )
            _replace_batches(spark, index_root, [no for no, _ in run], frame)
    return [no for no, _ in _complete_batches(spark, post_path)]


def purge_erased(spark: SparkSession, index_root: str) -> int:
    """Physically remove every posting of the ledger's erased doc ids
    (operators/erasure.py tier 2), then clear exactly the ledger batches
    processed. Touches only the posting batch dirs that actually contain
    erased docs (ids-only semi-join), rewriting them through the same
    manifest-first _replace_batches protocol as compaction — so a crash
    at any point leaves either the originals or the filtered replacement
    visible, never both, and the still-set ledger keeps every reader
    filtering (search's heal path also recomputes df/avgdl from the
    filtered postings) until the rewrite commits. Returns the number of
    posting rows removed."""
    ledger_nos, erased = erasure.ledger_snapshot(spark, index_root)
    if erased is None:
        return 0
    post_path, terms_path, meta_path = _paths(index_root)
    visible = _complete_batches(spark, post_path)
    removed = 0
    if visible:
        post = spark.read.option("basePath", post_path).parquet(
            *[p for _, p in visible]
        )
        key = erased.withColumnRenamed("id", "doc_id")
        affected = sorted(
            r.batch
            for r in post.join(key, "doc_id", "semi").select("batch").distinct().collect()
        )
        if affected:
            sub = post.where(F.col("batch").isin(affected))
            removed = int(sub.join(key, "doc_id", "semi").count())
            kept = sub.join(key, "doc_id", "left_anti").localCheckpoint()
            survivors_elsewhere = [no for no, _ in visible if no not in affected]
            if kept.count() > 0:
                _replace_batches(spark, index_root, affected, kept)
            elif survivors_elsewhere:
                # every doc in the affected batches is erased: fold the
                # (empty) remainder into the lowest surviving batch so
                # the replacement dir is readable parquet
                donor = survivors_elsewhere[0]
                donor_frame = spark.read.parquet(f"{post_path}/batch={donor:06d}")
                _replace_batches(spark, index_root, affected + [donor], donor_frame)
            else:
                # the whole index is erased: drop every store and stamp
                # an empty meta — search answers every query with 0 hits.
                # The analyzer SURVIVES the purge (read before the wipe):
                # the store still exists, and its next upsert must
                # tokenize like the one this store was created with.
                analyzer = index_analyzer(spark, index_root)
                fs, _ = hadoop_fs(spark, index_root)
                for no, p in visible:
                    _, jp = hadoop_fs(spark, p)
                    fs.delete(jp, True)
                for gen, _, _ in _manifests(spark, index_root):
                    _, jm = hadoop_fs(
                        spark, f"{index_root.rstrip('/')}/{COMPACTION_DIR}/{gen:06d}"
                    )
                    fs.delete(jm, True)
                _, jt = hadoop_fs(spark, terms_path)
                if fs.exists(jt):
                    fs.delete(jt, True)
                spark.createDataFrame(
                    [(0, 0.0, 0, analyzer)],
                    "n_docs long, avgdl double, n_batches int, analyzer string",
                ).coalesce(1).write.mode("overwrite").parquet(meta_path)
    erasure.clear_ledger_batches(spark, index_root, ledger_nos)
    forget(index_root)  # postings and ledger both changed
    return removed


def vacuum_postings(spark: SparkSession, index_root: str) -> int:
    """Delete the source dirs of every ACTIVE manifest, then the
    manifest itself once all its sources are gone (deleting the manifest
    first would resurrect surviving sources next to their merge). Inert
    manifests — their merged dir never committed — are left alone: their
    sources are live data. Pure cleanup; the view never depends on it.
    Returns the number of directories removed."""
    post_path, _, _ = _paths(index_root)
    nos = {no for no, _ in committed_dirs(spark, post_path, "batch=")}
    removed = 0
    fs, _ = hadoop_fs(spark, index_root)
    for gen, new_batch, sources in _manifests(spark, index_root):
        if new_batch not in nos:
            continue  # inert: crash before the merged dir landed
        gone = True
        for b in sources:
            _, p = hadoop_fs(spark, f"{post_path}/batch={b:06d}")
            if fs.exists(p):
                if fs.delete(p, True):
                    removed += 1
                else:
                    gone = False
        _, man = hadoop_fs(
            spark, f"{index_root.rstrip('/')}/{COMPACTION_DIR}/{gen:06d}"
        )
        if gone and fs.exists(man):
            fs.delete(man, True)
            removed += 1
    if removed:
        # the deleted source dirs may back a cached frontier's file list
        # (e.g. a manifest that landed outside this module's writers —
        # the crash-recovery path); readers must re-list
        forget(index_root)
    return removed
