"""Feed operators — the HTTP Feeds spec's own data-processing surface.

Each operator is a pure DataFrame→DataFrame transform over the envelope
schema (http_feeds_spark.schema.ENVELOPE). Spec citations are to
/root/reference/README.md (the HTTP Feeds specification).

100 TB posture, per operator:
- Offset scans are range predicates on the monotone ``seq`` column →
  Parquet min/max row-group skipping + partition pruning when the landing
  zone is partitioned by seq-range/date. Never "find the id row then skip"
  — the spec requires the position to survive deletion of the cursor event
  (README.md:154), and a range predicate trivially does.
- Compaction / read-model are a single window per key (linear, one hash
  shuffle on ``subject``) — never groupBy + collect_list (OOM at scale) and
  never a self-join (quadratic).
- Dedup is dropDuplicates (map-side partial aggregation) on the unique id.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def mint_seq(df: DataFrame, time_col: str = "time", id_col: str = "id",
             num_partitions: int | None = None) -> DataFrame:
    """Assign the total order required by README.md:148-151.

    For raw CloudEvents input whose ids are unordered UUIDs, mint ``seq``
    as the global rank over (time, id) — deterministic because the pair
    is unique. For composite ``sequence::uuid`` ids (README.md:159)
    prefer :func:`parse_seq`; at true 100 TB ingest seq is assigned by
    the writer. This operator serves bounded replays/bootstraps — and
    even there it must not be a single-reducer sort, so it is built as a
    distributed sort with per-bucket offsets (the zipWithIndex shape):

    1. bucket boundaries = ``percentile_approx(time)`` — ONE small
       deterministic aggregate, collected as ≤N literal values. (Not
       ``repartitionByRange``: its sampled boundaries differ between the
       count pass and the rank pass, which silently mis-bases the seq.)
    2. ``__bkt`` = number of boundaries below the row's time — a pure
       map-side expression, identical in every pass; equal-time rows
       always share a bucket, so (time, id) order within buckets is the
       global order across buckets;
    3. per-bucket row counts → cumulative bases (≤N rows of metadata);
    4. ``seq = base(bucket) + local row_number`` — each task ranks only
       its own slice (one balanced hash exchange on ``__bkt``).
    """
    spark = df.sparkSession
    parts = num_partitions or spark.sparkContext.defaultParallelism
    fracs = [i / parts for i in range(1, parts)]
    cuts = df.agg(
        F.percentile_approx(time_col, fracs).alias("qs")
    ).collect()[0]["qs"] or []
    bounds = sorted(set(cuts))
    bkt = F.lit(0)
    for b in bounds:
        bkt = bkt + (F.col(time_col) > F.lit(b)).cast("int")
    bucketed = df.withColumn("__bkt", bkt)
    counts = {
        r["__bkt"]: r["n"]
        for r in bucketed.groupBy("__bkt").agg(F.count("*").alias("n")).collect()
    }
    bases, acc = [], 0
    for bucket in sorted(counts):
        bases.append((bucket, acc))
        acc += counts[bucket]
    base_df = spark.createDataFrame(bases or [(0, 0)], "__bkt int, __base long")
    w = Window.partitionBy("__bkt").orderBy(F.col(time_col), F.col(id_col))
    return (
        bucketed.withColumn("__local", F.row_number().over(w))
        .join(F.broadcast(base_df), "__bkt")
        .withColumn("seq", (F.col("__base") + F.col("__local")).cast("long"))
        .drop("__bkt", "__base", "__local")
    )


def parse_seq(df: DataFrame, id_col: str = "id") -> DataFrame:
    """Extract the numeric order prefix from composite ids.

    README.md:159 sanctions ids like ``0000001000001::5f8de8ff-...`` where
    "the prefix is a database sequence that is interpreted when querying
    the database for the next batch". A split+cast is codegen'd JVM-side —
    no UDF.
    """
    return df.withColumn("seq", F.split(F.col(id_col), "::").getItem(0).cast("long"))


def parse_seq_uuid6(df: DataFrame, id_col: str = "id") -> DataFrame:
    """Extract the order key from time-ordered UUIDv6 ids — the spec's
    OTHER sanctioned id encoding (README.md:156).

    A UUIDv6 carries its 60-bit Gregorian timestamp in the leading hex
    digits, already in most-significant-first order:
    ``tttttttt-tttt-6ttt-...`` → time_high(32) ‖ time_mid(16) ‖
    time_low(12, after the version nibble). seq = that 60-bit value —
    pure string slicing + base-16 conv, codegen'd JVM-side, no UDF.
    """
    c = F.col(id_col)
    hex_ts = F.concat(
        F.substring(c, 1, 8), F.substring(c, 10, 4), F.substring(c, 16, 3)
    )
    return df.withColumn("seq", F.conv(hex_ts, 16, 10).cast("long"))


_UUID6_RE = r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-6[0-9a-fA-F]{3}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"


def seq_of(event_id: str | None) -> int | None:
    """The ``seq`` :func:`parse_seq_auto` lands for one wire id, in
    Python (the connector orders a page by it before landing)."""
    head, sep, _ = (event_id or "").partition("::")
    if sep:
        return int(head) if head.isascii() and head.isdigit() else None
    if re.match(_UUID6_RE, head):
        return int(head[:8] + head[9:13] + head[15:18], 16)
    return None


def parse_seq_auto(df: DataFrame, id_col: str = "id") -> DataFrame:
    """Dispatch on the id encoding per row: composite ``sequence::uuid``
    (README.md:159) → numeric prefix; time-ordered UUIDv6 (README.md:156)
    → 60-bit timestamp; anything else → null (opaque ids carry no
    position — callers fall back to :func:`mint_seq`)."""
    c = F.col(id_col)
    composite = F.split(c, "::").getItem(0).cast("long")
    uuid6 = F.conv(
        F.concat(F.substring(c, 1, 8), F.substring(c, 10, 4), F.substring(c, 16, 3)),
        16,
        10,
    ).cast("long")
    seq = (
        F.when(c.contains("::"), composite)
        .when(c.rlike(_UUID6_RE), uuid6)
        .otherwise(F.lit(None).cast("long"))
    )
    return df.withColumn("seq", seq)


def offset_scan(feed: DataFrame, last_seq: int | None) -> DataFrame:
    """Events strictly after the cursor (README.md:12, :150-154, :300).

    ``lastEventId`` absent/null ⇒ from the beginning (README.md:300).
    The predicate is on seq, so the scan "respects the original position"
    even when the cursor event itself has been compacted away
    (README.md:154) — a deleted row cannot un-order a range predicate.
    """
    if last_seq is None:
        return feed
    return feed.filter(F.col("seq") > F.lit(last_seq))


def paginate(feed: DataFrame, last_seq: int | None, batch_size: int) -> DataFrame:
    """One bounded batch after the cursor (README.md:11, :79-82).

    orderBy+limit plans as TakeOrderedAndProject (per-partition top-k then
    a k-row merge on the driver) — no global sort materialization.
    An empty result signals the feed end (README.md:82).
    """
    return offset_scan(feed, last_seq).orderBy("seq").limit(batch_size)


def compact(feed: DataFrame, key: str = "subject", order_col: str = "seq") -> DataFrame:
    """Log compaction: keep only the newest entry per subject.

    README.md:181-267: "remove entries from the feed when another entry
    was added to the feed with the same subject". At 100 TB this runs as
    the periodic landing-zone rewrite job (maintenance), and as the
    query-time view shown here.

    Plan shape (r10, the skew-robust form): latest-per-subject is
    ``max_by(struct(other cols), struct(order_col))`` — an AGGREGATE,
    so map-side partial aggregation runs before the key exchange
    (each task ships ONE candidate row per subject it saw, pinned by a
    plan guard). The previous ``row_number`` window shuffled EVERY row
    of a subject to one task and sorted there — a hot subject (one
    aggregate updated 10⁹ times) serialized on a single reducer at
    100×. The struct ordering key mirrors the window's
    ``desc``-nulls-last exactly: a null ``order_col`` loses to any
    non-null one, and an all-null subject still keeps one row (struct
    comparison, unlike a bare max_by key, never discards null-key
    rows wholesale)."""
    cols = feed.columns
    others = [c for c in cols if c != key]
    top = F.max_by(F.struct(*others), F.struct(F.col(order_col))).alias("__top")
    return feed.groupBy(key).agg(top).select(key, "__top.*").select(*cols)


def drop_tombstoned(compacted: DataFrame, horizon_seq: int | None = None) -> DataFrame:
    """Remove subjects whose latest entry is a DELETE (README.md:270-292).

    The spec: a DELETE entry instructs consumers to delete the aggregate
    from their read models (README.md:290); absent ``method`` defaults to
    PUT (README.md:314). Applied after compaction, the latest-method test
    is exactly tombstone removal.

    ``horizon_seq`` is the ARCHIVE-rewrite variant: a DELETE entry may
    only be physically dropped once every consumer cursor is past it
    (README.md:154 + :290 — a mid-replay consumer must still learn of
    the deletion), so with a horizon only tombstones at or below it are
    removed. Tombstones with NULL seq (opaque wire ids carry no
    position) are always RETAINED under a horizon — an unknown position
    cannot be proven safe to drop. ``None`` (default) drops every
    tombstone: read-model serving semantics / all consumers caught up.
    """
    is_tomb = F.coalesce(F.col("method"), F.lit("PUT")) == F.lit("DELETE")
    if horizon_seq is None:
        return compacted.filter(~is_tomb)
    passed = F.coalesce(F.col("seq") <= F.lit(horizon_seq), F.lit(False))
    return compacted.filter(~(is_tomb & passed))


def read_model(feed: DataFrame, key: str = "subject", order_col: str = "seq") -> DataFrame:
    """Aggregate-feed materialization (README.md:168-179).

    Replaying to the end of the feed and keeping, per subject, the latest
    full-state PUT — dropping DELETEd subjects — yields the consistent
    read model the spec promises ("the client has a consistent state when
    reaching the end of the feed", README.md:177).
    """
    return drop_tombstoned(compact(feed, key=key, order_col=order_col))


def dedup_by_id(feed: DataFrame) -> DataFrame:
    """Idempotent-consumer dedup on the unique event id.

    Delivery is at-least-once (README.md:113); the ``id`` field exists
    for "deduplication and idempotency" (README.md:309,114). Exact-once
    *effects* are restored by dropping redelivered ids. dropDuplicates
    does map-side partial dedup before the shuffle.
    """
    return feed.dropDuplicates(["id"])


def route_types(feed: DataFrame, types: list[str]) -> DataFrame:
    """Multi-type feed routing (README.md:162-166, :310).

    One feed may carry several event types of one bounded context; ``type``
    selects the payload schema. Filter is a pushdown-friendly IN predicate.
    """
    return feed.filter(F.col("type").isin(types))


def principal_filter(feed: DataFrame, predicate) -> DataFrame:
    """Server-side per-principal filtering (README.md:321-328).

    Plain row-level-security predicate; Catalyst pushes it into the scan.
    """
    return feed.filter(predicate)


def history_scd2(
    feed: DataFrame,
    key: str = "subject",
    order_col: str = "seq",
    time_col: str = "time",
) -> DataFrame:
    """Temporal read model — the feed's full per-subject HISTORY as
    SCD-type-2 validity intervals (Kimball's slowly-changing-dimension
    type 2, the standard warehouse form of "state as of time T").

    Where :func:`read_model` keeps only each subject's LATEST state
    (README.md:168-179), replaying the log also yields every PRIOR
    state and when it held: each event's state is valid from its own
    ``time`` until the next event for the same subject (NULL = still
    current). DELETE events close the preceding interval and open no
    new one (the spec's tombstone, README.md:270-292, expressed
    temporally), so an as-of-T snapshot of the output — rows where
    valid_from <= T < coalesce(valid_to, infinity) and not deleted —
    reproduces exactly the read model a consumer that stopped replaying
    at T would hold; pinned against replay prefixes in
    tests/test_group_a_oracle.py.

    Columns added: ``valid_from``, ``valid_to``, ``is_current``.
    Tombstone rows are DROPPED from the output (their effect lives on
    as the closed predecessor interval).

    Plan: ONE window (lead over the compaction key ordered by seq) —
    the same single shuffle as compact(); no join, no second pass. At
    100 TB this materializes wherever the read model does, and the
    as-of filter is an ordinary pushdown predicate on the result.
    """
    w = Window.partitionBy(key).orderBy(F.col(order_col).asc())
    is_tomb = F.coalesce(F.col("method"), F.lit("PUT")) == F.lit("DELETE")
    return (
        feed.withColumn("valid_from", F.col(time_col))
        .withColumn("valid_to", F.lead(time_col).over(w))
        .withColumn("is_current", F.col("valid_to").isNull() & ~is_tomb)
        .filter(~is_tomb)
    )
