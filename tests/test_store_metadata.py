"""Store metadata is driver-side work: existence probes walk the Hadoop
FS and partition discovery lists on the driver, so neither schedules a
Spark job."""

from __future__ import annotations

import os
import uuid

import pytest

from http_feeds_spark import ingest
from http_feeds_spark.operators import text_index as ti
from http_feeds_spark.stores import list_data_files, or_none, parquet_exists


def _jobs(spark, fn):
    """(fn(), number of Spark jobs it scheduled), counted in a job group
    once the listener bus has delivered every job-start event."""
    sc = spark.sparkContext
    gid = f"store-meta-{uuid.uuid4()}"
    sc.setJobGroup(gid, "store metadata")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


def _write(spark, path, n=4, **kw):
    spark.range(n).selectExpr("id", "id % 2 AS k").coalesce(1).write.parquet(path, **kw)


def _absent(spark, base):
    return f"{base}/nothing_here"


def _empty_dir(spark, base):
    os.makedirs(f"{base}/empty")
    return f"{base}/empty"


def _success_only(spark, base):
    os.makedirs(f"{base}/succ")
    open(f"{base}/succ/_SUCCESS", "w").close()
    return f"{base}/succ"


def _only_temporary(spark, base):
    # a torn write: the committer never moved the task output up
    _write(spark, f"{base}/scratch")
    os.makedirs(f"{base}/torn/_temporary/0")
    for f in os.listdir(f"{base}/scratch"):
        if f.endswith(".parquet"):
            os.rename(f"{base}/scratch/{f}", f"{base}/torn/_temporary/0/{f}")
    return f"{base}/torn"


def _single_file(spark, base):
    _write(spark, f"{base}/one")
    (f,) = [f for f in os.listdir(f"{base}/one") if f.endswith(".parquet")]
    return f"{base}/one/{f}"


def _flat(spark, base):
    _write(spark, f"{base}/flat")
    return f"{base}/flat"


def _partitioned(spark, base):
    _write(spark, f"{base}/parts", partitionBy="k")
    return f"{base}/parts"


def _beside_hidden_dir(spark, base):
    _write(spark, f"{base}/store")
    _write(spark, f"{base}/store/.hidden")
    return f"{base}/store"


def _only_hidden_dir(spark, base):
    _write(spark, f"{base}/ghost/.hidden")
    return f"{base}/ghost"


CASES = [
    (_absent, False),
    (_empty_dir, False),
    (_success_only, False),
    (_only_temporary, False),
    (_single_file, True),
    (_flat, True),
    (_partitioned, True),
    (_beside_hidden_dir, True),
    (_only_hidden_dir, False),
]


@pytest.mark.parametrize("make,expect", CASES, ids=[c[0].__name__.lstrip("_") for c in CASES])
def test_parquet_exists_matches_reader_with_zero_jobs(spark, tmp_path, make, expect):
    """parquet_exists and list_data_files see what Spark's reader sees,
    and learn it without a Spark job."""
    path = make(spark, str(tmp_path))
    (got, files), n_jobs = _jobs(
        spark, lambda: (parquet_exists(spark, path), list_data_files(spark, path))
    )
    assert n_jobs == 0
    assert got is expect
    assert got == (or_none(lambda: spark.read.parquet(path).schema) is not None)
    read = spark.read.parquet(path).inputFiles() if got else []
    assert sorted(map(os.path.basename, files)) == sorted(map(os.path.basename, read))


def test_retention_horizon_without_retention_runs_no_job(spark, tmp_path, monkeypatch):
    """An absent retention store is learnt from the listing: no job and
    no failed read (each failed read logs a FileNotFoundException)."""
    from pyspark.sql.readwriter import DataFrameReader

    landing = str(tmp_path / "landing")
    _write(spark, f"{landing}/raw")

    def no_read(self, *paths, **kw):
        raise AssertionError(f"read {paths}")

    monkeypatch.setattr(DataFrameReader, "parquet", no_read)
    got, n_jobs = _jobs(spark, lambda: ingest.retention_horizon(spark, landing))
    assert got is None
    assert n_jobs == 0


def test_bucketed_batch_lists_on_the_driver(spark, tmp_path):
    """Partition discovery over a 64-bucket postings batch lists on the
    driver in a local session: building the read schedules no job (with
    the schema named, so that schema inference does not run one)."""
    docs = spark.createDataFrame(
        [(d, " ".join(f"w{d}x{i}" for i in range(50))) for d in range(20)],
        "doc_id long, text string",
    )
    root = str(tmp_path / "ti")
    ti.build_text_index(spark, docs, root)
    batch = f"{root}/{ti.POSTINGS_DIR}/batch=000000"
    assert len([d for d in os.listdir(batch) if d.startswith("bucket=")]) == ti.N_BUCKETS
    schema = spark.read.parquet(batch).schema
    df, n_jobs = _jobs(spark, lambda: spark.read.schema(schema).parquet(batch))
    assert n_jobs == 0
    assert df.select("bucket").distinct().count() == ti.N_BUCKETS


def _dir(path, success=True):
    os.makedirs(path)
    if success:
        open(f"{path}/_SUCCESS", "w").close()


def test_committed_dirs_lists_numbered_committed_dirs_with_zero_jobs(spark, tmp_path):
    """One listing rule for every derived store: numbered child dirs
    carrying _SUCCESS, ascending by number, learnt without a Spark job."""
    from http_feeds_spark.stores import committed_dirs, numbered_dirs

    base = str(tmp_path)
    _dir(f"{base}/ledger/batch=9")
    _dir(f"{base}/ledger/batch=10")
    _dir(f"{base}/ledger/batch=000002")
    _dir(f"{base}/ledger/batch=000003", success=False)  # torn write
    _dir(f"{base}/ledger/batch=abc")
    _dir(f"{base}/ledger/other=4")  # prefix mismatch
    _dir(f"{base}/ledger/_temporary/0")
    _dir(f"{base}/gens/000001")
    _dir(f"{base}/gens/batch=5")  # prefix mismatch for prefix ""
    open(f"{base}/gens/000002", "w").close()  # a plain file, not a dir

    def names(listing):
        return [(n, os.path.basename(p)) for n, p in listing]

    (absent, ledger, torn, gens), n_jobs = _jobs(
        spark,
        lambda: (
            committed_dirs(spark, f"{base}/nothing_here", "batch="),
            committed_dirs(spark, f"{base}/ledger", "batch="),
            numbered_dirs(spark, f"{base}/ledger", "batch="),
            committed_dirs(spark, f"{base}/gens"),
        ),
    )
    assert n_jobs == 0
    assert absent == []
    assert names(ledger) == [(2, "batch=000002"), (9, "batch=9"), (10, "batch=10")]
    assert names(torn) == [
        (2, "batch=000002"), (3, "batch=000003"), (9, "batch=9"), (10, "batch=10")
    ]
    assert names(gens) == [(1, "000001")]


def test_memo_is_bounded_session_bound_stamped_and_forgettable(spark, tmp_path):
    """The one metadata memo: at most _MEMO_MAX entries, a hit only for
    the session that built it and only while its stamp paths are
    untouched, absence never cached, forget drops the entry."""
    from http_feeds_spark import stores

    loads = []

    def load(value):
        def f():
            loads.append(value)
            return value
        return f

    for i in range(stores._MEMO_MAX + 10):
        stores.memo(spark, f"{tmp_path}/flood/{i}", (), load(i))
    assert len(stores._MEMO) <= stores._MEMO_MAX

    stamp_dir = str(tmp_path / "stamped")
    os.makedirs(stamp_dir)
    key = f"{tmp_path}/key"
    loads.clear()
    assert stores.memo(spark, key, (stamp_dir,), load("a")) == "a"
    assert stores.memo(spark, key, (stamp_dir,), load("b")) == "a"  # hit
    assert stores.memo(spark.newSession(), key, (stamp_dir,), load("c")) == "c"
    assert stores.memo(spark, key, (stamp_dir,), load("d")) == "d"  # rebuilt
    t = os.stat(stamp_dir).st_mtime + 5
    os.utime(stamp_dir, (t, t))
    assert stores.memo(spark, key, (stamp_dir,), load("e")) == "e"
    assert stores.memo(spark, key, (stamp_dir,), load("f")) == "e"
    stores.forget(key)
    assert stores.memo(spark, key, (stamp_dir,), load("g")) == "g"
    assert loads == ["a", "c", "d", "e", "g"]

    absent = f"{tmp_path}/absent"
    assert stores.memo(spark, absent, (), load(None)) is None
    assert stores.memo(spark, absent, (), load("h")) == "h"
    assert loads[-2:] == [None, "h"]


def test_fixed_schema_metadata_reads_name_their_schema(spark, tmp_path):
    """The erase ledger and the text-index compaction manifests have one
    written schema each, so their reads name it: building the erased-id
    frame runs no job, and resolving a manifest runs only its collect."""
    from http_feeds_spark.operators import erasure

    root = str(tmp_path / "store")
    erasure.erase_ids(spark, root, spark.createDataFrame([(7,), (3,)], "id long"))
    erased, n_jobs = _jobs(spark, lambda: erasure.erased_ids(spark, root))
    assert n_jobs == 0
    assert erased.columns == ["id"]
    assert sorted(r.id for r in erased.collect()) == [3, 7]

    spark.createDataFrame([(4, [1, 2])], "new_batch int, sources array<int>").coalesce(
        1
    ).write.parquet(f"{root}/{ti.COMPACTION_DIR}/000000")
    manifests, n_jobs = _jobs(spark, lambda: ti._manifests(spark, root))
    assert n_jobs == 1
    assert manifests == [(0, 4, [1, 2])]
