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
