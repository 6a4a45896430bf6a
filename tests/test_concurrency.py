"""``session.run_concurrently``, the helper the platform wave runs its
independent components with: every thunk runs to its end, results come
back in the order given, the first failure in that order is raised, and
each thread's jobs join the caller's job group and carry the caller's
tags plus their own, without adding a job."""

from __future__ import annotations

import threading
import time
import uuid

import pytest

from http_feeds_spark.session import job_tag, run_concurrently
from tests.conftest import _jobs_so_far


def test_every_thunk_runs_and_the_first_failure_in_order_is_raised(spark):
    ran, lock = [], threading.Lock()

    def thunk(name, delay, fail=False):
        def run():
            time.sleep(delay)
            with lock:
                ran.append(name)
            if fail:
                raise ValueError(name)
            return name

        return run

    thunks = [
        ("a", thunk("a", 0.05)),
        # fails last in time but first in the given order
        ("b", thunk("b", 0.3, fail=True)),
        ("c", thunk("c", 0.1)),
        ("d", thunk("d", 0.0, fail=True)),
    ]
    with pytest.raises(ValueError, match="^b$"):
        run_concurrently(spark, thunks)
    assert sorted(ran) == ["a", "b", "c", "d"]


def test_results_come_back_in_the_order_given(spark):
    delays = [0.3, 0.0, 0.2, 0.1]
    thunks = [(f"t{i}", lambda i=i, d=d: time.sleep(d) or i) for i, d in enumerate(delays)]
    assert run_concurrently(spark, thunks) == [0, 1, 2, 3]
    assert run_concurrently(spark, []) == []


def test_thunk_jobs_join_the_callers_group_and_tags_without_extra_jobs(spark):
    """Jobs run inside the thunks are in the caller's job group (so
    ``cancelJobGroup`` reaches them), carry the caller's job tag and
    their own thunk's tag, and the tags add no job: the scheduler's job
    counter moves by exactly the jobs the thunks ran."""
    sc = spark.sparkContext
    run_id = uuid.uuid4().hex[:8]
    gid, outer = f"conc-{run_id}", f"outer-{run_id}"
    one, two = f"one-{run_id}", f"two-{run_id}"
    before = _jobs_so_far()
    sc.setJobGroup(gid, "run_concurrently")
    try:
        with job_tag(spark, outer):
            out = run_concurrently(
                spark,
                [
                    (one, lambda: sc.parallelize(range(4), 2).count()),
                    (two, lambda: [sc.parallelize([1]).count(), sc.parallelize([2]).count()]),
                ],
            )
        assert set(sc.getJobTags()) == set()  # the caller's own tags are as before
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert out == [4, [1, 1]]
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert _jobs_so_far() - before == 3
    tracker = sc._jsc.sc().statusTracker()
    group = set(sc.statusTracker().getJobIdsForGroup(gid))
    by_tag = {t: set(tracker.getJobIdsForTag(t)) for t in (outer, one, two)}
    assert len(group) == 3
    assert by_tag[outer] == group
    assert len(by_tag[one]) == 1 and len(by_tag[two]) == 2
    assert by_tag[one] | by_tag[two] == group
