"""``functions.fanout``: argument-order results, error propagation after
the join, and the caller's job group and checkpoint scope in the threads
it starts."""

from __future__ import annotations

import sys
import threading
import time

import pytest

from big_data_analytics_machine_learning_poc_spark.functions.ckpt import pin, scope
from big_data_analytics_machine_learning_poc_spark.functions.fanout import fanout

from .conftest import persistent_rdd_ids


def test_results_come_back_in_argument_order():
    def after(delay, value):
        def thunk():
            time.sleep(delay)
            return value

        return thunk

    assert fanout(after(0.2, "a"), after(0.0, "b"), after(0.1, "c")) == ["a", "b", "c"]
    assert fanout() == []


def test_first_error_in_argument_order_is_raised_after_every_join():
    finished = threading.Event()

    def late_error():
        time.sleep(0.1)
        raise ValueError("second argument")

    def early_error():
        raise KeyError("third argument")

    def slow():
        time.sleep(0.3)
        finished.set()

    with pytest.raises(ValueError, match="second argument"):
        fanout(lambda: None, late_error, early_error, slow)
    assert finished.is_set()


def test_jobs_in_threads_carry_the_callers_job_group(spark):
    sc = spark.sparkContext
    group = "fanout-job-group-test"
    sc.setJobGroup(group, group)
    try:
        counts = fanout(*[lambda n=n: spark.range(n).count() for n in (10, 20, 30)])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert counts == [10, 20, 30]
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 3


def test_pin_in_a_branch_belongs_to_the_callers_scope(spark):
    """More branches than cores, switching threads often: every branch's
    pin is recorded with the caller's scope, and released when it closes."""
    sizes = range(1, 9)
    before = persistent_rdd_ids(spark)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with scope() as s:
            pinned = fanout(*[lambda n=n: pin(spark.range(n)) for n in sizes])
            assert [df.count() for df in pinned] == list(sizes)
            assert len(persistent_rdd_ids(spark) - before) == len(sizes)
            assert len(s.subtrees) == len(sizes)
    finally:
        sys.setswitchinterval(interval)
    assert not persistent_rdd_ids(spark) - before
