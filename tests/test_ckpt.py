"""functions/ckpt.py: checkpoint blocks are released, and failures raise."""

from __future__ import annotations

from big_data_analytics_machine_learning_poc_spark.functions.ckpt import (
    release_local_checkpoint,
)


def _persistent_rdd_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def test_fresh_local_checkpoint_releases(spark):
    before = _persistent_rdd_ids(spark)
    ck = spark.range(50).localCheckpoint()
    held = _persistent_rdd_ids(spark) - before
    assert len(held) == 1
    assert release_local_checkpoint(ck) is True
    assert not held & _persistent_rdd_ids(spark)


def test_aliased_checkpoint_releases(spark):
    before = _persistent_rdd_ids(spark)
    ck = spark.range(5).localCheckpoint().alias("c")
    held = _persistent_rdd_ids(spark) - before
    assert release_local_checkpoint(ck) is True
    assert not held & _persistent_rdd_ids(spark)


def test_non_checkpoint_frame_is_a_no_op(spark):
    assert release_local_checkpoint(spark.range(5).filter("id > 1")) is False
