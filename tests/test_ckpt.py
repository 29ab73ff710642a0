"""functions/ckpt.py: checkpoint blocks are released, and failures raise."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_analytics_machine_learning_poc_spark.functions.ckpt import (
    checkpointed_split,
    release_local_checkpoint,
)
from big_data_analytics_machine_learning_poc_spark.ml import fixtures, tfidf_regression

from .conftest import persistent_rdd_ids

NARROW = ("label", "features")


def test_fresh_local_checkpoint_releases(spark):
    before = persistent_rdd_ids(spark)
    ck = spark.range(50).localCheckpoint()
    held = persistent_rdd_ids(spark) - before
    assert len(held) == 1
    assert release_local_checkpoint(ck) is True
    assert not held & persistent_rdd_ids(spark)


def test_aliased_checkpoint_releases(spark):
    before = persistent_rdd_ids(spark)
    ck = spark.range(5).localCheckpoint().alias("c")
    held = persistent_rdd_ids(spark) - before
    assert release_local_checkpoint(ck) is True
    assert not held & persistent_rdd_ids(spark)


def test_non_checkpoint_frame_is_a_no_op(spark):
    assert release_local_checkpoint(spark.range(5).filter("id > 1")) is False


@pytest.fixture(scope="module")
def featurized(spark):
    """The hotel-reviews frame as ``tfidf_regression.run`` splits it: the
    featurized pipeline output, checkpointed."""
    labeled = fixtures.hotel_reviews(spark).withColumn("label", F.col("Reviewer Score"))
    feats = tfidf_regression.featurize_pipeline().fit(labeled).transform(labeled).localCheckpoint()
    yield feats
    release_local_checkpoint(feats)


@pytest.fixture(scope="module")
def halves(featurized):
    out = checkpointed_split(featurized, [0.7, 0.3], 42, NARROW)
    yield out
    for half in out:
        release_local_checkpoint(half)


def _rows_by_partition(df):
    return df.select(F.spark_partition_id().alias("pid"), *NARROW).collect()


def test_split_halves_match_plain_split(featurized, halves):
    """Same rows, in the same partitions and the same order, as the plain
    seeded split narrowed afterwards."""
    plain = featurized.randomSplit([0.7, 0.3], 42)
    assert len(halves) == len(plain) == 2
    for half, ref in zip(halves, plain):
        assert _rows_by_partition(half) == _rows_by_partition(ref.select(*NARROW))


def test_split_halves_are_narrow_checkpoint_scans(halves):
    """A half's plan is a scan of its own blocks: no sort from randomSplit
    and only the requested columns."""
    for half in halves:
        assert half.columns == list(NARROW)
        plan = half._jdf.queryExecution().executedPlan().toString()
        assert "Scan ExistingRDD" in plan
        assert "Sort" not in plan


def test_split_halves_release(spark, featurized):
    before = persistent_rdd_ids(spark)
    out = checkpointed_split(featurized, [0.5, 0.5], 7, NARROW)
    held = persistent_rdd_ids(spark) - before
    assert len(held) == 2
    assert [release_local_checkpoint(half) for half in out] == [True, True]
    assert not held & persistent_rdd_ids(spark)
