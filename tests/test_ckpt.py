"""functions/ckpt.py: the one owner of a lane's storage. Pins are released
by their scope (or early, one at a time), the known holders leave the
session's persisted RDDs as they found them, and no module checkpoints or
caches around the owner."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from big_data_analytics_machine_learning_poc_spark.functions.ckpt import (
    checkpointed_split,
    pin,
    release,
    scope,
)
from big_data_analytics_machine_learning_poc_spark.ml import fixtures, tfidf_regression
from tools.lanerun import select

from .conftest import SF_DIR, persistent_rdd_ids

NARROW = ("label", "features")
PACKAGE = Path(__file__).resolve().parent.parent / "big_data_analytics_machine_learning_poc_spark"


def test_fresh_local_checkpoint_releases(spark):
    before = persistent_rdd_ids(spark)
    ck = pin(spark.range(50))
    held = persistent_rdd_ids(spark) - before
    assert len(held) == 1
    assert release(ck) is True
    assert not held & persistent_rdd_ids(spark)


def test_aliased_checkpoint_releases(spark):
    before = persistent_rdd_ids(spark)
    ck = pin(spark.range(5)).alias("c")
    held = persistent_rdd_ids(spark) - before
    assert release(ck) is True
    assert not held & persistent_rdd_ids(spark)


def test_non_checkpoint_frame_is_a_no_op(spark):
    assert release(spark.range(5).filter("id > 1")) is False


# Storage checks compare the RDDs persisted after against those before as
# "nothing new is left": an RDD an earlier test left persisted can be
# unpersisted at any time by Spark's ContextCleaner once it is garbage.


def test_scope_releases_what_it_made_and_only_that(spark):
    """An inner scope releases its own pins and leaves the outer's; the
    outer releases the rest, an RDD persisted around ``pin`` included."""
    before = persistent_rdd_ids(spark)
    with scope():
        outer = pin(spark.range(10))
        bare = spark.sparkContext.parallelize(range(10)).cache()  # as MLlib does
        outer_held = persistent_rdd_ids(spark) - before
        with scope() as inner:
            pin(spark.range(20), eager=False)
            assert len(persistent_rdd_ids(spark) - before) == 3
        assert persistent_rdd_ids(spark) - before == outer_held
        assert len(inner.subtrees) == 1
        assert outer.count() == 10 and bare.count() == 10
    assert not persistent_rdd_ids(spark) - before


def test_scope_releases_when_the_block_raises(spark):
    before = persistent_rdd_ids(spark)
    with pytest.raises(ValueError, match="lane failed"):
        with scope():
            pin(spark.range(10))
            raise ValueError("lane failed")
    assert not persistent_rdd_ids(spark) - before


def test_pin_outside_a_scope_is_held(spark):
    before = persistent_rdd_ids(spark)
    ck = pin(spark.range(10))
    with scope():
        pass
    held = persistent_rdd_ids(spark) - before
    assert len(held) == 1
    assert ck.count() == 10
    release(ck)


def _storage_calls(path: Path) -> list[str]:
    return [
        f"{path.relative_to(PACKAGE.parent)}:{node.lineno} .{node.func.attr}("
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("localCheckpoint", "cache", "persist")
    ]


def test_every_checkpoint_goes_through_the_owner():
    """The static guard behind ``plans.barrier.capture_subtrees``: a
    checkpoint or cache made around ``ckpt.pin`` would escape its scope's
    release and hide its subtree from the plan gates."""
    owner = PACKAGE / "functions" / "ckpt.py"
    assert _storage_calls(owner)  # the guard sees the owner's own call
    stray = [
        call
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != owner
        for call in _storage_calls(path)
    ]
    assert not stray, stray


# Lanes that held storage until the session died before their pins went
# through a scope, plus the lanes whose modules open their own scopes.
HOLDERS = [
    "graph_pagerank_procurement",
    "hashingtf_idf_stats",
    "ml_als_recommend",
    "ml_fpgrowth_itemsets",
    "sql_scripting_leaky_sum",
    "dedup_connected_components",
    "ann_ivf_recall_audit",
    "ml_reference_correlator",
    "ml_reference_random_forest",
    "ml_reference_spam",
    "ml_reference_tfidf",
    "delta_dml_audit",
    "iceberg_merge_audit",
]


@pytest.mark.parametrize("name", HOLDERS)
def test_lane_scope_leaves_persisted_rdds_unchanged(spark, name):
    fn = select([name]).queries[name]
    before = persistent_rdd_ids(spark)
    with scope() as s:
        assert fn(spark, SF_DIR).collect()
    assert s.subtrees  # the lane pinned through the owner
    assert not persistent_rdd_ids(spark) - before


@pytest.fixture(scope="module")
def featurized(spark):
    """The hotel-reviews frame as ``tfidf_regression.run`` splits it: the
    featurized pipeline output, checkpointed."""
    labeled = fixtures.hotel_reviews(spark).withColumn("label", F.col("Reviewer Score"))
    feats = pin(tfidf_regression.featurize_pipeline().fit(labeled).transform(labeled))
    yield feats
    release(feats)


@pytest.fixture(scope="module")
def halves(featurized):
    out = checkpointed_split(featurized, [0.7, 0.3], 42, NARROW)
    yield out
    for half in out:
        release(half)


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
    assert [release(half) for half in out] == [True, True]
    assert not held & persistent_rdd_ids(spark)
