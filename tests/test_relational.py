"""Differential tests: every oracle-checked operator vs DuckDB at sf0.001,
plus determinism/semantics invariants the oracle can't express."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_analytics_machine_learning_poc_spark.operators import relational
from big_data_analytics_machine_learning_poc_spark.oracle import compare_query

from .conftest import SF_DIR

ORACLE_NAMES = sorted(relational.REG.oracles)


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_parity(spark, duck, name):
    df = relational.REG.queries[name](spark, SF_DIR)
    problems = compare_query(df.columns, df.collect(), duck, relational.REG.oracles[name])
    assert not problems, f"{name}: {problems}"


def test_flagship_nonempty(spark):
    df = relational.flagship_regional_revenue(spark, SF_DIR)
    rows = df.collect()
    assert len(rows) > 0
    assert {"r_name", "revenue", "n_items", "n_orders"} == set(df.columns)
    assert all(r.revenue > 0 for r in rows)


def test_random_split_deterministic_and_partition(spark):
    """Seeded split: reproducible across runs, exhaustive + disjoint
    (SURVEY §2.6 — reference splits are unseeded; we always seed)."""
    from big_data_analytics_machine_learning_poc_spark.catalog import load_table

    orders = load_table(spark, SF_DIR, "orders")
    a1, b1 = orders.randomSplit([0.7, 0.3], seed=42)
    a2, b2 = orders.randomSplit([0.7, 0.3], seed=42)
    assert a1.count() == a2.count() and b1.count() == b2.count()
    assert a1.count() + b1.count() == orders.count()
    assert a1.intersect(b1).count() == 0


def test_na_drop_semantics(spark):
    """Cast-to-null + na.drop replicates DataCorrelator.java:34-40 on dirty
    rows (the medical_charges idiom, FIXTURES.md A1)."""
    dirty = spark.createDataFrame(
        [("19", "27.9"), ("*x#", "33.8"), ("31", "##"), ("64", "25.8"), (" ", " ")],
        ["age", "bmi"],
    )
    clean = dirty.select(
        F.col("age").try_cast("double").alias("age"),
        F.col("bmi").try_cast("double").alias("bmi"),
    ).na.drop()
    assert clean.count() == 2  # 3 of 5 rows lost to cast+drop


def test_topk_uses_take_ordered(spark):
    """orderBy+limit must plan TakeOrderedAndProject (per-partition top-k +
    single merge), not a global sort — the scale-critical difference."""
    df = relational.topk_orders(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_grouping_sets_totals_consistent(spark):
    """gid encodes the set (detail=0, status-only=1, grand=3); the grand
    total must equal the table count and each level must re-sum to it."""
    from big_data_analytics_machine_learning_poc_spark.operators.relational import REG

    from .conftest import SF_DIR

    rows = REG.queries["grouping_sets_agg"](spark, SF_DIR).collect()
    total = spark.read.parquet(f"{SF_DIR}/orders.parquet").count()
    gids = {r["gid"] for r in rows}
    assert gids == {0, 1, 3}
    assert sum(r["n"] for r in rows if r["gid"] == 0) == total
    assert sum(r["n"] for r in rows if r["gid"] == 1) == total
    [grand] = [r for r in rows if r["gid"] == 3]
    assert grand["n"] == total and grand["o_orderstatus"] is None


def test_corr_matrix_identity_and_antithesis(spark, tmp_path):
    """Sufficient-statistics assembly sanity: y = 2x gives r = 1, y = -x
    gives r = -1, on a synthetic orders table."""
    from big_data_analytics_machine_learning_poc_spark.operators.relational import REG

    rows = [
        (i, 2 * i, "O", float(-i), __import__("datetime").date(1995, 1, 1), "1-URGENT")
        for i in range(1, 200)
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate date, o_orderpriority string",
    ).write.parquet(str(tmp_path / "orders.parquet"))
    got = {r.pair: r.r for r in REG.queries["corr_matrix_onepass"](spark, str(tmp_path)).collect()}
    assert got["o_custkey~o_orderkey"] == 1.0  # custkey = 2*orderkey
    assert got["o_totalprice~o_orderkey"] == -1.0
    assert got["o_totalprice~o_custkey"] == -1.0


def test_funnel_ordered_semantics_planted(spark):
    """The sf corpora never exercise the funnel's at-or-after conditions
    (every viewer clicks and purchases in order, so all three counts are
    equal and the oracle comparison can't discriminate). Plant the
    out-of-order histories the r6 one-scan window rewrite must preserve:

    - A: click@5 BEFORE first view@10 doesn't count; click@20 does
    - B: click with no view at all -> not even n_viewed
    - C: view then purchase but no click -> purchase can't fire
    - D: fully ordered chain -> all three stages
    - E: purchase@11 lands BEFORE the first qualifying click@12 -> no
    """
    from big_data_analytics_machine_learning_poc_spark.operators.relational import funnel_from

    rows = [
        ("A", "click", 5), ("A", "view", 10), ("A", "click", 20),
        ("B", "click", 5),
        ("C", "view", 10), ("C", "purchase", 15),
        ("D", "view", 1), ("D", "click", 2), ("D", "purchase", 3),
        ("E", "view", 10), ("E", "click", 12), ("E", "purchase", 11),
    ]
    ue = spark.createDataFrame(rows, "user_id string, event_type string, us long")
    [got] = funnel_from(ue).collect()
    assert (got.n_viewed, got.n_clicked_after, got.n_purchased_after) == (4, 3, 1)
    assert got.conversion == 0.25
