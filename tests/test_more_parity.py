"""Oracle parity at sf0.001 for the operator families not covered by
test_relational/test_text_dedup: encoding, asof, skew, multimodal,
streaming."""

from __future__ import annotations

import pytest

from big_data_analytics_machine_learning_poc_spark.operators import (
    asof,
    pandas_api,
    quality,
    corpus,
    encoding,
    multimodal,
    skew,
    sqlfront,
    mlops,
    streaming_ops,
    tpch,
)
from big_data_analytics_machine_learning_poc_spark.oracle import compare_query

from .conftest import SF_DIR

_REGS = (
    encoding.REG,
    asof.REG,
    skew.REG,
    multimodal.REG,
    streaming_ops.REG,
    corpus.REG,
    sqlfront.REG,
    tpch.REG,
    mlops.REG,
    pandas_api.REG,
    quality.REG,
)
_QUERIES = {}
_ORACLES = {}
for _reg in _REGS:
    _QUERIES.update(_reg.queries)
    _ORACLES.update(_reg.oracles)


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_oracle_parity(spark, duck, name):
    df = _QUERIES[name](spark, SF_DIR)
    problems = compare_query(df.columns, df.collect(), duck, _ORACLES[name])
    assert not problems, f"{name}: {problems}"


def test_asof_join_null_when_no_prior(spark):
    """Left rows with no earlier right row must carry null, not drop."""
    import datetime as dt

    from pyspark.sql import functions as F

    from big_data_analytics_machine_learning_poc_spark.operators.asof import asof_join

    t = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(1, t.replace(hour=1), "early"), (1, t.replace(hour=5), "late"), (2, t.replace(hour=3), "lonely")],
        ["k", "ts", "tag"],
    )
    right = spark.createDataFrame(
        [(1, t.replace(hour=2), 100), (1, t.replace(hour=4), 200)], ["k", "ts", "v"]
    )
    out = {r.tag: r.asof_value for r in asof_join(left, right, "k", "ts", "v").collect()}
    assert out == {"early": None, "late": 200, "lonely": None}


def test_asof_join_inclusive_at_equal_ts(spark):
    import datetime as dt

    from big_data_analytics_machine_learning_poc_spark.operators.asof import asof_join

    t = dt.datetime(2024, 1, 1, 12)
    left = spark.createDataFrame([(1, t, "same")], ["k", "ts", "tag"])
    right = spark.createDataFrame([(1, t, 7)], ["k", "ts", "v"])
    assert asof_join(left, right, "k", "ts", "v").collect()[0].asof_value == 7


def test_salted_sum_equals_plain_sum(spark):
    from pyspark.sql import functions as F

    from big_data_analytics_machine_learning_poc_spark.catalog import load_table
    from big_data_analytics_machine_learning_poc_spark.functions.exact import cents
    from big_data_analytics_machine_learning_poc_spark.operators.skew import salted_sum

    ev = load_table(spark, SF_DIR, "events")
    salted = {
        r.event_type: (r.c, r.n)
        for r in salted_sum(ev, "event_type", cents("value"), "c", "event_id", 16).collect()
    }
    plain = {
        r.event_type: (r.c, r.n)
        for r in ev.groupBy("event_type")
        .agg(F.sum(cents("value")).alias("c"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert salted == plain


def test_recursive_month_spine_survives_deep_span(spark, tmp_path):
    """VERDICT r4 ask #7: a >100-month order-date span must not trip the
    default cteRecursionLevelLimit (100). 180 months of synthetic orders
    -> a 180-row gap-free spine with per-month counts."""
    import datetime as dt

    from big_data_analytics_machine_learning_poc_spark.operators.sqlfront import (
        sql_recursive_month_spine,
    )

    rows = [
        (i, i, "O", 100.0, dt.date(2000 + i // 12, i % 12 + 1, 15), "1-URGENT")
        for i in range(180)  # 15 years: one order per month
        if i % 3 != 1  # leave gaps so COALESCE(0) months exist
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate date, o_orderpriority string",
    ).write.parquet(str(tmp_path / "orders.parquet"))
    out = sql_recursive_month_spine(spark, str(tmp_path)).collect()
    assert len(out) == 180
    assert sum(1 for r in out if r["n_orders"] == 0) == 60
    assert all(r["n_orders"] in (0, 1) for r in out)


def test_session_variables_cleaned_up(spark):
    """ADVICE r4: sql_session_variables must DROP its session-scoped
    variables after materializing the statement, so a later query over a
    bare `since` identifier cannot silently resolve to stale values."""
    import pytest
    from pyspark.errors import AnalysisException

    from big_data_analytics_machine_learning_poc_spark.operators.sqlfront import (
        sql_session_variables,
    )

    from .conftest import SF_DIR

    df = sql_session_variables(spark, SF_DIR)
    assert df.count() > 0  # analyzed statement still executes post-DROP
    with pytest.raises(AnalysisException):
        spark.sql("SELECT since").collect()
    with pytest.raises(AnalysisException):
        spark.sql("SELECT min_price").collect()
