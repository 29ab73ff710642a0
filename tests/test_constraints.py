"""CHECK constraints (sources/delta_lite.py) — writer-enforced invariants.

Contracts: adding a constraint scans and refuses if existing rows violate;
every write path (WRITE/MERGE/UPDATE, both modes) rejects violating
batches BEFORE staging anything; SQL three-valued semantics (NULL passes,
FALSE fails); the connector writer refuses constrained tables loudly; the
protocol's minWriterVersion rises so constraint-unaware writers refuse.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_analytics_machine_learning_poc_spark.sources.delta_lite import (
    _table_protocol,
    add_check_constraint,
    drop_check_constraint,
    merge_delta,
    read_delta,
    update_where,
    write_delta,
)

from .conftest import persistent_rdd_ids


def _make(spark, tmp_path, name="t"):
    table = str(tmp_path / name)
    df = spark.createDataFrame(
        [(1, 50, "a"), (2, 80, None), (3, 99, "c")], "id long, score long, tag string"
    )
    write_delta(df, table)
    return table


def test_add_validates_existing_and_write_paths_enforce(spark, tmp_path):
    table = _make(spark, tmp_path)
    v = add_check_constraint(spark, table, "score_range", "score BETWEEN 0 AND 100")
    assert v == 1
    assert _table_protocol(table)["protocol"]["minWriterVersion"] >= 3
    # retroactive violation refused
    with pytest.raises(ValueError, match="existing table data"):
        add_check_constraint(spark, table, "score_small", "score < 90")
    # append of a violating batch fails and stages nothing
    bad = spark.createDataFrame([(4, 150, "d")], "id long, score long, tag string")
    with pytest.raises(ValueError, match="score_range"):
        write_delta(bad, table, mode="append")
    assert read_delta(spark, table).count() == 3
    # clean batch passes
    ok = spark.createDataFrame([(4, 100, "d")], "id long, score long, tag string")
    write_delta(ok, table, mode="append")
    assert read_delta(spark, table).count() == 4
    # merge enforced on the rows it would write (result, not raw source:
    # a clause-filtered source row that never lands cannot violate)
    # ... and a refused statement releases every checkpoint it made
    before = persistent_rdd_ids(spark)
    with pytest.raises(ValueError, match="MERGE result"):
        merge_delta(spark, table, bad, ["id"])
    assert persistent_rdd_ids(spark) == before
    # update (both modes) enforced on the CHANGED rows
    with pytest.raises(ValueError, match="UPDATE result"):
        update_where(spark, table, {"score": "score + 60"}, "id = 2")
    with pytest.raises(ValueError, match="UPDATE result"):
        update_where(spark, table, {"score": "score + 60"}, "id = 2", mode="dv")
    assert persistent_rdd_ids(spark) == before
    # an in-range update passes
    update_where(spark, table, {"score": "score + 1"}, "id = 1")
    assert read_delta(spark, table).filter(F.col("id") == 1).first()["score"] == 51


def test_null_passes_sql_semantics(spark, tmp_path):
    table = _make(spark, tmp_path)
    # tag is NULL on id=2: a constraint over tag must PASS on that row
    add_check_constraint(spark, table, "tag_len", "length(tag) <= 5")
    nullrow = spark.createDataFrame([(9, 10, None)], "id long, score long, tag string")
    write_delta(nullrow, table, mode="append")  # NULL -> UNKNOWN -> passes
    assert read_delta(spark, table).count() == 4
    with pytest.raises(ValueError, match="tag_len"):
        write_delta(
            spark.createDataFrame([(10, 10, "toolong")], "id long, score long, tag string"),
            table,
            mode="append",
        )


def test_drop_and_connector_refusal(spark, tmp_path):
    table = _make(spark, tmp_path)
    add_check_constraint(spark, table, "pos_id", "id > 0")
    from big_data_analytics_machine_learning_poc_spark.sources.pyds import (
        DeltaLiteDataSource,
    )

    spark.dataSource.register(DeltaLiteDataSource)
    row = spark.createDataFrame([(5, 1, "e")], "id long, score long, tag string")
    with pytest.raises(Exception, match="CHECK constraints"):
        row.write.format("delta_lite").mode("append").save(table)
    drop_check_constraint(table, "pos_id")
    row.write.format("delta_lite").mode("append").save(table)  # now allowed
    assert read_delta(spark, table).count() == 4
    with pytest.raises(KeyError):
        drop_check_constraint(table, "nope")
    with pytest.raises(ValueError, match="identifier"):
        add_check_constraint(spark, table, "bad name", "id > 0")


def test_writer_version_ceiling_refused(spark, tmp_path):
    """A table demanding a writer version (or writer feature) we don't
    implement must refuse WRITES loudly while reads keep working — the
    corruption-prevention contract of Delta writer versioning."""
    import json as J
    import os

    table = _make(spark, tmp_path, name="wv")
    with open(os.path.join(table, "_delta_log", "00000000000000000001.json"), "w") as f:
        f.write(J.dumps({"protocol": {"minReaderVersion": 1, "minWriterVersion": 7}}) + "\n")
    assert read_delta(spark, table).count() == 3  # reading still fine
    row = spark.createDataFrame([(5, 1, "e")], "id long, score long, tag string")
    with pytest.raises(NotImplementedError, match="writer version 7"):
        write_delta(row, table, mode="append")
    with pytest.raises(NotImplementedError, match="writer version 7"):
        update_where(spark, table, {"score": "0"}, "id = 1")
