"""Connector WRITE path (sources/pyds.py): df.write.format("delta_lite")
and the exactly-once streaming sink.

Contracts: task-staged files are invisible until the driver's atomic log
commit (the log is the index); append/overwrite/create all publish
correctly and time travel keeps every version; schema enforcement and the
partitioned-table bound fail loudly; column-mapped tables get physical
names written; the stream sink's txn action makes micro-batch replay
idempotent (crash-replay discards re-staged files instead of
double-appending).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from big_data_analytics_machine_learning_poc_spark.sources.delta_lite import (
    _replay,
    last_txn_version,
    read_delta,
    write_delta,
)
from big_data_analytics_machine_learning_poc_spark.sources.pyds import (
    DeltaLiteBatchWriter,
    DeltaLiteCommitMessage,
    DeltaLiteDataSource,
    DeltaLiteStreamWriter,
)


@pytest.fixture(autouse=True)
def _register(spark):
    spark.dataSource.register(DeltaLiteDataSource)


def test_create_append_overwrite_time_travel(spark, tmp_path):
    t = str(tmp_path / "t")
    df = spark.range(100).select(F.col("id").cast("long"), (F.col("id") % 3).alias("g"))
    df.repartition(3).write.format("delta_lite").mode("append").save(t)
    assert read_delta(spark, t).count() == 100
    active, _, _ = _replay(t, None)
    assert len(active) == 3  # one staged file per non-empty task
    df.limit(10).write.format("delta_lite").mode("append").save(t)
    assert read_delta(spark, t).count() == 110
    df.filter("id < 5").write.format("delta_lite").mode("overwrite").save(t)
    assert read_delta(spark, t).count() == 5
    # old snapshots intact (overwrite removed, never deleted)
    assert read_delta(spark, t, version=0).count() == 100
    assert read_delta(spark, t, version=1).count() == 110
    # stats landed: the add actions carry footer-derived numRecords
    active, _, _ = _replay(t, None)
    assert sum(
        json.loads(a["stats"])["numRecords"] for a in active.values()
    ) == 5


def test_guardrails(spark, tmp_path):
    t = str(tmp_path / "g")
    df = spark.range(10).select(F.col("id").cast("long"))
    with pytest.raises(Exception, match="non-existent"):
        df.write.format("delta_lite").mode("overwrite").save(t)
    df.write.format("delta_lite").mode("append").save(t)
    bad = spark.range(3).select(F.col("id").cast("long"), F.lit("x").alias("extra"))
    with pytest.raises(Exception, match="does not match table schema"):
        bad.write.format("delta_lite").mode("append").save(t)
    # partitioned tables: connector write refused, write_delta is the path
    pt = str(tmp_path / "p")
    pdf = spark.range(10).select("id", (F.col("id") % 2).alias("p"))
    write_delta(pdf, pt, partition_cols=["p"])
    with pytest.raises(Exception, match="partitioned"):
        pdf.write.format("delta_lite").mode("append").save(pt)


def test_mapped_table_write_uses_physical_names(spark, tmp_path):
    import pyarrow.parquet as pq

    from big_data_analytics_machine_learning_poc_spark.sources.delta_lite import (
        enable_column_mapping,
        rename_column,
    )

    t = str(tmp_path / "m")
    df = spark.range(10).select(F.col("id").cast("long"), F.lit("a").alias("name"))
    write_delta(df, t)
    enable_column_mapping(t)
    rename_column(t, "name", "username")
    extra = spark.createDataFrame([(99, "z")], "id long, username string")
    extra.write.format("delta_lite").mode("append").save(t)
    out = read_delta(spark, t)
    assert out.count() == 11
    assert out.filter(F.col("username") == "z").count() == 1
    active, _, _ = _replay(t, None)
    newest = max(active.values(), key=lambda a: a["modificationTime"])
    cols = pq.ParquetFile(os.path.join(t, newest["path"])).schema_arrow.names
    assert "name" in cols and "username" not in cols


def test_stream_sink_exactly_once(spark, tmp_path):
    src, t, ckpt = (str(tmp_path / p) for p in ("src", "t", "ckpt"))
    os.makedirs(src)
    with open(os.path.join(src, "a.json"), "w") as f:
        for i in range(5):
            f.write(json.dumps({"id": i}) + "\n")
    stream = spark.readStream.schema("id long").json(src)

    def run():
        q = (
            stream.writeStream.format("delta_lite")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start(t)
        )
        q.awaitTermination(120)

    run()
    assert read_delta(spark, t).count() == 5
    assert last_txn_version(t, "delta_lite_stream_sink") == 0
    with open(os.path.join(src, "b.json"), "w") as f:
        for i in range(5, 12):
            f.write(json.dumps({"id": i}) + "\n")
    run()
    assert read_delta(spark, t).count() == 12
    assert last_txn_version(t, "delta_lite_stream_sink") == 1
    run()  # no new data: idempotent, no new commit
    assert read_delta(spark, t).count() == 12


def test_stream_replayed_batch_discarded(spark, tmp_path):
    """Crash-replay simulation: committing the SAME batchId twice must
    discard the second attempt's staged files — the txn marker landed
    atomically with the first commit, so the table never double-counts."""
    t = str(tmp_path / "r")
    write_delta(spark.range(3).select(F.col("id").cast("long")), t)
    schema = read_delta(spark, t).schema
    w = DeltaLiteStreamWriter(t, schema, "app1")
    # fake a staged file like a task would produce
    import pyarrow as pa
    import pyarrow.parquet as pq

    def stage():
        rel = f"part-test-{os.urandom(4).hex()}.parquet"
        pq.write_table(pa.table({"id": pa.array([7], type=pa.int64())}), os.path.join(t, rel))
        from big_data_analytics_machine_learning_poc_spark.sources.tablefiles import (
            file_stats,
        )

        stats = file_stats(pq.ParquetFile(os.path.join(t, rel)).metadata)
        return DeltaLiteCommitMessage(
            rel=rel, size=os.path.getsize(os.path.join(t, rel)), stats=json.dumps(stats)
        )

    m1 = stage()
    w.commit([m1], batchId=5)
    assert read_delta(spark, t).count() == 4
    m2 = stage()
    w2 = DeltaLiteStreamWriter(t, schema, "app1")  # fresh writer, same app
    w2.commit([m2], batchId=5)  # replay
    assert read_delta(spark, t).count() == 4  # not double-applied
    assert not os.path.exists(os.path.join(t, m2.rel))  # staged file discarded
    assert last_txn_version(t, "app1") == 5


def test_abort_unlinks_staged_files(spark, tmp_path):
    t = str(tmp_path / "a")
    write_delta(spark.range(2).select(F.col("id").cast("long")), t)
    schema = read_delta(spark, t).schema
    w = DeltaLiteBatchWriter(t, schema, overwrite=False)
    rel = "part-aborted.parquet"
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"id": pa.array([1], type=pa.int64())}), os.path.join(t, rel))
    w.abort([DeltaLiteCommitMessage(rel=rel, size=10, stats="{}"), None])
    assert not os.path.exists(os.path.join(t, rel))
    assert read_delta(spark, t).count() == 2


def test_stream_reader_backpressure_and_starting_timestamp(spark, tmp_path):
    """maxCommitsPerTrigger paces catch-up (a 4-commit backlog drains in
    ceil(4/2) batches, nothing skipped); startingTimestamp resolves to the
    version at-or-before the wall time like the batch reader's
    timestampAsOf."""
    from big_data_analytics_machine_learning_poc_spark.sources.delta_lite import (
        table_history,
    )
    from big_data_analytics_machine_learning_poc_spark.sources.pyds import (
        DeltaLiteStreamReader,
    )

    t = str(tmp_path / "bp")
    for i in range(4):  # 4 commits, 2 rows each
        write_delta(
            spark.range(i * 2, i * 2 + 2).select(F.col("id").cast("long")),
            t,
            mode="append" if i else "overwrite",
        )
    r = DeltaLiteStreamReader(t, starting_version=0, max_commits_per_trigger=2)
    seen = []
    start = r.initialOffset()
    for _ in range(3):
        end = r.latestOffset()
        if end["version"] <= start["version"]:
            break
        seen.append((start["version"], end["version"]))
        r.partitions(start, end)
        r.commit(end)
        start = end
    # 4-commit backlog drained in two paced batches of <=2 commits
    assert seen == [(-1, 1), (1, 3)]
    # startingTimestamp: begin at the LAST commit's wall time -> only v3
    hist = table_history(t)
    last_ts = max(h["timestamp"] for h in hist)
    from big_data_analytics_machine_learning_poc_spark.sources.delta_lite import (
        version_at_timestamp,
    )

    assert version_at_timestamp(t, last_ts) == 3
