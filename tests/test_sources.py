"""Sources & sinks: CSV read shapes (incl. dirty data + latin-1), parquet
round-trips with partition pruning."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from big_data_analytics_machine_learning_poc_spark.catalog import load_table
from big_data_analytics_machine_learning_poc_spark.sources import (
    read_csv_all_string,
    read_csv_inferred,
    read_csv_schema,
    write_partitioned_parquet,
)

from .conftest import SF_DIR


def _write(tmp_path, name, content, encoding="utf-8"):
    p = os.path.join(str(tmp_path), name)
    with open(p, "w", encoding=encoding, newline="") as f:
        f.write(content)
    return p


def test_read_csv_inferred_types(spark, tmp_path):
    p = _write(tmp_path, "t.csv", "a,b,c\n1,2.5,x\n2,3.5,y\n")
    df = read_csv_inferred(spark, p)
    kinds = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert kinds == {"a": "int", "b": "double", "c": "string"}


def test_read_csv_all_string(spark, tmp_path):
    p = _write(tmp_path, "t.csv", "v1,v2\nham,hello\nspam,win cash\n")
    df = read_csv_all_string(spark, p)
    assert all(f.dataType.simpleString() == "string" for f in df.schema.fields)


def test_read_csv_latin1_quirk_header(spark, tmp_path):
    """The spam.csv shape: 'v1,v2,,,' header + latin-1 £ (FIXTURES.md A3)."""
    p = _write(tmp_path, "spam.csv", "v1,v2,,,\nspam,win £1000,,,\n", encoding="latin-1")
    df = read_csv_all_string(spark, p, encoding="ISO-8859-1")
    assert df.columns[:2] == ["v1", "v2"]
    assert len(df.columns) == 5
    assert df.collect()[0].v2 == "win £1000"


def test_read_csv_schema_quarantines_corrupt(spark, tmp_path):
    p = _write(tmp_path, "d.csv", "age,bmi\n19,27.9\nbad_row_no_comma\n31,22.0\n")
    schema = T.StructType(
        [T.StructField("age", T.IntegerType()), T.StructField("bmi", T.DoubleType())]
    )
    df = read_csv_schema(spark, p, schema).cache()
    assert df.filter(F.col("_corrupt_record").isNotNull()).count() == 1
    assert df.filter(F.col("_corrupt_record").isNull()).count() == 2


def test_partitioned_parquet_roundtrip_and_pruning(spark, tmp_path):
    out = os.path.join(str(tmp_path), "orders_by_status")
    orders = load_table(spark, SF_DIR, "orders")
    write_partitioned_parquet(orders, out, ["o_orderstatus"])
    back = spark.read.parquet(out)
    assert back.count() == orders.count()
    # partition pruning: filtering on the partition col must show
    # PartitionFilters in the scan, and read only that directory
    pruned = back.filter(F.col("o_orderstatus") == "F")
    plan = pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan
    pf_line = [ln for ln in plan.splitlines() if "PartitionFilters" in ln][0]
    assert "o_orderstatus" in pf_line
    assert pruned.count() == orders.filter(F.col("o_orderstatus") == "F").count()


def test_lakehouse_formats_stubbed(spark):
    """No Delta/Iceberg/Hudi jars in this container → Hudi raises a clear
    typed error (not a Py4J stack trace); Delta and Iceberg (r9) fall back
    to the jar-free delta_lite / iceberg_lite protocol implementations
    (their own suites elsewhere), so a missing table surfaces as
    FileNotFoundError from the lite reader, not a connector stub."""
    import pytest as _pytest

    from big_data_analytics_machine_learning_poc_spark.sources import lakehouse

    assert lakehouse.format_available(spark, "hudi") is False
    with _pytest.raises(NotImplementedError, match="hudi"):
        lakehouse.read_table(spark, "hudi", "/tmp/nowhere")
    for fmt in ("delta", "iceberg"):
        assert lakehouse.format_available(spark, fmt) is False
        with _pytest.raises(FileNotFoundError):
            lakehouse.read_table(spark, fmt, "/tmp/nowhere")  # no log/metadata
    with _pytest.raises(KeyError):
        lakehouse.format_available(spark, "paimon")


def test_format_probe_raises_on_gateway_errors():
    """Only the JVM's ClassNotFoundException means "no jar": any other
    failure of the probe (here a dead Py4J gateway) propagates instead of
    silently routing the call to the lite fallback."""
    from types import SimpleNamespace

    import pytest as _pytest
    from py4j.protocol import Py4JNetworkError

    from big_data_analytics_machine_learning_poc_spark.sources import lakehouse

    def stub(for_name):
        lang = SimpleNamespace(Class=SimpleNamespace(forName=for_name))
        return SimpleNamespace(_jvm=SimpleNamespace(java=SimpleNamespace(lang=lang)))

    def broken(name):
        raise Py4JNetworkError("Answer from Java side is empty")

    with _pytest.raises(Py4JNetworkError):
        lakehouse.format_available(stub(broken), "delta")
    assert lakehouse.format_available(stub(lambda name: object()), "iceberg") is True


def test_delta_lite_roundtrip_append_timetravel(spark, tmp_path):
    """delta_lite speaks the public Delta log protocol: overwrite/append
    commits, snapshot isolation (overwrite removes in the same commit),
    time travel by version, and a commitInfo history."""
    from big_data_analytics_machine_learning_poc_spark.sources.delta_lite import (
        read_delta,
        snapshot_summary,
        table_history,
        write_delta,
    )

    table = str(tmp_path / "dl")
    nation = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    v0 = write_delta(nation, table, mode="overwrite")
    assert v0 == 0
    v1 = write_delta(nation.limit(5), table, mode="append")
    assert v1 == 1

    assert read_delta(spark, table).count() == nation.count() + 5
    # time travel: version 0 predates the append
    assert read_delta(spark, table, version=0).count() == nation.count()
    # overwrite replaces the whole snapshot atomically
    write_delta(nation.limit(3), table, mode="overwrite")
    assert read_delta(spark, table).count() == 3
    assert read_delta(spark, table, version=1).count() == nation.count() + 5

    hist = table_history(table)
    assert [h["version"] for h in hist] == [2, 1, 0]
    assert hist[0]["operationParameters"]["mode"] == "OVERWRITE"
    summ = snapshot_summary(table)
    assert summ["n_records"] == 3 and summ["n_files"] >= 1
    # schema survives the log round-trip exactly
    assert read_delta(spark, table).schema == nation.schema


def test_delta_lite_partitioned_pruning(spark, tmp_path):
    """Partitioned delta_lite table: partition column round-trips through
    the hive-style layout, and partition_filters prune DRIVER-SIDE from the
    log (the pruned files never reach Spark's file index)."""
    from big_data_analytics_machine_learning_poc_spark.sources.delta_lite import (
        _replay,
        read_delta,
        write_delta,
    )

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    table = str(tmp_path / "dlp")
    write_delta(orders, table, partition_cols=["o_orderstatus"])

    back = read_delta(spark, table)
    assert back.count() == orders.count()
    assert set(back.columns) == set(orders.columns)

    pruned = read_delta(spark, table, partition_filters={"o_orderstatus": "F"})
    want = orders.filter(F.col("o_orderstatus") == "F").count()
    assert pruned.count() == want
    # log-level pruning: the snapshot's F-files are a strict subset
    active, _, _ = _replay(table, None)
    n_f = sum(1 for a in active.values() if a["partitionValues"].get("o_orderstatus") == "F")
    assert 0 < n_f < len(active)
    import pytest as _pytest

    with _pytest.raises(KeyError):
        read_delta(spark, table, partition_filters={"not_a_col": "x"})
    # empty snapshot after pruning to a non-existent value → empty df, same schema
    none = read_delta(spark, table, partition_filters={"o_orderstatus": "ZZ"})
    assert none.count() == 0

    # hive-escaped partition values: the log stores the UNESCAPED value,
    # so filters use what the user wrote (Spark writes `a b` as `a%20b`)
    esc = str(tmp_path / "dlesc")
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "c/d"), (4, "plain")], "id long, grp string"
    )
    write_delta(df, esc, partition_cols=["grp"])
    active, _, _ = _replay(esc, None)
    assert {"a b", "c/d", "plain"} == {a["partitionValues"]["grp"] for a in active.values()}
    got = read_delta(spark, esc, partition_filters={"grp": "a b"})
    assert [r.id for r in got.orderBy("id").collect()] == [1, 2]
    assert got.columns and set(got.select("grp").distinct().toPandas()["grp"]) == {"a b"}


def test_delta_lite_stats_skipping(spark, tmp_path):
    """Per-file min/max stats ride the log; range_filters drops whole files
    driver-side (Delta data skipping) without changing results when the
    caller applies its row filter as usual."""
    import json as _json

    from big_data_analytics_machine_learning_poc_spark.sources.delta_lite import (
        _replay,
        read_delta,
        write_delta,
    )

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    table = str(tmp_path / "dls")
    # range-partition on the key so per-file min/max are disjoint ranges —
    # the layout that makes skipping effective (zone-map-friendly layout)
    write_delta(orders.repartitionByRange(8, "o_orderkey"), table)

    active, _, _ = _replay(table, None)
    stats = [_json.loads(a["stats"]) for a in active.values()]
    assert all("minValues" in s and "o_orderkey" in s["minValues"] for s in stats)
    assert all(s["nullCount"].get("o_orderkey") == 0 for s in stats)

    lo, hi = 1, 64
    skipped = read_delta(spark, table, range_filters={"o_orderkey": (lo, hi)})
    # fewer input files than the full snapshot
    assert skipped.inputFiles() and len(skipped.inputFiles()) < len(active)
    want = orders.filter(F.col("o_orderkey").between(lo, hi)).count()
    assert skipped.filter(F.col("o_orderkey").between(lo, hi)).count() == want
    # unbounded side + column without stats → conservatively kept
    all_kept = read_delta(spark, table, range_filters={"o_clerk": (None, None)})
    assert len(all_kept.inputFiles()) == len(active)


def test_delta_lite_compaction_and_vacuum(spark, tmp_path):
    """OPTIMIZE bin-packs each partition's small files into one, committed
    with dataChange=false; time travel keeps working until vacuum_table
    reclaims the unreferenced files (the documented trade-off)."""
    import json as _json

    from big_data_analytics_machine_learning_poc_spark.sources.delta_lite import (
        _read_log,
        _replay,
        compact_table,
        read_delta,
        vacuum_table,
        write_delta,
    )

    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    table = str(tmp_path / "dlo")
    # two appends → ≥2 files per mktsegment partition
    write_delta(cust.repartition("c_mktsegment"), table, partition_cols=["c_mktsegment"])
    write_delta(cust.repartition("c_mktsegment").limit(50), table, mode="append")
    pre_active, _, pre_version = _replay(table, None)

    v = compact_table(spark, table)
    assert v == pre_version + 1
    post_active, _, _ = _replay(table, None)
    per_part: dict = {}
    for a in post_active.values():
        key = tuple(sorted(a["partitionValues"].items()))
        per_part[key] = per_part.get(key, 0) + 1
    assert all(n == 1 for n in per_part.values())
    assert read_delta(spark, table).count() == cust.count() + 50
    # pre-compaction snapshot still readable (files not yet deleted)
    assert read_delta(spark, table, version=pre_version).count() == cust.count() + 50
    # the compaction commit is all dataChange=false
    for action in _read_log(table, v):
        for kind in ("add", "remove"):
            if kind in action:
                assert action[kind]["dataChange"] is False
    # idempotent: nothing left to compact
    assert compact_table(spark, table) is None

    # an orphan (staged-and-moved by a writer that lost its commit race,
    # hence in no log entry) is reclaimed too; fresh files within retention
    # are kept
    import os as _os
    import shutil as _shutil

    any_file = next(iter(post_active))
    orphan = _os.path.join(table, "part-orphan-deadbeef.parquet")
    _shutil.copyfile(_os.path.join(table, any_file), orphan)
    assert vacuum_table(table, retention_ms=3_600_000) == []  # young: kept
    # retention 0 reclaims tombstoned files immediately, but a FRESH orphan
    # survives the default grace window: with no log entry it could be an
    # in-flight writer's staged-and-moved data (ADVICE r4 race)
    deleted = vacuum_table(table, retention_ms=0)
    assert set(deleted) == set(pre_active) - set(post_active)
    assert _os.path.exists(orphan)
    # grace 0 = caller asserts no concurrent writers -> orphan reclaimed
    deleted = vacuum_table(table, retention_ms=0, orphan_grace_ms=0)
    assert set(deleted) == {"part-orphan-deadbeef.parquet"}
    assert not _os.path.exists(orphan)
    assert read_delta(spark, table).count() == cust.count() + 50


def test_delta_lite_append_rebase_past_conflict(spark, tmp_path):
    """A blind append that loses the commit race rebases onto the new head
    (its staged files stay valid); an overwrite or a metadata-changed head
    surfaces the conflict instead."""
    import pytest as _pytest

    from big_data_analytics_machine_learning_poc_spark.sources.delta_lite import (
        DeltaCommitConflict,
        _commit,
        _commit_append_rebase,
        _replay,
        read_delta,
        write_delta,
    )

    table = str(tmp_path / "drb")
    region = spark.read.parquet(f"{SF_DIR}/region.parquet")
    write_delta(region, table)  # v0
    # a concurrent writer takes v1 (commitInfo-only commit is protocol-legal)
    _commit(table, 1, [{"commitInfo": {"timestamp": 0, "operation": "WRITE"}}])

    # append aimed at v1 rebases to v2; its add actions land intact
    actions = [{"commitInfo": {"timestamp": 0, "operation": "WRITE"}}]
    landed = _commit_append_rebase(table, 1, actions, "append", [])
    assert landed == 2
    # an overwrite aimed at a taken version raises — its remove-set is stale
    with _pytest.raises(DeltaCommitConflict):
        _commit_append_rebase(table, 2, actions, "overwrite", [])
    # end-to-end: a real append through write_delta after an out-of-band
    # commit takes the next free version and the snapshot stays exact
    write_delta(region.limit(2), table, mode="append")
    active, _, head = _replay(table, None)
    assert head == 3
    assert read_delta(spark, table).count() == region.count() + 2


def test_delta_lite_commit_conflict_and_protocol_gate(spark, tmp_path):
    """The put-if-absent commit primitive: a second writer targeting the same
    version loses with DeltaCommitConflict. A table demanding a newer
    reader version is refused, not misread."""
    import json as _json

    import pytest as _pytest

    from big_data_analytics_machine_learning_poc_spark.sources.delta_lite import (
        DeltaCommitConflict,
        _commit,
        _log_path,
        read_delta,
        write_delta,
    )

    table = str(tmp_path / "dlc")
    region = spark.read.parquet(f"{SF_DIR}/region.parquet")
    write_delta(region, table)
    with _pytest.raises(DeltaCommitConflict):
        _commit(table, 0, [{"commitInfo": {"timestamp": 0}}])

    # log lines are single JSON actions (protocol interop check)
    with open(_log_path(table, 0)) as f:
        actions = [_json.loads(ln) for ln in f]
    assert any("protocol" in a for a in actions)
    assert any("metaData" in a for a in actions)
    assert any("add" in a for a in actions)

    # reader-version gate
    table2 = str(tmp_path / "dlv3")
    _commit(
        table2,
        0,
        [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7}},
            {"metaData": {"schemaString": "{}", "partitionColumns": []}},
        ],
    )
    with _pytest.raises(NotImplementedError, match="reader version"):
        read_delta(spark, table2)


def test_delta_lite_checkpoint_replay(spark, tmp_path):
    """A parquet checkpoint + _last_checkpoint pointer makes replay start
    from the checkpointed state; commits after it still apply, and time
    travel to BEFORE the checkpoint falls back to pure JSON replay."""
    import os

    from big_data_analytics_machine_learning_poc_spark.sources.delta_lite import (
        _replay,
        checkpoint_table,
        read_delta,
        write_delta,
    )

    table = str(tmp_path / "dck")
    nation = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    write_delta(nation, table)                       # v0
    write_delta(nation.limit(5), table, "append")    # v1
    assert checkpoint_table(table) == 1
    assert os.path.exists(os.path.join(table, "_delta_log", "_last_checkpoint"))
    # replay from the checkpoint matches a pure-JSON replay
    active, meta, v = _replay(table, None)
    assert v == 1 and len(active) > 0 and meta["schemaString"]
    assert read_delta(spark, table).count() == nation.count() + 5
    write_delta(nation.limit(2), table, "append")    # v2, after the checkpoint
    assert read_delta(spark, table).count() == nation.count() + 7
    # pre-checkpoint time travel unaffected
    assert read_delta(spark, table, version=0).count() == nation.count()


def test_delta_lite_schema_enforcement_and_evolution(spark, tmp_path):
    """Appends with a different schema are rejected (the lake-table
    contract); merge_schema=True adds columns via a new metaData action,
    old files read the new column as null, and time travel still sees the
    old shape."""
    import pytest as _pytest

    from big_data_analytics_machine_learning_poc_spark.sources.delta_lite import (
        read_delta,
        write_delta,
    )

    table = str(tmp_path / "dse")
    region = spark.read.parquet(f"{SF_DIR}/region.parquet")
    write_delta(region, table)
    widened = region.withColumn("ingest_tag", F.lit("r4"))
    with _pytest.raises(ValueError, match="merge_schema"):
        write_delta(widened, table, mode="append")
    with _pytest.raises(ValueError, match="schema mismatch"):
        write_delta(region.drop("r_name"), table, mode="append", merge_schema=True)
    with _pytest.raises(ValueError, match="conflicting"):
        write_delta(
            region.withColumn("r_regionkey", F.col("r_regionkey").cast("string")),
            table,
            mode="append",
            merge_schema=True,
        )

    write_delta(widened, table, mode="append", merge_schema=True)  # v1
    latest = read_delta(spark, table)
    assert "ingest_tag" in latest.columns
    assert latest.count() == 2 * region.count()
    # v0 files surface the evolved column as null
    assert latest.filter(F.col("ingest_tag").isNull()).count() == region.count()
    # time travel sees the pre-evolution schema
    assert "ingest_tag" not in read_delta(spark, table, version=0).columns

    # compaction after evolution must use the LOGGED schema: the merged
    # file keeps the evolved column, old rows still null-filled
    from big_data_analytics_machine_learning_poc_spark.sources.delta_lite import compact_table

    assert compact_table(spark, table) is not None
    compacted = read_delta(spark, table)
    assert "ingest_tag" in compacted.columns
    assert compacted.count() == 2 * region.count()
    assert compacted.filter(F.col("ingest_tag").isNull()).count() == region.count()
    assert compacted.filter(F.col("ingest_tag") == "r4").count() == region.count()


def test_delta_lite_delete_and_merge(spark, tmp_path):
    """Copy-on-write DELETE and MERGE: only files holding matched rows are
    rewritten, everything publishes in one commit, results are exact."""
    from big_data_analytics_machine_learning_poc_spark.sources.delta_lite import (
        _replay,
        delete_where,
        merge_delta,
        read_delta,
        table_history,
        write_delta,
    )

    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    table = str(tmp_path / "ddm")
    # range-layout on the key so the delete/merge keys cluster into few files
    write_delta(cust.repartitionByRange(6, "c_custkey"), table)
    pre_active, _, _ = _replay(table, None)

    # DELETE a key range that lives in one region of the layout
    v = delete_where(spark, table, "c_custkey <= 20")
    assert v == 1
    post = read_delta(spark, table)
    assert post.count() == cust.filter(F.col("c_custkey") > 20).count()
    assert post.filter(F.col("c_custkey") <= 20).count() == 0
    post_active, _, _ = _replay(table, None)
    # untouched files survived the delete commit verbatim
    assert len(set(pre_active) & set(post_active)) >= 4
    # deleting nothing is a no-op, not an empty commit
    assert delete_where(spark, table, "c_custkey < 0") is None

    # MERGE: update 10 surviving rows, insert 5 new keys
    updates = (
        cust.filter((F.col("c_custkey") > 20) & (F.col("c_custkey") <= 30))
        .withColumn("c_mktsegment", F.lit("MERGED"))
    )
    inserts = cust.filter(F.col("c_custkey") <= 5)
    n_inserts = inserts.count()
    v2 = merge_delta(spark, table, updates.unionByName(inserts), ["c_custkey"])
    assert v2 == 2
    final = read_delta(spark, table)
    n_cust = cust.count()
    assert final.count() == cust.filter(F.col("c_custkey") > 20).count() + n_inserts
    assert final.filter(F.col("c_mktsegment") == "MERGED").count() == updates.count()
    assert final.filter(F.col("c_custkey") <= 5).count() == n_inserts
    assert [h["operation"] for h in table_history(table)] == ["MERGE", "DELETE", "WRITE"]
    assert n_cust == cust.count()  # source frame untouched


def test_zorder_layout_skipping(spark, tmp_path):
    """Why Z-order: a 1-D sort gives its sort column tight zone maps and
    every other column file-spanning ones. Z-ordering (o_custkey,
    o_orderkey) makes a range on the SECOND dimension skip files too —
    measured here on delta_lite's logged min/max, results unchanged."""
    from big_data_analytics_machine_learning_poc_spark.functions.layout import write_zordered_delta
    from big_data_analytics_machine_learning_poc_spark.sources.delta_lite import (
        read_delta,
        write_delta,
    )

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    n_files = 8
    one_d = str(tmp_path / "sorted1d")
    write_delta(
        orders.repartitionByRange(n_files, "o_custkey").sortWithinPartitions("o_custkey"),
        one_d,
    )
    zord = str(tmp_path / "zordered")
    write_zordered_delta(orders, zord, ["o_custkey", "o_orderkey"], n_files=n_files)

    bounds = orders.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    lo = bounds[0]
    hi = lo + (bounds[1] - bounds[0]) // 8  # bottom eighth of the key range
    kept_1d = len(read_delta(spark, one_d, range_filters={"o_orderkey": (lo, hi)}).inputFiles())
    kept_z = len(read_delta(spark, zord, range_filters={"o_orderkey": (lo, hi)}).inputFiles())
    # the 1-D layout spreads o_orderkey across (almost) every file; the
    # Z-layout confines the range to a strict subset
    assert kept_1d >= n_files - 1
    assert 0 < kept_z < kept_1d
    # and skipping never changes results — row filter applied as usual
    want = orders.filter(F.col("o_orderkey").between(lo, hi)).count()
    got = (
        read_delta(spark, zord, range_filters={"o_orderkey": (lo, hi)})
        .filter(F.col("o_orderkey").between(lo, hi))
        .count()
    )
    assert got == want
    # the first dimension still skips on the Z-layout as well
    cb = orders.agg(F.min("o_custkey"), F.max("o_custkey")).first()
    clo = cb[0]
    chi = clo + (cb[1] - cb[0]) // 8
    kept_z_cust = len(
        read_delta(spark, zord, range_filters={"o_custkey": (clo, chi)}).inputFiles()
    )
    assert kept_z_cust < n_files


def test_delta_lite_exactly_once_streaming_sink(spark, tmp_path):
    """foreachBatch is at-least-once; the delta sink's atomic txn marker
    makes batch replay a no-op, and a real availableNow stream lands the
    whole events table exactly once."""
    import os

    from big_data_analytics_machine_learning_poc_spark.catalog import load_table
    from big_data_analytics_machine_learning_poc_spark.sources.delta_lite import (
        delta_foreach_batch_sink,
        last_txn_version,
        read_delta,
        table_history,
        write_delta,
    )
    from big_data_analytics_machine_learning_poc_spark.streaming.events import read_event_stream

    table = os.path.join(str(tmp_path), "dtx")
    nation = spark.read.parquet(f"{SF_DIR}/nation.parquet")

    sink = delta_foreach_batch_sink(table, "ingest-app")
    sink(nation, 0)
    sink(nation, 0)  # crash-replay of the same micro-batch: no-op
    sink(nation, 1)
    assert read_delta(spark, table).count() == 2 * nation.count()
    assert last_txn_version(table, "ingest-app") == 1
    # a different app's txn counter is independent
    assert last_txn_version(table, "other-app") is None
    write_delta(nation, table, mode="append", txn=("other-app", 7))
    assert last_txn_version(table, "other-app") == 7
    assert last_txn_version(table, "ingest-app") == 1
    # txn state survives a checkpoint (and commits after it still apply),
    # keeping the exactly-once lookup O(commits since checkpoint)
    from big_data_analytics_machine_learning_poc_spark.sources.delta_lite import checkpoint_table

    checkpoint_table(table)
    assert last_txn_version(table, "ingest-app") == 1
    sink(nation, 2)
    assert last_txn_version(table, "ingest-app") == 2
    assert last_txn_version(table, "other-app") == 7

    # end-to-end: stream → delta, counts match the batch read
    stream_table = os.path.join(str(tmp_path), "dstream")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    ev = read_event_stream(spark, SF_DIR).select("event_id", "event_type", "value")
    q = (
        ev.writeStream.foreachBatch(delta_foreach_batch_sink(stream_table, "ev-ingest"))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert read_delta(spark, stream_table).count() == load_table(spark, SF_DIR, "events").count()
    assert last_txn_version(stream_table, "ev-ingest") is not None
    assert all(h["operation"] in ("WRITE",) for h in table_history(stream_table))


def test_streaming_parquet_sink_roundtrip(spark, tmp_path):
    """Production streaming sink: writeStream → partitioned parquet with a
    checkpoint, then read back as a batch table (exactly-once file sink)."""
    import os

    from pyspark.sql import functions as F

    from big_data_analytics_machine_learning_poc_spark.streaming.events import read_event_stream

    out = os.path.join(str(tmp_path), "stream_out")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    ev = read_event_stream(spark, SF_DIR).select("event_id", "event_type", "value")
    q = (
        ev.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .partitionBy("event_type")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    back = spark.read.parquet(out)
    from big_data_analytics_machine_learning_poc_spark.catalog import load_table

    assert back.count() == load_table(spark, SF_DIR, "events").count()
    # partition dirs by event_type exist
    assert any(d.startswith("event_type=") for d in os.listdir(out))


def test_training_shard_sink_roundtrip(spark, tmp_path):
    """End-to-end corpus sink: hash-split assignment → sharded write →
    read back with split pruning; per-file ordering is deterministic."""
    from pyspark.sql import functions as F

    from big_data_analytics_machine_learning_poc_spark.catalog import load_table
    from big_data_analytics_machine_learning_poc_spark.functions.hashing import md5_hash32
    from big_data_analytics_machine_learning_poc_spark.sources.sinks import (
        read_back,
        write_training_shards,
    )

    docs = load_table(spark, SF_DIR, "documents")
    bucket = md5_hash32(F.col("text")) % 100
    assigned = docs.withColumn(
        "split",
        F.when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test"),
    )
    path = str(tmp_path / "shards")
    write_training_shards(assigned, path)

    back = read_back(spark, path)
    assert back.count() == docs.count()
    # split pruning: the train-only read must touch only the train partition
    train = back.filter(F.col("split") == "train")
    from big_data_analytics_machine_learning_poc_spark.plans import formatted_plan

    plan = formatted_plan(train)
    assert "split=train" in plan or "PartitionFilters" in plan
    # file-level determinism: within any (split, lang) the doc_ids are sorted
    import glob as _glob

    files = _glob.glob(f"{path}/split=train/*.parquet")
    assert files
    import duckdb as _duck

    con = _duck.connect()
    for f in files[:3]:
        rows = con.execute(
            f"SELECT lang, doc_id FROM read_parquet('{f}')"
        ).fetchall()
        assert rows == sorted(rows)
    con.close()


def test_jsonl_roundtrip_and_corrupt_quarantine(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from big_data_analytics_machine_learning_poc_spark.sources.jsonl import (
        read_jsonl,
        read_jsonl_strict,
        write_jsonl,
    )

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
        ]
    )
    good = '{"doc_id": 1, "text": "hello world", "lang": "en"}'
    good2 = '{"doc_id": 2, "text": "bonjour", "lang": "fr"}'
    bad = '{"doc_id": 3, "text": "truncated'
    src = tmp_path / "in.jsonl"
    src.write_text("\n".join([good, bad, good2]) + "\n")

    df = read_jsonl(spark, str(src), schema)
    rows = {r.doc_id: r for r in df.collect()}
    assert rows[1].text == "hello world" and rows[2].lang == "fr"
    corrupt = [r for r in rows.values() if r._corrupt_record is not None]
    assert len(corrupt) == 1 and corrupt[0]._corrupt_record.startswith('{"doc_id": 3')

    # strict mode fails loudly on the malformed line
    import pytest as _pytest

    with _pytest.raises(Exception, match="(?i)malformed|FAILFAST"):
        read_jsonl_strict(spark, str(src), schema).collect()

    # partitioned write → hive layout readable back with pruning-friendly dirs
    clean = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    out = str(tmp_path / "out")
    write_jsonl(clean, out, partition_by=("lang",))
    import glob as _glob

    assert _glob.glob(f"{out}/lang=en/*.json.gz")
    back = read_jsonl(spark, out, StructType(schema.fields[:2]), corrupt_col=None)
    assert back.count() == 2


def test_binary_file_source_glob_and_recursive(spark, tmp_path):
    """binaryFile listing: glob prunes non-matching files, recursion walks
    shard subdirs, content round-trips byte-exact."""
    from big_data_analytics_machine_learning_poc_spark.sources import read_binary_files

    sub = tmp_path / "shard=0"
    sub.mkdir()
    (tmp_path / "a.png").write_bytes(b"\x89PNG-fake-a")
    (sub / "b.png").write_bytes(b"\x89PNG-fake-b")
    (tmp_path / "notes.txt").write_bytes(b"not media")

    df = read_binary_files(spark, str(tmp_path), glob="*.png")
    rows = {os.path.basename(r.path): bytes(r.content) for r in df.collect()}
    assert rows == {"a.png": b"\x89PNG-fake-a", "b.png": b"\x89PNG-fake-b"}
    lengths = {os.path.basename(r.path): r.length for r in df.collect()}
    assert lengths["a.png"] == 11


def test_ingest_media_dir_contract_and_determinism(spark, tmp_path):
    """Ingest produces the multimodal (media_id, payload, meta) contract;
    ids derive from the path, so re-ingest after adding a file keeps them."""
    from big_data_analytics_machine_learning_poc_spark.sources import ingest_media_dir

    (tmp_path / "x.png").write_bytes(b"img-x")
    (tmp_path / "y.wav").write_bytes(b"wav-y")
    first = {
        r.meta.src_path: (r.media_id, r.meta.format, r.meta.n_bytes)
        for r in ingest_media_dir(spark, str(tmp_path)).collect()
    }
    assert {v[1] for v in first.values()} == {"image/png", "audio/wav"}
    assert all(v[2] in (5,) for v in first.values())

    (tmp_path / "z.bin").write_bytes(b"zzz")
    second = {
        r.meta.src_path: (r.media_id, r.meta.format, r.meta.n_bytes)
        for r in ingest_media_dir(spark, str(tmp_path)).collect()
    }
    assert len(second) == 3
    for path, v in first.items():
        assert second[path] == v  # ids stable under re-ingest


def test_media_parquet_feeds_multimodal_pipeline(spark, tmp_path):
    """Ingest → parquet → the mapInPandas feature extractor runs unchanged
    on the persisted payloads (the ingest-once path that ends small-files)."""
    from big_data_analytics_machine_learning_poc_spark.operators.multimodal import (
        FEATURE_SCHEMA,
        fake_decode_features,
    )
    from big_data_analytics_machine_learning_poc_spark.sources import (
        ingest_media_dir,
        write_media_parquet,
    )

    (tmp_path / "m1.png").write_bytes(b"payload-one")
    (tmp_path / "m2.png").write_bytes(b"payload-two!")
    out = str(tmp_path / "media_pq")
    write_media_parquet(ingest_media_dir(spark, str(tmp_path), glob="*.png"), out)

    back = spark.read.parquet(out).select(
        F.col("media_id").alias("doc_id"), "payload"
    )
    feats = back.mapInPandas(fake_decode_features, FEATURE_SCHEMA).collect()
    assert len(feats) == 2
    assert {r.n_bytes for r in feats} == {11, 12}


def test_orc_roundtrip_partitioned(spark, tmp_path):
    from big_data_analytics_machine_learning_poc_spark.sources import read_orc, write_orc

    df = load_table(spark, SF_DIR, "nation")
    out = str(tmp_path / "nation_orc")
    write_orc(df, out, partition_cols=["n_regionkey"])
    back = read_orc(spark, out)
    assert back.count() == df.count()
    assert {r.n_name for r in back.collect()} == {r.n_name for r in df.collect()}
    # partition pruning: only one directory's files scanned
    pruned = back.filter(F.col("n_regionkey") == 2)
    assert pruned.count() == df.filter(F.col("n_regionkey") == 2).count()


def test_synthdocs_datasource_deterministic_and_partitioned(spark):
    """Custom Python DataSource: row count honored, content a pure function
    of (seed, doc_id) regardless of partition layout, schema stable."""
    from big_data_analytics_machine_learning_poc_spark.sources.synthdocs import synth_docs

    a = synth_docs(spark, rows=100, partitions=4, seed=7)
    b = synth_docs(spark, rows=100, partitions=13, seed=7)  # different layout
    assert a.schema == b.schema
    assert a.rdd.getNumPartitions() == 4
    ra = {r.doc_id: (r.text, r.lang, r.source, r.n_chars) for r in a.collect()}
    rb = {r.doc_id: (r.text, r.lang, r.source, r.n_chars) for r in b.collect()}
    assert len(ra) == 100 and ra == rb
    # different seed → different corpus
    c = synth_docs(spark, rows=100, partitions=4, seed=8)
    assert {r.text for r in c.collect()} != {r.text for r in a.collect()}
    # generated rows satisfy the documents-table contract
    assert all(v[3] == len(v[0]) for v in ra.values())


def test_synthdocs_feeds_corpus_operators(spark):
    """The generator plugs into the same operator surface as real tables:
    run the quality-gate keep predicate over a generated corpus."""
    from big_data_analytics_machine_learning_poc_spark.operators.corpus import _keep_col
    from big_data_analytics_machine_learning_poc_spark.sources.synthdocs import synth_docs

    docs = synth_docs(spark, rows=500, partitions=8)
    kept = docs.filter(_keep_col()).count()
    assert 0 < kept <= 500


def test_synthdocs_jvm_lane_matches_shape(spark):
    from big_data_analytics_machine_learning_poc_spark.sources.synthdocs import (
        synth_docs,
        synth_docs_jvm,
    )

    py = synth_docs(spark, rows=10, partitions=2)
    jvm = synth_docs_jvm(spark, rows=10, partitions=2)
    assert [f.name for f in py.schema.fields] == [f.name for f in jvm.schema.fields]
    assert jvm.count() == 10


def test_synthdocs_stream_source_bounded_deterministic(spark, tmp_path):
    """Streaming generator: micro-batches drain to max_rows; the streamed
    corpus is row-identical to the batch source at the same seed (replay-
    safe offsets → exactly-once-compatible)."""
    from big_data_analytics_machine_learning_poc_spark.sources.synthdocs import (
        synth_docs,
        synth_docs_stream,
    )

    stream = synth_docs_stream(spark, max_rows=250, rows_per_batch=64, seed=5)
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("synth_stream_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r.doc_id: (r.text, r.lang, r.source)
        for r in spark.sql("SELECT * FROM synth_stream_t").collect()
    }
    want = {
        r.doc_id: (r.text, r.lang, r.source)
        for r in synth_docs(spark, rows=250, partitions=4, seed=5).collect()
    }
    assert got == want


def test_upsert_parquet_merge_semantics(spark, tmp_path):
    """upsert = replace matched keys, append new ones, leave the rest."""
    from big_data_analytics_machine_learning_poc_spark.sources.sinks import upsert_parquet

    path = str(tmp_path / "dim")
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k int, name string, v double"
    ).write.parquet(path)

    updates = spark.createDataFrame(
        [(2, "b2", 21.0), (4, "d", 40.0)], "k int, name string, v double"
    )
    upsert_parquet(spark, path, updates, ["k"])

    got = {r.k: (r.name, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {1: ("a", 10.0), 2: ("b2", 21.0), 3: ("c", 30.0), 4: ("d", 40.0)}

    # idempotent re-apply: same updates → same table
    upsert_parquet(spark, path, updates, ["k"])
    again = {r.k: (r.name, r.v) for r in spark.read.parquet(path).collect()}
    assert again == got


def test_dynamic_partition_overwrite_touches_only_new(spark, tmp_path):
    from big_data_analytics_machine_learning_poc_spark.sources.sinks import (
        overwrite_partitions_dynamic,
    )

    path = str(tmp_path / "days")
    base = spark.createDataFrame(
        [("d1", 1), ("d1", 2), ("d2", 3)], "day string, v int"
    )
    overwrite_partitions_dynamic(base, path, ["day"])
    # reprocess d2 only; d1 must survive untouched
    redo = spark.createDataFrame([("d2", 99)], "day string, v int")
    overwrite_partitions_dynamic(redo, path, ["day"])
    got = sorted((r.day, r.v) for r in spark.read.parquet(path).collect())
    assert got == [("d1", 1), ("d1", 2), ("d2", 99)]


def test_zorder_key_matches_reference_and_clusters_both_dims(spark, tmp_path):
    from big_data_analytics_machine_learning_poc_spark.functions.vector import zorder_key2

    def ref(a, b, bits=16):
        k = 0
        for i in range(bits):
            k |= ((a >> i) & 1) << (2 * i) | ((b >> i) & 1) << (2 * i + 1)
        return k

    pts = [(x * 37 % 256, x * 101 % 256) for x in range(4096)]
    df = spark.createDataFrame(pts, "a int, b int")
    got = df.select("a", "b", zorder_key2(F.col("a"), F.col("b"), 8).alias("z")).collect()
    assert all(r.z == ref(r.a, r.b, 8) for r in got)

    # clustering: z-sorted files bound BOTH dims; a 1-d sort can't bound b.
    out = str(tmp_path / "zsorted")
    (
        df.withColumn("z", zorder_key2(F.col("a"), F.col("b"), 8))
        .repartitionByRange(8, "z")
        .sortWithinPartitions("z")
        .write.parquet(out)
    )
    import glob as _glob

    spans_a, spans_b = [], []
    for f in _glob.glob(out + "/part-*.parquet"):
        pf = spark.read.parquet(f)
        row = pf.agg(
            F.min("a"), F.max("a"), F.min("b"), F.max("b")
        ).collect()[0]
        spans_a.append(row[1] - row[0])
        spans_b.append(row[3] - row[2])
    assert len(spans_a) >= 4
    assert sum(spans_a) / len(spans_a) < 0.75 * 255
    assert sum(spans_b) / len(spans_b) < 0.75 * 255


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Lake reality: shards written before a column existed must read
    together with newer shards — mergeSchema unions the schemas and old
    rows surface null for the new column (never a read failure)."""
    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id int, name string").write.parquet(
        path + "/batch=1"
    )
    spark.createDataFrame(
        [(2, "b", 0.9)], "id int, name string, quality double"
    ).write.parquet(path + "/batch=2")

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"id", "name", "quality", "batch"}
    rows = {r.id: r.quality for r in merged.collect()}
    assert rows == {1: None, 2: 0.9}

    # and the production stance: an EXPLICIT schema needs no footer merge
    # pass at all — old files simply project the missing column as null.
    import pyspark.sql.types as T

    explicit = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("name", T.StringType()),
            T.StructField("quality", T.DoubleType()),
        ]
    )
    fixed = spark.read.schema(explicit).parquet(path)
    assert {r.id: r.quality for r in fixed.collect()} == rows


def test_merge_aggregate_state_incremental_equals_full(spark, tmp_path):
    """Two incremental folds == one full recompute, per key and exactly
    (cents ints — monoid merge is order-insensitive)."""
    from big_data_analytics_machine_learning_poc_spark.sources.sinks import (
        merge_aggregate_state,
    )

    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", (F.round(F.col("value") * 100)).cast("long").alias("v_cents")
    )
    first = ev.filter(F.col("user_id") % 2 == 0)
    second = ev.filter(F.col("user_id") % 2 == 1)

    state = str(tmp_path / "agg_state")
    merge_aggregate_state(spark, state, first, ["user_id"], ["v_cents"])
    merge_aggregate_state(spark, state, second, ["user_id"], ["v_cents"])

    got = {
        r.user_id: (r.v_cents, r.n_rows) for r in spark.read.parquet(state).collect()
    }
    want = {
        r.user_id: (r.s, r.n)
        for r in ev.groupBy("user_id")
        .agg(F.sum("v_cents").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want

    # folding an empty delta is a no-op
    merge_aggregate_state(
        spark, state, ev.filter(F.lit(False)), ["user_id"], ["v_cents"]
    )
    again = {
        r.user_id: (r.v_cents, r.n_rows) for r in spark.read.parquet(state).collect()
    }
    assert again == want


def test_observe_metrics_ride_the_write_job(spark, tmp_path):
    """Observation metrics come back from the SAME job as the write —
    ingest accounting with zero extra scans. The frame is built on a
    child session per the helper's SESSION ISOLATION contract, so the
    shared pytest session's ObservationManager stays uninitialized and
    MLlib evaluator tests keep passing in ANY suite order."""
    from big_data_analytics_machine_learning_poc_spark.operators.quality import (
        observed_write_metrics,
    )
    from big_data_analytics_machine_learning_poc_spark.session import ensure_session_defaults

    obs_spark = spark.newSession()
    ensure_session_defaults(obs_spark)
    df = load_table(obs_spark, SF_DIR, "nation")
    observed, obs = observed_write_metrics(df)
    observed.write.mode("overwrite").parquet(str(tmp_path / "out"))
    got = obs.get
    assert got["n_rows"] == df.count()
    assert got["n_null_keys"] == 0


def test_xml_source_reads_rows_and_column_parse(spark, tmp_path):
    """File-level XML read plus in-column from_xml (the embedded-XML-field
    case: a feed whose payload column is XML inside parquet/JSONL)."""
    from big_data_analytics_machine_learning_poc_spark.sources.jsonl import read_xml

    p = tmp_path / "feed.xml"
    p.write_text(
        "<feed><item><id>1</id><title>alpha</title></item>"
        "<item><id>2</id><title>beta</title></item></feed>"
    )
    df = read_xml(spark, str(p), row_tag="item")
    assert {(r.id, r.title) for r in df.collect()} == {(1, "alpha"), (2, "beta")}

    col_df = spark.createDataFrame(
        [(1, "<m><k>x</k><v>9</v></m>")], "row_id int, payload string"
    ).select(
        "row_id",
        F.from_xml(
            "payload", "k string, v int"
        ).alias("parsed"),
    )
    row = col_df.collect()[0]
    assert (row.parsed.k, row.parsed.v) == ("x", 9)


def test_compact_parquet_reduces_files_preserves_rows(spark, tmp_path):
    from big_data_analytics_machine_learning_poc_spark.sources.sinks import (
        compact_parquet,
    )

    path = str(tmp_path / "frag")
    li = load_table(spark, SF_DIR, "lineitem").limit(1000)
    li.repartition(23).write.parquet(path)  # fragment deliberately

    want = li.count()
    before = compact_parquet(spark, path, target_files=2, sort_col="l_orderkey")
    assert before >= 23

    import glob as _glob

    after_files = _glob.glob(path + "/part-*")
    assert len(after_files) <= 2
    assert spark.read.parquet(path).count() == want
    # clustering: each file covers a disjoint-ish orderkey range
    mins_maxs = []
    for f in after_files:
        r = spark.read.parquet(f).agg(F.min("l_orderkey"), F.max("l_orderkey")).collect()[0]
        mins_maxs.append((r[0], r[1]))
    mins_maxs.sort()
    for (a_lo, a_hi), (b_lo, b_hi) in zip(mins_maxs, mins_maxs[1:]):
        assert a_hi <= b_lo  # range-partitioned: no overlap


def test_zorder_column_builders_match_sql(spark):
    """The DataFrame-API bucket/morton builders (the independent Spark-side
    formulation of layout_zorder_cells, VERDICT r4 ask #5) must agree
    bit-for-bit with the SQL-text builders the oracle uses."""
    from big_data_analytics_machine_learning_poc_spark.functions.layout import (
        bucket_col,
        bucket_sql,
        morton_col,
        morton_sql,
    )

    df = spark.range(0, 5000).selectExpr("id AS a", "(id * 7919) % 4096 AS b")
    sql_b1 = bucket_sql("a", 0, 4999, 256)
    sql_b2 = bucket_sql("b", 0, 4095, 256)
    via_sql = df.selectExpr(
        f"{morton_sql([sql_b1, sql_b2], 8)} AS z"
    )
    via_cols = df.select(
        morton_col(
            [bucket_col(F.col("a"), 0, 4999, 256), bucket_col(F.col("b"), 0, 4095, 256)], 8
        ).alias("z")
    )
    diffs = via_sql.exceptAll(via_cols).count() + via_cols.exceptAll(via_sql).count()
    assert diffs == 0


def test_pyds_connector_reads_prunes_and_time_travels(spark, tmp_path):
    """The Python Data Source connector (sources/pyds.py) must (a) read a
    partitioned snapshot identically to read_delta, (b) prune partition
    files from an EqualTo pushdown (5 segments -> 1 file set), (c) skip
    files by zone-map range on a data column, and (d) time-travel via
    versionAsOf."""
    from pyspark.sql.datasource import EqualTo, GreaterThan

    from big_data_analytics_machine_learning_poc_spark.sources.delta_lite import (
        read_delta,
        write_delta,
    )
    from big_data_analytics_machine_learning_poc_spark.sources.pyds import (
        DeltaLiteDataSource,
    )

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(DeltaLiteDataSource)
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").select(
        "c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    table = str(tmp_path / "t")
    write_delta(cust.repartition("c_mktsegment"), table, partition_cols=["c_mktsegment"])

    # (a) full equality with the function-call reader
    via_pyds = spark.read.format("delta_lite").load(table)
    assert sorted(map(tuple, via_pyds.collect())) == sorted(
        map(tuple, read_delta(spark, table).collect())
    )

    # (b) partition pruning: unit-level, same planner the executor uses
    ds = DeltaLiteDataSource(options={"path": table})
    r = ds.reader(ds.schema())
    n_all = len(r.partitions())
    unsupported = list(r.pushFilters([EqualTo(("c_mktsegment",), "BUILDING")]))
    assert len(unsupported) == 1  # every filter handed back for row-level apply
    assert 0 < len(r.partitions()) < n_all
    # a pushdown that prunes every file is an empty scan, not an error
    pruned = spark.read.format("delta_lite").load(table).filter("c_mktsegment = 'NONE'")
    assert pruned.count() == 0

    # (c) zone-map skipping on a data column needs key-ranged layout
    table2 = str(tmp_path / "t2")
    write_delta(cust.repartitionByRange(4, "c_custkey"), table2)
    ds2 = DeltaLiteDataSource(options={"path": table2})
    r2 = ds2.reader(ds2.schema())
    assert len(r2.partitions()) == 4
    list(r2.pushFilters([GreaterThan(("c_custkey",), 10_000_000)]))
    assert len(r2.partitions()) < 4  # top-key files can't match -> skipped
    # correctness unaffected: Spark re-applies the filter row-level
    hi = (
        spark.read.format("delta_lite")
        .load(table2)
        .filter(F.col("c_custkey") > 100)
        .count()
    )
    assert hi == cust.filter(F.col("c_custkey") > 100).count()

    # (d) time travel: append then read v0 through the connector
    write_delta(cust.limit(7), table, mode="append")
    v0 = spark.read.format("delta_lite").option("versionAsOf", "0").load(table)
    assert v0.count() == cust.count()
    assert spark.read.format("delta_lite").load(table).count() == cust.count() + 7


def test_snapshot_diff_rewrite_rows_cancel(spark, tmp_path):
    """snapshot_diff (CDF from snapshots): updating ONE row in a file that
    holds five must emit exactly 1 delete + 1 insert — the four rows the
    copy-on-write rewrite duplicated into the new file cancel in the
    multiset diff, and untouched files are never read."""
    from big_data_analytics_machine_learning_poc_spark.sources.delta_lite import (
        merge_delta,
        snapshot_diff,
        write_delta,
    )

    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "id long, val string"
    ).coalesce(2)
    table = str(tmp_path / "cdf")
    write_delta(df, table)
    merge_delta(
        spark,
        table,
        spark.createDataFrame([(3, "CHANGED")], "id long, val string"),
        ["id"],
    )
    changes = sorted(
        (r["_change_type"], r.id, r.val) for r in snapshot_diff(spark, table, 0, 1).collect()
    )
    assert changes == [("delete", 3, "v3"), ("insert", 3, "CHANGED")]


def test_pyds_stream_source_tails_commits_append_only(spark, tmp_path):
    """The delta_lite streaming source must emit every appended row exactly
    once across multiple commits (offset = log version), stay silent for
    compaction commits (dataChange=false), and refuse data-changing
    removes (append-only contract)."""
    import pytest as _pytest

    from big_data_analytics_machine_learning_poc_spark.sources.delta_lite import (
        compact_table,
        delete_where,
        write_delta,
    )
    from big_data_analytics_machine_learning_poc_spark.sources.pyds import (
        DeltaLiteStreamDataSource,
        DeltaLiteStreamReader,
    )

    spark.dataSource.register(DeltaLiteStreamDataSource)
    table = str(tmp_path / "st")
    nation = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    write_delta(nation, table)
    write_delta(nation.limit(5), table, mode="append")
    write_delta(nation.limit(3), table, mode="append")

    q = (
        spark.readStream.format("delta_lite_stream")
        .load(table)
        .writeStream.format("memory")
        .queryName("dl_stream_out")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table("dl_stream_out").count()
    assert got == nation.count() + 5 + 3
    spark.catalog.dropTempView("dl_stream_out")

    # compaction is transparent: dataChange=false adds/removes plan nothing
    r = DeltaLiteStreamReader(table)
    before = r.latestOffset()
    compact_table(spark, table)
    after = r.latestOffset()
    assert after["version"] == before["version"] + 1
    assert r.partitions(before, after) == []

    # a data-changing remove violates the append-only contract loudly
    delete_where(spark, table, "n_nationkey = 0")
    with _pytest.raises(RuntimeError, match="append-only"):
        r.partitions(after, r.latestOffset())


def test_pyds_connector_schema_evolution_null_fills(spark, tmp_path):
    """After a merge_schema column-add, the connector must null-fill the
    new column for pre-evolution files instead of crashing on the missing
    parquet column."""
    from big_data_analytics_machine_learning_poc_spark.sources.delta_lite import (
        write_delta,
    )
    from big_data_analytics_machine_learning_poc_spark.sources.pyds import (
        DeltaLiteDataSource,
    )

    spark.dataSource.register(DeltaLiteDataSource)
    table = str(tmp_path / "evo")
    write_delta(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"), table)
    write_delta(
        spark.createDataFrame([(3, "c", 9.5)], "id long, v string, w double"),
        table,
        mode="append",
        merge_schema=True,
    )
    got = {
        r.id: (r.v, r.w)
        for r in spark.read.format("delta_lite").load(table).collect()
    }
    assert got == {1: ("a", None), 2: ("b", None), 3: ("c", 9.5)}


def test_optimize_zorder_tightens_stats_and_stays_invisible(spark, tmp_path):
    """OPTIMIZE ZORDER: after re-clustering on (c_custkey, c_nationkey),
    (a) the row set is byte-identical, (b) zone-map skipping prunes files
    on BOTH dimensions where the random layout pruned (almost) nothing,
    (c) the commit is dataChange=false so the streaming source plans NO
    partitions for it, and (d) time travel to the pre-optimize version
    still works."""
    from big_data_analytics_machine_learning_poc_spark.sources.delta_lite import (
        _file_may_match,
        _replay,
        optimize_zorder,
        read_delta,
        write_delta,
    )
    from big_data_analytics_machine_learning_poc_spark.sources.pyds import (
        DeltaLiteStreamReader,
    )

    # sf0.01 (not conftest's sf0.001): z-bucket resolution needs enough
    # rows per file for the per-dimension ranges to separate measurably
    cust = spark.read.parquet("/root/testdata/sf0.01/customer.parquet").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    table = str(tmp_path / "zt")
    # adversarial layout: shuffle by acctbal so neither key clusters
    write_delta(cust.repartition(8, "c_acctbal"), table)

    def n_matching(col, lo, hi):
        active, _, _ = _replay(table, None)
        return sum(1 for a in active.values() if _file_may_match(a, col, lo, hi)), len(active)

    before_k, total_before = n_matching("c_custkey", 0, 100)
    reader = DeltaLiteStreamReader(table)
    off0 = reader.latestOffset()

    v = optimize_zorder(spark, table, ["c_custkey", "c_nationkey"], n_files=8)
    assert v == 1

    after_k, total_after = n_matching("c_custkey", 0, 100)
    after_n, _ = n_matching("c_nationkey", 0, 1)
    assert after_k < total_after, "custkey range must prune files post-zorder"
    assert after_n < total_after, "nationkey range must prune files post-zorder"
    assert before_k == total_before  # random layout pruned nothing

    got = sorted(map(tuple, read_delta(spark, table).collect()))
    assert got == sorted(map(tuple, cust.collect()))
    assert sorted(map(tuple, read_delta(spark, table, version=0).collect())) == got

    # dataChange=false: the streaming reader sees the commit but plans nothing
    off1 = reader.latestOffset()
    assert off1["version"] == off0["version"] + 1
    assert reader.partitions(off0, off1) == []


def test_delta_concurrent_appenders_all_land(spark, tmp_path):
    """ACID under real concurrency: 6 threads blind-append simultaneously;
    every append must land exactly once (the rebase path absorbs lost
    commit races), versions must be contiguous, and the final row
    multiset must be the union of all appends."""
    import threading

    from big_data_analytics_machine_learning_poc_spark.sources.delta_lite import (
        _list_versions,
        read_delta,
        write_delta,
    )

    table = str(tmp_path / "conc")
    write_delta(spark.createDataFrame([(-1, -1)], "id long, w long"), table)

    errs = []

    def appender(tid: int):
        try:
            for j in range(3):
                df = spark.createDataFrame([(tid, j)], "id long, w long")
                write_delta(df, table, mode="append")
        except Exception as e:  # noqa: BLE001 — surfaced below
            errs.append((tid, repr(e)))

    threads = [threading.Thread(target=appender, args=(t,)) for t in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs

    rows = sorted((r.id, r.w) for r in read_delta(spark, table).collect())
    want = sorted([(-1, -1)] + [(t, j) for t in range(6) for j in range(3)])
    assert rows == want
    versions = _list_versions(table)
    assert versions == list(range(len(versions)))  # contiguous, no holes
    assert versions[-1] == 18  # 1 initial + 18 appends


def test_pyds_stream_starting_version_skips_history(spark, tmp_path):
    """option('startingVersion', N) must begin the tail at commit N,
    skipping earlier history — including pre-tail overwrites that would
    otherwise trip the append-only contract."""
    from big_data_analytics_machine_learning_poc_spark.sources.delta_lite import (
        write_delta,
    )
    from big_data_analytics_machine_learning_poc_spark.sources.pyds import (
        DeltaLiteStreamDataSource,
    )

    spark.dataSource.register(DeltaLiteStreamDataSource)
    table = str(tmp_path / "sv")
    df = spark.createDataFrame([(1,), (2,)], "id long")
    write_delta(df, table)                      # v0
    write_delta(df, table, mode="overwrite")    # v1: rewrite (remove+add)
    write_delta(
        spark.createDataFrame([(9,)], "id long"), table, mode="append"
    )                                           # v2

    q = (
        spark.readStream.format("delta_lite_stream")
        .option("startingVersion", "2")
        .load(table)
        .writeStream.format("memory")
        .queryName("sv_out")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(r.id for r in spark.table("sv_out").collect())
    spark.catalog.dropTempView("sv_out")
    assert got == [9]  # only the v2 append; v0/v1 history skipped


def test_pyds_stream_source_null_fills_evolved_columns(spark, tmp_path):
    """The STREAM reader must null-fill pre-evolution files exactly like
    the batch reader (shared _read_file_batches): tailing a bronze table
    across a merge_schema column-add must not kill the query."""
    from big_data_analytics_machine_learning_poc_spark.sources.delta_lite import (
        write_delta,
    )
    from big_data_analytics_machine_learning_poc_spark.sources.pyds import (
        DeltaLiteStreamDataSource,
    )

    spark.dataSource.register(DeltaLiteStreamDataSource)
    table = str(tmp_path / "sevo")
    write_delta(spark.createDataFrame([(1, "a")], "id long, v string"), table)
    write_delta(
        spark.createDataFrame([(2, "b", 7.0)], "id long, v string, w double"),
        table,
        mode="append",
        merge_schema=True,
    )
    q = (
        spark.readStream.format("delta_lite_stream")
        .load(table)
        .writeStream.format("memory")
        .queryName("sevo_out")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.id: (r.v, r.w) for r in spark.table("sevo_out").collect()}
    spark.catalog.dropTempView("sevo_out")
    assert got == {1: ("a", None), 2: ("b", 7.0)}


def test_timestamp_time_travel_and_restore(spark, tmp_path):
    """timestampAsOf resolves to the newest commit at-or-before the asked
    time (function + connector option), and RESTORE makes an old snapshot
    current again with one metadata-only commit — no files copied, time
    travel to every version intact, restore-past-vacuum fails loudly."""
    import time as _time

    import pytest as _pytest

    from big_data_analytics_machine_learning_poc_spark.sources.delta_lite import (
        read_delta,
        restore_table,
        table_history,
        vacuum_table,
        version_at_timestamp,
        write_delta,
    )
    from big_data_analytics_machine_learning_poc_spark.sources.pyds import (
        DeltaLiteDataSource,
    )

    spark.dataSource.register(DeltaLiteDataSource)
    table = str(tmp_path / "tt")
    write_delta(spark.createDataFrame([(1,)], "id long"), table)      # v0
    t_after_v0 = int(_time.time() * 1000)
    _time.sleep(0.05)
    write_delta(spark.createDataFrame([(2,)], "id long"), table, mode="append")  # v1

    assert version_at_timestamp(table, t_after_v0) == 0
    assert version_at_timestamp(table, int(_time.time() * 1000)) == 1
    with _pytest.raises(ValueError, match="predates"):
        version_at_timestamp(table, 1)
    via_ts = (
        spark.read.format("delta_lite")
        .option("timestampAsOf", str(t_after_v0))
        .load(table)
    )
    assert [r.id for r in via_ts.collect()] == [1]

    # RESTORE to v0: current snapshot = v0's rows; history gains a RESTORE
    v = restore_table(spark, table, 0)
    assert v == 2
    assert [r.id for r in read_delta(spark, table).collect()] == [1]
    assert [r.id for r in sorted(read_delta(spark, table, version=1).collect())] == [1, 2]
    assert table_history(table)[0]["operation"] == "RESTORE"
    # restore FORWARD to v1 works too (files still on disk)
    restore_table(spark, table, 1)
    assert sorted(r.id for r in read_delta(spark, table).collect()) == [1, 2]

    # vacuum away v-old files, then restoring to a snapshot needing them fails
    restore_table(spark, table, 0)          # v4: only file A active
    vacuum_table(table, retention_ms=0)     # reclaims v1's extra file
    with _pytest.raises(FileNotFoundError, match="RESTORE"):
        restore_table(spark, table, 1)


def test_pyds_boolean_partition_pushdown_prunes_correctly(spark, tmp_path):
    """Pushed boolean partition filters must encode as hive 'true'/'false'
    (str(True) is 'True' and silently pruned EVERYTHING before the fix)."""
    from pyspark.sql.datasource import EqualTo

    from big_data_analytics_machine_learning_poc_spark.sources.delta_lite import (
        write_delta,
    )
    from big_data_analytics_machine_learning_poc_spark.sources.pyds import (
        DeltaLiteDataSource,
    )

    spark.dataSource.register(DeltaLiteDataSource)
    table = str(tmp_path / "bp")
    df = spark.createDataFrame([(1, True), (2, True), (3, False)], "id long, flag boolean")
    write_delta(df.repartition("flag"), table, partition_cols=["flag"])

    got = (
        spark.read.format("delta_lite")
        .load(table)
        .filter(F.col("flag") == True)  # noqa: E712 — the pushed form under test
        .count()
    )
    assert got == 2
    ds = DeltaLiteDataSource(options={"path": table})
    r = ds.reader(ds.schema())
    list(r.pushFilters([EqualTo(("flag",), True)]))
    parts = r.partitions()
    assert 0 < len(parts) < 2 + 1  # only the flag=true file set survives


def test_null_partition_value_round_trips_as_null(spark, tmp_path):
    """NULL in a partition column: hive writes the sentinel directory, the
    log (per protocol) stores null, the connector reads it back as NULL,
    and equality filters never match the null partition."""
    from big_data_analytics_machine_learning_poc_spark.sources.delta_lite import (
        _replay,
        read_delta,
        write_delta,
    )
    from big_data_analytics_machine_learning_poc_spark.sources.pyds import (
        DeltaLiteDataSource,
    )

    spark.dataSource.register(DeltaLiteDataSource)
    table = str(tmp_path / "np")
    df = spark.createDataFrame([(1, 10), (2, None), (3, 10)], "id long, grp long")
    write_delta(df.repartition("grp"), table, partition_cols=["grp"])
    active, _, _ = _replay(table, None)
    pvs = {a["partitionValues"]["grp"] for a in active.values()}
    assert None in pvs and "10" in pvs and "__HIVE_DEFAULT_PARTITION__" not in pvs

    got = {(r.id, r.grp) for r in spark.read.format("delta_lite").load(table).collect()}
    assert got == {(1, 10), (2, None), (3, 10)}
    assert {tuple(r) for r in read_delta(spark, table).collect()} == got
    eq = spark.read.format("delta_lite").load(table).filter(F.col("grp") == 10)
    assert {r.id for r in eq.collect()} == {1, 3}


def test_snapshot_diff_sees_changes_in_evolved_columns(spark, tmp_path):
    """CDF across a merge_schema boundary: a merge that changes ONLY the
    newly-added column must surface as delete(old)+insert(new), not cancel
    (the diff reads both sides with TO-version's schema)."""
    from big_data_analytics_machine_learning_poc_spark.sources.delta_lite import (
        merge_delta,
        snapshot_diff,
        write_delta,
    )

    table = str(tmp_path / "cdfe")
    write_delta(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"), table)
    write_delta(
        spark.createDataFrame([(3, "c", 1.5)], "id long, v string, w double"),
        table,
        mode="append",
        merge_schema=True,
    )
    # v2: change ONLY w for id=3
    merge_delta(
        spark,
        table,
        spark.createDataFrame([(3, "c", 9.9)], "id long, v string, w double"),
        ["id"],
    )
    changes = sorted(
        (r._change_type, r.id, r.v, r.w) for r in snapshot_diff(spark, table, 1, 2).collect()
    )
    assert changes == [("delete", 3, "c", 1.5), ("insert", 3, "c", 9.9)]
