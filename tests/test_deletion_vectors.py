"""Deletion vectors — merge-on-read DELETE (sources/delta_lite.py).

The contracts under test, in protocol order: a dv-mode DELETE commits a
deletion vector instead of rewriting the data file; EVERY reader (read_delta,
the connector, MERGE/OPTIMIZE rewrite cores, snapshot_diff) applies it, so a
deleted row can never be resurrected; dense deletes fall back to
copy-on-write per file; the table's protocol upgrades so a DV-unaware reader
refuses instead of mis-reading; PURGE/compaction clear the debt with
dataChange=false; time travel and RESTORE see through DV transitions.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from big_data_analytics_machine_learning_poc_spark.sources.delta_lite import (
    _dv_encode,
    _dv_indices,
    _replay,
    _table_protocol,
    checkpoint_table,
    compact_table,
    delete_where,
    merge_delta,
    purge_deletion_vectors,
    read_delta,
    restore_table,
    snapshot_diff,
    snapshot_summary,
    update_where,
    write_delta,
)


def _make(spark, tmp_path, n=100, files=4, name="t"):
    table = str(tmp_path / name)
    df = spark.range(n).select(
        F.col("id").cast("long"),
        (F.col("id") % 10).cast("long").alias("grp"),
        F.format_string("row_%04d", F.col("id")).alias("label"),
    )
    write_delta(df.repartitionByRange(files, "id"), table)
    return table


def _active(table):
    active, _, _ = _replay(table, None)
    return active


def test_dv_roundtrip_encoding():
    dv = _dv_encode([5, 1, 3, 3])
    assert dv["cardinality"] == 3
    assert _dv_indices({"deletionVector": dv}) == [1, 3, 5]
    with pytest.raises(ValueError):
        _dv_encode([])


def test_dv_delete_removes_rows_without_rewriting_files(spark, tmp_path):
    table = _make(spark, tmp_path)
    before = {p: (a["path"], a["size"]) for p, a in _active(table).items()}
    v = delete_where(spark, table, "id IN (3, 57, 91)", mode="dv")
    assert v == 1
    out = read_delta(spark, table)
    assert out.count() == 97
    assert out.filter(F.col("id").isin(3, 57, 91)).count() == 0
    after = _active(table)
    # same file paths, same bytes — only the log changed
    assert set(after) == set(before)
    for p, a in after.items():
        assert (a["path"], a["size"]) == before[p]
    dvd = [a for a in after.values() if a.get("deletionVector")]
    assert dvd and sum(a["deletionVector"]["cardinality"] for a in dvd) == 3
    # logical row accounting
    s = snapshot_summary(table)
    assert (s["n_records"], s["n_dv_deleted"]) == (97, 3)


def test_dv_protocol_upgrade_and_checkpoint_preserves_it(spark, tmp_path):
    """The first DV must upgrade to the TABLE-FEATURES protocol (reader 3 /
    writer 7 + explicit feature lists): the spec only obliges readers to
    honor readerFeatures at reader version 3 — at 2 a real reader ignores
    the field and silently resurrects DV-deleted rows (ADVICE r7)."""
    table = _make(spark, tmp_path)
    assert _table_protocol(table)["protocol"]["minReaderVersion"] == 1
    delete_where(spark, table, "id = 0", mode="dv")
    proto = _table_protocol(table)["protocol"]
    assert proto["minReaderVersion"] == 3
    assert proto["minWriterVersion"] == 7
    assert proto["readerFeatures"] == ["deletionVectors-u32z"]
    # writerFeatures lists everything the write paths enforce on the table
    assert set(proto["writerFeatures"]) >= {
        "deletionVectors-u32z",
        "changeDataFeed",
        "checkConstraints",
    }
    checkpoint_table(table)
    # checkpoint must carry the UPGRADED protocol, not the baseline
    assert _table_protocol(table)["protocol"]["minReaderVersion"] == 3
    # and replay-from-checkpoint still applies the DV
    assert read_delta(spark, table).count() == 99
    # the upgraded table keeps accepting delta_lite's OWN writes (wv7 +
    # fully-understood writerFeatures passes the writer gate)
    delete_where(spark, table, "id = 1", mode="dv")
    assert read_delta(spark, table).count() == 98


def test_unknown_reader_feature_refused(spark, tmp_path):
    table = _make(spark, tmp_path, n=10, files=1, name="refuse")
    with open(os.path.join(table, "_delta_log", "00000000000000000001.json"), "w") as f:
        f.write(
            json.dumps(
                {"protocol": {"minReaderVersion": 2, "readerFeatures": ["v2Checkpoint"]}}
            )
            + "\n"
        )
    with pytest.raises(NotImplementedError, match="v2Checkpoint"):
        read_delta(spark, table)


def test_second_dv_delete_unions(spark, tmp_path):
    table = _make(spark, tmp_path)
    delete_where(spark, table, "id IN (10, 20)", mode="dv")
    delete_where(spark, table, "id IN (20, 30)", mode="dv")
    out = read_delta(spark, table)
    assert out.count() == 97
    assert out.filter(F.col("id").isin(10, 20, 30)).count() == 0
    total = sum(
        a["deletionVector"]["cardinality"]
        for a in _active(table).values()
        if a.get("deletionVector")
    )
    assert total == 3


def test_dense_dv_delete_falls_back_to_rewrite(spark, tmp_path):
    table = _make(spark, tmp_path)
    before_paths = set(_active(table))
    # 40% of every file exceeds dv_max_fraction=0.15 -> copy-on-write
    delete_where(spark, table, "id % 10 < 4", mode="dv")
    after = _active(table)
    assert read_delta(spark, table).count() == 60
    assert not any(a.get("deletionVector") for a in after.values())
    assert set(after).isdisjoint(before_paths)  # files were rewritten
    # ...and because no DV was written, the protocol stays v1
    assert _table_protocol(table)["protocol"]["minReaderVersion"] == 1


def test_cow_delete_and_merge_do_not_resurrect_dv_rows(spark, tmp_path):
    table = _make(spark, tmp_path)
    delete_where(spark, table, "id = 42", mode="dv")
    # a copy-on-write delete rewriting the same file must keep 42 dead
    delete_where(spark, table, "id = 43", mode="cow")
    assert read_delta(spark, table).filter(F.col("id").isin(42, 43)).count() == 0
    # MERGE touching the same file must also keep it dead
    src = spark.createDataFrame(
        [(44, 4, "row_0044_v2")], "id long, grp long, label string"
    )
    merge_delta(spark, table, src, ["id"])
    out = read_delta(spark, table)
    assert out.filter(F.col("id") == 42).count() == 0
    assert out.filter(F.col("id") == 44).select("label").first()[0] == "row_0044_v2"
    assert out.count() == 98


def test_dv_on_partitioned_table_marks_only_its_own_file(spark, tmp_path):
    """One task writing two partitions names both files alike; a deletion
    vector on one must not delete the same row index in the other."""
    table = str(tmp_path / "part")
    df = spark.range(20).select(F.col("id"), (F.col("id") % 2).alias("p"))
    write_delta(df.coalesce(1), table, partition_cols=["p"])
    names = [os.path.basename(p) for p in _active(table)]
    assert len(names) == 2 and len(set(names)) == 1  # the layout under test
    delete_where(spark, table, "id = 0", mode="dv")
    assert sorted(r["id"] for r in read_delta(spark, table).collect()) == list(range(1, 20))
    # the copy-on-write keep side reads through the same DVs
    delete_where(spark, table, "id = 2", mode="cow")
    assert sorted(r["id"] for r in read_delta(spark, table).collect()) == [1] + list(
        range(3, 20)
    )


def test_dv_on_partitioned_table_under_percent_encoded_path(spark, tmp_path):
    """DVs are keyed by the data file's absolute path: under a table path
    with a space, a '+' and a '%', a DV DELETE and a DV UPDATE mark only
    their own row in their own partition, and a copy-on-write MERGE over
    the DV'd files keeps every other row."""
    table = str(tmp_path / "dv sp+ace %41" / "t")
    df = spark.range(40).select(
        F.col("id"), (F.col("id") % 4).alias("p"), (F.col("id") * 2.0).alias("v")
    )
    write_delta(df.repartition(2), table, partition_cols=["p"])
    assert delete_where(spark, table, "id = 6", mode="dv", dv_max_fraction=1.0) is not None
    assert update_where(spark, table, {"v": "-1.0"}, "id = 13", mode="dv", dv_max_fraction=1.0)
    assert any(a.get("deletionVector") for a in _active(table).values())
    got = read_delta(spark, table)
    assert sorted(r.id for r in got.collect()) == [i for i in range(40) if i != 6]
    assert [r.id for r in got.filter("v = -1.0").collect()] == [13]
    source = (
        read_delta(spark, table).filter("id IN (7, 13)").select("id", "p", F.lit(0.5).alias("v"))
    )
    merge_delta(spark, table, source, ["id"])
    got = read_delta(spark, table)
    assert got.count() == 39
    assert sorted(r.id for r in got.filter("v = 0.5").collect()) == [7, 13]
    assert got.filter("v = -1.0").count() == 0


def test_connector_applies_deletion_vectors(spark, tmp_path):
    from big_data_analytics_machine_learning_poc_spark.sources.pyds import (
        DeltaLiteDataSource,
    )

    table = _make(spark, tmp_path)
    delete_where(spark, table, "id IN (7, 77)", mode="dv")
    spark.dataSource.register(DeltaLiteDataSource)
    got = spark.read.format("delta_lite").load(table)
    assert got.count() == 98
    assert got.filter(F.col("id").isin(7, 77)).count() == 0


def test_purge_rewrites_dv_files_as_data_unchanged(spark, tmp_path):
    table = _make(spark, tmp_path)
    delete_where(spark, table, "id IN (1, 2)", mode="dv")
    expect = sorted(r["id"] for r in read_delta(spark, table).collect())
    v = purge_deletion_vectors(spark, table)
    assert v == 2
    assert not any(a.get("deletionVector") for a in _active(table).values())
    assert sorted(r["id"] for r in read_delta(spark, table).collect()) == expect
    # logical no-op: every action in the purge commit is dataChange false
    from big_data_analytics_machine_learning_poc_spark.sources.delta_lite import (
        _read_log,
    )

    for a in _read_log(table, v):
        for kind in ("add", "remove"):
            if kind in a:
                assert a[kind]["dataChange"] is False
    assert purge_deletion_vectors(spark, table) is None


def test_compaction_applies_and_drops_dvs(spark, tmp_path):
    table = _make(spark, tmp_path)
    delete_where(spark, table, "id IN (5, 50)", mode="dv")
    compact_table(spark, table, min_files_per_partition=1)
    active = _active(table)
    assert not any(a.get("deletionVector") for a in active.values())
    out = read_delta(spark, table)
    assert out.count() == 98
    assert out.filter(F.col("id").isin(5, 50)).count() == 0


def test_snapshot_diff_surfaces_dv_deletes(spark, tmp_path):
    table = _make(spark, tmp_path)
    delete_where(spark, table, "id IN (11, 13)", mode="dv")
    changes = snapshot_diff(spark, table, 0, 1).collect()
    assert sorted((r["_change_type"], r["id"]) for r in changes) == [
        ("delete", 11),
        ("delete", 13),
    ]


def test_time_travel_and_restore_across_dv_transitions(spark, tmp_path):
    table = _make(spark, tmp_path)
    delete_where(spark, table, "id = 9", mode="dv")
    # the pre-delete snapshot still sees the row
    assert read_delta(spark, table, version=0).filter(F.col("id") == 9).count() == 1
    # restore to v0 must clear the DV (path active in both, DV differs)
    restore_table(spark, table, 0)
    assert read_delta(spark, table).count() == 100
    # and restoring back to the DV version re-applies it
    restore_table(spark, table, 1)
    assert read_delta(spark, table).filter(F.col("id") == 9).count() == 0


def test_stream_reader_refuses_dv_delete_commits(spark, tmp_path):
    from big_data_analytics_machine_learning_poc_spark.sources.pyds import (
        DeltaLiteStreamReader,
    )

    table = _make(spark, tmp_path)
    delete_where(spark, table, "id = 1", mode="dv")
    r = DeltaLiteStreamReader(table)
    with pytest.raises(RuntimeError, match="append-only"):
        r.partitions({"version": 0}, {"version": 1})


# ------------------------------------------------------------------ UPDATE
# update_where lives here with its DML siblings: the DV interplay (an
# UPDATE rewriting a DV'd file must not resurrect deleted rows) is the
# subtle contract.


def test_update_where_basic_and_null_predicate(spark, tmp_path):
    from big_data_analytics_machine_learning_poc_spark.sources.delta_lite import (
        update_where,
    )

    table = str(tmp_path / "u")
    df = spark.createDataFrame(
        [(1, 10, "a"), (2, None, "b"), (3, 30, "c")],
        "id long, val long, tag string",
    )
    write_delta(df, table)
    v = update_where(spark, table, {"tag": "upper(tag)", "val": "val * 2"}, "val >= 20")
    assert v == 1
    rows = {r["id"]: (r["val"], r["tag"]) for r in read_delta(spark, table).collect()}
    # matched row updated; NULL-predicate and non-matching rows untouched
    assert rows == {1: (10, "a"), 2: (None, "b"), 3: (60, "C")}
    # no match -> no commit
    assert update_where(spark, table, {"val": "0"}, "id = 99") is None
    # unknown target column refused
    with pytest.raises(KeyError, match="nope"):
        update_where(spark, table, {"nope": "1"}, "id = 1")


def test_update_swap_is_simultaneous_and_casts_to_declared_type(spark, tmp_path):
    from big_data_analytics_machine_learning_poc_spark.sources.delta_lite import (
        update_where,
    )

    table = str(tmp_path / "swap")
    df = spark.createDataFrame([(1, 100, 200)], "id long, a long, b long")
    write_delta(df, table)
    update_where(spark, table, {"a": "b", "b": "a"}, "id = 1")
    r = read_delta(spark, table).first()
    assert (r["a"], r["b"]) == (200, 100)  # swap, not chained assignment
    # expression yielding a wider type is cast back to the declared type
    update_where(spark, table, {"a": "a / 2"}, "id = 1")  # double -> long
    out = read_delta(spark, table)
    assert dict(out.dtypes)["a"] == "bigint"
    assert out.first()["a"] == 100


def test_update_does_not_resurrect_dv_rows_and_works_mapped(spark, tmp_path):
    from big_data_analytics_machine_learning_poc_spark.sources.delta_lite import (
        enable_column_mapping,
        rename_column,
        update_where,
    )

    table = _make(spark, tmp_path, name="udv")
    delete_where(spark, table, "id = 42", mode="dv")
    enable_column_mapping(table)
    rename_column(table, "label", "tag")
    # update rewrites the file holding id 43 (same file as the DV'd 42)
    update_where(spark, table, {"tag": "'hit'"}, "id = 43")
    out = read_delta(spark, table)
    assert out.count() == 99
    assert out.filter(F.col("id") == 42).count() == 0   # still deleted
    assert out.filter(F.col("id") == 43).first()["tag"] == "hit"
    # time travel: pre-update snapshot unchanged
    pre = read_delta(spark, table, version=1)
    assert pre.filter(F.col("id") == 43).first()["label"] == "row_0043"


def test_update_where_dv_mode_marks_and_appends(spark, tmp_path):
    """Merge-on-read UPDATE: original files keep their bytes (old rows
    DV-marked), updated images land as a new appended file in the SAME
    commit; a second dv update and a dv delete compose on top."""
    from big_data_analytics_machine_learning_poc_spark.sources.delta_lite import (
        update_where,
    )

    table = _make(spark, tmp_path, name="morv")
    before = {p: a["size"] for p, a in _active(table).items()}
    v = update_where(
        spark, table, {"label": "concat(label, '_x')"}, "id IN (3, 57)", mode="dv"
    )
    assert v == 1
    out = read_delta(spark, table)
    assert out.count() == 100  # update, not delete
    got = {r["id"]: r["label"] for r in out.filter(F.col("id").isin(3, 57)).collect()}
    assert got == {3: "row_0003_x", 57: "row_0057_x"}
    after = _active(table)
    # original files untouched on disk; one new image file appended
    for p, size in before.items():
        assert p in after and after[p]["size"] == size
    assert len(after) == len(before) + 1
    assert sum(
        a["deletionVector"]["cardinality"] for a in after.values() if a.get("deletionVector")
    ) == 2
    # compose: dv update of an already-updated row, then dv delete of one
    update_where(spark, table, {"label": "upper(label)"}, "id = 3", mode="dv")
    assert read_delta(spark, table).filter(F.col("id") == 3).first()["label"] == "ROW_0003_X"
    delete_where(spark, table, "id = 57", mode="dv")
    out = read_delta(spark, table)
    assert out.count() == 99
    assert out.filter(F.col("id") == 57).count() == 0
    # time travel: v1 still shows the first update only
    t1 = read_delta(spark, table, version=1)
    assert t1.filter(F.col("id") == 3).first()["label"] == "row_0003_x"
    assert t1.count() == 100


def test_update_where_dv_dense_falls_back(spark, tmp_path):
    from big_data_analytics_machine_learning_poc_spark.sources.delta_lite import (
        update_where,
    )

    table = _make(spark, tmp_path, name="mord")
    update_where(spark, table, {"grp": "grp + 100"}, "id % 10 < 4", mode="dv")
    out = read_delta(spark, table)
    assert out.count() == 100
    assert out.filter(F.col("grp") >= 100).count() == 40
    # dense -> rewrite: no DVs, no protocol upgrade
    assert not any(a.get("deletionVector") for a in _active(table).values())
    assert _table_protocol(table)["protocol"]["minReaderVersion"] == 1
