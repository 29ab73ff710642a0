"""sources/tablefiles.py: the one way files enter a lakehouse table.

Both formats are pinned to the same rules: a data file never replaces an
existing name, footer stats cover flat columns exactly and nested columns
not at all, and zero-row part files are never registered.
"""

from __future__ import annotations

import datetime
import json
import os
from decimal import Decimal

import pytest
from pyspark.sql import types as T
from pyspark.sql.readwriter import DataFrameWriter

from big_data_analytics_machine_learning_poc_spark.sources import (
    avro_lite,
    delta_lite,
    iceberg_lite,
    tablefiles,
)

# where each format puts the data files of an unpartitioned write
_DATA_SUBDIR = {"delta": "", "iceberg": "data"}


def _write(fmt, df, table, mode="overwrite"):
    if fmt == "delta":
        return delta_lite.write_delta(df, table, mode=mode)
    return iceberg_lite.write_iceberg(df, table, mode=mode)


def _read(fmt, spark, table):
    if fmt == "delta":
        return delta_lite.read_delta(spark, table)
    return iceberg_lite.read_iceberg(spark, table)


# ---------------------------------------------------------------------------
# put-if-absent: no silent overwrite
# ---------------------------------------------------------------------------


def test_put_if_absent_refuses_a_taken_name(tmp_path):
    path = str(tmp_path / "f.bin")
    tablefiles.put_if_absent(path, lambda f: f.write(b"first"))
    with pytest.raises(FileExistsError):
        tablefiles.put_if_absent(path, lambda f: f.write(b"second"))
    with open(path, "rb") as f:
        assert f.read() == b"first"
    assert os.listdir(tmp_path) == ["f.bin"]  # no temp left behind


def test_replace_atomically_replaces(tmp_path):
    path = str(tmp_path / "hint")
    tablefiles.replace_atomically(path, lambda f: f.write(b"1"))
    tablefiles.replace_atomically(path, lambda f: f.write(b"2"))
    with open(path, "rb") as f:
        assert f.read() == b"2"
    assert os.listdir(tmp_path) == ["hint"]


def test_failed_write_leaves_nothing(tmp_path):
    path = str(tmp_path / "x")

    def boom(f):
        f.write(b"partial")
        raise RuntimeError("writer died")

    with pytest.raises(RuntimeError):
        tablefiles.put_if_absent(path, boom)
    assert os.listdir(tmp_path) == []


def _occupy_staged_names(monkeypatch, subdir: str) -> dict[str, bytes]:
    """After Spark writes a staging prefix, put a file at every final name
    its part files will be published to — the collision a publish must
    refuse. Returns {occupied path: its bytes}."""
    real = DataFrameWriter.parquet
    taken: dict[str, bytes] = {}

    def parquet(self, path, *args, **kwargs):
        real(self, path, *args, **kwargs)
        if not os.path.basename(path).startswith(tablefiles.STAGING_PREFIX):
            return
        table = os.path.dirname(path)
        for root, _dirs, files in os.walk(path):
            for name in files:
                if name.endswith(".parquet"):
                    rel = os.path.relpath(os.path.join(root, name), path)
                    dst = os.path.join(table, subdir, rel)
                    os.makedirs(os.path.dirname(dst), exist_ok=True)
                    body = f"taken:{rel}".encode()
                    with open(dst, "wb") as f:
                        f.write(body)
                    taken[dst] = body

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    return taken


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_publish_onto_a_taken_name_raises(spark, tmp_path, monkeypatch, fmt):
    table = str(tmp_path / fmt)
    _write(fmt, spark.range(10).coalesce(1), table)
    taken = _occupy_staged_names(monkeypatch, _DATA_SUBDIR[fmt])
    with pytest.raises(FileExistsError, match="refusing to overwrite"):
        _write(fmt, spark.range(100, 105).coalesce(1), table, mode="append")
    monkeypatch.undo()
    assert taken
    for path, body in taken.items():
        with open(path, "rb") as f:
            assert f.read() == body
    # nothing was committed, and no staging prefix is left behind
    assert sorted(r.id for r in _read(fmt, spark, table).collect()) == list(range(10))
    assert not [d for d in os.listdir(table) if d.startswith(tablefiles.STAGING_PREFIX)]


def test_delta_compaction_onto_a_taken_name_raises(spark, tmp_path, monkeypatch):
    table = str(tmp_path / "t")
    delta_lite.write_delta(spark.range(5).coalesce(1), table)
    delta_lite.write_delta(spark.range(5, 9).coalesce(1), table, mode="append")
    before = delta_lite._list_versions(table)
    taken = _occupy_staged_names(monkeypatch, "")
    with pytest.raises(FileExistsError):
        delta_lite.compact_table(spark, table)
    monkeypatch.undo()
    for path, body in taken.items():
        with open(path, "rb") as f:
            assert f.read() == body
    assert delta_lite._list_versions(table) == before


# ---------------------------------------------------------------------------
# footer stats: flat columns exact, nested columns none
# ---------------------------------------------------------------------------

_NESTED_SCHEMA = T.StructType(
    [
        T.StructField("l", T.LongType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("dt", T.DateType()),
        T.StructField("dec", T.DecimalType(12, 2)),
        T.StructField("mp", T.MapType(T.StringType(), T.LongType())),
        T.StructField("arr", T.ArrayType(T.LongType())),
        T.StructField(
            "st",
            T.StructType(
                [T.StructField("x", T.LongType()), T.StructField("y", T.StringType())]
            ),
        ),
    ]
)
_NESTED_ROWS = [
    (1, 1.5, datetime.date(2024, 1, 1), Decimal("1.25"), {"a": 1}, [1, 2], (1, "x")),
    (None, 2.5, datetime.date(2024, 3, 1), None, None, None, None),
    (3, None, None, Decimal("-7.50"), {"b": 2}, [], (2, "y")),
]
# flat columns with exact null counts; decimals get no bounds (pyarrow
# cannot decode a decimal stored as INT64)
_FLAT_NULLS = {"l": 1, "d": 1, "dt": 1, "dec": 1}
_FLAT_BOUNDS = {
    "l": (1, 3),
    "d": (1.5, 2.5),
    "dt": ("2024-01-01", "2024-03-01"),
}


def test_delta_stats_flat_exact_nested_none(spark, tmp_path):
    table = str(tmp_path / "t")
    df = spark.createDataFrame(_NESTED_ROWS, _NESTED_SCHEMA).coalesce(1)
    delta_lite.write_delta(df, table)
    adds = [a["add"] for a in delta_lite._read_log(table, 0) if "add" in a]
    assert len(adds) == 1
    stats = json.loads(adds[0]["stats"])
    assert stats["numRecords"] == 3
    assert stats["nullCount"] == _FLAT_NULLS
    assert stats["minValues"] == {c: lo for c, (lo, _hi) in _FLAT_BOUNDS.items()}
    assert stats["maxValues"] == {c: hi for c, (_lo, hi) in _FLAT_BOUNDS.items()}


def _iceberg_data_entries(table: str) -> list[dict]:
    meta = iceberg_lite.load_metadata(table)
    snap = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _, manifests = avro_lite.read_ocf(iceberg_lite._resolve(table, snap["manifest-list"]))
    return [
        e["data_file"]
        for m in manifests
        for e in avro_lite.read_ocf(iceberg_lite._resolve(table, m["manifest_path"]))[1]
    ]


def test_iceberg_stats_flat_exact_nested_none(spark, tmp_path):
    table = str(tmp_path / "t")
    df = spark.createDataFrame(_NESTED_ROWS, _NESTED_SCHEMA).coalesce(1)
    iceberg_lite.write_iceberg(df, table)
    (entry,) = _iceberg_data_entries(table)
    assert entry["record_count"] == 3
    fields = iceberg_lite.load_metadata(table)["schemas"][0]["fields"]
    ids = {f["name"]: f["id"] for f in fields}
    types = {f["name"]: f["type"] for f in fields}
    flat = {ids[c] for c in _FLAT_BOUNDS}
    assert {kv["key"]: kv["value"] for kv in entry["null_value_counts"]} == {
        ids[c]: n for c, n in _FLAT_NULLS.items()
    }
    lowers = {kv["key"]: kv["value"] for kv in entry["lower_bounds"]}
    uppers = {kv["key"]: kv["value"] for kv in entry["upper_bounds"]}
    assert set(lowers) == set(uppers) == flat
    for c, (lo, hi) in _FLAT_BOUNDS.items():
        assert lowers[ids[c]] == iceberg_lite._single_value_bytes(types[c], lo)
        assert uppers[ids[c]] == iceberg_lite._single_value_bytes(types[c], hi)


# ---------------------------------------------------------------------------
# zero-row part files are never registered
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_empty_overwrite_reads_back_empty_with_schema(spark, tmp_path, fmt):
    table = str(tmp_path / fmt)
    df = spark.createDataFrame(_NESTED_ROWS, _NESTED_SCHEMA)
    _write(fmt, df, table)
    _write(fmt, df.limit(0), table)
    back = _read(fmt, spark, table)
    assert back.count() == 0
    assert [(f.name, f.dataType) for f in back.schema.fields] == [
        (f.name, f.dataType) for f in _NESTED_SCHEMA.fields
    ]
    if fmt == "delta":
        active, _meta, _v = delta_lite._replay(table, None)
        assert active == {}
    else:
        assert iceberg_lite.plan_scan(table)["files"] == []
