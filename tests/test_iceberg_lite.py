"""iceberg_lite + avro_lite: the jar-free Iceberg v2 connector.

Covers the VERDICT r8 ask #7 acceptance line — "read + time-travel of a
synthesized Iceberg v2 table, unit-tested" — plus the failure modes the
spec makes dangerous: delete manifests (refuse, never resurrect), schema
mismatch on append, unsupported partition transforms, and the two
metadata pruning levels (manifest field-summaries, per-file bounds).
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from big_data_analytics_machine_learning_poc_spark.sources import avro_lite, iceberg_lite
from big_data_analytics_machine_learning_poc_spark.sources.iceberg_lite import (
    plan_scan,
    read_iceberg,
    snapshots,
    write_iceberg,
)


@pytest.fixture
def table():
    path = tempfile.mkdtemp(prefix="ice_test_")
    yield path
    shutil.rmtree(path, ignore_errors=True)


# ---------------------------------------------------------------------------
# avro_lite
# ---------------------------------------------------------------------------

_AVRO_SCHEMA = {
    "type": "record",
    "name": "t",
    "fields": [
        {"name": "s", "type": "string"},
        {"name": "l", "type": "long"},
        {"name": "i", "type": "int"},
        {"name": "b", "type": "boolean"},
        {"name": "f", "type": "float"},
        {"name": "d", "type": "double"},
        {"name": "by", "type": "bytes"},
        {"name": "opt", "type": ["null", "long"], "default": None},
        {"name": "fx", "type": {"type": "fixed", "name": "fx4", "size": 4}},
        {
            "name": "nested",
            "type": {
                "type": "record",
                "name": "inner",
                "fields": [{"name": "x", "type": ["null", "string"], "default": None}],
            },
        },
        {"name": "arr", "type": {"type": "array", "items": "inner"}},
        {"name": "m", "type": {"type": "map", "values": "long"}},
    ],
}

_AVRO_RECORDS = [
    {
        "s": "héllo",
        "l": -(2**63),
        "i": 2**31 - 1,
        "b": True,
        "f": 1.5,
        "d": -2.25,
        "by": b"\x00\xff",
        "opt": None,
        "fx": b"abcd",
        "nested": {"x": "y"},
        "arr": [{"x": None}, {"x": "z"}],
        "m": {"a": 1, "b": -2},
    },
    {
        "s": "",
        "l": 2**63 - 1,
        "i": -(2**31),
        "b": False,
        "f": 0.0,
        "d": 1e300,
        "by": b"",
        "opt": 42,
        "fx": b"\x00\x00\x00\x00",
        "nested": {"x": None},
        "arr": [],
        "m": {},
    },
]


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_avro_roundtrip(codec, tmp_path):
    path = str(tmp_path / "t.avro")
    avro_lite.write_ocf(path, _AVRO_SCHEMA, _AVRO_RECORDS, codec=codec)
    schema, records = avro_lite.read_ocf(path)
    assert records == _AVRO_RECORDS
    assert schema["name"] == "t"


def test_avro_empty_and_determinism(tmp_path):
    p1, p2 = str(tmp_path / "a.avro"), str(tmp_path / "b.avro")
    avro_lite.write_ocf(p1, _AVRO_SCHEMA, [])
    assert avro_lite.read_ocf(p1)[1] == []
    # identical content → byte-identical file (deterministic sync marker)
    avro_lite.write_ocf(p2, _AVRO_SCHEMA, _AVRO_RECORDS)
    avro_lite.write_ocf(p1, _AVRO_SCHEMA, _AVRO_RECORDS)
    assert open(p1, "rb").read() == open(p2, "rb").read()


def test_avro_negative_count_block_form(tmp_path):
    """Readers must accept the spec's negative-count (size-prefixed) array
    blocks even though our writer emits the positive form."""
    import io

    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "a", "type": {"type": "array", "items": "long"}}],
    }
    body = io.BytesIO()
    avro_lite.write_long(body, -2)  # negative count: 2 items, size follows
    inner = io.BytesIO()
    avro_lite.write_long(inner, 7)
    avro_lite.write_long(inner, -7)
    avro_lite.write_long(body, len(inner.getvalue()))
    body.write(inner.getvalue())
    avro_lite.write_long(body, 0)  # terminator
    names = avro_lite._Names()
    got = avro_lite._decode(io.BytesIO(body.getvalue()), schema, names)
    assert got == {"a": [7, -7]}


def test_avro_rejects_unknown_codec_and_corruption(tmp_path):
    path = str(tmp_path / "t.avro")
    with pytest.raises(NotImplementedError, match="codec"):
        avro_lite.write_ocf(path, _AVRO_SCHEMA, [], codec="snappy")
    avro_lite.write_ocf(path, _AVRO_SCHEMA, _AVRO_RECORDS)
    raw = bytearray(open(path, "rb").read())
    raw[-1] ^= 0xFF  # flip a sync byte
    open(path, "wb").write(bytes(raw))
    with pytest.raises(ValueError, match="sync"):
        avro_lite.read_ocf(path)
    open(path, "wb").write(b"PAR1not-avro")
    with pytest.raises(ValueError, match="not an Avro"):
        avro_lite.read_ocf(path)


# ---------------------------------------------------------------------------
# iceberg_lite core
# ---------------------------------------------------------------------------


def _frame(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"),
        (F.col("id") % 5).cast("int").alias("bucket"),
        (F.col("id") * 1.5).alias("v"),
        F.concat(F.lit("s"), F.col("id")).alias("s"),
        F.date_add(F.lit("2024-01-01").cast("date"), (F.col("id") % 7).cast("int")).alias("d"),
    )


def test_roundtrip_unpartitioned(spark, table):
    df = _frame(spark, 0, 200)
    write_iceberg(df, table, mode="overwrite")
    back = read_iceberg(spark, table)
    # nullability is parquet-reader semantics (all-nullable), like any
    # Spark parquet read — names and types are the contract
    assert [(f.name, f.dataType) for f in back.schema.fields] == [
        (f.name, f.dataType) for f in df.schema.fields
    ]
    assert back.count() == 200
    assert back.agg(F.sum("id")).first()[0] == sum(range(200))
    row = back.filter("id = 7").first()
    assert (row.s, row.bucket, row.d) == ("s7", 2, datetime.date(2024, 1, 1))


def test_partitioned_roundtrip_and_column_rederivation(spark, table):
    df = _frame(spark, 0, 100)
    write_iceberg(df.repartition("bucket"), table, partition_cols=["bucket"])
    back = read_iceberg(spark, table)
    # partition column came back typed per the TABLE schema, with values
    assert dict(back.dtypes)["bucket"] == "int"
    assert back.filter("bucket = 3").count() == 20
    assert set(back.columns) == set(df.columns)
    # declared column ORDER is the table schema's, not hive-append order
    assert back.columns == df.columns


def test_append_time_travel_and_history(spark, table):
    v1 = write_iceberg(_frame(spark, 0, 100), table, partition_cols=["bucket"])
    v2 = write_iceberg(_frame(spark, 100, 130), table, mode="append")
    assert read_iceberg(spark, table).count() == 130
    assert read_iceberg(spark, table, snapshot_id=v1).count() == 100
    hist = snapshots(table)
    assert [h["operation"] for h in hist] == ["overwrite", "append"]
    assert hist[-1]["is_current"] and not hist[0]["is_current"]
    # as-of-timestamp travel: the first snapshot's own ms resolves to it
    assert (
        read_iceberg(spark, table, as_of_timestamp_ms=hist[0]["timestamp_ms"]).count()
        == 100
        if hist[0]["timestamp_ms"] < hist[1]["timestamp_ms"]
        else 130  # same-ms commits: sequence tie-break picks the later
    )
    # overwrite starts fresh but history remains travelable
    v3 = write_iceberg(_frame(spark, 0, 10), table, mode="overwrite")
    assert read_iceberg(spark, table).count() == 10
    assert read_iceberg(spark, table, snapshot_id=v2).count() == 130
    assert [h["snapshot_id"] for h in snapshots(table)] == [v1, v2, v3]


def test_partition_pruning_file_and_manifest_level(spark, table):
    # two appends with DISJOINT partition ranges → manifest-level pruning
    base = _frame(spark, 0, 100)
    write_iceberg(
        base.filter("bucket <= 1").repartition("bucket"),
        table,
        partition_cols=["bucket"],
    )
    write_iceberg(
        base.filter("bucket >= 3").repartition("bucket"), table, mode="append"
    )
    plan = plan_scan(table, partition_filters={"bucket": 4})
    assert plan["manifests_read"] == 1 < plan["manifests_total"] == 2
    assert 0 < len(plan["files"]) < plan["files_total_in_read"]
    got = read_iceberg(spark, table, partition_filters={"bucket": 4})
    assert got.count() == 20
    assert got.select("bucket").distinct().collect() == [(4,)]
    # a value outside every summary prunes ALL manifests
    empty = plan_scan(table, partition_filters={"bucket": 2})
    assert empty["manifests_read"] == 0 and empty["files"] == []
    assert read_iceberg(spark, table, partition_filters={"bucket": 2}).count() == 0
    with pytest.raises(KeyError, match="non-partition"):
        plan_scan(table, partition_filters={"v": 1.0})


def test_scan_filter_bounds_pruning(spark, table):
    # one file per id-range → bound pruning is observable
    df = _frame(spark, 0, 1000).repartitionByRange(10, "id")
    write_iceberg(df, table)
    plan_all = plan_scan(table)
    plan_hi = plan_scan(table, scan_filter=("id", 950, None))
    assert len(plan_hi["files"]) < len(plan_all["files"])
    assert read_iceberg(spark, table, scan_filter=("id", 950, None)).filter(
        "id >= 950"
    ).count() == 50
    # filter on a column without bounds (string) keeps everything: skipping
    # is an optimization, never a correctness dependency
    plan_s = plan_scan(table, scan_filter=("s", "a", "z"))
    assert len(plan_s["files"]) == len(plan_all["files"])


def test_append_guards(spark, table):
    write_iceberg(_frame(spark, 0, 10), table, partition_cols=["bucket"])
    with pytest.raises(ValueError, match="schema mismatch"):
        write_iceberg(
            _frame(spark, 0, 5).withColumn("extra", F.lit(1)), table, mode="append"
        )
    with pytest.raises(ValueError, match="partition spec"):
        write_iceberg(_frame(spark, 0, 5), table, mode="append", partition_cols=["s"])
    with pytest.raises(NotImplementedError, match="partition values"):
        write_iceberg(_frame(spark, 0, 5), table + "_2", partition_cols=["v"])
    with pytest.raises(ValueError, match="mode"):
        write_iceberg(_frame(spark, 0, 5), table, mode="merge")


def test_null_partition_values(spark, table):
    df = spark.range(0, 20).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, F.lit("even")).alias("p"),
    )
    write_iceberg(df.repartition("p"), table, partition_cols=["p"])
    back = read_iceberg(spark, table)
    assert back.filter("p IS NULL").count() == 10
    assert read_iceberg(spark, table, partition_filters={"p": None}).count() == 10
    assert read_iceberg(spark, table, partition_filters={"p": "even"}).count() == 10


def test_position_delete_roundtrip_and_time_travel(spark, table):
    """DELETE commits position delete files (no data file rewritten) and
    every read applies them; time travel to the pre-delete snapshot still
    sees the rows (VERDICT r9 ask #1 acceptance line)."""
    from big_data_analytics_machine_learning_poc_spark.sources.iceberg_lite import delete_where

    v1 = write_iceberg(_frame(spark, 0, 100), table, partition_cols=["bucket"])
    files_before = set(plan_scan(table)["files"])
    v2 = delete_where(spark, table, "id % 10 = 3")
    assert v2 is not None and v2 != v1
    # merge-on-read: the data files are untouched, a delete frame appeared
    plan = plan_scan(table)
    assert set(plan["files"]) == files_before
    assert plan["delete_files"] and all(s == 2 for _, s in plan["delete_files"])
    back = read_iceberg(spark, table)
    assert back.count() == 90
    assert back.filter("id % 10 = 3").count() == 0
    assert back.agg(F.sum("id")).first()[0] == sum(
        i for i in range(100) if i % 10 != 3
    )
    # time travel ACROSS the delete: v1 still holds all 100 rows
    old = read_iceberg(spark, table, snapshot_id=v1)
    assert old.count() == 100
    # snapshot summary carries the debt
    meta = iceberg_lite.load_metadata(table)
    cur = meta["snapshots"][-1]
    assert cur["summary"]["operation"] == "delete"
    assert cur["summary"]["total-position-deletes"] == "10"
    # a second delete (already-deleted rows NOT re-deleted): scan had them
    # applied, so only the new residue lands in the new delete frame
    v3 = delete_where(spark, table, "id % 10 IN (3, 4)")
    assert v3 is not None
    assert read_iceberg(spark, table).count() == 80
    meta = iceberg_lite.load_metadata(table)
    assert meta["snapshots"][-1]["summary"]["total-position-deletes"] == "20"
    # deleting nothing commits nothing
    assert delete_where(spark, table, "id < 0") is None
    assert iceberg_lite.load_metadata(table)["current-snapshot-id"] == v3


def test_delete_then_append_sequence_rule(spark, table):
    """A position delete applies only to data files whose sequence number
    is ≤ the delete's (spec rule): rows appended AFTER the delete survive
    even when they match the deleted predicate, and a stale delete frame
    can never reach forward into new files."""
    from big_data_analytics_machine_learning_poc_spark.sources.iceberg_lite import delete_where

    write_iceberg(_frame(spark, 0, 50), table)
    delete_where(spark, table, "id >= 40")                      # seq 2
    write_iceberg(_frame(spark, 40, 60), table, mode="append")  # seq 3
    back = read_iceberg(spark, table)
    assert back.count() == 60  # 0..39 survivors + 40..59 re-appended
    assert back.filter("id = 45").count() == 1
    # the appended file has seq 3 > delete seq 2 in the plan ledger
    plan = plan_scan(table)
    assert sorted(set(plan["file_seqs"].values())) == [1, 3]
    assert all(s == 2 for _, s in plan["delete_files"])


def test_update_where_simultaneous_and_time_travel(spark, table):
    from big_data_analytics_machine_learning_poc_spark.sources.iceberg_lite import (
        update_where,
    )

    v1 = write_iceberg(_frame(spark, 0, 40), table)
    # simultaneous SET semantics: both expressions see the PRE-update row
    v2 = update_where(
        spark, table, {"v": "v + id", "s": "concat(s, '!')"}, "id < 10"
    )
    assert v2 is not None
    back = read_iceberg(spark, table)
    assert back.count() == 40  # UPDATE never changes cardinality
    r = back.filter("id = 7").first()
    assert r.v == 7 * 1.5 + 7 and r.s == "s7!"
    untouched = back.filter("id = 20").first()
    assert untouched.v == 30.0 and untouched.s == "s20"
    # type preserved: v stayed double (cast-back contract)
    assert dict(back.dtypes)["v"] == "double"
    # pre-update image intact under time travel
    assert read_iceberg(spark, table, snapshot_id=v1).filter("id = 7").first().s == "s7"
    # unknown target refused
    with pytest.raises(KeyError, match="UPDATE targets"):
        update_where(spark, table, {"nope": "1"}, "id = 1")
    # no match → no commit
    assert update_where(spark, table, {"v": "0.0"}, "id > 1000") is None


def test_merge_iceberg_upsert(spark, table):
    from big_data_analytics_machine_learning_poc_spark.sources.iceberg_lite import (
        merge_iceberg,
    )

    write_iceberg(_frame(spark, 0, 30), table, partition_cols=["bucket"])
    source = _frame(spark, 20, 45).withColumn("s", F.lit("merged"))
    v = merge_iceberg(spark, table, source, key_cols=["id"])
    assert v is not None
    back = read_iceberg(spark, table)
    assert back.count() == 45  # 0..19 untouched + 20..44 upserted
    assert back.filter("s = 'merged'").count() == 25
    assert back.filter("id = 5").first().s == "s5"
    # schema contract
    with pytest.raises(ValueError, match="merge source schema"):
        merge_iceberg(spark, table, source.drop("d"), key_cols=["id"])


def test_compaction_materializes_delete_debt(spark, table):
    """compact_iceberg after a DELETE repays the merge-on-read debt: the
    replace snapshot holds the logical rows physically, carries no delete
    manifests, and the streaming tail still skips it."""
    from big_data_analytics_machine_learning_poc_spark.sources.iceberg_lite import (
        compact_iceberg,
        delete_where,
    )

    write_iceberg(_frame(spark, 0, 80), table)
    write_iceberg(_frame(spark, 80, 100), table, mode="append")
    delete_where(spark, table, "id % 4 = 1")
    stats = compact_iceberg(spark, table)
    assert stats["snapshot_id"] is not None
    assert stats["position_deletes_materialized"] == 25
    plan = plan_scan(table)
    assert plan["delete_files"] == []
    back = read_iceberg(spark, table)
    assert back.count() == 75
    assert back.filter("id % 4 = 1").count() == 0
    meta = iceberg_lite.load_metadata(table)
    cur = meta["snapshots"][-1]
    assert cur["summary"]["operation"] == "replace"
    assert cur["summary"]["total-position-deletes"] == "0"
    # delete-debt alone (no fragmentation) is a compaction trigger
    delete_where(spark, table, "id = 0")
    stats2 = compact_iceberg(spark, table, min_files_per_partition=99)
    assert stats2["snapshot_id"] is not None
    assert read_iceberg(spark, table).count() == 74


def test_expire_reclaims_delete_files(spark, table):
    """Snapshot expiry walks delete manifests like data manifests: the
    position-delete parquet of an expired snapshot is physically removed
    once unreferenced, and never while a kept snapshot references it."""
    from big_data_analytics_machine_learning_poc_spark.sources.iceberg_lite import (
        compact_iceberg,
        delete_where,
        expire_snapshots,
    )

    write_iceberg(_frame(spark, 0, 40), table)
    delete_where(spark, table, "id < 5")
    del_files = [p for p, _ in plan_scan(table)["delete_files"]]
    assert del_files and all(os.path.exists(p) for p in del_files)
    # keep_last=1 keeps the delete snapshot → its delete files survive
    expire_snapshots(table, keep_last=1)
    assert all(os.path.exists(p) for p in del_files)
    assert read_iceberg(spark, table).count() == 35
    # compact (materialize), then expire: the delete files are unreferenced
    compact_iceberg(spark, table)
    expire_snapshots(table, keep_last=1)
    assert not any(os.path.exists(p) for p in del_files)
    assert read_iceberg(spark, table).count() == 35


def test_upsert_by_key_equality_deletes(spark, table):
    """CDC upsert via equality deletes (spec content=2): one commit, zero
    target scan — old rows with the source's keys die via the key
    anti-join (strictly-lower sequence rule), the commit's own rows
    survive its own deletes, and a second upsert of the same key replaces
    the first upsert's row too."""
    from big_data_analytics_machine_learning_poc_spark.sources.iceberg_lite import (
        compact_iceberg,
        upsert_by_key,
    )

    v1 = write_iceberg(_frame(spark, 0, 30), table, partition_cols=["bucket"])
    source = _frame(spark, 20, 40).withColumn("s", F.lit("up1"))
    v2 = upsert_by_key(spark, table, source, key_cols=["id"])
    assert v2 is not None
    plan = plan_scan(table)
    assert plan["eq_delete_files"] and all(
        names == ("id",) for _p, _s, names in plan["eq_delete_files"]
    )
    back = read_iceberg(spark, table)
    assert back.count() == 40
    assert back.filter("s = 'up1'").count() == 20  # 20..39 all new images
    assert back.filter("id = 5").first().s == "s5"  # untouched
    # second upsert of an overlapping key range replaces up1 rows too
    v3 = upsert_by_key(
        spark, table, _frame(spark, 35, 45).withColumn("s", F.lit("up2")), ["id"]
    )
    back = read_iceberg(spark, table)
    assert back.count() == 45
    assert back.filter("s = 'up2'").count() == 10
    assert back.filter("s = 'up1'").count() == 15  # 20..34 still up1
    # time travel: v1 never saw any upsert, v2 sees only the first
    assert read_iceberg(spark, table, snapshot_id=v1).count() == 30
    tv2 = read_iceberg(spark, table, snapshot_id=v2)
    assert tv2.count() == 40 and tv2.filter("s = 'up2'").count() == 0
    # summary tracks equality debt separately
    meta = iceberg_lite.load_metadata(table)
    cur = meta["snapshots"][-1]
    assert cur["summary"]["total-equality-deletes"] == "30"
    assert cur["summary"]["total-position-deletes"] == "0"
    # compaction materializes the equality debt (no guard false-positive:
    # key count != killed-row count, the arithmetic guard stands down)
    stats = compact_iceberg(spark, table, min_files_per_partition=99)
    assert stats["snapshot_id"] is not None
    post = plan_scan(table)
    assert post["eq_delete_files"] == [] and read_iceberg(spark, table).count() == 45
    meta = iceberg_lite.load_metadata(table)
    assert meta["snapshots"][-1]["summary"]["total-equality-deletes"] == "0"


def test_upsert_then_position_delete_interplay(spark, table):
    """Both delete kinds outstanding at once: a position DELETE after an
    equality upsert must target the LOGICAL rows (scan applies the eq
    deletes first), and reads apply both frames."""
    from big_data_analytics_machine_learning_poc_spark.sources.iceberg_lite import (
        delete_where,
        upsert_by_key,
    )

    write_iceberg(_frame(spark, 0, 20), table)
    upsert_by_key(
        spark, table, _frame(spark, 10, 25).withColumn("v", F.lit(999.0)), ["id"]
    )
    assert read_iceberg(spark, table).count() == 25
    delete_where(spark, table, "v = 999.0")  # kills the 15 upserted images
    back = read_iceberg(spark, table)
    assert back.count() == 10  # 0..9 originals survive
    assert back.filter("id >= 10").count() == 0
    plan = plan_scan(table)
    assert plan["eq_delete_files"] and plan["delete_files"]


def test_commit_conflict_and_atomic_hint(spark, table):
    """ADVICE r9: racing writers get a typed IcebergCommitConflict from
    the put-if-absent metadata publish instead of a silent lost update —
    and the loser must not have clobbered the winner's manifests either
    (review r10 #3: deterministic manifest names would let the loser
    truncate committed files before its metadata write fails)."""
    write_iceberg(_frame(spark, 0, 10), table)
    v = iceberg_lite._current_version(table)
    meta = iceberg_lite.load_metadata(table)
    winner_list = iceberg_lite._resolve(table, meta["snapshots"][-1]["manifest-list"])
    winner_bytes = open(winner_list, "rb").read()
    # another writer lands v+1 first
    clobber = os.path.join(table, "metadata", f"v{v + 1}.metadata.json")
    with open(clobber, "w") as f:
        f.write("{}")
    with pytest.raises(iceberg_lite.IcebergCommitConflict, match="already exists"):
        write_iceberg(_frame(spark, 10, 20), table, mode="append")
    # the losing commit moved neither the hint nor any committed byte
    assert iceberg_lite._current_version(table) == v
    assert open(winner_list, "rb").read() == winner_bytes
    assert read_iceberg(spark, table).count() == 10
    # review r10 #4: the orphan v+1 file would wedge every future commit —
    # recover_orphan_metadata clears versions above the hint
    assert iceberg_lite.recover_orphan_metadata(table) == [v + 1]
    assert write_iceberg(_frame(spark, 10, 20), table, mode="append") is not None
    assert read_iceberg(spark, table).count() == 20


def _dml_round(spark, fmt, table):
    """DELETE, UPDATE and MERGE through ``table`` on a 20-row table written
    there, each checked by exact counts on a fresh read. A row address that
    misses its file (see ``tablefiles.scan``) shows as a resurrected row, a
    lost row or a KeyError."""
    from big_data_analytics_machine_learning_poc_spark.sources import delta_lite

    m = delta_lite if fmt == "delta" else iceberg_lite
    merge = delta_lite.merge_delta if fmt == "delta" else iceberg_lite.merge_iceberg

    def read():
        return (delta_lite.read_delta if fmt == "delta" else read_iceberg)(spark, table)

    assert m.delete_where(spark, table, "id < 5") is not None
    assert read().count() == 15
    assert read().filter("id < 5").count() == 0
    assert m.update_where(spark, table, {"v": "-1.0"}, "id >= 15") is not None
    assert read().count() == 15
    assert read().filter("v = -1.0").count() == 5
    source = _frame(spark, 10, 25).withColumn("v", F.lit(100.0))
    assert merge(spark, table, source, ["id"]) is not None
    got = read()
    assert sorted(r.id for r in got.collect()) == list(range(5, 25))
    assert got.filter("v = 100.0").count() == 15
    assert got.filter("v = -1.0").count() == 0


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_delete_on_percent_encoded_table_path(spark, tmp_path, fmt):
    """A table path needing URI escaping (space, '+', '%') makes Spark's
    file URI percent-encoded. The one decoding rule in ``tablefiles.scan``
    must give back the exact path each format handed the scan, or DML
    misses its rows (Iceberg review r10 #2: deleted rows resurrected)."""
    from big_data_analytics_machine_learning_poc_spark.sources import delta_lite

    table = str(tmp_path / "probe sp+ace %41" / "my table")
    os.makedirs(os.path.dirname(table), exist_ok=True)
    (delta_lite.write_delta if fmt == "delta" else write_iceberg)(_frame(spark, 0, 20), table)
    _dml_round(spark, fmt, table)


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_dml_through_symlinked_table_path(spark, tmp_path, fmt):
    """A table written at its real path and changed through a symlink to
    it: Spark reports the path it was handed, so each row's address is the
    link-based path the format listed, not the resolved one."""
    from big_data_analytics_machine_learning_poc_spark.sources import delta_lite

    real = str(tmp_path / "real")
    (delta_lite.write_delta if fmt == "delta" else write_iceberg)(_frame(spark, 0, 20), real)
    link = str(tmp_path / "link")
    os.symlink(real, link)
    _dml_round(spark, fmt, link)


def test_expired_replace_survives_later_append(spark, table):
    """Review r10 #1 (live-confirmed): write_iceberg rebuilt table
    properties as {} on every commit, wiping the expired-replace record
    expire_snapshots stores — an append AFTER an expire then wedged a
    healthy stream tail on the retention-gap check. The chain: commit,
    tail-commit, compact (replace), expire it, APPEND, tail again."""
    from big_data_analytics_machine_learning_poc_spark.sources.iceberg_lite import (
        compact_iceberg,
        expire_snapshots,
    )
    from big_data_analytics_machine_learning_poc_spark.sources.pyds_iceberg import (
        IcebergLiteStreamReader,
    )

    write_iceberg(_frame(spark, 0, 30).repartition(3), table)  # seq 1
    write_iceberg(_frame(spark, 30, 40), table, mode="append")  # seq 2
    assert compact_iceberg(spark, table)["snapshot_id"] is not None  # seq 3
    write_iceberg(_frame(spark, 40, 45), table, mode="append")  # seq 4
    expire_snapshots(table, keep_last=1)  # seqs 1-3 gone; 3 was replace
    write_iceberg(_frame(spark, 45, 50), table, mode="append")  # seq 5
    meta = iceberg_lite.load_metadata(table)
    assert iceberg_lite._EXPIRED_REPLACE_KEY in meta.get("properties", {}), (
        "append wiped the expired-replace properties record"
    )
    # a tail that had committed through seq 2 plans (2, 5] without raising
    r = IcebergLiteStreamReader(table, starting_sequence=2)
    parts = r.partitions({"seq": 2}, r.latestOffset())
    assert parts, "tail wedged on a harmless expired compaction"


def test_metadata_v2_spec_fields(spark, table):
    """The committed metadata.json carries every v2-required field (spec
    §Table Metadata) so a real Iceberg reader would accept the layout."""
    write_iceberg(_frame(spark, 0, 10), table, partition_cols=["bucket"])
    v = iceberg_lite._current_version(table)
    meta = json.load(open(os.path.join(table, "metadata", f"v{v}.metadata.json")))
    for key in (
        "format-version",
        "table-uuid",
        "location",
        "last-sequence-number",
        "last-updated-ms",
        "last-column-id",
        "schemas",
        "current-schema-id",
        "partition-specs",
        "default-spec-id",
        "last-partition-id",
        "sort-orders",
        "default-sort-order-id",
        "snapshots",
        "current-snapshot-id",
        "snapshot-log",
        "metadata-log",
    ):
        assert key in meta, key
    assert meta["format-version"] == 2
    spec = meta["partition-specs"][0]["fields"][0]
    assert spec["transform"] == "identity" and spec["field-id"] == 1000
    # schema field ids are unique and last-column-id caps them
    ids = [f["id"] for f in meta["schemas"][0]["fields"]]
    assert len(set(ids)) == len(ids) and max(ids) <= meta["last-column-id"]
    # v1 read rejects loudly
    meta_v1 = dict(meta, **{"format-version": 1})
    json.dump(meta_v1, open(os.path.join(table, "metadata", "v99.metadata.json"), "w"))
    with pytest.raises(NotImplementedError, match="format-version"):
        iceberg_lite.load_metadata(table, version=99)


def test_metadata_log_grows_one_entry_per_version(spark, table):
    """Every metadata version logs the one it replaces, whatever made it:
    a write, an append, a DML, a schema change, a spec change and a
    snapshot expiry each add exactly one metadata-log entry."""
    write_iceberg(_frame(spark, 0, 10), table, partition_cols=["bucket"])
    assert iceberg_lite.load_metadata(table)["metadata-log"] == []
    steps = [
        lambda: write_iceberg(_frame(spark, 10, 20), table, mode="append"),
        lambda: iceberg_lite.delete_where(spark, table, "id < 3"),
        lambda: iceberg_lite.add_column(table, "note", T.StringType()),
        lambda: iceberg_lite.evolve_partition_spec(table, None),
        lambda: iceberg_lite.expire_snapshots(table, keep_last=1),
    ]
    for step in steps:
        v = iceberg_lite._current_version(table)
        step()
        assert iceberg_lite._current_version(table) == v + 1
        meta = iceberg_lite.load_metadata(table)
        assert [e["metadata-file"] for e in meta["metadata-log"]] == [
            f"metadata/v{i}.metadata.json" for i in range(1, v + 1)
        ]
        assert meta["metadata-log"][-1]["timestamp-ms"] <= meta["last-updated-ms"]


def test_typed_columns_roundtrip(spark, table):
    schema = T.StructType(
        [
            T.StructField("i", T.IntegerType()),
            T.StructField("l", T.LongType()),
            T.StructField("f", T.FloatType()),
            T.StructField("dbl", T.DoubleType()),
            T.StructField("s", T.StringType()),
            T.StructField("b", T.BooleanType()),
            T.StructField("dt", T.DateType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("dec", T.DecimalType(12, 2)),
            T.StructField("bin", T.BinaryType()),
            T.StructField("arr", T.ArrayType(T.LongType())),
            T.StructField("mp", T.MapType(T.StringType(), T.LongType())),
            T.StructField(
                "st", T.StructType([T.StructField("x", T.StringType())])
            ),
        ]
    )
    import decimal

    rows = [
        (
            1,
            2,
            1.5,
            2.5,
            "x",
            True,
            datetime.date(2024, 3, 1),
            datetime.datetime(2024, 3, 1, 12, 0, 0),
            decimal.Decimal("12345.67"),
            b"\x01",
            [1, 2],
            {"k": 9},
            ("deep",),
        )
    ]
    df = spark.createDataFrame(rows, schema)
    write_iceberg(df, table)
    back = read_iceberg(spark, table)
    assert back.schema == schema
    got = back.first()
    assert got.dec == decimal.Decimal("12345.67") and got.st.x == "deep"
    # and the Iceberg-side schema speaks spec type names
    meta = iceberg_lite.load_metadata(table)
    types = {f["name"]: f["type"] for f in meta["schemas"][0]["fields"]}
    assert types["dec"] == "decimal(12,2)" and types["ts"] == "timestamptz"
    assert types["arr"]["type"] == "list" and types["mp"]["type"] == "map"


def test_empty_frame_write(spark, table):
    df = _frame(spark, 0, 0)
    write_iceberg(df, table)
    back = read_iceberg(spark, table)
    assert back.count() == 0
    assert [(f.name, f.dataType) for f in back.schema.fields] == [
        (f.name, f.dataType) for f in df.schema.fields
    ]
    # zero-row part files are skipped, not registered (the Delta twin is in
    # test_tablefiles.py)
    assert plan_scan(table)["files"] == []


def test_lakehouse_router(spark, table):
    from big_data_analytics_machine_learning_poc_spark.sources import lakehouse

    df = _frame(spark, 0, 30)
    lakehouse.write_table(df, "iceberg", table, mode="overwrite")
    assert lakehouse.read_table(spark, "iceberg", table).count() == 30
    with pytest.raises(NotImplementedError, match="hudi"):
        lakehouse.read_table(spark, "hudi", table)


# ---------------------------------------------------------------------------
# schema evolution + snapshot expiry (r9 second pass)
# ---------------------------------------------------------------------------


def test_add_column_evolution_and_schema_as_of(spark, table):
    from big_data_analytics_machine_learning_poc_spark.sources.iceberg_lite import add_column

    v1 = write_iceberg(_frame(spark, 0, 20), table, partition_cols=["bucket"])
    sid = add_column(table, "note", T.StringType())
    assert sid == 1
    # append must now carry the evolved shape
    with pytest.raises(ValueError, match="schema mismatch"):
        write_iceberg(_frame(spark, 20, 30), table, mode="append")
    v2 = write_iceberg(
        _frame(spark, 20, 30).withColumn("note", F.concat(F.lit("n"), F.col("id"))),
        table,
        mode="append",
    )
    cur = read_iceberg(spark, table)
    assert "note" in cur.columns and cur.count() == 30
    # pre-evolution files null-fill; post-evolution files carry values
    assert cur.filter("note IS NULL").count() == 20
    assert cur.filter("note = 'n25'").count() == 1
    # time travel reads the OLD shape (schema-id pinned per snapshot)
    old = read_iceberg(spark, table, snapshot_id=v1)
    assert "note" not in old.columns and old.count() == 20
    assert read_iceberg(spark, table, snapshot_id=v2).count() == 30
    with pytest.raises(ValueError, match="already exists"):
        add_column(table, "note", T.StringType())


def test_overwrite_new_partitioning_keeps_old_spec(spark, table):
    """Repartitioning overwrite: old snapshots' manifests resolve their own
    spec-id, so their hive partition columns still rederive on travel."""
    v1 = write_iceberg(_frame(spark, 0, 50), table, partition_cols=["bucket"])
    # overwrite: same schema, different (empty) partitioning
    write_iceberg(_frame(spark, 0, 30), table, mode="overwrite")
    meta = iceberg_lite.load_metadata(table)
    assert [s["spec-id"] for s in meta["partition-specs"]] == [0, 1]
    assert meta["default-spec-id"] == 1
    # travel to the partitioned snapshot: bucket values intact
    old = read_iceberg(spark, table, snapshot_id=v1)
    assert old.filter("bucket = 3").count() == 10
    assert old.filter("bucket IS NULL").count() == 0
    assert plan_scan(table, snapshot_id=v1, partition_filters={"bucket": 3})["files"]
    # the new snapshot is unpartitioned: partition filters are rejected
    with pytest.raises(KeyError, match="non-partition"):
        plan_scan(table, partition_filters={"bucket": 3})
    # re-partitioning BACK reuses spec 0 instead of minting spec 2
    write_iceberg(_frame(spark, 0, 10), table, partition_cols=["bucket"])
    meta = iceberg_lite.load_metadata(table)
    assert meta["default-spec-id"] == 0
    assert [s["spec-id"] for s in meta["partition-specs"]] == [0, 1]


def test_expire_snapshots(spark, table):
    from big_data_analytics_machine_learning_poc_spark.sources.iceberg_lite import (
        expire_snapshots,
    )

    v1 = write_iceberg(_frame(spark, 0, 20), table)
    v2 = write_iceberg(_frame(spark, 20, 30), table, mode="append")
    v3 = write_iceberg(_frame(spark, 0, 5), table, mode="overwrite")
    v4 = write_iceberg(_frame(spark, 5, 10), table, mode="append")
    stats = expire_snapshots(table, keep_last=2)
    assert stats["snapshots_expired"] == 2 and stats["files_deleted"] > 0
    # kept snapshots fully readable (v4 shares v3's files via append lineage)
    assert read_iceberg(spark, table).count() == 10
    assert read_iceberg(spark, table, snapshot_id=v3).count() == 5
    # expired ids are gone from the metadata
    with pytest.raises(KeyError, match="not in table"):
        read_iceberg(spark, table, snapshot_id=v1)
    ids = [s["snapshot_id"] for s in snapshots(table)]
    assert ids == [v3, v4]
    # idempotent when nothing to expire
    again = expire_snapshots(table, keep_last=2)
    assert again["snapshots_expired"] == 0
    with pytest.raises(ValueError, match="keep_last"):
        expire_snapshots(table, keep_last=0)


# ---------------------------------------------------------------------------
# streaming tail (sources/pyds_iceberg.py)
# ---------------------------------------------------------------------------


def test_iceberg_stream_tail(spark, table):
    from big_data_analytics_machine_learning_poc_spark.sources.pyds_iceberg import (
        IcebergLiteStreamDataSource,
        IcebergLiteStreamReader,
    )

    spark.dataSource.register(IcebergLiteStreamDataSource)
    write_iceberg(_frame(spark, 0, 40), table, partition_cols=["bucket"])
    write_iceberg(_frame(spark, 40, 50), table, mode="append")
    write_iceberg(_frame(spark, 50, 55), table, mode="append")

    q = (
        spark.readStream.format("iceberg_lite_stream")
        .load(table)
        .writeStream.format("memory")
        .queryName("ice_stream_out")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table("ice_stream_out")
    assert got.count() == 55
    # partition values came through as typed constants
    assert got.filter("bucket = 2").count() == 11
    assert got.agg(F.sum("id")).first()[0] == sum(range(55))
    spark.catalog.dropTempView("ice_stream_out")

    # append planning is O(new snapshots): only the new manifest's files
    r = IcebergLiteStreamReader(table)
    mid = {"seq": 2}
    parts = r.partitions(mid, {"seq": 3})
    from big_data_analytics_machine_learning_poc_spark.sources.iceberg_lite import plan_scan

    assert 0 < len(parts) < len(plan_scan(table)["files"])

    # an overwrite inside the tailed range violates append-only loudly
    write_iceberg(_frame(spark, 0, 5), table, mode="overwrite")
    with pytest.raises(RuntimeError, match="append-only"):
        r.partitions({"seq": 3}, r.latestOffset())

    # backpressure: maxSnapshotsPerTrigger caps offset advance
    r2 = IcebergLiteStreamReader(table, max_snapshots_per_trigger=1)
    assert r2.latestOffset() == {"seq": 1}
    r2.commit({"seq": 1})
    assert r2.latestOffset() == {"seq": 2}


def test_compaction_replace_snapshot(spark, table):
    from big_data_analytics_machine_learning_poc_spark.sources.iceberg_lite import (
        compact_iceberg,
        expire_snapshots,
    )
    from big_data_analytics_machine_learning_poc_spark.sources.pyds_iceberg import (
        IcebergLiteStreamReader,
    )

    v1 = write_iceberg(
        _frame(spark, 0, 60).repartition(6), table, partition_cols=["bucket"]
    )
    write_iceberg(_frame(spark, 60, 90).repartition(6), table, mode="append")
    before = plan_scan(table)
    stats = compact_iceberg(spark, table)
    assert stats["snapshot_id"] is not None
    assert stats["files_after"] < stats["files_before"] == len(before["files"])
    assert stats["files_after"] == 5  # one file per bucket value
    # rows identical through the rewrite
    got = read_iceberg(spark, table)
    assert got.count() == 90 and got.agg(F.sum("id")).first()[0] == sum(range(90))
    assert [s["operation"] for s in snapshots(table)][-1] == "replace"
    # streaming tail: the replace snapshot plans NOTHING (no re-emit)...
    r = IcebergLiteStreamReader(table)
    assert r.partitions({"seq": 2}, {"seq": 3}) == []
    # ...and appends after it stream normally
    write_iceberg(_frame(spark, 90, 95).repartition(2), table, mode="append")
    assert len(r.partitions({"seq": 3}, r.latestOffset())) > 0
    # pre-compaction travel still reads originals; expiry reclaims them
    assert read_iceberg(spark, table, snapshot_id=v1).count() == 60
    exp = expire_snapshots(table, keep_last=2)  # keep replace + last append
    assert exp["files_deleted"] > 0
    assert read_iceberg(spark, table).count() == 95
    # a second compaction right after is a no-op
    again = compact_iceberg(spark, table)
    assert again["snapshot_id"] is None or again["files_after"] <= stats["files_after"] + 2


def test_string_partition_values_not_inferred(spark, table):
    """Regression (r9 review): numeric-looking STRING partition values must
    round-trip exactly — '0123' stays '0123', never int-inferred to 123."""
    df = spark.range(0, 12).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, F.lit("0123")).otherwise(F.lit("1.50")).alias("code"),
    )
    write_iceberg(df.repartition("code"), table, partition_cols=["code"])
    back = read_iceberg(spark, table)
    assert dict(back.dtypes)["code"] == "string"
    assert set(r.code for r in back.select("code").distinct().collect()) == {"0123", "1.50"}
    assert read_iceberg(spark, table, partition_filters={"code": "0123"}).count() == 6


def test_stream_raises_on_expired_gap(spark, table):
    """Regression (r9 review): a snapshot expired out of the tailed range
    must fail the batch loudly, not silently skip its rows."""
    from big_data_analytics_machine_learning_poc_spark.sources.iceberg_lite import (
        expire_snapshots,
    )
    from big_data_analytics_machine_learning_poc_spark.sources.pyds_iceberg import (
        IcebergLiteStreamReader,
    )

    write_iceberg(_frame(spark, 0, 10), table)
    r = IcebergLiteStreamReader(table)  # checkpoint at seq 0
    write_iceberg(_frame(spark, 10, 20), table, mode="append")
    write_iceberg(_frame(spark, 20, 30), table, mode="append")
    expire_snapshots(table, keep_last=1)  # seqs 1-2 gone from metadata
    with pytest.raises(RuntimeError, match="expired before the tail"):
        r.partitions({"seq": 0}, r.latestOffset())


def test_compact_after_add_column(spark, table):
    """Regression (r9 review #1): compaction right after a metadata-only
    add_column must write under the CURRENT schema (null-filling the new
    column), not crash on the snapshot-pinned old shape."""
    from big_data_analytics_machine_learning_poc_spark.sources.iceberg_lite import (
        add_column,
        compact_iceberg,
    )

    write_iceberg(_frame(spark, 0, 40).repartition(6), table, partition_cols=["bucket"])
    add_column(table, "tag", T.StringType())
    stats = compact_iceberg(spark, table)
    assert stats["snapshot_id"] is not None
    got = read_iceberg(spark, table)
    assert got.count() == 40 and "tag" in got.columns
    assert got.filter("tag IS NULL").count() == 40


def test_expired_replace_does_not_wedge_stream(spark, table):
    """Regression (r9 review #2): expiring a compaction snapshot the tail
    would have skipped anyway must NOT raise a retention-gap error."""
    from big_data_analytics_machine_learning_poc_spark.sources.iceberg_lite import (
        compact_iceberg,
        expire_snapshots,
    )
    from big_data_analytics_machine_learning_poc_spark.sources.pyds_iceberg import (
        IcebergLiteStreamReader,
    )

    write_iceberg(_frame(spark, 0, 30).repartition(4), table, partition_cols=["bucket"])
    write_iceberg(_frame(spark, 30, 40).repartition(4), table, mode="append")
    r = IcebergLiteStreamReader(table)
    emitted = r.partitions({"seq": 0}, r.latestOffset())  # appends through seq 2
    assert emitted
    r.commit({"seq": 2})
    compact_iceberg(spark, table)                       # replace, seq 3
    write_iceberg(_frame(spark, 40, 45), table, mode="append")  # seq 4
    expire_snapshots(table, keep_last=1)                # seqs 1-3 expired
    # seq 3 was a replace: harmless; seqs 1-2 were committed already —
    # batch (2, 4] must plan ONLY the new append, without raising
    parts = r.partitions({"seq": 2}, r.latestOffset())
    assert parts and all("data/" in p.file_path or "data" in p.file_path for p in parts)
    # but an uncommitted expired APPEND still raises (no silent loss)
    with pytest.raises(RuntimeError, match="startingSequence"):
        r.partitions({"seq": 0}, r.latestOffset())


def test_replace_mode_guards_data_change(spark, table):
    """Regression (r9 review #3): mode='replace' with different rows must
    be refused — the streaming tail skips replace snapshots on the claim
    that no data changed."""
    write_iceberg(_frame(spark, 0, 20), table)
    with pytest.raises(ValueError, match="must not change data"):
        write_iceberg(_frame(spark, 0, 7), table, mode="replace")


def test_compaction_noop_checks_per_partition_max(spark, table):
    """Regression (r9 review #4): one fragmented partition among compact
    ones must trigger compaction (per-partition max, not global average)."""
    from big_data_analytics_machine_learning_poc_spark.sources.iceberg_lite import (
        compact_iceberg,
    )

    base = _frame(spark, 0, 50)
    # bucket 0 fragmented across many files; other buckets one file each
    frag = base.filter("bucket = 0").repartition(5)
    rest = base.filter("bucket <> 0").repartition("bucket")
    write_iceberg(frag.unionByName(rest), table, partition_cols=["bucket"])
    before = len(plan_scan(table)["files"])
    stats = compact_iceberg(spark, table, min_files_per_partition=3)
    assert stats["snapshot_id"] is not None and stats["files_after"] < before


# ---------------------------------------------------------------------------
# ADVICE r10 regression tests
# ---------------------------------------------------------------------------


def test_dml_commit_pins_hint_and_load(spark, table, monkeypatch):
    """ADVICE r10 #1 (TOCTOU): a concurrent commit landing between a DML
    writer's hint read and its metadata load must NEVER be silently
    dropped by a v(N+2) built from stale metadata. Simulated by letting
    the hint read return, then landing a concurrent append before the DML
    commit finishes: the put-if-absent collides, and the optimistic retry
    (r11) rebuilds against the reloaded table — the append's rows survive
    AND the delete lands, with the interleaved snapshot in history."""
    from big_data_analytics_machine_learning_poc_spark.sources.iceberg_lite import (
        delete_where,
    )

    write_iceberg(_frame(spark, 0, 20), table)
    real = iceberg_lite._current_version
    fired = {"done": False}

    def racing_hint_read(t):
        v = real(t)
        if not fired["done"] and os.path.abspath(t) == os.path.abspath(table):
            fired["done"] = True  # concurrent append lands right after the read
            write_iceberg(_frame(spark, 100, 110), table, mode="append")
        return v

    monkeypatch.setattr(iceberg_lite, "_current_version", racing_hint_read)
    assert delete_where(spark, table, "id < 5") is not None
    monkeypatch.setattr(iceberg_lite, "_current_version", real)
    # the intervening append was NOT lost, and the delete applied
    back = read_iceberg(spark, table)
    assert back.count() == 25
    assert back.filter("id < 5").count() == 0
    assert back.filter("id >= 100").count() == 10
    ops = [s["operation"] for s in iceberg_lite.snapshots(table)]
    assert ops == ["overwrite", "append", "delete"]
    # a zero-retry DML under the same race stays a typed conflict
    fired["done"] = False
    monkeypatch.setattr(iceberg_lite, "_current_version", racing_hint_read)
    import functools

    orig = iceberg_lite._finish_commit
    monkeypatch.setattr(
        iceberg_lite, "_finish_commit", functools.partial(orig, retries=0)
    )
    with pytest.raises(iceberg_lite.IcebergCommitConflict):
        delete_where(spark, table, "id >= 100")
    monkeypatch.setattr(iceberg_lite, "_current_version", real)
    monkeypatch.setattr(iceberg_lite, "_finish_commit", orig)
    assert read_iceberg(spark, table).count() == 35  # 25 + second append


def _file_census(table):
    out = set()
    for root, _dirs, files in os.walk(table):
        for f in files:
            out.add(os.path.join(root, f))
    return out


def test_conflict_unpublishes_losing_files(spark, table):
    """ADVICE r10 #2: a losing commit must unlink the data/delete files,
    manifests and manifest list it published before the put-if-absent
    failed — a retry loop must not leak disk. After the conflict the
    table's file census must equal the pre-attempt census plus only the
    orphan metadata JSON the conflicting writer created."""
    from big_data_analytics_machine_learning_poc_spark.sources.iceberg_lite import (
        update_where,
    )

    write_iceberg(_frame(spark, 0, 20), table)
    v = iceberg_lite._current_version(table)
    clobber = os.path.join(table, "metadata", f"v{v + 1}.metadata.json")
    with open(clobber, "w") as f:
        f.write("{}")
    before = _file_census(table)
    # DML loser: publishes position deletes + new data files, then conflicts
    with pytest.raises(iceberg_lite.IcebergCommitConflict):
        update_where(spark, table, {"v": "v + 1"}, "id < 5")
    leaked = _file_census(table) - before
    assert leaked == set(), f"conflict leaked files: {sorted(leaked)}"
    # append loser: publishes data files + manifest, then conflicts
    with pytest.raises(iceberg_lite.IcebergCommitConflict):
        write_iceberg(_frame(spark, 20, 30), table, mode="append")
    leaked = _file_census(table) - before
    assert leaked == set(), f"append conflict leaked files: {sorted(leaked)}"
    # recovery then works as before
    assert iceberg_lite.recover_orphan_metadata(table) == [v + 1]
    assert update_where(spark, table, {"v": "v + 1"}, "id < 5") is not None


def test_compact_reports_equality_debt(spark, table):
    """ADVICE r10 #3: compaction triggered by equality-delete debt (the
    upsert path) must report the materialized equality deletes, not 0."""
    from big_data_analytics_machine_learning_poc_spark.sources.iceberg_lite import (
        compact_iceberg,
        upsert_by_key,
    )

    write_iceberg(_frame(spark, 0, 20), table)
    upsert_by_key(
        spark, table, _frame(spark, 10, 15).withColumn("v", F.lit(-1.0)), ["id"]
    )
    stats = compact_iceberg(spark, table)
    assert stats["snapshot_id"] is not None
    assert stats["equality_deletes_materialized"] > 0
    assert not plan_scan(table)["eq_delete_files"]
    assert read_iceberg(spark, table).count() == 20


def test_seq_map_miss_raises_not_shrinks(spark, table, monkeypatch):
    """ADVICE r10 #4: a runtime URI-normalization miss in the seq-map join
    must raise at scan time, not silently drop the affected file's rows."""
    from big_data_analytics_machine_learning_poc_spark.sources.iceberg_lite import (
        delete_where,
    )

    write_iceberg(_frame(spark, 0, 20), table)
    delete_where(spark, table, "id < 3")
    real_plan = iceberg_lite.plan_scan

    def broken_plan(t, *a, **kw):
        plan = real_plan(t, *a, **kw)
        if plan["file_seqs"]:
            k = sorted(plan["file_seqs"])[0]
            plan["file_seqs"] = {
                (k + ".MISS" if p == k else p): s
                for p, s in plan["file_seqs"].items()
            }
        return plan

    monkeypatch.setattr(iceberg_lite, "plan_scan", broken_plan)
    with pytest.raises(Exception, match="sequence map"):
        read_iceberg(spark, table).count()


def test_merge_when_clauses(spark, table):
    """VERDICT r10 ask #8: MERGE with ordered WHEN clauses — a conditional
    DELETE, a conditional UPDATE referencing both sides, first-match-wins,
    untouched non-matching matches, and a conditional INSERT."""
    from big_data_analytics_machine_learning_poc_spark.sources.iceberg_lite import (
        merge_iceberg,
    )

    write_iceberg(_frame(spark, 0, 20), table)
    # source: keys 5..24 (5..19 matched, 20..24 new); v carries a signal
    src = _frame(spark, 5, 25).withColumn("v", F.col("id") * 10.0)
    snap = merge_iceberg(
        spark,
        table,
        src,
        ["id"],
        when_matched=[
            ("t.id % 5 = 0", "delete"),                      # 5, 10, 15 die
            ("s.v >= 120", {"update": {"v": "s.v + t.v"}}),  # 12..19 (not %5=0)
            # matched rows hitting neither clause (6..11 except 10) untouched
        ],
        when_not_matched_insert="id >= 22",                  # 22, 23, 24 insert
    )
    assert snap is not None
    back = {r.id: r.v for r in read_iceberg(spark, table).collect()}
    # deleted by clause 1
    for k in (5, 10, 15):
        assert k not in back
    # updated by clause 2: s.v (10*id) + t.v (1.5*id)
    for k in (12, 13, 14, 16, 17, 18, 19):
        assert back[k] == k * 10.0 + k * 1.5
    # matched, no clause matched -> untouched
    for k in (6, 7, 8, 9, 11):
        assert back[k] == k * 1.5
    # unmatched target rows untouched
    for k in (0, 1, 2, 3, 4):
        assert back[k] == k * 1.5
    # conditional insert
    for k in (20, 21):
        assert k not in back
    for k in (22, 23, 24):
        assert back[k] == k * 10.0
    assert len(back) == 20 - 3 + 3


def test_merge_clause_validation(spark, table):
    from big_data_analytics_machine_learning_poc_spark.sources.iceberg_lite import (
        merge_iceberg,
    )

    write_iceberg(_frame(spark, 0, 5), table)
    src = _frame(spark, 0, 3)
    with pytest.raises(KeyError, match="not in table schema"):
        merge_iceberg(spark, table, src, ["id"],
                      when_matched=[(None, {"update": {"nope": "1"}})])
    with pytest.raises(ValueError, match="action"):
        merge_iceberg(spark, table, src, ["id"],
                      when_matched=[(None, {"upsert": {}})])


def test_merge_insert_false_and_delete_only(spark, table):
    """A delete-only MERGE (no inserts, no updates) still commits one
    snapshot with only a delete manifest added."""
    from big_data_analytics_machine_learning_poc_spark.sources.iceberg_lite import (
        merge_iceberg,
    )

    write_iceberg(_frame(spark, 0, 10), table)
    src = _frame(spark, 8, 15)
    snap = merge_iceberg(
        spark, table, src, ["id"],
        when_matched=[(None, "delete")],
        when_not_matched_insert=False,
    )
    assert snap is not None
    back = read_iceberg(spark, table)
    assert back.count() == 8
    assert back.filter("id >= 8").count() == 0


def test_merge_null_key_no_duplication(spark, table):
    """Review r11 #1: a NULL-key source row whose null-safe match updated a
    NULL-key target row must NOT also be re-inserted by the not-matched
    path — MERGE emits exactly one image per source row."""
    from big_data_analytics_machine_learning_poc_spark.sources.iceberg_lite import (
        merge_iceberg,
    )

    df = _frame(spark, 0, 5).withColumn(
        "id", F.when(F.col("id") == 3, F.lit(None)).otherwise(F.col("id"))
    )
    write_iceberg(df, table)
    src = _frame(spark, 2, 5).withColumn(
        "id", F.when(F.col("id") == 3, F.lit(None)).otherwise(F.col("id"))
    ).withColumn("v", F.lit(-1.0))
    assert merge_iceberg(spark, table, src, ["id"]) is not None
    back = read_iceberg(spark, table)
    assert back.count() == 5
    assert back.filter("id is null").count() == 1
    assert back.filter("id is null").first().v == -1.0


def test_merge_insert_only_clause_list(spark, table):
    """Review r11 #2: when_matched=[] is the insert-only MERGE — matched
    rows untouched, unmatched source rows inserted, no crash."""
    from big_data_analytics_machine_learning_poc_spark.sources.iceberg_lite import (
        merge_iceberg,
    )

    write_iceberg(_frame(spark, 0, 10), table)
    src = _frame(spark, 5, 15).withColumn("v", F.lit(-1.0))
    assert merge_iceberg(spark, table, src, ["id"], when_matched=[]) is not None
    back = {r.id: r.v for r in read_iceberg(spark, table).collect()}
    assert len(back) == 15
    for k in range(10):
        assert back[k] == k * 1.5  # matched rows untouched
    for k in range(10, 15):
        assert back[k] == -1.0


def test_duplicate_partition_field_names_refused(spark, table):
    """Review r11 #6: two same-base transforms of one column collide on
    the derived field name — refuse loudly at write time."""
    with pytest.raises(ValueError, match="collide"):
        write_iceberg(
            _frame(spark, 0, 5), table,
            partition_cols=["bucket(4, id)", "bucket(8, id)"],
        )
