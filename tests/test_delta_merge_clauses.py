"""delta_lite MERGE WHEN-clause routing (r11 — parity with
merge_iceberg's clause surface on the copy-on-write engine)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from big_data_analytics_machine_learning_poc_spark.sources.delta_lite import (
    _replay,
    enable_change_data_feed,
    merge_delta,
    read_delta,
    table_changes,
    write_delta,
)


@pytest.fixture
def table():
    path = tempfile.mkdtemp(prefix="delta_mrg_")
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _frame(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"), (F.col("id") * 1.5).alias("v")
    )


def test_delta_merge_when_clauses(spark, table):
    write_delta(_frame(spark, 0, 20).repartition(3), table)
    src = _frame(spark, 5, 25).withColumn("v", F.col("id") * 10.0)
    merge_delta(
        spark,
        table,
        src,
        ["id"],
        when_matched=[
            ("t.id % 5 = 0", "delete"),                      # 5, 10, 15 die
            ("s.v >= 120", {"update": {"v": "s.v + t.v"}}),  # 12..19 minus %5
        ],
        when_not_matched_insert="id >= 22",                  # 22..24 insert
    )
    back = {r.id: r.v for r in read_delta(spark, table).collect()}
    for k in (5, 10, 15):
        assert k not in back
    for k in (12, 13, 14, 16, 17, 18, 19):
        assert back[k] == k * 10.0 + k * 1.5
    for k in (0, 1, 2, 3, 4, 6, 7, 8, 9, 11):
        assert back[k] == k * 1.5  # unmatched targets + untouched matches
    for k in (20, 21):
        assert k not in back
    for k in (22, 23, 24):
        assert back[k] == k * 10.0
    assert len(back) == 20


def test_delta_merge_default_unchanged(spark, table):
    """No clause args → historical upsert-all behavior."""
    write_delta(_frame(spark, 0, 10), table)
    src = _frame(spark, 5, 15).withColumn("v", F.lit(-1.0))
    merge_delta(spark, table, src, ["id"])
    back = {r.id: r.v for r in read_delta(spark, table).collect()}
    assert len(back) == 15
    for k in range(5):
        assert back[k] == k * 1.5
    for k in range(5, 15):
        assert back[k] == -1.0


def test_delta_merge_untouched_rows_of_hit_key_survive(spark, table):
    """A key whose target rows split across clause outcomes stays exact:
    the untouched-clause row stays in its rewritten file, not lost with
    the hit row."""
    df = _frame(spark, 0, 4).unionByName(
        _frame(spark, 2, 3).withColumn("v", F.lit(500.0))  # second row, id=2
    )
    write_delta(df.coalesce(1), table)
    src = _frame(spark, 2, 3).withColumn("v", F.lit(-1.0))
    merge_delta(
        spark,
        table,
        src,
        ["id"],
        # only the ORIGINAL id=2 row (v=3.0) matches; the 500.0 twin stays
        when_matched=[("t.v < 100", {"update": {"v": "s.v"}})],
        when_not_matched_insert=False,
    )
    rows = sorted(
        (r.id, r.v) for r in read_delta(spark, table).filter("id = 2").collect()
    )
    assert rows == [(2, -1.0), (2, 500.0)]
    assert read_delta(spark, table).count() == 5


def test_delta_merge_hit_key_split_across_files(spark, table):
    """VERDICT r11 #1 (reproduced duplication): a hit key whose rows live
    in TWO files — one row hits a conditional clause (file A), its twin
    matches no clause (file B). Hits are row addresses, so only file A
    rewrites and the twin stays in file B exactly once. Two separate
    appends guarantee the split (no coalesce(1))."""
    write_delta(_frame(spark, 0, 4).coalesce(1), table)  # id=2 v=3.0, file A
    write_delta(
        _frame(spark, 2, 3).withColumn("v", F.lit(500.0)).coalesce(1),
        table,
        mode="append",
    )  # id=2 v=500.0, file B
    (file_b,) = _replay(table, 1)[0].keys() - _replay(table, 0)[0].keys()
    add_b = _replay(table, 1)[0][file_b]
    src = _frame(spark, 2, 3).withColumn("v", F.lit(-1.0))
    merge_delta(
        spark,
        table,
        src,
        ["id"],
        when_matched=[("t.v < 100", {"update": {"v": "s.v"}})],
        when_not_matched_insert=False,
    )
    rows = sorted(
        (r.id, r.v) for r in read_delta(spark, table).filter("id = 2").collect()
    )
    assert rows == [(2, -1.0), (2, 500.0)]
    assert read_delta(spark, table).count() == 5
    # only file A holds a hit: file B is not rewritten, its add action
    # survives the merge verbatim
    assert _replay(table, None)[0][file_b] == add_b


def test_delta_merge_null_key_inserts_and_leaves_null_target(spark, table):
    """The plain-equality twin of iceberg's null-key test: under ANSI
    ``ON t.k = s.k`` a NULL key never matches, so the NULL-key source row
    inserts and the NULL-key target row stays untouched."""
    df = _frame(spark, 0, 5).withColumn(
        "id", F.when(F.col("id") == 3, F.lit(None)).otherwise(F.col("id"))
    )
    write_delta(df, table)
    src = _frame(spark, 2, 5).withColumn(
        "id", F.when(F.col("id") == 3, F.lit(None)).otherwise(F.col("id"))
    ).withColumn("v", F.lit(-1.0))
    merge_delta(spark, table, src, ["id"])
    back = read_delta(spark, table)
    assert back.count() == 6
    assert sorted(r.v for r in back.filter("id is null").collect()) == [-1.0, 4.5]
    assert {r.id: r.v for r in back.filter("id is not null").collect()} == {
        0: 0.0, 1: 1.5, 2: -1.0, 4: -1.0
    }


def test_delta_merge_hit_key_split_files_with_delete_clause(spark, table):
    """Same two-file split, delete clause: the conditional delete kills
    the file-A row; the file-B twin must survive exactly once."""
    write_delta(_frame(spark, 0, 4).coalesce(1), table)
    write_delta(
        _frame(spark, 2, 3).withColumn("v", F.lit(500.0)).coalesce(1),
        table,
        mode="append",
    )
    src = _frame(spark, 2, 3).withColumn("v", F.lit(-1.0))
    merge_delta(
        spark,
        table,
        src,
        ["id"],
        when_matched=[("t.v < 100", "delete")],
        when_not_matched_insert=False,
    )
    rows = sorted(
        (r.id, r.v) for r in read_delta(spark, table).filter("id = 2").collect()
    )
    assert rows == [(2, 500.0)]
    assert read_delta(spark, table).count() == 4


def test_delta_merge_clause_cdf_typed(spark, table):
    """CDF rows are typed per clause: deletes vs update pre/post pairs vs
    inserts."""
    write_delta(_frame(spark, 0, 10), table)
    enable_change_data_feed(table)
    src = _frame(spark, 8, 12).withColumn("v", F.lit(-1.0))
    v = merge_delta(
        spark,
        table,
        src,
        ["id"],
        when_matched=[
            ("t.id = 8", "delete"),
            (None, {"update": {"v": "s.v"}}),
        ],
        when_not_matched_insert=True,
    )
    ch = table_changes(spark, table, v - 1, v)
    got = sorted(
        (r.id, r._change_type) for r in ch.collect()
    )
    assert got == [
        (8, "delete"),
        (9, "update_postimage"),
        (9, "update_preimage"),
        (10, "insert"),
        (11, "insert"),
    ]


def test_delta_merge_insert_only_and_validation(spark, table):
    write_delta(_frame(spark, 0, 5), table)
    src = _frame(spark, 3, 8).withColumn("v", F.lit(-1.0))
    merge_delta(spark, table, src, ["id"], when_matched=[])
    back = {r.id: r.v for r in read_delta(spark, table).collect()}
    assert len(back) == 8
    for k in range(5):
        assert back[k] == k * 1.5  # matched rows untouched
    with pytest.raises(KeyError, match="not in table schema"):
        merge_delta(spark, table, src, ["id"],
                    when_matched=[(None, {"update": {"nope": "1"}})])


# ---------------------------------------------------------------------------
# property tier (VERDICT r11 missing #2): randomized file layout under
# MERGE WHEN-clauses — duplicate target keys deliberately split across
# files/commits, checked against a pure-Python first-match-wins model.
# The Iceberg side has the lifecycle fuzzer; this is the Delta CoW
# equivalent for the clause surface, whose r11 bug lived exactly in the
# multi-file layouts no example-based fixture produced.
# ---------------------------------------------------------------------------

from hypothesis import given, settings, strategies as st

# (sql condition | None, python predicate over (t_row, s_row), action)
# — update actions are (assigns_sql, python new-val fn)
_CLAUSE_VOCAB = [
    ("t.val < 50", lambda t, s: t[1] < 50, "delete"),
    ("s.val % 2 = 0", lambda t, s: s[1] % 2 == 0,
     ({"val": "s.val"}, lambda t, s: s[1])),
    ("t.val > s.val", lambda t, s: t[1] > s[1],
     ({"val": "s.val + t.val"}, lambda t, s: s[1] + t[1])),
    (None, lambda t, s: True, ({"val": "s.val + 1000"}, lambda t, s: s[1] + 1000)),
]

_target_rows = st.lists(
    st.tuples(st.integers(0, 4), st.integers(0, 99)), min_size=1, max_size=12
)
_chunk_seed = st.lists(st.integers(1, 4), min_size=1, max_size=6)
_source = st.dictionaries(st.integers(0, 6), st.integers(0, 99), max_size=6)
_clause_idx = st.lists(
    st.sampled_from(range(len(_CLAUSE_VOCAB))), unique=True, max_size=3
)
_insert_mode = st.sampled_from([True, False, "val >= 10"])


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
@settings(max_examples=12, deadline=None)
@given(_target_rows, _chunk_seed, _source, _clause_idx, _insert_mode)
def test_delta_merge_clauses_model_based(
    spark, fmt, rows, chunks, source, clause_idx, insert_mode
):
    """Both formats against one model: the generated keys are never NULL,
    so Delta's plain-equality and Iceberg's null-safe key rules agree."""
    import shutil as _sh
    import tempfile as _tf

    from big_data_analytics_machine_learning_poc_spark.sources import iceberg_lite

    if fmt == "delta":
        write, merge, read = write_delta, merge_delta, read_delta
    else:
        write, merge, read = (
            iceberg_lite.write_iceberg,
            iceberg_lite.merge_iceberg,
            iceberg_lite.read_iceberg,
        )
    table = _tf.mkdtemp(prefix="dmrg_prop_")
    _sh.rmtree(table)
    schema = "id long, val long"

    def df_of(rs):
        return spark.createDataFrame([tuple(r) for r in rs], schema=schema)

    try:
        # random layout: each chunk is its own single-file commit, so one
        # key's rows land across several files
        sizes, i, parts = list(chunks), 0, []
        for sz in sizes:
            if i >= len(rows):
                break
            parts.append(rows[i : i + sz])
            i += sz
        if i < len(rows):
            parts.append(rows[i:])
        write(df_of(parts[0]).coalesce(1), table)
        for part in parts[1:]:
            write(df_of(part).coalesce(1), table, mode="append")

        clauses = [_CLAUSE_VOCAB[i] for i in clause_idx]
        when_matched = [
            (c[0], "delete" if c[2] == "delete" else {"update": c[2][0]})
            for c in clauses
        ]
        merge(
            spark,
            table,
            df_of(sorted(source.items())),
            ["id"],
            when_matched=when_matched,
            when_not_matched_insert=insert_mode,
        )

        # pure-Python model: first-match-wins per matched target row
        expect: list[tuple[int, int]] = []
        for t in rows:
            if t[0] not in source:
                expect.append(t)
                continue
            s = (t[0], source[t[0]])
            hit = None
            for c in clauses:
                if c[1](t, s):
                    hit = c
                    break
            if hit is None:
                expect.append(t)  # matched, no clause → untouched
            elif hit[2] == "delete":
                pass
            else:
                expect.append((t[0], hit[2][1](t, s)))
        tkeys = {t[0] for t in rows}
        for k, v in sorted(source.items()):
            if k in tkeys:
                continue
            if insert_mode is True or (
                insert_mode not in (True, False) and v >= 10
            ):
                expect.append((k, v))

        got = [(r.id, r.val) for r in read(spark, table).collect()]
        assert sorted(got) == sorted(expect)
    finally:
        _sh.rmtree(table, ignore_errors=True)
