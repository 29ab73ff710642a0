"""The lane runner (tools/lanerun.py): a run record holds the lane's own
rows and jobs, and a run leaves the session's persisted RDDs as it found
them."""

from __future__ import annotations

import importlib
import sys

import pytest

from tools.lanerun import run, select

from .conftest import persistent_rdd_ids

SF01 = "/root/testdata/sf0.01"


def test_record_rows_equal_a_plain_collect(spark):
    fn = select(["group_count"]).queries["group_count"]
    rec = run(spark, "group_count", fn, SF01)
    plain = fn(spark, SF01)
    assert rec["columns"] == plain.columns
    assert sorted(rec["rows"]) == sorted(plain.collect())
    assert rec["jobs"].jobs >= 1


def test_back_to_back_runs_share_no_job(spark):
    fn = select(["group_count"]).queries["group_count"]
    first, second = (run(spark, "group_count", fn, SF01) for _ in range(2))
    ids = [{jid for _, _, jid in rec["jobs"].intervals} for rec in (first, second)]
    assert ids[0] and ids[1]
    assert not ids[0] & ids[1]


def test_run_releases_the_storage_a_lane_leaves(spark):
    name = "dedup_connected_components"
    fn = select([name]).queries[name]
    # a plain collect leaves the returned label checkpoint persisted
    before = persistent_rdd_ids(spark)
    fn(spark, SF01).collect()
    leaked = persistent_rdd_ids(spark) - before
    assert leaked
    held = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in leaked:
        held.get(rid).unpersist(True)

    before = persistent_rdd_ids(spark)
    rec = run(spark, name, fn, SF01)
    # "no id that was not there before": Spark's ContextCleaner may drop an
    # earlier test's garbage RDD mid-run, so the sets need not be equal
    assert not persistent_rdd_ids(spark) - before
    assert rec["persisted_after"] <= rec["persisted_before"] <= len(before)


@pytest.mark.parametrize("tool", ["planlint", "shufflebudget"])
def test_misspelled_lane_name_exits_2(tool, monkeypatch, capsys):
    mod = importlib.import_module(f"tools.{tool}")
    monkeypatch.setattr(sys, "argv", [f"{tool}.py", SF01, "group_count", "group_cuont"])
    with pytest.raises(SystemExit) as exc:
        mod.main()
    assert exc.value.code == 2
    assert "group_cuont" in capsys.readouterr().err
