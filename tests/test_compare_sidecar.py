"""Forced-mismatch proof for the compare sidecar (VERDICT r4 ask #4).

The r2 motivation for the DIAG sidecar was that driver-side reds left
nothing to inspect; r3's HUGEINT forensics only worked because sidecars
existed. This test pins the property end-to-end: a FULL ``tools/compare.py``
sweep (no query filter) over a registry containing a deliberately wrong
oracle must (a) fail loudly and (b) leave ``DIAG/compare_<name>.json``
carrying both fingerprints and the first differing rows.
"""

from __future__ import annotations

import json
import os
import sys

from big_data_analytics_machine_learning_poc_spark.registry import QueryRegistry

from .conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_full_sweep_writes_mismatch_sidecar(spark, monkeypatch):
    import __spark_entry__ as entrymod
    import big_data_analytics_machine_learning_poc_spark.session as session_mod
    from tools import compare

    name = "zz_forced_mismatch_probe"
    reg = QueryRegistry()

    # Spark says 1..3; the oracle says 1..4 — rowcount AND value mismatch
    @reg.add(name, sql="SELECT * FROM range(1, 5) t(v)")
    def probe(s, sf_dir):
        return s.range(1, 4).selectExpr("id AS v")

    monkeypatch.setattr(entrymod, "_registry", lambda window_first=True: reg)
    monkeypatch.setattr(session_mod, "get_session", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)  # shared pytest session
    monkeypatch.setattr(sys, "argv", ["compare.py", SF_DIR])  # FULL sweep

    sidecar = os.path.join(REPO, "DIAG", f"compare_{name}.json")
    if os.path.exists(sidecar):
        os.remove(sidecar)
    try:
        rc = compare.main()
        assert rc == 1, "a mismatching oracle must fail the sweep"
        assert os.path.exists(sidecar), "full sweep must dump the sidecar"
        payload = json.load(open(sidecar))
        assert payload["spark_rows"] == 3 and payload["oracle_rows"] == 4
        assert payload["spark_fingerprint"] != payload["oracle_fingerprint"]
        assert payload["problems"]
    finally:
        if os.path.exists(sidecar):
            os.remove(sidecar)


def test_full_sweep_green_lane_sidecar_has_agreeing_fingerprints(spark, monkeypatch):
    """The sidecar is written for GREEN lanes too (both fingerprints agree)
    — that is what made the r3 forensics possible without a re-run."""
    import __spark_entry__ as entrymod
    import big_data_analytics_machine_learning_poc_spark.session as session_mod
    from tools import compare

    name = "zz_green_probe"
    reg = QueryRegistry()

    @reg.add(name, sql="SELECT * FROM range(1, 4) t(v)")
    def probe(s, sf_dir):
        return s.range(1, 4).selectExpr("id AS v")

    monkeypatch.setattr(entrymod, "_registry", lambda window_first=True: reg)
    monkeypatch.setattr(session_mod, "get_session", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    monkeypatch.setattr(sys, "argv", ["compare.py", SF_DIR])

    sidecar = os.path.join(REPO, "DIAG", f"compare_{name}.json")
    if os.path.exists(sidecar):
        os.remove(sidecar)
    try:
        rc = compare.main()
        assert rc == 0
        payload = json.load(open(sidecar))
        assert payload["spark_fingerprint"] == payload["oracle_fingerprint"]
        assert payload["problems"] == []
    finally:
        if os.path.exists(sidecar):
            os.remove(sidecar)
