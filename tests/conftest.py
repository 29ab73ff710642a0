from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_DIR = "/root/testdata/sf0.001"


def persistent_rdd_ids(spark) -> set[int]:
    """Ids of the RDDs the SparkContext holds persisted (the session is
    shared, so tests compare the set before and after)."""
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


@pytest.fixture(scope="session")
def spark():
    from big_data_analytics_machine_learning_poc_spark.session import get_session

    s = get_session("tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    from big_data_analytics_machine_learning_poc_spark.oracle import register_views

    con = duckdb.connect()
    register_views(con, SF_DIR)
    yield con
    con.close()
