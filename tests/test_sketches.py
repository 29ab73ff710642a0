"""Sketch-lane tests: oracle parity for the exact bitmap lane, and
estimate-quality bounds for the HLL/theta/KLL audit lanes (whose outputs are
Datasketches-implementation-defined and therefore rows-only at the driver).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_analytics_machine_learning_poc_spark.operators import sketches

from .conftest import SF_DIR


@pytest.mark.parametrize("name", sorted(sketches.REG.oracles))
def test_sketch_oracle_parity(spark, duck, name):
    from big_data_analytics_machine_learning_poc_spark.oracle import compare_query

    df = sketches.REG.queries[name](spark, SF_DIR)
    problems = compare_query(df.columns, df.collect(), duck, sketches.REG.oracles[name])
    assert not problems, f"{name}: {problems}"


def test_bitmap_matches_count_distinct(spark):
    """The bitmap two-level aggregation is exactly COUNT(DISTINCT) — checked
    in-engine too (the oracle test checks vs DuckDB; this one pins the
    equivalence against Spark's own countDistinct on the same session)."""
    from big_data_analytics_machine_learning_poc_spark.catalog import load_table

    ev = load_table(spark, SF_DIR, "events")
    exact = {
        (r["event_type"], r["day"]): r["n"]
        for r in ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    got = {
        (r["event_type"], r["day"]): r["n_users"]
        for r in sketches.agg_bitmap_distinct_users(spark, SF_DIR).collect()
    }
    assert got == exact


def test_hll_theta_estimates_within_bound(spark):
    rows = sketches.agg_hll_theta_distinct_audit(spark, SF_DIR).collect()
    assert rows, "audit produced no groups"
    for r in rows:
        exact = r["exact_users"]
        assert exact > 0
        assert abs(r["hll_estimate"] - exact) / exact <= sketches.SKETCH_REL_ERR_MAX, r
        assert abs(r["theta_estimate"] - exact) / exact <= sketches.SKETCH_REL_ERR_MAX, r


def test_kll_quantiles_within_rank_error(spark):
    """A KLL quantile's guarantee is on RANK, not value: the returned element
    must sit within ±KLL_RANK_ERR_MAX of the target rank in the group's
    exact CDF. Compute each group's empirical CDF at the returned values and
    assert the rank error bound."""
    from big_data_analytics_machine_learning_poc_spark.catalog import load_table

    out = {r["event_type"]: r for r in sketches.agg_kll_value_quantiles(spark, SF_DIR).collect()}
    assert out
    ev = load_table(spark, SF_DIR, "events").select("event_type", "value").collect()
    by_group: dict[str, list[float]] = {}
    for r in ev:
        by_group.setdefault(r["event_type"], []).append(r["value"])
    for g, row in out.items():
        vals = sorted(by_group[g])
        n = len(vals)
        assert row["n_events"] == n
        for q in (0.5, 0.9, 0.99):
            got = row[f"kll_p{round(q * 100)}"]
            # empirical rank of the returned value (fraction of items <= got)
            import bisect

            rank = bisect.bisect_right(vals, got) / n
            assert abs(rank - q) <= sketches.KLL_RANK_ERR_MAX + 1.0 / n, (
                g,
                q,
                got,
                rank,
            )


def test_bitmap_state_is_mergeable_incrementally(spark):
    """Substantiates the incremental-rollup claim in the lane docstrings:
    per-half level-1 bitmaps folded with bitmap_or_agg must equal the
    one-shot computation — i.e. yesterday's persisted sketch state plus
    today's delta replaces a full rescan."""
    from big_data_analytics_machine_learning_poc_spark.catalog import load_table

    ev = load_table(spark, SF_DIR, "events")
    halves = [
        ev.filter(F.col("event_id") % 2 == i)
        .select(
            "event_type",
            F.bitmap_bucket_number("user_id").alias("bkt"),
            F.bitmap_bit_position("user_id").alias("pos"),
        )
        .groupBy("event_type", "bkt")
        .agg(F.bitmap_construct_agg("pos").alias("bm"))
        for i in (0, 1)
    ]
    folded = {
        r["event_type"]: r["n"]
        for r in halves[0]
        .unionByName(halves[1])
        .groupBy("event_type", "bkt")
        .agg(F.bitmap_or_agg("bm").alias("bm"))
        .groupBy("event_type")
        .agg(F.sum(F.bitmap_count("bm")).alias("n"))
        .collect()
    }
    oneshot = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert folded == oneshot


def test_bitmap_intersection_semantics(spark):
    """Planted check of the AND-bitmap funnel overlap: users present on both
    sides are counted once; one-sided users and one-sided buckets are not."""
    rows = [
        # user 1: both types same day; user 2: view only; user 40000:
        # purchase only (different bitmap bucket from the others);
        # user 3: both, but on different days -> excluded
        (1, "view", "2024-01-01"), (1, "purchase", "2024-01-01"),
        (2, "view", "2024-01-01"),
        (40000, "purchase", "2024-01-01"),
        (3, "view", "2024-01-01"), (3, "purchase", "2024-01-02"),
    ]
    df = spark.createDataFrame(
        [(u, t, f"{d} 00:00:00") for u, t, d in rows],
        "user_id: long, event_type: string, ts_s: string",
    ).select("user_id", "event_type", F.to_timestamp("ts_s").alias("ts"))
    per_type = (
        df.select(
            F.to_date("ts").alias("day"),
            "event_type",
            F.bitmap_bucket_number("user_id").alias("bkt"),
            F.bitmap_bit_position("user_id").alias("pos"),
        )
        .groupBy("day", "event_type", "bkt")
        .agg(F.bitmap_construct_agg("pos").alias("bm"))
    )
    both = (
        per_type.groupBy("day", "bkt")
        .agg(F.bitmap_and_agg("bm").alias("bm_and"), F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") == 2)
    )
    got = {
        str(r["day"]): r["n_both"]
        for r in both.groupBy("day")
        .agg(F.sum(F.bitmap_count("bm_and")).alias("n_both"))
        .filter(F.col("n_both") > 0)
        .collect()
    }
    assert got == {"2024-01-01": 1}


def test_hll_sketch_state_survives_parquet_roundtrip(spark, tmp_path):
    """Sketch state is STORABLE, not just mergeable in-plan: per-half HLL
    sketches written to parquet as binary, read back, and hll_union_agg'd
    must estimate the same value as the one-shot sketch — the persisted
    daily-rollup pattern."""
    from big_data_analytics_machine_learning_poc_spark.catalog import load_table

    ev = load_table(spark, SF_DIR, "events")
    path = str(tmp_path / "hll_state")
    (
        ev.withColumn("half", F.col("event_id") % 2)
        .groupBy("event_type", "half")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .write.mode("overwrite")
        .parquet(path)
    )
    folded = {
        r["event_type"]: r["est"]
        for r in spark.read.parquet(path)
        .groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .collect()
    }
    oneshot = {
        r["event_type"]: r["est"]
        for r in ev.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est"))
        .collect()
    }
    assert folded == oneshot


def test_bitmap_bijective_over_zero_and_negative_ids(spark):
    """The lane's correctness rests on (bucket_number, bit_position) being a
    bijection of the id. Pin that it holds beyond the testdata's positive
    ids — zero and negative ids (plausible after an upstream cast bug or
    surrogate-key scheme) must still count exactly."""
    df = spark.range(-70_000, 70_000).select(F.col("id").alias("user_id"))
    n = (
        df.groupBy(F.bitmap_bucket_number("user_id").alias("bkt"))
        .agg(F.bitmap_construct_agg(F.bitmap_bit_position("user_id")).alias("bm"))
        .agg(F.sum(F.bitmap_count("bm")).alias("n"))
        .collect()[0]["n"]
    )
    assert n == 140_000


def test_wau_rolling_bitmap_planted(spark, tmp_path):
    """Hand-computed rolling 7-day WAU: user 1 active on days 1 and 10,
    user 2 on day 3, user 3 daily on days 8-9. Windows must count each
    user once however often they appear in the trailing week, and the
    empty-bitmap grid seeding must anchor windows on days where a bucket
    has trailing-window activity but none on the day itself."""
    import datetime as dt

    from big_data_analytics_machine_learning_poc_spark.operators.sketches import (
        events_wau_rolling_bitmap,
    )

    def ev(i, day, user):
        return (i, dt.datetime(2024, 1, day, 12, 0), user, "click", 1.0, "{}")

    rows = [
        ev(1, 1, 1),
        ev(2, 3, 2),
        ev(3, 8, 3),
        ev(4, 9, 3),
        ev(5, 9, 3),  # same user twice in window -> still 1
        ev(6, 10, 1),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    got = {
        r["day"].isoformat(): r["wau"]
        for r in events_wau_rolling_bitmap(spark, str(tmp_path)).collect()
    }
    # days with events: 1, 3, 8, 9, 10; window = [d-6, d] inclusive
    assert got == {
        "2024-01-01": 1,  # {u1}
        "2024-01-03": 2,  # {u1@d1, u2@d3}
        "2024-01-08": 2,  # {u2@d3, u3@d8}; u1@d1 aged out (d8-6 = d2)
        "2024-01-09": 2,  # {u2@d3 (d9-6 = d3, boundary INCLUDED), u3}
        "2024-01-10": 2,  # {u3@d8-9, u1@d10}; u2 aged out
    }
