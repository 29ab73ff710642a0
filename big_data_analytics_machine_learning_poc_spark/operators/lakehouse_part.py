"""Iceberg hidden-partitioning lanes (VERDICT r10 ask #1): transform-
partitioned tables — ``days(ts)`` on the events stream table and
``bucket(N, key)`` on customer — whose reads are partition-PRUNED through
the transform, under the DuckDB oracle gate.

Doctrine as ``lakehouse_ops``: each lane materializes a real Iceberg v2
table in a tempdir, drives the public write/scan surface, and reduces to
an aggregate the oracle re-derives from the source parquet alone. The
pruning itself is enforced LOUDLY inside the lane (a read that stops
skipping files raises, turning the driver row red) while the returned
frame stays purely data-derived so the hash comparison is exact. Lives in
its own module so the rotation ledger's closure digest doesn't re-flag
the green lakehouse_ops lanes.

Scale shape: this is the 100 TB event-table layout — ``days(ts)`` means a
time-range read plans O(days touched) files instead of O(table), and
``bucket(N, key)`` is the standard skew/point-lookup tool; both prune at
PLANNING time from Avro manifest partition tuples and field summaries,
before any Spark task exists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import QueryRegistry

REG = QueryRegistry()


@REG.add(
    "iceberg_days_prune_audit",
    sql="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
      AND ts <  TIMESTAMP '2024-01-08 00:00:00'
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def iceberg_days_prune_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden partitioning on the spec's flagship shape: events laid out
    ``days(ts)`` (reference has no lakehouse layer at all — this is the
    engine-relative gap VERDICT r10 ranked first). The write derives each
    row's partition day JVM-side (``to_date``), the manifest records
    epoch-day tuples and per-field summaries, and a 3-of-30-day time-range
    read is file-pruned through the transform AT PLANNING TIME — the
    reader names only the source column ``ts``, never the partition field
    (spec §Partition Transforms: "hidden partitioning"). The lane RAISES
    unless the plan skipped ≥ half the files (30 days of data, 3 kept), so
    a pruning regression turns this driver row red; the returned aggregate
    is re-derived by the oracle from the source parquet, so a hash match
    also proves the transform write/read cycle loses and invents nothing.

    Scale: at 100 TB this is the difference between planning ~3/30 of the
    table and scanning all of it; pruning is O(manifest entries) on the
    driver, zero tasks."""
    import shutil
    import tempfile

    from ..sources.iceberg_lite import plan_scan, read_iceberg, write_iceberg
    from ..streaming.events import spill_to_session_parquet

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    table = tempfile.mkdtemp(prefix="ice_days_")
    try:
        write_iceberg(
            ev.repartition(F.to_date("ts")), table, partition_cols=["days(ts)"]
        )
        lo, hi = "2024-01-05 00:00:00", "2024-01-07 23:59:59.999999"
        plan = plan_scan(table, scan_filter=("ts", lo, hi))
        if not plan["files"] or len(plan["files"]) * 2 > plan["files_total_in_read"]:
            raise AssertionError(
                f"days(ts) pruning regressed: kept {len(plan['files'])} of "
                f"{plan['files_total_in_read']} files for a 3-of-30-day range"
            )
        got = read_iceberg(spark, table, scan_filter=("ts", lo, hi)).filter(
            (F.col("ts") >= F.lit("2024-01-05 00:00:00").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-08 00:00:00").cast("timestamp"))
        )
        out = (
            got.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("event_id").alias("sum_event_id"),
                F.countDistinct("user_id").alias("n_users"),
                F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                    "value_cents"
                ),
            )
            .orderBy("event_type")
        )
        return spill_to_session_parquet(out, "iceberg_days_prune")
    finally:
        shutil.rmtree(table, ignore_errors=True)


@REG.add(
    "iceberg_bucket_prune_audit",
    sql="""
    SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
           CAST(c_nationkey AS BIGINT) AS c_nationkey,
           CAST(CAST(ROUND(c_acctbal * 100) AS BIGINT) AS BIGINT)
             AS acctbal_cents
    FROM customer
    WHERE c_custkey IN (7, 42, 113)
    ORDER BY c_custkey
    """,
)
def iceberg_bucket_prune_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``bucket(8, c_custkey)`` — the spec's skew/point-lookup transform,
    hashed with Appendix B's murmur3_x86_32 (write-side bucketing is a
    vectorized Arrow batch, not per-row Python). Three point lookups each
    plan through the driver-side bucket hash and must touch at most the
    matching bucket's files — the lane RAISES if any lookup reads more
    than half the table's files, so losing the hash→bucket prune turns
    this row red. Values come back via the pruned reads themselves, so the
    oracle hash also proves bucketed writes scatter/gather losslessly.

    Scale: a key lookup on a 100 TB bucketed table plans 1/N of the files
    with zero data tasks spent locating it; N=8 here is a demonstration
    value — the library takes it as a parameter."""
    import shutil
    import tempfile

    from ..sources.iceberg_lite import plan_scan, read_iceberg, write_iceberg
    from ..streaming.events import spill_to_session_parquet

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    table = tempfile.mkdtemp(prefix="ice_bucket_")
    try:
        write_iceberg(
            cust.repartition(4), table, partition_cols=["bucket(8, c_custkey)"]
        )
        total = plan_scan(table)["files_total_in_read"]
        frames = []
        for key in (7, 42, 113):
            plan = plan_scan(table, scan_filter=("c_custkey", key, key))
            if len(plan["files"]) * 2 > total:
                raise AssertionError(
                    f"bucket(8) point-lookup pruning regressed: key {key} "
                    f"kept {len(plan['files'])} of {total} files"
                )
            frames.append(
                read_iceberg(
                    spark, table, scan_filter=("c_custkey", key, key)
                ).filter(F.col("c_custkey") == key)
            )
        got = frames[0].unionByName(frames[1]).unionByName(frames[2])
        out = got.select(
            "c_custkey",
            "c_nationkey",
            F.round(F.col("c_acctbal") * 100).cast("long").alias("acctbal_cents"),
        ).orderBy("c_custkey")
        return spill_to_session_parquet(out, "iceberg_bucket_prune")
    finally:
        shutil.rmtree(table, ignore_errors=True)


@REG.add(
    "iceberg_cdf_audit",
    sql="""
    SELECT 'delete' AS change_type, CAST(2 AS BIGINT) AS commit_seq,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(c_custkey) AS BIGINT) AS sum_custkey,
           CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS acctbal_cents
    FROM customer WHERE c_custkey % 10 = 3
    UNION ALL
    SELECT 'delete', CAST(3 AS BIGINT),
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(c_custkey) AS BIGINT),
           CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
    FROM customer WHERE c_custkey % 10 = 4
    UNION ALL
    SELECT 'insert', CAST(3 AS BIGINT),
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(c_custkey) AS BIGINT),
           CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
    FROM customer WHERE c_custkey % 10 IN (3, 4)
    ORDER BY change_type, commit_seq
    """,
)
def iceberg_cdf_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg changelog read (VERDICT r10 ask #2 — CDF parity with
    ``delta_lite.table_changes``): replay the merge-audit timeline — seq 1
    bulk load, seq 2 row-level DELETE of the %10=3 keys (position
    deletes), seq 3 CDC upsert that updates the %10=4 rows (segment →
    'MERGED') and re-inserts the deleted keys (equality deletes + new
    files, ZERO target scan at write) — then derive "what changed after
    seq 1" from the manifests alone via
    ``iceberg_lite.iceberg_table_changes``: nothing was written for CDF at
    commit time. The deletes surface with FULL pre-images (the position
    deletes by re-reading exactly the addressed rows; the equality deletes
    by keying into the parent-visible state with strictly-older sequence
    numbers, so the upsert's own re-inserts don't self-delete), and the
    oracle re-derives every aggregate from the source table alone: seq-2
    deletes = the %10=3 old images, seq-3 deletes = the %10=4 old images
    (NOT the %10=3 keys — they had no visible rows), seq-3 inserts = both
    groups' new images.

    Scale shape: inserts and position-delete pre-images cost O(changed
    rows); the equality-delete pre-image pass is one distributed semi-join
    against the parent-visible scan — the same cost as reading the table
    once, which is what any engine pays to materialize upsert pre-images
    it never wrote."""
    import shutil
    import tempfile

    from ..sources.iceberg_lite import (
        delete_where,
        iceberg_table_changes,
        upsert_by_key,
        write_iceberg,
    )
    from ..streaming.events import spill_to_session_parquet

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    table = tempfile.mkdtemp(prefix="ice_cdf_")
    try:
        write_iceberg(cust.repartition(4), table)  # seq 1
        delete_where(spark, table, "c_custkey % 10 = 3")  # seq 2
        updates = cust.filter(F.col("c_custkey") % 10 == 4).withColumn(
            "c_mktsegment", F.lit("MERGED")
        )
        reinserts = cust.filter(F.col("c_custkey") % 10 == 3)
        upsert_by_key(
            spark,
            table,
            updates.unionByName(reinserts).select(
                "c_custkey", "c_mktsegment", "c_acctbal"
            ),
            ["c_custkey"],
        )  # seq 3
        out = (
            iceberg_table_changes(spark, table, from_seq=1)
            .groupBy(
                F.col("_change_type").alias("change_type"),
                F.col("_commit_seq").alias("commit_seq"),
            )
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("c_custkey").alias("sum_custkey"),
                F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).alias(
                    "acctbal_cents"
                ),
            )
            .orderBy("change_type", "commit_seq")
        )
        return spill_to_session_parquet(out, "iceberg_cdf")
    finally:
        shutil.rmtree(table, ignore_errors=True)


@REG.add(
    "iceberg_merge_clauses",
    sql="""
    WITH final AS (
      -- unmatched target rows: keys the source doesn't carry
      SELECT c_custkey, c_mktsegment, c_acctbal
      FROM customer WHERE c_custkey % 10 NOT IN (2, 3, 4)
      UNION ALL
      -- WHEN MATCHED AND t.segment='BUILDING' THEN DELETE removed those;
      -- the unconditional second clause updated the rest from the source
      SELECT c_custkey, c_mktsegment, ROUND(c_acctbal * 2, 2) + 1000
      FROM customer
      WHERE c_custkey % 10 IN (2, 3, 4) AND c_mktsegment <> 'BUILDING'
      UNION ALL
      -- WHEN NOT MATCHED AND s.acctbal > 0 THEN INSERT
      SELECT c_custkey + 1000000, 'NEWSEG', ROUND(c_acctbal * 2, 2)
      FROM customer WHERE c_custkey % 10 = 7 AND ROUND(c_acctbal * 2, 2) > 0
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(c_custkey) AS BIGINT) AS sum_custkey,
           CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS acctbal_cents
    FROM final
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def iceberg_merge_clauses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE with WHEN-clause routing (VERDICT r10 ask #8): one commit
    applies ``WHEN MATCHED AND t.c_mktsegment = 'BUILDING' THEN DELETE``
    (first-match-wins over) an unconditional ``UPDATE SET c_acctbal =
    s.c_acctbal + 1000`` referencing BOTH sides, plus ``WHEN NOT MATCHED
    AND s.c_acctbal > 0 THEN INSERT``. Every action routes through the
    merge-on-read machinery — clause-matched old images become position
    deletes, update images and accepted inserts become new data files, one
    snapshot — and the oracle re-derives the final table from the source
    parquet alone, so the hash match certifies the clause semantics
    (delete-vs-update routing, first-match-wins, untouched unmatched rows,
    insert filtering) end to end.

    Scale shape: ONE distributed pass computes the clause decision and all
    update images together (vectorized when-chains); cost is O(matched +
    inserted), with the target read once."""
    import shutil
    import tempfile

    from ..sources.iceberg_lite import merge_iceberg, read_iceberg, write_iceberg
    from ..streaming.events import spill_to_session_parquet

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    table = tempfile.mkdtemp(prefix="ice_mrg_")
    try:
        write_iceberg(cust.repartition(4), table)
        source = (
            cust.filter((F.col("c_custkey") % 10).isin(2, 3, 4))
            .select(
                "c_custkey",
                "c_mktsegment",
                F.round(F.col("c_acctbal") * 2, 2).alias("c_acctbal"),
            )
            .unionByName(
                cust.filter(F.col("c_custkey") % 10 == 7).select(
                    (F.col("c_custkey") + 1000000).alias("c_custkey"),
                    F.lit("NEWSEG").alias("c_mktsegment"),
                    F.round(F.col("c_acctbal") * 2, 2).alias("c_acctbal"),
                )
            )
        )
        merge_iceberg(
            spark,
            table,
            source,
            ["c_custkey"],
            when_matched=[
                ("t.c_mktsegment = 'BUILDING'", "delete"),
                (None, {"update": {"c_acctbal": "s.c_acctbal + 1000"}}),
            ],
            when_not_matched_insert="c_acctbal > 0",
        )
        out = (
            read_iceberg(spark, table)
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("c_custkey").alias("sum_custkey"),
                F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).alias(
                    "acctbal_cents"
                ),
            )
            .orderBy("c_mktsegment")
        )
        return spill_to_session_parquet(out, "iceberg_merge_clauses")
    finally:
        shutil.rmtree(table, ignore_errors=True)


@REG.add(
    "delta_merge_clauses",
    sql="""
    WITH final AS (
      SELECT c_custkey, c_mktsegment, c_acctbal
      FROM customer WHERE c_custkey % 10 NOT IN (2, 3, 4)
      UNION ALL
      SELECT c_custkey, c_mktsegment, ROUND(c_acctbal * 2, 2) + 1000
      FROM customer
      WHERE c_custkey % 10 IN (2, 3, 4) AND c_mktsegment <> 'BUILDING'
      UNION ALL
      SELECT c_custkey + 1000000, 'NEWSEG', ROUND(c_acctbal * 2, 2)
      FROM customer WHERE c_custkey % 10 = 7 AND ROUND(c_acctbal * 2, 2) > 0
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(c_custkey) AS BIGINT) AS sum_custkey,
           CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS acctbal_cents
    FROM final
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def delta_merge_clauses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME clause-routed MERGE as ``iceberg_merge_clauses``, on the
    copy-on-write engine — the two lakehouses share one oracle, so a hash
    match on both lanes certifies that clause semantics (conditional
    DELETE over an unconditional both-sides UPDATE, first-match-wins,
    filtered INSERT) are engine-independent: merge-on-read position
    deletes and copy-on-write file rewrites produce the identical table.

    Scale shape: one inner join with the source finds the clause hits by
    row address (target read once); only files holding clause-hit rows
    rewrite — cost follows the match volume, not table size."""
    import shutil
    import tempfile

    from ..sources import delta_lite
    from ..streaming.events import spill_to_session_parquet

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    table = tempfile.mkdtemp(prefix="delta_mrg_")
    try:
        delta_lite.write_delta(cust.repartition(4), table)
        source = (
            cust.filter((F.col("c_custkey") % 10).isin(2, 3, 4))
            .select(
                "c_custkey",
                "c_mktsegment",
                F.round(F.col("c_acctbal") * 2, 2).alias("c_acctbal"),
            )
            .unionByName(
                cust.filter(F.col("c_custkey") % 10 == 7).select(
                    (F.col("c_custkey") + 1000000).alias("c_custkey"),
                    F.lit("NEWSEG").alias("c_mktsegment"),
                    F.round(F.col("c_acctbal") * 2, 2).alias("c_acctbal"),
                )
            )
        )
        delta_lite.merge_delta(
            spark,
            table,
            source,
            ["c_custkey"],
            when_matched=[
                ("t.c_mktsegment = 'BUILDING'", "delete"),
                (None, {"update": {"c_acctbal": "s.c_acctbal + 1000"}}),
            ],
            when_not_matched_insert="c_acctbal > 0",
        )
        out = (
            delta_lite.read_delta(spark, table)
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("c_custkey").alias("sum_custkey"),
                F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).alias(
                    "acctbal_cents"
                ),
            )
            .orderBy("c_mktsegment")
        )
        return spill_to_session_parquet(out, "delta_merge_clauses")
    finally:
        shutil.rmtree(table, ignore_errors=True)
