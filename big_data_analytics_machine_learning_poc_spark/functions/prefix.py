"""Range-partitioned two-phase prefix (cumulative) sum.

An ordered window with no partition key forces EVERY row through one
task — the classic scale killer the plan lint bans. The distributed
rendering is the textbook two-phase scan:

1. range-partition by the order key (each partition holds a contiguous
   key range, sorted within);
2. per-partition LOCAL running sum (a window partitioned by the physical
   partition id — parallel across partitions);
3. per-partition TOTALS — a |partitions|-row aggregate — cumulated on the
   driver into exclusive carries and broadcast back;
4. final value = local running sum + carry of all earlier partitions.

Cost: one range shuffle + one tiny (|partitions|-row) collect+broadcast,
vs the single-task global window. Exact for integer sums under any
partitioning PROVIDED the order key is unique (with duplicate keys the
prefix over a tie group is order-dependent by definition — callers pass a
unique key, e.g. the per-distinct-score frame of ml_auc_rank_sum).
Property-tested against the global-window form at several partition
counts (tests/test_properties.py)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .ckpt import pin


def partitioned_prefix_sum(
    df: DataFrame,
    order_col: str,
    value_col: str | Column,
    out_col: str,
    num_partitions: int | None = None,
    exclusive: bool = False,
    check_unique: bool = False,
) -> DataFrame:
    """Add ``out_col`` = cumulative sum of ``value_col`` in ``order_col``
    order (inclusive by default; ``exclusive=True`` sums strictly-earlier
    rows only). ``order_col`` values must be unique — see module
    docstring; with duplicates the prefix over a tie group is
    order-DEPENDENT and silently nondeterministic, so ``check_unique``
    (one extra count-distinct aggregate — pay it in tests/first runs,
    skip it in steady state) makes the contract loud instead."""
    return partitioned_prefix_sums(
        df,
        order_col,
        [(value_col, out_col)],
        num_partitions=num_partitions,
        exclusive=exclusive,
        check_unique=check_unique,
    )


def partitioned_prefix_sums(
    df: DataFrame,
    order_col: str,
    values: list[tuple[str | Column, str]],
    num_partitions: int | None = None,
    exclusive: bool = False,
    check_unique: bool = False,
) -> DataFrame:
    """N prefix sums over the SAME order key in ONE pass: each
    ``(value_col, out_col)`` in ``values`` gets its cumulative sum in
    ``order_col`` order. Stacking N single-value calls pays N range
    shuffles, N checkpoints, N totals collects and N window sorts over
    identically-ordered data; every one of those is order-key-invariant,
    so one pass computes all N columns for the cost of one (r12: halved
    parts_pareto_share's prefix machinery — cum_cents and rnk share the
    exchange). Same uniqueness contract as ``partitioned_prefix_sum``.

    Values must be INTEGER columns: the per-partition carries are
    cumulated driver-side as Python ints into a ``long`` carry schema —
    exact under any partitioning. A float/decimal value column would
    produce carries the long schema rejects (or silently mis-types);
    derive an integer representation first (the cents idiom).

    ``num_partitions`` defaults to the session's ``defaultParallelism``
    (scale-adaptive, r13): the result is partition-count-INVARIANT for a
    unique order key (property-tested), so the count only tunes the
    shuffle fan-out — a literal here would be tuned to one box, and the
    driver-side carry cumulation is O(partitions), so scaling it is
    cheap."""
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    cols = [
        (F.col(v) if isinstance(v, str) else v, out) for v, out in values
    ]
    if check_unique:
        n, d = df.agg(
            F.count(order_col).alias("n"), F.count_distinct(order_col).alias("d")
        ).collect()[0]
        if n != d:
            raise ValueError(
                f"partitioned prefix sum: order column {order_col!r} has "
                f"{n - d} duplicate value(s) — the prefix over a tie group "
                f"is order-dependent; pass a composite unique key"
            )
    # localCheckpoint: the frame is evaluated by TWO jobs below (the
    # totals collect and the final result), and pid assignment must be
    # IDENTICAL in both — RangePartitioner samples boundaries from the
    # input, and an upstream re-evaluation that spills or reorders rows
    # could sample different boundaries, silently shifting a
    # boundary-adjacent row's carry by a whole partition total.
    # Materializing once makes the pid map a fact, not a replay; it also
    # avoids re-running the upstream plan per job. Callers pass
    # aggregate-grain frames (per-score, per-part), so the checkpoint is
    # small relative to the data that produced it.
    ranged = pin(
        df.repartitionByRange(num_partitions, order_col)
        .withColumn("_pp_pid", F.spark_partition_id())
    )
    hi = -1 if exclusive else 0
    w = (
        Window.partitionBy("_pp_pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, hi)
    )
    local = ranged
    for i, (value, _out) in enumerate(cols):
        local = local.withColumn(
            f"_pp_local{i}", F.coalesce(F.sum(value).over(w), F.lit(0))
        )
    # per-partition totals: tiny (one row per partition) — the exclusive
    # carry for partition p is the sum of all earlier partitions' totals.
    # Totals are keyed by pid; range partitioning makes pid order == key
    # order, which the property test pins. One aggregate row per
    # partition regardless of how many values are cumulated.
    totals = (
        ranged.groupBy("_pp_pid")
        .agg(
            *[
                F.coalesce(F.sum(value), F.lit(0)).alias(f"_pp_total{i}")
                for i, (value, _out) in enumerate(cols)
            ]
        )
        .collect()
    )
    carry_rows = []
    running = [0] * len(cols)
    for row in sorted(totals, key=lambda r: r["_pp_pid"]):
        carry_rows.append((row["_pp_pid"], *running))
        running = [
            running[i] + row[f"_pp_total{i}"] for i in range(len(cols))
        ]
    spark = df.sparkSession
    carry_schema = "_pp_pid int, " + ", ".join(
        f"_pp_carry{i} long" for i in range(len(cols))
    )
    from .localrows import local_rows_df

    # |partitions| rows as one Arrow batch — the default sliced Python RDD
    # paid a worker round trip per slice inside every broadcast build (r13)
    carries = local_rows_df(spark, carry_rows, carry_schema)
    out = local.join(F.broadcast(carries), "_pp_pid")
    for i, (_value, out_col) in enumerate(cols):
        out = out.withColumn(
            out_col, F.col(f"_pp_local{i}") + F.col(f"_pp_carry{i}")
        )
    return out.drop(
        "_pp_pid",
        *[f"_pp_local{i}" for i in range(len(cols))],
        *[f"_pp_carry{i}" for i in range(len(cols))],
    )
