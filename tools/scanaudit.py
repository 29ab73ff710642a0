"""Registry-wide same-table scan audit (the r6 lens that found six lanes
re-scanning their corpus per plan consumer).

    python tools/scanaudit.py [sf_dir] [--min N]    # default sf0.01, N=4

For every registered lane, counts how often each parquet table appears in
the EXECUTED plan and prints lanes whose worst table is scanned >= N
times, plus the plan's ReusedExchange count. A high count with zero reuse
usually means a multi-consumer subtree Catalyst re-plans per reference —
the fix is one localCheckpoint at the compact frame (see SCALE.md
"Multi-consumer scan audit" for the r6 fixes AND the measured cases where
the checkpoint was net-negative and declined: the audit flags candidates,
the A/B measurement decides).

r7: scans are counted across the returned plan PLUS every pre-barrier
subtree captured by plans/barrier.capture_subtrees(), so checkpointing
lanes no longer under-report (the same ADVICE-r6 blindness fix as
plans/budget.lane_exchange_counts).

Reading the number under capture: it is PLAN OCCURRENCES, an upper bound
on scan executions. Occurrences within ONE segment mean Catalyst
re-planned a multi-consumer subtree per reference (the fixable
redundancy); occurrences across DIFFERENT segments each execute once per
lane (sequential phases re-reading the table — real I/O at 100 TB, but
often irreducible: you cannot build signatures without reading the
corpus). Driver-side jobs a lane runs during construction (e.g. a
``.count()`` steering a plan choice) are NOT captured — a pin can
therefore cut wall-clock without moving this count (measured on the
prefix-filter dfreq pin, r7). The audit flags candidates; the A/B
measurement decides.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.lanerun import select, session


def audit(spark, sf_dir: str, min_scans: int = 4) -> tuple[list[tuple[int, int, str, list]], int]:
    """(lanes with >= ``min_scans`` same-table scans, worst first; number
    of lanes that errored)."""
    from big_data_analytics_machine_learning_poc_spark.plans.barrier import capture_subtrees
    from big_data_analytics_machine_learning_poc_spark.plans.budget import (
        table_scan_counts,
    )

    rows = []
    n_err = 0
    for name, fn in select().queries.items():
        try:
            with capture_subtrees() as subtrees:
                df = fn(spark, sf_dir)
            # table_scan_counts strips the executed subtrees' AQE Final
            # sections — without that, every scan in a checkpointed segment
            # double-counts (the r6 Exchange-ledger duplication class)
            tabs = table_scan_counts(df, subtrees)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001 — audit sweeps must finish
            print(f"ERR   {name}: {e!r}"[:160])
            n_err += 1
            continue
        worst = max(tabs.values()) if tabs else 0
        if worst >= min_scans:
            rows.append(
                (
                    worst,
                    plan.count("ReusedExchange"),
                    name,
                    sorted(tabs.items(), key=lambda kv: -kv[1])[:3],
                )
            )
    rows.sort(reverse=True)
    return rows, n_err


def main() -> int:
    min_scans = 4
    argv = sys.argv[1:]
    if "--min" in argv:
        i = argv.index("--min")
        if i + 1 >= len(argv):
            print("ERROR: --min requires a value", file=sys.stderr)
            return 2
        min_scans = int(argv[i + 1])
        del argv[i : i + 2]  # the value must not be misread as sf_dir
    args = [a for a in argv if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"

    spark = session("scanaudit")
    rows, n_err = audit(spark, sf_dir, min_scans)
    for worst, reused, name, tabs in rows:
        print(f"{worst:3d} scans  reused={reused:2d}  {name:40s} {tabs}")
    print(f"\n{len(rows)} lane(s) with >= {min_scans} same-table scans, {n_err} errors")
    return 1 if n_err else 0


if __name__ == "__main__":
    raise SystemExit(main())
