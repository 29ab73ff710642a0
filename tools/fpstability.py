"""Rows-only fingerprint-stability sweep (VERDICT r6 ask #8).

    python tools/fpstability.py [sf_dir] [--runs N]    # default sf0.01, N=2

The ~23 rows-only lanes (no SQL oracle — model outputs, hash buckets,
iterative floats) are pinned by goldens and DIAG fingerprints instead of
the DuckDB differential. Those pins are only meaningful if the lane is
RUN-STABLE: the r6 GBT sidecar drift (accuracy 0.998333 vs 0.998418
across identically-seeded runs — randomSplit's partition dependence,
since pinned at the fixture layer) showed a drifting lane reads as
signal churn. This tool executes every ORACLE-LESS lane N times in one
session and diffs the order-insensitive value fingerprints; any drift is
listed with the first differing normalized row. Exit 1 on drift.

Known-unstable lanes can be declared in _TOLERATED with the reason the
instability is inherent; they are reported but don't fail the sweep.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.lanerun import run, select, session

# lane -> why run-to-run drift is inherent (documented, not a defect)
_TOLERATED: dict[str, str] = {
    "agg_kll_value_quantiles": (
        "KLL compaction is randomized by design (Datasketches) and merge "
        "order is task-scheduling-dependent, so the returned order "
        "statistics wobble WITHIN the ±1.3% rank-error bound that "
        "tests/test_sketches.py::test_kll_quantiles_within_rank_error "
        "certifies against the exact CDF; the exact_* audit columns are "
        "run-stable. Pinning would mean single-partition sketching, "
        "defeating the lane's mergeable-state purpose."
    ),
}


def main() -> int:
    runs = 2
    argv = sys.argv[1:]
    if "--runs" in argv:
        i = argv.index("--runs")
        if i + 1 >= len(argv):
            print("ERROR: --runs requires a value", file=sys.stderr)
            return 2
        runs = int(argv[i + 1])
        del argv[i : i + 2]  # the value must not be misread as sf_dir
    args = [a for a in argv if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"

    from big_data_analytics_machine_learning_poc_spark.oracle import (
        fingerprint_matrix,
        normalized_matrix,
    )

    reg = select()
    rows_only = [n for n in reg.queries if n not in reg.oracles]
    spark = session("fpstability")
    n_stable = n_drift = n_err = 0
    for name in rows_only:
        fn = reg.queries[name]
        try:
            recs = [run(spark, name, fn, sf_dir) for _ in range(runs)]
        except Exception as e:  # noqa: BLE001 — report and keep sweeping
            print(f"ERR    {name}: {type(e).__name__}: {str(e)[:150]}")
            n_err += 1
            continue
        mats = [normalized_matrix(r["columns"], r["rows"]) for r in recs]
        fps = [fingerprint_matrix(m) for m in mats]
        if len(set(fps)) == 1:
            print(f"stable {name} [{len(mats[0])} rows]")
            n_stable += 1
            continue
        # diagnose against the first RUN PAIR whose fingerprints differ —
        # with --runs > 2 the drift may be between later runs, and diffing
        # runs 0/1 would print a nonsense "<row-count differs> N vs N"
        i = next(j for j in range(1, len(fps)) if fps[j] != fps[0])
        base, other = mats[0], mats[i]
        first_diff = next(
            (pair for pair in zip(base, other) if pair[0] != pair[1]),
            ("<row-count differs>", f"{len(base)} vs {len(other)}"),
        )
        tag = "TOLERATED" if name in _TOLERATED else "DRIFT"
        print(f"{tag}  {name}: {fps} first-diff={first_diff}")
        if name not in _TOLERATED:
            n_drift += 1
    print(f"\n{n_stable} stable, {n_drift} drifting, {n_err} errors ({runs} runs each)")
    spark.stop()
    return 1 if n_drift or n_err else 0


if __name__ == "__main__":
    raise SystemExit(main())
