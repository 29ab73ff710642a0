"""Three-scale-factor differential sweep (VERDICT r5 ask #6).

The driver's correctness gate runs at ONE scale factor (sf0.01); the r5
full sweep at sf0.1 caught a real defect (a banker's-rounding fork in
the readability UDF) that sf0.01's data simply never exercised — value
distributions, group cardinalities, and rounding boundaries all shift
with SF. This wrapper makes multi-SF sweeping a one-command round-
checklist item instead of an ad-hoc heroic:

    python tools/sweep3.py lane1 [lane2 ...]   # pre-commit: CHANGED lanes
                                               # at sf0.001 + sf0.1 (the
                                               # gate SF sf0.01 is covered
                                               # by tools/compare.py runs)
    python tools/sweep3.py --full              # round close: EVERY lane at
                                               # sf0.001 + sf0.01 + sf0.1

One Spark session serves all SFs; per-SF DuckDB connections register the
matching parquet views. DIAG sidecars get an ``@sf`` suffix at non-gate
SFs so the canonical sf0.01 artifacts are never clobbered. Exit 1 on any
failure at any SF.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.compare import sweep
from tools.lanerun import select, session

_SF_ROOT = "/root/testdata"
_PRECOMMIT_SFS = ("sf0.001", "sf0.1")
_FULL_SFS = ("sf0.001", "sf0.01", "sf0.1")


def main() -> int:
    args = sys.argv[1:]
    full = "--full" in args
    only = [a for a in args if not a.startswith("--")]
    if not full and not only:
        print(__doc__)
        return 2
    select(only)  # a misspelled name exits 2 before a session starts

    sfs = _FULL_SFS if full else _PRECOMMIT_SFS
    spark = session("sweep3")
    totals = []
    failed = False
    for sf in sfs:
        sf_dir = os.path.join(_SF_ROOT, sf)
        print(f"\n=== {sf_dir} ===")
        suffix = "" if sf == "sf0.01" else f"@{sf}"
        n_pass, n_fail, n_rowsonly = sweep(spark, sf_dir, only, suffix)
        totals.append((sf, n_pass, n_fail, n_rowsonly))
        failed = failed or n_fail > 0
    spark.stop()

    print()
    for sf, n_pass, n_fail, n_rowsonly in totals:
        print(f"{sf}: {n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
