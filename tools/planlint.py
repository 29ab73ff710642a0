"""Full-registry physical-plan lint (see big_data_analytics_machine_learning_poc_spark/plans/lint.py).

    python tools/planlint.py [sf_dir] [query ...]

Constructs every registered query (streaming/ML queries execute their
harness during construction — expect a few minutes) and scans the executed
plan for scale anti-patterns. Exit 1 on any unjustified hit.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.lanerun import select, session


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    reg = select(sys.argv[2:])

    from big_data_analytics_machine_learning_poc_spark.plans.barrier import capture_subtrees
    from big_data_analytics_machine_learning_poc_spark.plans.lint import lint_query

    spark = session("planlint")
    n_clean = n_allowed = n_bad = n_err = 0
    for name, fn in reg.queries.items():
        try:
            # capture pre-barrier subtrees so patterns behind a
            # localCheckpoint can't pass silently (ADVICE r6)
            with capture_subtrees() as subtrees:
                df = fn(spark, sf_dir)
            violations, allowed = lint_query(name, df, subtrees)
        except Exception as e:  # noqa: BLE001 — report and keep sweeping
            print(f"ERR   {name}: {type(e).__name__}: {str(e)[:150]}")
            n_err += 1
            continue
        if violations:
            print(f"BAD   {name}: {sorted(violations)}")
            n_bad += 1
        elif allowed:
            print(f"allow {name}: {sorted(allowed)}")
            n_allowed += 1
        else:
            n_clean += 1
    print(f"\n{n_clean} clean, {n_allowed} allowed, {n_bad} bad, {n_err} errors")
    spark.stop()
    return 1 if n_bad or n_err else 0


if __name__ == "__main__":
    raise SystemExit(main())
