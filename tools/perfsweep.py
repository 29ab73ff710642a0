"""Registry-wide performance sweep — the perf twin of tools/rotation.py.

The correctness gate proves every lane RIGHT; nothing mechanically proved
lanes stayed FAST: a plan regression (lost broadcast, new shuffle, codegen
fallback) that keeps results identical would previously surface only if a
human re-read `.explain` output. This tool measures every registered lane
at a given sf-dir and diffs against a committed baseline, so a perf
regression fails loudly the same way a hash mismatch does.

Per lane: one untimed warm-up execution, then the median of N timed
executions (each = build the DataFrame from the registered callable +
``collect()``, so lanes that do driver-side assembly — PCA, BPE — are
charged their real cost). Every execution goes through
``tools/lanerun.run``, inside a ``functions.ckpt`` scope that releases
what the run made persistent after the timed span. A lane's entry keeps
the run record of its median run: jobs and stages, Catalyst phases,
exchanges and the persisted-RDD count before the run and after its scope
closed. Results land in one JSON file.

Usage::

    python tools/perfsweep.py /root/testdata/sf0.1                   # sweep
    python tools/perfsweep.py /root/testdata/sf0.1 lane1 lane2       # subset
    python tools/perfsweep.py /root/testdata/sf0.1 --runs 5
    python tools/perfsweep.py /root/testdata/sf0.1 \
        --baseline tools/perf_baseline.json --tolerance 3.0
        # exit 1 listing every lane slower than tolerance x its baseline
    python tools/perfsweep.py /root/testdata/sf0.1 \
        --write-baseline tools/perf_baseline.json

Baseline policy: the committed baseline records medians from a QUIET
machine (the sweep records loadavg; re-baseline only when loadavg_start
is low). The default tolerance is deliberately loose (3x) — this gate
exists to catch order-of-magnitude plan regressions, not scheduler noise;
Spark local-mode medians at sf0.1 wobble ~1.5x run-to-run.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
from dataclasses import asdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.lanerun import run, select, session


def _wall(rec: dict) -> float:
    return rec["build_s"] + rec["collect_s"]


def _summary(rec: dict) -> dict:
    """The JSON part of a run record: everything but the rows."""
    jobs = asdict(rec["jobs"])
    del jobs["intervals"]
    return {
        "build_s": round(rec["build_s"], 4),
        "collect_s": round(rec["collect_s"], 4),
        "jobs": {k: round(v, 4) for k, v in jobs.items()},
        "catalyst_phases": {k: round(v, 4) for k, v in rec["catalyst_phases"].items()},
        "exchanges": rec["exchanges"],
        "persisted_before": rec["persisted_before"],
        "persisted_after": rec["persisted_after"],
    }


def sweep(sf_dir: str, only: list[str], runs: int) -> dict:
    from big_data_analytics_machine_learning_poc_spark.session import default_cpus

    reg = select(only)
    loadavg_start = os.getloadavg()
    spark = session("perfsweep")
    results: dict[str, dict] = {}
    n = len(reg.queries)
    for i, (name, fn) in enumerate(reg.queries.items(), 1):
        try:
            first = run(spark, name, fn, sf_dir)  # warm-up / one-shot
            recs = sorted((run(spark, name, fn, sf_dir) for _ in range(runs)), key=_wall)
            median = recs[len(recs) // 2]
            results[name] = {
                "median_s": round(statistics.median(map(_wall, recs)), 4),
                "oneshot_s": round(_wall(first), 4),
                "rows": len(first["rows"]),
                "record": _summary(median),
            }
            print(
                f"[{i}/{n}] {name}: {results[name]['median_s']:.3f}s "
                f"(one-shot {_wall(first):.2f}s, {len(first['rows'])} rows, "
                f"{median['jobs'].jobs} jobs)",
                file=sys.stderr,
            )
        except Exception as e:  # noqa: BLE001 — record, keep sweeping
            results[name] = {"error": f"{type(e).__name__}: {str(e)[:200]}"}
            print(f"[{i}/{n}] {name}: ERROR {e}", file=sys.stderr)
    return {
        "sf_dir": sf_dir,
        "cpus": default_cpus(),
        "runs": runs,
        "loadavg_start": loadavg_start,
        "lanes": results,
    }


def diff_baseline(
    report: dict, baseline_path: str, tolerance: float, remeasure=None
) -> int:
    """Diff against the baseline; lanes past tolerance get ONE re-measure
    (via ``remeasure(names)``) before counting as failures. Rationale: a
    real plan regression (lost broadcast, new shuffle, codegen fallback)
    reproduces deterministically on an immediate retry in the same
    session, while transient noise — a 17-minute sweep sharing the box
    with another step's JVM teardown, a GC tail from a heavy neighbor —
    does not. The r8 batteries flagged 2-3 lanes each that were clean on
    every standalone re-run; a gate that cries wolf gets deleted, so the
    retry is part of the gate, not a softening of it (tolerance is
    unchanged and confirmed repeat offenders still fail)."""
    base = json.load(open(baseline_path))["lanes"]
    slow, errors = [], []
    for name, row in report["lanes"].items():
        if "error" in row:
            errors.append((name, row["error"]))
            continue
        b = base.get(name)
        if not b or "median_s" not in b:
            continue  # new lane — no baseline yet
        # floor at 0.2s: sub-200ms medians are scheduler noise territory
        if row["median_s"] > max(0.2, b["median_s"]) * tolerance:
            slow.append((name, b["median_s"], row["median_s"]))
    if slow and remeasure is not None:
        names = [n for n, _, _ in slow]
        print(f"retrying {len(names)} flagged lanes: {names}", file=sys.stderr)
        second = remeasure(names)["lanes"]
        confirmed = []
        for name, was, first in slow:
            row = second.get(name, {})
            if "error" in row:
                # the retry ERRORED — report that, not a stale first-pass
                # timing dressed up as a confirmed slowdown
                errors.append((name, f"errored on retry: {row['error']}"))
                continue
            now = row.get("median_s")
            if now is None or now > max(0.2, was) * tolerance:
                confirmed.append((name, was, now if now is not None else first))
            else:
                print(
                    f"RECOVERED {name}: {first:.3f}s -> {now:.3f}s on retry "
                    f"(baseline {was:.3f}s) — transient, not a regression",
                    file=sys.stderr,
                )
        slow = confirmed
    for name, err in errors:
        print(f"ERROR {name}: {err}")
        print(f"ERROR {name}: {err}", file=sys.stderr)
    for name, was, now in sorted(slow, key=lambda t: -t[2] / t[1]):
        line = f"SLOW  {name}: {was:.3f}s -> {now:.3f}s ({now / was:.1f}x)"
        print(line)
        print(line, file=sys.stderr)  # roundclose keeps only the stderr tail
    print(
        f"{len(report['lanes']) - len(slow) - len(errors)} ok, "
        f"{len(slow)} slow (> {tolerance}x baseline, retry-confirmed), "
        f"{len(errors)} errors"
    )
    return 1 if slow or errors else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir")
    ap.add_argument("lanes", nargs="*", help="subset of lane names")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--out", default=None, help="write the report JSON here")
    ap.add_argument("--baseline", default=None)
    ap.add_argument("--tolerance", type=float, default=3.0)
    ap.add_argument("--write-baseline", default=None)
    args = ap.parse_args()

    report = sweep(args.sf_dir, args.lanes, args.runs)
    out_path = args.out or args.write_baseline
    if out_path:
        # subset --write-baseline MERGES into an existing baseline instead
        # of truncating it to the subset (the same dropped-lanes hazard
        # ADVICE r5 #4 flagged for shufflebudget --baseline)
        if args.write_baseline and args.lanes and os.path.exists(out_path):
            with open(out_path) as f:
                prior = json.load(f)
            prior["lanes"].update(report["lanes"])
            prior["loadavg_start"] = report["loadavg_start"]
            report = prior
        with open(out_path, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
        print(f"report -> {out_path}", file=sys.stderr)
    elif not args.baseline:  # diff mode prints its own summary
        print(json.dumps(report, indent=1, sort_keys=True))
    if args.baseline:
        return diff_baseline(
            report,
            args.baseline,
            args.tolerance,
            remeasure=lambda names: sweep(args.sf_dir, names, args.runs),
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
