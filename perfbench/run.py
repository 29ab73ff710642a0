"""Benchmark of the PySpark engine over two workloads.

    python3 perfbench/run.py --workload tables --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

Run from the root of a checkout. One run measures one workload: it makes
the inputs from ``--seed``, sets the session up, plays whole passes of the
workload's ops for at least ``--seconds``, checks every output, and prints a
report followed by one JSON line with ``correct``, ``attempted``, ``failed``
and ``metrics``. With ``--trace 0`` the metrics are the end-to-end metrics
of ``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics,
and the spans go to ``.perfbench/out/<workload>-seed<n>-spans.jsonl``.
``--workload all`` runs every workload untraced and then traced, each in its
own process, and prints the tables side by side with the tracing overhead.

Result files land in ``.perfbench/out``; nothing is written outside
``.perfbench`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# figures printed in the report beside the end-to-end metrics, with units
REPORTED = {
    "prepared_p50_s": "s",
    "bytes_per_live_byte": "ratio",
    "failed_ops_ratio": "ratio",
    "op_p90_s": "s",
    "peak_rss_mib": "MiB",
    "cpu_steal_s": "s",
}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(bench, finish: dict) -> dict[str, float]:
    """Per-layer metrics of a traced run. Times of named calls are means
    per call; job, stage and Catalyst figures are means per op (Catalyst:
    per op that collected a query); storage is the reading after the last
    op."""
    own = [s for s in bench.tracer.spans if s.layer not in ("spark", "catalyst")]
    ops = bench.ops

    def calls(layer: str, name: str) -> float:
        return _mean(s.dur for s in own if s.layer == layer and s.name == name)

    def per_op(key: str) -> float:
        return _mean(r.layers[key] for r in ops if key in r.layers)

    v: dict[str, float] = {
        "session.start_s": statistics.median(s["start_s"] for s in bench.setups),
        "session.warmup_s": statistics.median(s["warmup_s"] for s in bench.setups),
        "operators.build_s": calls("operators", "build"),
        "collect.fresh_s": calls("collect", "fresh"),
        "collect.prepared_s": calls("collect", "prepared"),
        "collect.rows": _mean(s.attrs.get("rows", 0) for s in own if s.layer == "collect" and s.name == "fresh"),
        "operators.dedup.cc_s": calls("operators.dedup", "cc"),
    }
    for program in ("fixtures", "correlator", "random_forest", "spam", "tfidf_regression"):
        v[f"ml.{program}_s"] = calls("ml", program)
    for fmt in ("delta_lite", "iceberg_lite"):
        for kind in ("write", "delete", "update", "merge", "compact", "read"):
            v[f"sources.{fmt}.{kind}_s"] = calls("sources", f"{fmt}.{'append' if kind == 'write' else kind}")
    for key in ("sources.files_added", "sources.bytes_added", "sources.metadata_files"):
        v[key] = finish.get(key, 0)
    # Catalyst keys exist only on ops that collected a query; a run without
    # one still reports them, as 0
    keys = {k for r in ops for k in r.layers} | {
        "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s", "catalyst.exchanges"
    }
    for key in sorted(keys - {"busy_s", "storage.persisted_rdds", "storage.memory_used_bytes"}):
        v[key] = per_op(key)
    busy = sum(r.layers.get("busy_s", 0.0) for r in ops)
    v["spark.slot_utilization"] = sum(r.layers.get("spark.executor_run_s", 0.0) for r in ops) / (busy * bench.cpus)
    last = ops[-1].layers if ops else {}
    v["storage.persisted_rdds"] = last.get("storage.persisted_rdds", 0)
    v["storage.memory_used_bytes"] = last.get("storage.memory_used_bytes", 0)
    return v


def run_one(args) -> int:
    import harness
    from workloads import WORKLOADS

    spec = _spec()
    bench = harness.Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    bench.wd.configure_process()
    load_start = os.getloadavg()
    try:
        wl = WORKLOADS[args.workload](bench)
        t0 = time.perf_counter()
        wl.make_inputs()
        inputs_s = time.perf_counter() - t0
        bench.setup()
        env = bench.environment(load_start)
        t0 = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t0
        bench.play(wl.ops)
        finish = wl.finish()
    finally:
        bench.close()
        bench.wd.remove()
    env["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]

    e2e = bench.end_to_end()
    failures = bench.failures()
    n = len(bench.ops)
    extras = {
        "failed_ops_ratio": len(failures) / n,
        "op_p90_s": (
            statistics.quantiles([r.wall_s for r in bench.ops], n=10)[-1]
            if n >= 100
            else f"not reported: {n} ops < 100"
        ),
        "ops": n,
        "passes": bench.passes,
        "window_s": bench.window_s,
        "cpu_steal_s": bench.steal_s,
        "peak_rss_mib": bench.peak_rss_bytes / 2**20,
        "peak_rss_parts_mib": {k: v / 2**20 for k, v in bench.peak_rss_parts.items()},
        "setups": bench.setups,
        "inputs_s": inputs_s,
        "prepare_s": prepare_s,
        **{k: v for k, v in finish.items() if not k.startswith("sources.")},
    }
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    stem = os.path.join(bench.wd.out, f"{args.workload}-seed{args.seed}")
    record = {
        "workload": args.workload,
        "environment": env,
        "end_to_end": e2e,
        "extras": extras,
        "failures": failures,
        "ops": [
            {"op": r.index, "label": r.label, "wall_s": r.wall_s, "ok": r.problem is None, **r.extra, **r.layers}
            for r in bench.ops
        ],
    }
    if args.trace:
        layers = per_layer(bench, finish)
        record["per_layer"] = layers
        record["self_time_s"] = bench.tracer.self_times()
        bench.tracer.write(stem + "-spans.jsonl")
        record["overhead"] = _overhead(stem, e2e)
        metrics = {m["name"]: layers[m["name"]] for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
    with open(f"{stem}-trace{args.trace}.json", "w") as f:
        json.dump(record, f, indent=1, default=str)

    _print_report(record, units, args)
    print(
        json.dumps(
            {
                "correct": not failures,
                "attempted": n,
                "failed": len(failures),
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


def _overhead(stem: str, traced: dict) -> dict | str:
    """Traced minus untraced end-to-end figures, when an untraced result
    for the same workload and seed is in ``.perfbench/out``."""
    path = f"{stem}-trace0.json"
    if not os.path.exists(path):
        return "no untraced result for this workload and seed; run it with --trace 0 first"
    with open(path) as f:
        base = json.load(f)["end_to_end"]
    return {k: {"untraced": base[k], "traced": traced[k], "delta": traced[k] - base[k]} for k in base}


def _print_report(record: dict, units: dict, args) -> None:
    env = record["environment"]
    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print("  setup: " + ", ".join(f"{k}={v}" for k, v in env.items()))
    for name, value in record["end_to_end"].items():
        print(f"  {name:<28} {value:>14.6g} {units[name]}")
    for name, unit in REPORTED.items():
        if name in record["extras"]:
            value = record["extras"][name]
            shown = f"{value:>14.6g}" if isinstance(value, float) else f"{value!s:>14}"
            print(f"  {name:<28} {shown} {unit}")
    for fail in record["failures"]:
        print(f"  FAILED op {fail['op']} {fail['label']}: {fail['problem']}")
    if "per_layer" in record:
        for name, value in record["per_layer"].items():
            print(f"  {name:<36} {value:>14.6g} {units.get(name, '')}")
        for layer, secs in sorted(record["self_time_s"].items()):
            print(f"  self time {layer:<26} {secs:>14.6g} s")
        print(f"  tracing overhead: {record['overhead']}")


def run_all(args) -> int:
    """Every workload, untraced then traced, one process each."""
    spec = _spec()
    rows: dict[str, dict] = {}
    for wl in (w["name"] for w in spec["workloads"]):
        rows[wl] = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(trace)]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            if proc.returncode != 0:
                print(proc.stdout + proc.stderr, file=sys.stderr)
                return proc.returncode
            rows[wl][trace] = json.loads(proc.stdout.strip().splitlines()[-1])
            print(proc.stdout.rstrip())
    names = list(rows)
    print("\n" + " " * 36 + "".join(f"{w:>16}" for w in names))
    for trace, title in ((0, "end to end"), (1, "per layer")):
        print(title)
        for m in spec["end_to_end" if trace == 0 else "per_layer"]:
            vals = "".join(f"{rows[w][trace]['metrics'][m['name']]['value']:>16.6g}" for w in names)
            print(f"  {m['name']:<34}{vals} {m['unit']}")
    print("failed ops: " + ", ".join(f"{w} {rows[w][0]['failed']}/{rows[w][0]['attempted']}" for w in names))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "big_data_analytics_machine_learning_poc_spark")):
        print("perfbench: the engine package is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload == "all":
        return run_all(args)
    names = [w["name"] for w in _spec()["workloads"]]
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; one of {names} or 'all'", file=sys.stderr)
        return 2
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
