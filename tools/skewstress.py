"""Empirical skew-mitigation A/B harness (companion to scalecurve.py).

    python tools/skewstress.py [--rows 8000000] [--hot 0.4] [--runs 3]

SCALE.md and operators/skew.py ARGUE the two-layer skew defense (AQE
skew-join splitting + deterministic salting); this tool MEASURES it on a
controlled distribution, so the claim "salting/AQE neutralizes the hot
key" is a recorded number instead of prose. It synthesizes a fact table
whose join/agg key is deliberately pathological — one key owns a ``--hot``
fraction of all rows (default 40 %), the rest spread uniformly over ~20 k
keys — and times each shape at medians:

  join_plain      fact ⋈ dim, AQE skew-join OFF   (the straggler baseline:
                  the hot key's entire row mass lands on ONE sort-merge
                  task)
  join_aqe        same plan, AQE skew-join ON with thresholds scaled to
                  this corpus (the defaults trigger at 256 MB partitions —
                  right for a cluster, unreachably high for a local-mode
                  harness; production keeps the defaults)
  join_salted     operators/skew.py shape: fact key salted ×16, dim
                  exploded ×16 — skew eliminated BEFORE the shuffle, works
                  for any join the optimizer can't fix at runtime
  agg_plain       groupBy(key).sum — measures the shape that does NOT
                  need rescue: an associative aggregate's map-side
                  partial aggregation collapses the hot key to ONE row
                  per map partition before the shuffle, so the skew
                  never reaches a reducer (the first smoke run proved
                  it — salting a sum was 0.69x, pure overhead)
  agg_salted      salted_sum two-phase shape from operators/skew.py —
                  expected ~flat-to-slower here, recorded to pin the
                  "don't salt combinable aggs" half of the lesson
  agg_holistic_plain / agg_holistic_salted
                  the case salting EXISTS for: collect_list has no
                  partial reduction, so plain groupBy ships every hot-key
                  row to one reducer and materializes one giant array;
                  the salted two-phase collects per (key, salt) and
                  reduces the per-bucket results

The dimension side is forced OFF the broadcast path
(autoBroadcastJoinThreshold=-1): a 20 k-row dim would otherwise broadcast
and hide the skew entirely — which IS the first-choice fix when the dim
fits, but this harness measures the regime where it doesn't (the 100 TB
fact-to-fact case). Every variant's result row-count and checksum must
agree; a variant that "wins" by computing something else is a harness
bug, so disagreement aborts.

Local-mode honesty: with 32 cores and one JVM, the straggler penalty is
bounded by one task's runtime, not by a 1000-executor barrier wait — the
measured ratios UNDERSTATE the cluster-scale win. Treat "salted/AQE
beats plain by >~1.5x at hot=0.4" as shape confirmation, not a cluster
projection. Results land in DIAG/skewstress.json.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_SALTS = 16
N_KEYS = 20_000


def build(spark, rows: int, hot: float):
    """Deterministic skewed fact + uniform dim, materialized (localCheckpoint)
    so generation cost never contaminates the measured join/agg."""
    import pyspark.sql.functions as F

    # u in (0,1] from a hash of the row id: deterministic across runs/tasks
    # (rand() would break retry agreement and make runs incomparable)
    u = (F.pmod(F.xxhash64(F.col("id")), F.lit(1_000_000)) + 1) / 1_000_000.0
    fact = (
        spark.range(rows)
        .withColumn(
            "k",
            F.when(u <= hot, F.lit(0)).otherwise(
                (F.pmod(F.xxhash64(F.col("id"), F.lit(7)), F.lit(N_KEYS - 1)) + 1).cast("int")
            ),
        )
        .withColumn("v", F.pmod(F.col("id"), F.lit(1000)).cast("long"))
        .select("id", "k", "v")
        .repartition(64)  # spread the generated rows; the SHUFFLE under test
        .localCheckpoint()  # is the join/agg exchange, not range-partitioning
    )
    dim = (
        spark.range(N_KEYS)
        .select(F.col("id").cast("int").alias("k"), (F.col("id") % 97).alias("w"))
        .localCheckpoint()
    )
    return fact, dim


def _timed(fn, runs: int) -> tuple[float, tuple]:
    fn()  # warm: plan + codegen + page cache
    ts, sig = [], None
    for _ in range(runs):
        t0 = time.time()
        sig = fn()
        ts.append(time.time() - t0)
    return statistics.median(ts), sig


def main() -> int:
    rows, hot, runs = 8_000_000, 0.4, 3
    argv = sys.argv[1:]
    for flag, cast in (("--rows", int), ("--hot", float), ("--runs", int)):
        if flag in argv:
            i = argv.index(flag)
            if i + 1 >= len(argv):
                print(f"{flag} needs a value", file=sys.stderr)
                return 2
            val = cast(argv[i + 1])
            rows, hot, runs = (
                (val, hot, runs) if flag == "--rows" else
                (rows, val, runs) if flag == "--hot" else (rows, hot, val)
            )
            del argv[i : i + 2]
    if argv:
        print(f"unrecognized arguments: {argv}", file=sys.stderr)
        return 2

    import pyspark.sql.functions as F

    from big_data_analytics_machine_learning_poc_spark.operators.skew import salted_sum
    from big_data_analytics_machine_learning_poc_spark.session import default_cpus, get_session

    spark = get_session("skewstress", cpus=default_cpus())
    conf = spark.conf
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # measure the
    # non-broadcast regime; broadcast is the separate, first-choice fix
    fact, dim = build(spark, rows, hot)
    print(f"fact={rows} rows, hot key share={hot}, dim={N_KEYS} keys, salts={N_SALTS}")

    def join_plain():
        out = fact.join(dim, "k").groupBy().agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.col("v") * F.col("w")).alias("chk")
        ).collect()
        return (out[0]["n"], out[0]["chk"])

    def join_salted():
        dim_rep = dim.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(N_SALTS - 1)))
        )
        fct = fact.withColumn("_salt", F.pmod(F.col("id"), F.lit(N_SALTS)).cast("int"))
        out = fct.join(dim_rep, ["k", "_salt"]).groupBy().agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.col("v") * F.col("w")).alias("chk")
        ).collect()
        return (out[0]["n"], out[0]["chk"])

    def agg_plain():
        out = fact.groupBy("k").agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        r = out.groupBy().agg(F.count(F.lit(1)), F.sum("s"), F.sum("n")).collect()[0]
        return tuple(r)

    def agg_salted():
        out = salted_sum(fact, key="k", value=F.col("v"), value_alias="s", salt_from="id",
                         n_salts=N_SALTS)
        r = out.groupBy().agg(F.count(F.lit(1)), F.sum("s"), F.sum("n")).collect()[0]
        return tuple(r)

    # holistic aggregate: collect_list carries every row to its reducer
    # (no map-side combine exists). The reduction to (n_keys, total_len,
    # checksum) keeps the comparison signature tiny and identical across
    # shapes while the collect itself still pays the full skew cost.
    def agg_holistic_plain():
        out = fact.groupBy("k").agg(F.collect_list("v").alias("vs"))
        r = out.select(
            F.count(F.lit(1)).alias("g"),
            F.sum(F.size("vs")).alias("n"),
            F.sum(F.aggregate("vs", F.lit(0).cast("long"), lambda a, x: a + x)).alias("chk"),
        ).collect()[0]
        return tuple(r)

    def agg_holistic_salted():
        per_bucket = (
            fact.withColumn("_salt", F.pmod(F.col("id"), F.lit(N_SALTS)).cast("int"))
            .groupBy("k", "_salt")
            .agg(F.collect_list("v").alias("vs"))
            .select(
                "k",
                F.size("vs").alias("n"),
                F.aggregate("vs", F.lit(0).cast("long"), lambda a, x: a + x).alias("chk"),
            )
        )
        combined = per_bucket.groupBy("k").agg(F.sum("n").alias("n"), F.sum("chk").alias("chk"))
        r = combined.select(
            F.count(F.lit(1)).alias("g"), F.sum("n").alias("n"), F.sum("chk").alias("chk")
        ).collect()[0]
        return tuple(r)

    results: dict[str, float] = {}
    sigs: dict[str, tuple] = {}

    variants = [
        # (name, fn, {conf overrides})
        ("join_plain", join_plain, {"spark.sql.adaptive.skewJoin.enabled": "false"}),
        ("join_aqe", join_plain, {
            "spark.sql.adaptive.skewJoin.enabled": "true",
            # scale the trigger to this corpus (defaults are cluster-sized)
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8m",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2m",
        }),
        ("join_salted", join_salted, {"spark.sql.adaptive.skewJoin.enabled": "false"}),
        ("agg_plain", agg_plain, {}),
        ("agg_salted", agg_salted, {}),
        ("agg_holistic_plain", agg_holistic_plain, {}),
        ("agg_holistic_salted", agg_holistic_salted, {}),
    ]
    saved = {}
    for name, fn, overrides in variants:
        for key, val in overrides.items():
            if key not in saved:
                saved[key] = conf.get(key, None)
            conf.set(key, val)
        results[name], sigs[name] = _timed(fn, runs)
        print(f"{name:12s} {results[name]:6.2f}s  sig={sigs[name]}")
        for key in overrides:
            if saved[key] is None:
                conf.unset(key)
            else:
                conf.set(key, saved[key])
            del saved[key]

    # the variants must have computed the SAME thing, or the timing is noise
    assert sigs["join_plain"] == sigs["join_aqe"] == sigs["join_salted"], sigs
    assert sigs["agg_plain"] == sigs["agg_salted"], sigs
    assert sigs["agg_holistic_plain"] == sigs["agg_holistic_salted"], sigs

    summary = {
        "rows": rows, "hot": hot, "runs": runs, "n_keys": N_KEYS, "n_salts": N_SALTS,
        "medians_s": {k: round(v, 3) for k, v in results.items()},
        "join_speedup_aqe": round(results["join_plain"] / results["join_aqe"], 2),
        "join_speedup_salted": round(results["join_plain"] / results["join_salted"], 2),
        "agg_speedup_salted": round(results["agg_plain"] / results["agg_salted"], 2),
        "holistic_speedup_salted": round(
            results["agg_holistic_plain"] / results["agg_holistic_salted"], 2
        ),
    }
    out_path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                            "DIAG", "skewstress.json")
    # keyed by config so sweeps over --hot/--rows accumulate instead of
    # clobbering each other's recorded evidence
    book: dict = {}
    if os.path.exists(out_path):
        with open(out_path) as f:
            prior = json.load(f)
        book = prior if "rows" not in prior else {f"rows{prior['rows']}_hot{prior['hot']}": prior}
    book[f"rows{rows}_hot{hot}"] = summary
    with open(out_path, "w") as f:
        json.dump(book, f, indent=1)
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
