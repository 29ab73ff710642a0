"""Empirical scaling curves for the headline dedup/similarity lanes.

    python tools/scalecurve.py [--scales 1,2,4,8] [--runs 3]

SCALE.md argues plan SHAPES (bucketed equi-joins, map-only signature
passes, no all-pairs stages); this tool measures the shapes' actual
growth. It materializes K-times-scaled copies of the sf0.1 `documents`
and `embeddings` tables and times each target lane at every K, then fits
the log-log slope alpha in t ~ K^alpha. A lane whose candidate
generation were secretly quadratic shows alpha -> 2 here long before a
cluster bill does; the bucketed-equi-join lanes should hold alpha near 1
(plus a fixed scheduling floor that DAMPENS the observed slope at these
sizes — treat alpha well above 1, not alpha below 1, as the signal).

Scaling construction (the part that keeps the measurement honest):
naive K-fold replication makes every replica an EXACT duplicate of its
original, so dedup OUTPUT (and verify work) grows as K^2 by
construction — that would measure the corpus's pathology, not the
engine. Instead each replica k > 0 is token-salted (`tok` -> `tok~k`):
per-replica vocabulary/shingle spaces are disjoint, cross-replica
Jaccard is 0, and each replica reproduces the ORIGINAL pair structure —
true work and true output both scale ~K. Embeddings are cyclically
rolled by k dims per replica (norms and within-replica geometry
preserved, cross-replica correlation broken).

Regime note: the prefix-filter lanes' <=63-token bitset fast path is a
closed-vocabulary optimization; salting pushes vocab past 63 at K >= 2,
so those lanes are measured on their open-vocabulary general path —
which IS the 100 TB path.

Scaled tables live under /tmp (ephemeral measurement inputs, never
committed, never a substitute for the driver's testdata).
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.lanerun import run, select, session

BASE_SF = "/root/testdata/sf0.1"
# Scheme version rides in the work-dir name: bump it whenever the salting
# or rolling construction in build_scaled changes, so a code change can
# never silently reuse stale scaled corpora and skew the fitted alphas
# (ADVICE r7). The base path is in the marker for the same reason.
_SCHEME = "v1-tokensalt-dimroll"
WORK = f"/tmp/spark_graft_scalecurve_{_SCHEME}"

LANES = (
    "dedup_exact_stats",
    "dedup_minhash_pairs",
    "dedup_prefix_filter_pairs",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "ann_bucket_cosine",
    "knn_brute_cosine",
    "docs_keyword_topk",
    # iterative + pipeline lanes (documents-only consumers): replicas are
    # token-disjoint, so connected components get K disjoint copies of the
    # original component structure — iteration count stays put while
    # per-iteration work scales K
    "dedup_connected_components",
    "dedup_cluster_size_histogram",
    "dedup_pipeline_survivors",
    "dedup_cross_source_matrix",
    "corpus_quality_filter",
)


def build_scaled(spark, k: int) -> str:
    """Materialize documents/embeddings at K=k under WORK/K{k}; idempotent."""
    import pyspark.sql.functions as F

    out = os.path.join(WORK, f"K{k}")
    marker = os.path.join(out, "_DONE")
    stamp = f"{_SCHEME} {BASE_SF}"
    if os.path.exists(marker) and open(marker).read() == stamp:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    docs = spark.read.parquet(os.path.join(BASE_SF, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(BASE_SF, "embeddings.parquet"))
    # id offsets must clear the base id space at any K measured here
    doc_off = 10_000_000
    vec_off = 10_000_000
    doc_parts = []
    emb_parts = []
    ndim = len(emb.select("embedding").first()[0])
    for r in range(k):
        if r == 0:
            doc_parts.append(docs)
            emb_parts.append(emb)
            continue
        salted = docs.select(
            (F.col("doc_id") + F.lit(r * doc_off)).alias("doc_id"),
            # replica-disjoint vocabulary: every token gets a ~r suffix, so
            # replicas reproduce the original pair structure instead of
            # being exact duplicates of it
            F.regexp_replace("text", r"(\S+)", f"$1~{r}").alias("text"),
            "lang",
            "source",
            F.length(F.regexp_replace("text", r"(\S+)", f"$1~{r}")).alias("n_chars"),
        )
        doc_parts.append(salted)
        roll = r % ndim
        rolled = emb.select(
            (F.col("vec_id") + F.lit(r * vec_off)).alias("vec_id"),
            F.concat(
                F.slice("embedding", roll + 1, ndim - roll),
                F.slice("embedding", 1, roll),
            ).alias("embedding"),
            "label",
        )
        emb_parts.append(rolled)
    all_docs = doc_parts[0]
    for p in doc_parts[1:]:
        all_docs = all_docs.unionByName(p)
    all_emb = emb_parts[0]
    for p in emb_parts[1:]:
        all_emb = all_emb.unionByName(p)
    all_docs.coalesce(max(1, k)).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )
    all_emb.coalesce(max(1, k)).write.mode("overwrite").parquet(
        os.path.join(out, "embeddings.parquet")
    )
    with open(marker, "w") as f:
        f.write(stamp)
    return out


def main() -> int:
    scales = [1, 2, 4, 8]
    runs = 3
    argv = sys.argv[1:]
    # flag parsing mirrors scanaudit: bounds-check the value and REMOVE the
    # consumed pair so a bare flag fails loudly instead of IndexError-ing
    # and flag values never leak into positional parsing (ADVICE r7)
    if "--scales" in argv:
        i = argv.index("--scales")
        if i + 1 >= len(argv):
            print("--scales needs a comma-separated value list", file=sys.stderr)
            return 2
        scales = [int(x) for x in argv[i + 1].split(",")]
        del argv[i : i + 2]
    if "--runs" in argv:
        i = argv.index("--runs")
        if i + 1 >= len(argv):
            print("--runs needs an integer value", file=sys.stderr)
            return 2
        runs = int(argv[i + 1])
        del argv[i : i + 2]
    if argv:
        print(f"unrecognized arguments: {argv}", file=sys.stderr)
        return 2

    reg = select(LANES)
    spark = session("scalecurve")
    dirs = {k: build_scaled(spark, k) for k in scales}
    print(f"scaled corpora ready: {[f'K{k}' for k in scales]} (base {BASE_SF})")

    results: dict[str, dict[int, float]] = {}
    rows_at: dict[str, dict[int, int]] = {}
    for name, fn in reg.queries.items():
        results[name] = {}
        rows_at[name] = {}
        try:
            for k in scales:
                run(spark, name, fn, dirs[k])  # warm (plan + JIT + page cache)
                recs = [run(spark, name, fn, dirs[k]) for _ in range(runs)]
                results[name][k] = statistics.median(r["build_s"] + r["collect_s"] for r in recs)
                rows_at[name][k] = len(recs[-1]["rows"])
        except Exception as e:  # noqa: BLE001 — a lane needing tables the
            # scaled dir lacks (or failing at scale — the find this tool
            # exists for) must not abort the sweep
            print(f"{name:28s} ERR at K{k}: {type(e).__name__}: {str(e)[:120]}")
            continue
        # log-log slope over the measured range (least squares)
        xs = [math.log(k) for k in scales]
        ys = [math.log(results[name][k]) for k in scales]
        mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
        denom = sum((x - mx) ** 2 for x in xs)
        alpha = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / denom if denom else 0.0
        times = "  ".join(f"K{k}={results[name][k]:.2f}s" for k in scales)
        rr = "  ".join(f"{rows_at[name][k]}" for k in scales)
        print(f"{name:28s} alpha={alpha:4.2f}  {times}  rows: {rr}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
