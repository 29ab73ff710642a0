"""Full-registry shuffle-budget sweep (see big_data_analytics_machine_learning_poc_spark/plans/budget.py).

    python tools/shufflebudget.py [sf_dir]                    # compare vs ledger
    python tools/shufflebudget.py [sf_dir] --baseline         # (re)write ledger
    python tools/shufflebudget.py [sf_dir] lane [lane ...]    # subset compare

Constructs every registered query at ``sf_dir`` (default sf0.01 — the
same pin as the lint sweep; see budget.py's stats caveat), counts its
Exchange nodes by cost class, and compares the SHUFFLE count against the
committed ledger ``tools/shuffle_budget.json``:

- lane's shuffle count GREW  -> FAIL (a new shuffle slipped into the plan)
- shrank                     -> note it (improvement: run --baseline to ratchet)
- lane not in ledger         -> note it (new lane: run --baseline)

Broadcast/reused counts are recorded in the ledger for plan-shape
diffing but (in general) not gated — a shuffle that becomes a broadcast
is an improvement. EXCEPTION (VERDICT r5 ask #8): for the headline star
joins in ``_BROADCAST_PINNED``, a broadcast-count DROP also fails — a
lost dimension broadcast that degrades to a different broadcast shape
(rather than a shuffle) would otherwise slip through. Exit 1 on any
gated regression or construction error.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.lanerun import select, session

LEDGER = os.path.join(os.path.dirname(os.path.abspath(__file__)), "shuffle_budget.json")

# Headline star joins whose dimension broadcasts are load-bearing for the
# bench numbers: broadcast count must not DROP below the ledger either.
_BROADCAST_PINNED = frozenset({"flagship_regional_revenue", "join3_agg"})


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--baseline"]
    baseline = "--baseline" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = args[1:]
    reg = select(only)

    from big_data_analytics_machine_learning_poc_spark.plans.barrier import capture_subtrees
    from big_data_analytics_machine_learning_poc_spark.plans.budget import lane_exchange_counts

    prior: dict[str, dict[str, int]] = {}
    if os.path.exists(LEDGER):
        with open(LEDGER) as f:
            prior = json.load(f)["lanes"]

    spark = session("shufflebudget")
    lanes: dict[str, dict[str, int]] = {}
    n_ok = n_grew = n_shrank = n_new = n_err = 0
    for name, fn in reg.queries.items():
        try:
            # full-lane counts: returned plan + every pre-barrier subtree
            # (r7: without the capture, checkpointing lanes were budgeted
            # on their post-barrier tail only — ADVICE r6)
            with capture_subtrees() as subtrees:
                df = fn(spark, sf_dir)
            counts = lane_exchange_counts(df, subtrees)
        except Exception as e:  # noqa: BLE001 — report and keep sweeping
            print(f"ERR    {name}: {type(e).__name__}: {str(e)[:150]}")
            n_err += 1
            continue
        lanes[name] = counts
        if name not in prior:
            print(f"NEW    {name}: {counts}")
            n_new += 1
        elif counts["shuffle"] > prior[name]["shuffle"]:
            print(f"GREW   {name}: shuffle {prior[name]['shuffle']} -> {counts['shuffle']}")
            n_grew += 1
        elif name in _BROADCAST_PINNED and counts["broadcast"] < prior[name]["broadcast"]:
            print(
                f"LOST   {name}: broadcast {prior[name]['broadcast']} -> "
                f"{counts['broadcast']} (broadcast-pinned lane)"
            )
            n_grew += 1
        elif counts["shuffle"] < prior[name]["shuffle"]:
            print(f"shrank {name}: shuffle {prior[name]['shuffle']} -> {counts['shuffle']}")
            n_shrank += 1
        else:
            n_ok += 1
    spark.stop()

    if baseline:
        # Always seed from the prior ledger (full sweeps included): a lane
        # that ERRORED this sweep keeps its previous entry instead of
        # silently vanishing from the ledger. If it errored AND has no
        # prior entry, refuse to write — a ledger missing lanes would make
        # the registry-sync test the only thing standing between a broken
        # lane and an ungated shuffle regression. (ADVICE r5 #4)
        merged = dict(prior)
        merged.update(lanes)
        # drop ledger entries for lanes no longer in the registry
        registered = select().queries
        merged = {n: v for n, v in merged.items() if n in registered}
        missing = [n for n in reg.queries if n not in merged]
        if missing:
            print(
                f"\nREFUSING to write ledger: {len(missing)} lane(s) errored "
                f"with no prior entry: {missing[:10]}"
            )
            return 1
        with open(LEDGER, "w") as f:
            json.dump({"sf_dir": sf_dir, "lanes": dict(sorted(merged.items()))}, f, indent=1)
        print(
            f"\nledger written: {len(merged)} lanes -> {LEDGER}"
            + (f" ({n_err} errored lane(s) kept their prior entries)" if n_err else "")
        )
        return 1 if n_err else 0

    print(f"\n{n_ok} ok, {n_grew} grew, {n_shrank} shrank, {n_new} new, {n_err} errors")
    return 1 if n_grew or n_err else 0


if __name__ == "__main__":
    raise SystemExit(main())
