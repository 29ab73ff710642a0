"""Local mimic of the driver's DuckDB differential gate.

    python tools/compare.py [sf_dir] [query ...]
    python tools/compare.py [sf_dir] --bare [query ...]

``--bare`` runs under a DEFAULT-builder SparkSession (no factory confs —
UTC/ANSI/Arrow/AQE all at Spark defaults), the closest local mimic of
the driver's own session; the r6-close bare-session sweep is what closes
the session-profile differential risk each round. ``sweep()`` is
importable — tools/sweep3.py reuses it to run the same gate at several
scale factors in one session (VERDICT r5 ask #6: the sf0.1 sweep caught
a banker's-rounding fork the gate SF could not see).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from tools.lanerun import run, select, session


def sweep(spark, sf_dir: str, only=(), sidecar_suffix: str = ""):
    """Run the differential gate for ``only`` (or every) registered lane at
    ``sf_dir``; returns (n_pass, n_fail, n_rowsonly). ``sidecar_suffix``
    keeps multi-SF runs from clobbering the canonical sf0.01 DIAG
    sidecars."""
    from big_data_analytics_machine_learning_poc_spark.oracle import compare_query, register_views

    con = duckdb.connect()
    register_views(con, sf_dir)

    reg = select(only)
    n_pass = n_fail = n_rowsonly = 0
    for name, fn in reg.queries.items():
        t0 = time.time()
        try:
            rec = run(spark, name, fn, sf_dir)
            if name not in reg.oracles:
                n = len(rec["rows"])
                if n == 0:
                    # the driver's rows-only gate records rows>0 — an empty
                    # result must go red here too, not just on the driver
                    print(f"FAIL  {name}: rows-only query returned 0 rows")
                    n_fail += 1
                    continue
                print(f"rows  {name}: {n} rows (rows-only, no oracle) [{time.time()-t0:.1f}s]")
                n_rowsonly += 1
                continue
            # sidecar always on: full-sweep reds must leave a DIAG artifact
            # (r2 ask)
            problems = compare_query(
                rec["columns"], rec["rows"], con, reg.oracles[name], sidecar=name + sidecar_suffix
            )
        except Exception as e:  # noqa: BLE001 — report and keep sweeping
            print(f"FAIL  {name}: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"PASS  {name} [{time.time()-t0:.1f}s]")
            n_pass += 1
    con.close()
    return n_pass, n_fail, n_rowsonly


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--bare"]
    bare = "--bare" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = args[1:]
    select(only)  # a misspelled name exits 2 before a session starts

    if bare:
        from pyspark.sql import SparkSession

        from big_data_analytics_machine_learning_poc_spark.session import default_cpus

        spark = SparkSession.builder.master(f"local[{default_cpus()}]").getOrCreate()
    else:
        spark = session("compare")
    n_pass, n_fail, n_rowsonly = sweep(spark, sf_dir, only)
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
