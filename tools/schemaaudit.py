"""Driver-boundary output-schema audit (VERDICT r6 ask #2).

    python tools/schemaaudit.py [sf_dir]

The external driver canonicalizes every recorded lane's collected result
through pandas ``sort_values`` — a column holding Python lists/dicts is
unhashable there and crashes the driver BEFORE it records even a row
count (the `ml_fpgrowth_itemsets` red in CORRECTNESS_r06). The repo's
local comparator handles nested values, which is exactly why the class
slipped: local-green != driver-green. This tool constructs every
registered lane at the cheap SF and reports any column whose type is not
driver-atomic (no ArrayType / MapType / StructType / UDT at the boundary).
Exit 1 on any hit. The same invariant is pinned as a pytest in
tests/test_registry.py::test_every_lane_output_schema_is_driver_atomic.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.lanerun import select, session


def nonatomic_fields(schema) -> list[str]:
    """Names+types of top-level fields the driver's pandas canonicalizer
    cannot hash (nested Spark types and UDTs like VectorUDT)."""
    from pyspark.sql import types as T

    bad = []
    for f in schema.fields:
        dt = f.dataType
        if isinstance(dt, (T.ArrayType, T.MapType, T.StructType, T.UserDefinedType)):
            bad.append(f"{f.name}:{dt.simpleString()}")
    return bad


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    spark = session("schemaaudit")
    n_ok = n_bad = n_err = 0
    for name, fn in select().queries.items():
        try:
            bad = nonatomic_fields(fn(spark, sf_dir).schema)
        except Exception as e:  # noqa: BLE001 — report and keep sweeping
            print(f"ERR  {name}: {type(e).__name__}: {str(e)[:150]}")
            n_err += 1
            continue
        if bad:
            print(f"BAD  {name}: {bad}")
            n_bad += 1
        else:
            n_ok += 1
    print(f"\n{n_ok} atomic-ok, {n_bad} non-atomic, {n_err} errors")
    spark.stop()
    return 1 if n_bad or n_err else 0


if __name__ == "__main__":
    raise SystemExit(main())
