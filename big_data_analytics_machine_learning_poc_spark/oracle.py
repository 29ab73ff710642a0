"""DuckDB differential-oracle utilities (SURVEY.md §5 strategy #1).

Mirrors the driver's gate: run the Spark query and the oracle SQL over the
same parquet, compare row count + column names + an order-insensitive value
fingerprint. Used by tools/compare.py and the pytest suite so every operator
is differential-tested locally before the driver ever sees it.

ORACLE-AUTHORING RULES (learned the hard way — see VERDICT r3 "What's
wrong" #1):

1. **Never let an integer SUM escape uncast.** DuckDB widens
   ``SUM(INTEGER/BIGINT)`` — including window SUMs — to ``HUGEINT``
   (int128). Python ``fetchall()`` collapses HUGEINT to plain ``int`` so
   the difference is invisible locally, but the DRIVER's hasher normalizes
   int128 differently from Spark's int64 and the row goes hash-red with
   rows+schema green. Always ``CAST(SUM(...) AS BIGINT)`` when the SUM is
   an output column (11 driver reds in r3 were exactly this).
   ``tests/test_oracle_types.py`` DESCRIBEs every registered oracle and
   fails on any HUGEINT/UHUGEINT output column, so the mistake can't ship.
2. Alias every aggregate/computed column identically on both sides — the
   comparator sorts columns by NAME before hashing.
3. Floats: round to a fixed precision (``ROUND(x, 6)``) or compare in
   integer units (cents) — never raw float arithmetic across engines.
4. Timestamps: compare as epoch integers (``EPOCH()`` / ``CAST AS
   DOUBLE``), sessions pinned to UTC on both sides.
"""

from __future__ import annotations

import datetime
import hashlib
import math

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def register_views(con, sf_dir: str) -> None:
    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")


def norm_cell(v) -> str:
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return repr(v)


def normalized_matrix(cols: list[str], rows: list[tuple]) -> list[tuple[str, ...]]:
    """THE canonical comparison form — columns sorted by name, every cell
    through norm_cell, rows sorted. fingerprint(), compare_query(), and
    the DIAG dumps all build on this one function so their notions of
    'equal' cannot drift apart."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


def fingerprint_matrix(mat: list[tuple[str, ...]]) -> str:
    h = hashlib.sha256()
    for row in mat:
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def fingerprint(cols: list[str], rows: list[tuple]) -> str:
    return fingerprint_matrix(normalized_matrix(cols, rows))


def compare_query(
    scols: list[str], srows: list[tuple], con, sql: str, sidecar: str | None = None
) -> list[str]:
    """Compare a collected Spark result (its columns and rows) with the
    oracle ``sql`` run on ``con``. Return a list of mismatch descriptions
    (empty = exact match).

    ``sidecar``: optional query name; when set, both sides' fingerprints —
    and on mismatch the first differing normalized rows — are dumped to
    ``DIAG/compare_<name>.json`` next to the repo root, so a red row is
    diagnosable after the fact (round-2 ask: driver-side reds left nothing
    to inspect)."""
    cur = con.execute(sql)
    dcols = [d[0] for d in cur.description]
    drows = cur.fetchall()

    problems: list[str] = []
    if len(srows) != len(drows):
        problems.append(f"rowcount spark={len(srows)} oracle={len(drows)}")
    if sorted(scols) != sorted(dcols):
        problems.append(f"cols spark={sorted(scols)} oracle={sorted(dcols)}")
    ms = normalized_matrix(scols, srows)
    md = normalized_matrix(dcols, drows)
    sfp = fingerprint_matrix(ms)
    dfp = fingerprint_matrix(md)
    first_diffs: list[tuple[str, str]] = []
    if not problems and sfp != dfp:
        # multiset difference, not positional zip: one shifted sort
        # position would otherwise misalign every later pair and fill the
        # sample with rows that are actually identical (Counter keeps
        # duplicate-multiplicity differences visible too)
        from collections import Counter

        cs, cd = Counter(ms), Counter(md)
        only_s = sorted((cs - cd).elements())[:10]
        only_d = sorted((cd - cs).elements())[:10]
        from itertools import zip_longest

        first_diffs = [
            (str(a), str(b)) for a, b in zip_longest(only_s, only_d, fillvalue="<absent>")
        ]
        diff = f"spark={first_diffs[0][0]} oracle={first_diffs[0][1]}" if first_diffs else ""
        problems.append(f"value mismatch; first-diff {diff}")
    if sidecar is not None:
        _dump_compare_sidecar(
            sidecar, sfp, dfp, len(srows), len(drows), problems, first_diffs
        )
    return problems


def _dump_compare_sidecar(
    name: str,
    spark_fp: str,
    oracle_fp: str,
    n_spark: int,
    n_oracle: int,
    problems,
    first_diffs,
) -> None:
    import json
    import os

    diag = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "DIAG")
    try:
        os.makedirs(diag, exist_ok=True)
        with open(os.path.join(diag, f"compare_{name}.json"), "w") as f:
            json.dump(
                {
                    "query": name,
                    "spark_rows": n_spark,
                    "oracle_rows": n_oracle,
                    "spark_fingerprint": spark_fp,
                    "oracle_fingerprint": oracle_fp,
                    "problems": problems,
                    "first_diffs": first_diffs,
                },
                f,
                indent=1,
            )
    except OSError:
        pass  # diagnostics must never fail the comparison
