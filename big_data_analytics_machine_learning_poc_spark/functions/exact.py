"""Exact-arithmetic aggregation helpers for oracle parity AND speed.

All money/measure columns in the testdata are 2-decimal doubles. A plain
double SUM is order-dependent in its low bits — on a 1000-executor cluster the
partial-agg combine order is nondeterministic, so exactness must come from the
type. Two exact strategies:

- **cents (default)**: scale by 100 → int64, sum longs, divide back at the
  end. Integer sums are associative/exact and stay in Tungsten's primitive
  fast path (~6× faster than decimal aggregation here, and decimal(38,4)
  aggregation showed multi-second GC outliers in profiling). Accumulator
  headroom: int64 ≈ 9.2e18; a 2-decimal money column (≤1e6 dollars/row =
  1e8 cents) overflows only past ~9e10 rows per *group accumulator* — and
  revenue products (scale 10^4) past ~9e9 rows. ANSI mode (Spark 4 default)
  turns any overflow into a loud error, not silent wrap.
- **decimal**: DECIMAL(18,2) casts for unbounded-scale paths (window running
  sums, small-group aggs) and as the documented promotion path when a
  deployment's per-group row counts approach the int64 ceiling: swap
  sum_money→sum_exact_dec, one line per query.

Genuinely floating aggregates (corr, stddev, cosine) are rounded instead —
see call sites.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

def round_half_up(x: float | None, digits: int = 6) -> float | None:
    """Oracle-compatible rounding for PYTHON-side values that a DuckDB
    oracle will compare: Python's built-in round() is banker's
    (half-to-EVEN) while DuckDB ROUND on DOUBLE is half-AWAY-from-zero
    (std::round on the scaled double), so a value whose scaled fraction
    is exactly .5 (e.g. 3.2265625 = 413/128, hit by the readability lane
    at sf0.1 doc 1559) rounds to 3.226562 in Python and 3.226563 in
    DuckDB — a hash mismatch from the rounding MODE, not the math.
    floor(|x|·10^d + 0.5) mirrors exactly the DuckDB scaled-double path
    (which is what the gate compares against). It is NOT a universal
    mirror of Spark SQL ROUND: Spark routes doubles through
    BigDecimal.valueOf (shortest-decimal repr) then HALF_UP, which can
    disagree with scaled-floor on values like 2.675 at 2 digits (Spark
    2.68, scaled-floor 2.67, because 2.675 the double is
    2.67499999999999982...). Use this helper when matching the ORACLE,
    not when reproducing Spark's own ROUND. None passes through
    (SQL NULL). (Scope per ADVICE r5 #2.)"""
    if x is None:
        return None
    import math

    scaled = abs(x) * (10.0**digits)
    return math.copysign(math.floor(scaled + 0.5) / (10.0**digits), x)


# ---------------------------------------------------------------- cents path


def cents(col: str | Column) -> Column:
    """2-decimal double → exact integer count of hundredths, as long.

    x*100 lands within 1 ulp of an integer; round() snaps it exactly. Both
    engines compute the identical double product and round the same way
    (inputs are never near .5 boundaries — they ARE integers ± 1 ulp).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100).cast("long")


def cents_sql(expr: str) -> str:
    return f"CAST(ROUND(({expr}) * 100) AS BIGINT)"


def cents_pandas(series):
    """Pandas twin of ``cents()`` for Arrow-batched stateful operators.

    numpy/pandas ``round`` is half-to-even while F.round/DuckDB ROUND are
    half-away-from-zero — a latent boundary divergence even though 2-decimal
    money doubles never land exactly on .5 (they are integers ± 1 ulp after
    ×100). Half-away is sign·floor(|x|+0.5), exact on the same inputs.
    """
    import numpy as np

    x = series.to_numpy(dtype="float64") * 100.0
    return np.sign(x) * np.floor(np.abs(x) + 0.5)


def sum_money(col: str | Column, alias: str) -> Column:
    return (F.sum(cents(col)) / F.lit(100.0)).alias(alias)


def sum_money_sql(expr: str, alias: str) -> str:
    return f"CAST(SUM({cents_sql(expr)}) AS DOUBLE) / 100.0 AS {alias}"


def avg_money(col: str | Column, alias: str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(cents(c)) / F.lit(100.0) / F.count(c)).alias(alias)


def avg_money_sql(expr: str, alias: str) -> str:
    return f"CAST(SUM({cents_sql(expr)}) AS DOUBLE) / 100.0 / COUNT({expr}) AS {alias}"


def revenue_item() -> Column:
    """Exact per-item revenue units: price_cents × (100 − discount_cents),
    scale 10^4 of dollars. For lineitem's extendedprice × (1 − discount)."""
    return cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))


def sum_revenue(alias: str = "revenue") -> Column:
    return (F.sum(revenue_item()) / F.lit(10_000.0)).alias(alias)


def sum_revenue_sql(alias: str = "revenue") -> str:
    return (
        f"CAST(SUM({cents_sql('l_extendedprice')} * "
        f"(100 - {cents_sql('l_discount')})) AS DOUBLE) / 10000.0 AS {alias}"
    )


# -------------------------------------------------------------- decimal path

DEC = "decimal(18,2)"


def dec(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC)


def sum_exact_dec(col: str | Column, alias: str) -> Column:
    return F.sum(dec(col)).cast("double").alias(alias)
