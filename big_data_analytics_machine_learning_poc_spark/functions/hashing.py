"""Cross-engine-stable hashing primitives.

Spark's native ``hash``/``xxhash64`` and DuckDB's ``hash`` are different
algorithms, so dedup operators built on them could never be oracle-checked.
Instead every hash-dependent operator (minhash, simhash, fingerprinting) is
built on **md5**, which both engines implement identically: we take the first
8 hex chars of md5 → a uniform 32-bit integer, then apply universal-hash
permutations ``(a*h + b) mod p`` with constants small enough that ``a*h + b``
never overflows int64 (h < 2^32, a < 2^31 ⇒ product < 2^63), keeping Spark's
ANSI mode (4.x default) and DuckDB's checked arithmetic both happy.

SQL builders return DuckDB-dialect snippets computing the *same* value, used
by ``__spark_entry__.oracle_sql``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Mersenne prime 2^31 - 1: classic universal-hashing modulus.
MERSENNE_P = 2_147_483_647

# Fixed (a, b) parameters for minhash permutations — arbitrary odd constants,
# committed so signatures are stable across releases. a < 2^31 by construction.
MINHASH_PERMS: tuple[tuple[int, int], ...] = (
    (1_610_612_741, 805_306_457),
    (402_653_189, 201_326_611),
    (100_663_319, 50_331_653),
    (25_165_843, 12_582_917),
    (6_291_469, 3_145_739),
    (1_572_869, 786_433),
    (393_241, 196_613),
    (98_317, 49_157),
)


def make_minhash_perms(n: int, seed: int = 0x5BDA) -> tuple[tuple[int, int], ...]:
    """Deterministically generate ``n`` universal-hash ``(a, b)`` pairs for
    minhash permutations (production geometry wants ~128; the committed
    8-entry MINHASH_PERMS stays the oracle config). Seeded stdlib Mersenne
    Twister → stable across releases and Python versions. ``a`` is odd and
    < 2^31 so ``a*h + b`` stays inside int64 for h < 2^32 (ANSI-safe)."""
    import random

    rng = random.Random(seed)
    return tuple(
        (rng.randrange(1, 1 << 31) | 1, rng.randrange(0, MERSENNE_P)) for _ in range(n)
    )


def md5_hash32(col: Column) -> Column:
    """Uniform 32-bit hash of a string column as BIGINT in [0, 2^32)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def md5_hash32_sql(expr: str) -> str:
    """DuckDB SQL computing exactly md5_hash32(expr)."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 8)) AS BIGINT)"


def md5_hash60(col: Column) -> Column:
    """60-bit fingerprint (15 hex chars — stays inside signed int64)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5_hash60_sql(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"
