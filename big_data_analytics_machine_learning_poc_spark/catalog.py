"""Table catalog: explicit schemas + loaders for the driver testdata.

The reference leans on CSV ``inferSchema`` (TfIdfCalculator.java:34-35,
DataCorrelator.java:31-32, RandomForest.java:32-33) which costs an extra full
pass over the input — unacceptable at 100 TB. Production reads here always
carry an explicit ``StructType``; for parquet the footer schema is
authoritative, and ``load_table`` validates its COLUMN NAMES against the
documented shape (a silently renamed/dropped column should fail at the
catalog, not as a confusing resolution error three operators later).
Column TYPES are deliberately not enforced: the footer is the source of
truth for physical types (events.ts legitimately varies by testdata
generation), and the oracle gate catches any type-level drift in values.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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

# Ground truth measured from the parquet footers (TESTDATA.md / FIXTURES.md §B).
SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan. Columnar, predicate-pushdown-capable; Catalyst prunes
    columns/filters down to the scan, so callers just select/filter naturally.

    ``events.ts`` is normalized to a session-TZ TimestampType regardless of
    how the footer stores it. Generations of the testdata have used both
    TIMESTAMP(NANOS) (which Spark reads as raw nanos under ``nanosAsLong``)
    and TIMESTAMP(MICROS) isAdjustedToUTC=false (which Spark reads as
    TIMESTAMP_NTZ); both paths land on the identical microsecond values
    DuckDB sees, so oracle comparisons stay exact.
    """
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {sorted(SCHEMAS)}")
    if name == "events":
        # pin session defaults BEFORE the read: Spark resolves the parquet
        # schema eagerly at spark.read.parquet, so an externally-built
        # session without nanosAsLong would reject a TIMESTAMP(NANOS)
        # footer before any later probe could heal it. One read serves as
        # both probe and scan (the streaming path probes the same way).
        from .session import ensure_session_defaults

        ensure_session_defaults(spark)
        raw = spark.read.parquet(table_path(sf_dir, name))
        df = normalize_events_ts(raw, raw.schema["ts"].dataType)
    else:
        df = spark.read.parquet(table_path(sf_dir, name))
    expected = [f.name for f in SCHEMAS[name].fields]
    if list(df.columns) != expected:
        raise ValueError(
            f"table {name!r} at {sf_dir} has columns {list(df.columns)}, "
            f"expected {expected} (TESTDATA.md shape)"
        )
    return df


def probe_events_ts_type(spark: SparkSession, sf_dir: str) -> T.DataType:
    """Footer-probe the physical type Spark assigns to ``events.ts`` — the
    ONE place batch and streaming agree on how a testdata generation stores
    event time (round-2 postmortem: a streaming-only hardcoded schema
    silently read MICROS data as nanos). Also pins the session defaults the
    probe result depends on (nanosAsLong, UTC)."""
    from .session import ensure_session_defaults

    ensure_session_defaults(spark)
    return spark.read.parquet(table_path(sf_dir, "events")).schema["ts"].dataType


def events_stream_schema(ts_type: T.DataType) -> T.StructType:
    """The explicit schema ``readStream`` needs up front, with ``ts`` typed
    exactly as the batch probe saw it (streaming sources cannot infer).
    Derived from SCHEMAS['events'] so the two declarations cannot drift."""
    return T.StructType(
        [
            T.StructField("ts", ts_type) if f.name == "ts" else f
            for f in SCHEMAS["events"].fields
        ]
    )


def normalize_events_ts(df: DataFrame, ts_type: T.DataType) -> DataFrame:
    """Normalize ``events.ts`` to a UTC-instant TimestampType, branching on
    the probed footer type. Shared by the batch loader and the streaming
    source so the two paths cannot diverge (tests assert equivalence).

    Raises on unexpected types instead of coercing: a future testdata
    generation storing e.g. INT96 or millis must fail loudly here, not
    silently shift every window downstream.
    """
    if isinstance(ts_type, T.LongType):
        # NANOS footer read as raw nanos (nanosAsLong). NB: integer `div`,
        # not `/`: double division of 2024-epoch nanos (~1.7e18, double ulp
        # ≈ 256 ns) rounds by up to ±1 µs — enough to flip a MIN(ts)
        # comparison against the oracle.
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, T.TimestampNTZType):
        # MICROS/NTZ footer: wall-clock values are already exact; cast to
        # the session-TZ timestamp (identity under the UTC session TZ that
        # ensure_session_defaults pins) so downstream watermarks/arithmetic
        # see one consistent type.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    if isinstance(ts_type, T.TimestampType):
        return df
    raise TypeError(
        f"events.ts stored as unsupported type {ts_type}; expected raw-nanos "
        "LongType, TimestampNTZType, or TimestampType"
    )
