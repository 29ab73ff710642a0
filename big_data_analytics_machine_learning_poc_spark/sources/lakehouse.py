"""Lakehouse table-format connectors (Delta / Iceberg / Hudi).

The native paths need their runtime jars on the Spark classpath (not
present in this container; guide §'Sources & sinks': "stub connectors
behind an import-try"): availability is probed at call time. **Delta and
Iceberg have jar-free fallbacks** — `sources/delta_lite.py` speaks the
public Delta transaction-log protocol (overwrite/append, partitioned
tables, time travel, log-level pruning) and `sources/iceberg_lite.py`
speaks the public Iceberg v2 table spec (metadata.json + Avro manifest
lists/manifests via `sources/avro_lite.py`, snapshot time travel,
manifest- and file-level pruning) — so ``read_table/write_table`` with
``fmt="delta"`` or ``fmt="iceberg"`` work HERE, routing through the jars
when present and the lite implementations otherwise. Hudi (timeline +
HFile metadata) has no dependency-free metadata path in this container
and keeps the loud, typed NotImplementedError.

Row-level DML routes the same way (``delete_rows`` / ``update_rows`` /
``merge_rows``) — one surface, both formats. Both lite formats plan every
statement with ``sources/dml.py``: one scan of the pinned snapshot yields
the touched rows by (file, pos) address and the new rows. Only the commit
step is per format: Delta gives each touched file a deletion vector or a
copy-on-write rewrite, Iceberg writes position-delete files, data files
and manifests. The MERGE key rule also stays per format: plain equality
for Delta, null-safe for Iceberg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_FORMATS = {
    "delta": "io.delta.sql.DeltaSparkSessionExtension",
    "iceberg": "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
    "hudi": "org.apache.spark.sql.hudi.HoodieSparkSessionExtension",
}


def format_available(spark: SparkSession, fmt: str) -> bool:
    """True if the format's extension classes are on the JVM classpath.
    Only the JVM's ClassNotFoundException means "no jar"; any other error
    (a broken Py4J gateway, a linkage error) raises instead of silently
    routing the call to the lite fallback."""
    from py4j.protocol import Py4JJavaError

    if fmt not in _FORMATS:
        raise KeyError(f"unknown lakehouse format {fmt!r}; known: {sorted(_FORMATS)}")
    try:
        spark._jvm.java.lang.Class.forName(_FORMATS[fmt])
    except Py4JJavaError as e:
        if e.java_exception.getClass().getName() == "java.lang.ClassNotFoundException":
            return False
        raise
    return True


def read_table(spark: SparkSession, fmt: str, path: str) -> DataFrame:
    if not format_available(spark, fmt):
        if fmt == "delta":
            from .delta_lite import read_delta

            return read_delta(spark, path)
        if fmt == "iceberg":
            from .iceberg_lite import read_iceberg

            return read_iceberg(spark, path)
        raise NotImplementedError(
            f"{fmt} runtime jars are not on the classpath; add the {fmt} Spark "
            f"package in the deployment (e.g. spark.jars.packages) to enable"
        )
    return spark.read.format(fmt).load(path)


def write_table(df: DataFrame, fmt: str, path: str, mode: str = "overwrite") -> None:
    if not format_available(df.sparkSession, fmt):
        if fmt == "delta":
            from .delta_lite import write_delta

            write_delta(df, path, mode=mode)
            return
        if fmt == "iceberg":
            from .iceberg_lite import write_iceberg

            write_iceberg(df, path, mode=mode)
            return
        raise NotImplementedError(
            f"{fmt} runtime jars are not on the classpath; add the {fmt} Spark "
            f"package in the deployment (e.g. spark.jars.packages) to enable"
        )
    df.write.format(fmt).mode(mode).save(path)


def union_audit(branches: list[DataFrame], tag: str, order_col: str = "version") -> DataFrame:
    """Assemble a per-version audit result as ONE Spark job (r13, guide
    §1.2 "don't compute things twice" at the job level): union the
    single-row per-snapshot aggregate ``branches`` and spill the union to
    session-scoped parquet — the audited table usually lives in a tempdir
    that dies before the caller collects, so the returned frame must not
    reference it. The prior shape — ``.first()`` per version, then
    ``createDataFrame(rows)`` — paid one driver round trip per snapshot
    plus a defaultParallelism-sliced Python-RDD assembly; the union runs
    every snapshot's scan in one job (branches schedule concurrently) and
    the spilled read is JVM-only. Rows, schema and values are identical —
    branches carry the same casts the row-assembly schema applied."""
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    from ..streaming.events import spill_to_session_parquet

    return spill_to_session_parquet(out, tag).orderBy(order_col)


def _require_lite_dml(spark: SparkSession, fmt: str) -> None:
    if fmt not in ("delta", "iceberg"):
        raise NotImplementedError(
            f"row-level DML is implemented for delta and iceberg here; "
            f"{fmt!r} needs its runtime jars"
        )


def delete_rows(spark: SparkSession, fmt: str, path: str, predicate: str):
    """``DELETE FROM <table> WHERE <predicate>`` on either lakehouse
    format. Returns the committed version (Delta) / snapshot id (Iceberg),
    or None when nothing matched."""
    _require_lite_dml(spark, fmt)
    if fmt == "delta":
        from .delta_lite import delete_where

        return delete_where(spark, path, predicate)
    from .iceberg_lite import delete_where

    return delete_where(spark, path, predicate)


def update_rows(
    spark: SparkSession, fmt: str, path: str, assignments: dict[str, str], predicate: str
):
    """``UPDATE <table> SET ... WHERE <predicate>`` on either format;
    simultaneous SET semantics in both implementations."""
    _require_lite_dml(spark, fmt)
    if fmt == "delta":
        from .delta_lite import update_where

        return update_where(spark, path, assignments, predicate)
    from .iceberg_lite import update_where

    return update_where(spark, path, assignments, predicate)


def merge_rows(
    spark: SparkSession, fmt: str, path: str, source: DataFrame, key_cols: list[str]
):
    """MERGE (upsert) ``source`` into the table on ``key_cols`` on either
    format; source must be unique per key (both implementations'
    contract)."""
    _require_lite_dml(spark, fmt)
    if fmt == "delta":
        from .delta_lite import merge_delta

        return merge_delta(spark, path, source, key_cols)
    from .iceberg_lite import merge_iceberg

    return merge_iceberg(spark, path, source, key_cols)
