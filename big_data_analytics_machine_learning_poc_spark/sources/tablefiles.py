"""tablefiles — every way a file enters a lakehouse table, and how it is
read back, for both formats.

``delta_lite`` and ``iceberg_lite`` keep their own logs and manifests and
their own conflict-retry rules; the files underneath go through here:

- ``stage(df, table, subdir, partition_cols)``: Spark writes the frame once
  into a private ``.staging-<uuid>`` prefix (a failed job never leaves
  half-published files where a snapshot could see them). Each non-empty
  part file has its footer stats read and is published under
  ``table/subdir/`` (hive partition dirs kept) with put-if-absent: a name
  that is already taken raises ``FileExistsError`` instead of replacing a
  file an older snapshot may still reference. Zero-row part files are
  dropped — the table's schema lives in its log/metadata, not in files.
- ``put_if_absent(path, write)``: temp file, fsync, ``link(2)`` to the
  final name. This is the commit primitive (a Delta log version, an
  Iceberg metadata version): racing writers collide on the name and
  exactly one wins; a crash mid-write can only leave a stray temp, never a
  torn file.
- ``replace_atomically(path, write)``: temp file, fsync, ``rename(2)`` —
  for pointers that move (version hint, ``_last_checkpoint``) and files a
  reader may parse mid-rewrite (a checkpoint).
- ``unpublish(table, staged)``: remove what a ``stage`` published, for a
  writer that gives up before any commit references the files.
- ``scan(spark, base, groups, schema, physical, address)``: a snapshot's
  data files read back as logical rows — the declared schema under its
  physical names (never inference: evolution mixes file shapes), one read
  per partition layout, aliased back to logical names. With ``address``
  each row also carries ``dml.FILE`` and ``dml.POS``, its ``(file, pos)``
  address: the file's absolute local path (the one decoding rule, for
  both formats) and its physical row index.
- ``mask(rows, deleted, on)``: drop the rows whose address is in
  ``deleted`` — one left-anti join, used for Delta's deletion vectors, the
  copy-on-write keep side and Iceberg's position deletes.

The moves use the local filesystem API; an object store swaps them for its
conditional put. Temp names start with a dot and end in ``.tmp``, so no
table scan or vacuum sweep mistakes one for data.
"""

from __future__ import annotations

import contextlib
import functools
import os
import shutil
import uuid
from urllib.parse import unquote

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from .dml import FILE, POS

STAGING_PREFIX = ".staging-"  # in-flight writes; never table data
_STATS_PHYSICAL_TYPES = ("INT32", "INT64", "FLOAT", "DOUBLE", "BOOLEAN")


def file_stats(pq_meta) -> dict:
    """Per-file stats from the parquet footer: numRecords, nullCount for
    every top-level column, min/maxValues for numeric / boolean / date-ish
    columns. String and binary min/max are deliberately omitted: parquet
    writers may truncate long byte-array statistics, and a truncated bound
    recorded as exact would let the skipping reader drop a file that
    actually matches (real Delta truncates to 32 chars WITH an upper-bound
    adjustment; numerics-only is the safe subset here). Decimals get a
    nullCount but no bounds. Nested columns (struct fields, list/map
    elements) get no stats at all."""
    num_records = pq_meta.num_rows
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    null_covered: dict = {}  # row groups contributing null_count per column
    covered: dict = {}  # row groups contributing min/max per column
    for rg in range(pq_meta.num_row_groups):
        group = pq_meta.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            name = col.path_in_schema
            if "." in name:  # nested field — top-level stats only
                continue
            st = col.statistics
            if st is None:
                continue
            if st.null_count is not None:
                nulls[name] = nulls.get(name, 0) + st.null_count
                null_covered[name] = null_covered.get(name, 0) + 1
            if (
                not st.has_min_max
                or st.physical_type not in _STATS_PHYSICAL_TYPES
                # a decimal(p<=18) column is stored as INT32/INT64, and
                # pyarrow cannot decode its bounds (ArrowNotImplementedError
                # "Cannot extract statistics for type"): no bounds for it
                or st.logical_type.type == "DECIMAL"
            ):
                continue
            covered[name] = covered.get(name, 0) + 1
            lo, hi = st.min, st.max
            if name not in mins or lo < mins[name]:
                mins[name] = lo
            if name not in maxs or hi > maxs[name]:
                maxs[name] = hi
    # a column's min/max is sound only if EVERY row group contributed —
    # bounds covering part of the file logged as exact would let the
    # skipping reader drop a file whose stats-less row group matches
    complete = {n for n, k in covered.items() if k == pq_meta.num_row_groups}
    # same soundness rule for nullCount: a row group without statistics may
    # hold NULLs — logging a partial sum as exact would let a null-aware
    # reader (IS NULL pruning) drop a matching file
    stats: dict = {
        "numRecords": num_records,
        "nullCount": {
            n: c
            for n, c in nulls.items()
            if null_covered.get(n) == pq_meta.num_row_groups
        },
    }
    if complete:
        stats["minValues"] = {k: json_scalar(v) for k, v in mins.items() if k in complete}
        stats["maxValues"] = {k: json_scalar(v) for k, v in maxs.items() if k in complete}
    return stats


def json_scalar(v):
    """Parquet footer scalars → JSON-serializable (dates/timestamps from
    logical types surface as datetime objects)."""
    return v.isoformat() if hasattr(v, "isoformat") else v


def partition_values(rel_path: str, partition_cols) -> dict[str, str | None]:
    """Recover hive-style partition values from the file's directory path.
    Spark percent-escapes special characters in partition directory names
    (`a b` → `a%20b`); the logs store the UNESCAPED value, so partition
    filters compare against what the user wrote."""
    values: dict[str, str | None] = {}
    for piece in rel_path.split(os.sep)[:-1]:
        if "=" in piece:
            k, _, v = piece.partition("=")
            if k in partition_cols:
                raw = unquote(v)
                # hive encodes SQL NULL as a sentinel directory; the table
                # metadata of both formats stores null, not the sentinel
                values[k] = None if raw == "__HIVE_DEFAULT_PARTITION__" else raw
    return values


def _write_temp(path: str, write) -> str:
    """``write(f)`` into a fsynced temp file beside ``path``; returns it."""
    parent = os.path.dirname(path)
    os.makedirs(parent, exist_ok=True)
    tmp = os.path.join(parent, f".{os.path.basename(path)}.{uuid.uuid4().hex}.tmp")
    try:
        with open(tmp, "wb") as f:
            write(f)
            f.flush()
            os.fsync(f.fileno())
    except BaseException:
        with contextlib.suppress(OSError):
            os.unlink(tmp)
        raise
    return tmp


def _link_absent(src: str, dst: str) -> None:
    """Move ``src`` to ``dst`` only if ``dst`` does not exist: ``link(2)``
    fails EEXIST atomically where ``rename(2)`` silently overwrites on
    POSIX. ``src`` is gone afterwards either way."""
    try:
        os.link(src, dst)
    except FileExistsError:
        raise FileExistsError(f"refusing to overwrite existing file {dst}") from None
    finally:
        os.unlink(src)


def put_if_absent(path: str, write) -> None:
    """Create ``path`` with the bytes ``write(f)`` puts into a binary file,
    all or nothing. Raises ``FileExistsError`` when the name is taken."""
    _link_absent(_write_temp(path, write), path)


def replace_atomically(path: str, write) -> None:
    """Create or replace ``path`` with the bytes ``write(f)`` produces; a
    reader sees the old file or the complete new one, never a torn one."""
    tmp = _write_temp(path, write)
    try:
        os.replace(tmp, path)
    except BaseException:
        with contextlib.suppress(OSError):
            os.unlink(tmp)
        raise


def stage(
    df: DataFrame, table: str, subdir: str, partition_cols=()
) -> list[tuple[str, int, dict]]:
    """Write ``df`` as parquet data files under ``table/subdir`` (hive
    partition dirs when ``partition_cols``) and return ``(path relative to
    table, size, footer stats)`` per published file, in path order. See the
    module docstring for the staging and put-if-absent rules; on any error
    the files published so far are removed again and the error re-raised."""
    import pyarrow.parquet as pq

    staging = os.path.join(table, f"{STAGING_PREFIX}{uuid.uuid4().hex}")
    writer = df.write
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    out: list[tuple[str, int, dict]] = []
    try:
        writer.parquet(staging)
        for root, dirs, files in os.walk(staging):
            dirs.sort()
            for name in sorted(files):
                if not name.endswith(".parquet"):
                    continue
                src = os.path.join(root, name)
                meta = pq.read_metadata(src)
                if meta.num_rows == 0:
                    continue
                rel = os.path.join(subdir, os.path.relpath(src, staging))
                dst = os.path.join(table, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                size = os.path.getsize(src)
                _link_absent(src, dst)
                out.append((rel, size, file_stats(meta)))
    except BaseException:
        unpublish(table, out)
        raise
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return out


def unpublish(table: str, staged) -> None:
    """Remove the files a ``stage`` call published (already-missing files
    are fine). Only for files no committed log or manifest references."""
    for rel, _size, _stats in staged:
        with contextlib.suppress(OSError):
            os.unlink(os.path.join(table, rel))


def scan(
    spark: SparkSession,
    base: str,
    groups: dict[tuple[str, ...], list[str]],
    schema: StructType,
    physical: dict[str, str],
    address: bool = False,
) -> DataFrame:
    """Read data files back as the logical rows of ``schema``.

    ``groups`` maps a partition layout (its hive partition columns) to the
    absolute paths of its files; a partitioned layout is read with
    ``basePath=base``, so Spark derives the partition columns from the
    directory names, cast to their declared type (inference would turn a
    string partition value '0123' into int 123). Layouts are read apart
    (one snapshot may mix them after partition evolution) and unioned by
    name. ``physical`` maps a logical column to the name its files store
    (missing = same name). With ``address``, ``FILE`` is the file's
    absolute local path — the file URI from Spark's hidden ``_metadata``
    column with the ``file:`` scheme stripped and the percent-encoding
    decoded — and ``POS`` its physical row index (row-group aware). A
    symlinked table path stays as given: Spark reports the path it was
    handed, so ``FILE`` matches the caller's own absolute paths."""
    if not any(groups.values()):
        address_fields = [StructField(FILE, StringType()), StructField(POS, LongType())]
        return spark.createDataFrame(
            [], StructType(schema.fields + (address_fields if address else []))
        )
    read_schema = StructType(
        [StructField(physical.get(f.name, f.name), f.dataType, f.nullable) for f in schema.fields]
    )
    out = [
        F.col(_quoted(physical.get(f.name, f.name))).alias(f.name) for f in schema.fields
    ]
    if address:
        # url_decode is form-decoding ('+' → space): a literal '+' is
        # protected as %2B first — exact, because the URI renders a
        # literal '%' as %25, never raw
        uri = F.regexp_replace(F.col("_metadata.file_path"), "^file:/+", "/")
        out += [
            F.url_decode(F.regexp_replace(uri, r"\+", "%2B")).alias(FILE),
            F.col("_metadata.row_index").alias(POS),
        ]
    parts = []
    for pcols, files in sorted(groups.items()):
        reader = spark.read.schema(read_schema)
        if pcols:
            reader = reader.option("basePath", base)
        parts.append(reader.parquet(*files).select(*out))
    return functools.reduce(DataFrame.unionByName, parts)


def mask(rows: DataFrame, deleted: DataFrame, on: Column | None = None) -> DataFrame:
    """``rows`` minus those whose ``(FILE, POS)`` address is in ``deleted``:
    one left-anti join (the caller picks its strategy, e.g. a broadcast
    hint on a driver-bounded ``deleted``). ``on`` adds a condition over
    both sides' columns."""
    cond = (rows[FILE] == deleted[FILE]) & (rows[POS] == deleted[POS])
    return rows.join(deleted, cond if on is None else cond & on, "left_anti")


def _quoted(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"
