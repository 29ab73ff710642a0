"""Jar-free Apache Iceberg v2 table support (read, append, time travel).

Speaks the public Iceberg table spec (https://iceberg.apache.org/spec/)
directly — `metadata/vN.metadata.json` + `version-hint.text` (the
HadoopTables file-system catalog convention), Avro manifest lists and
manifest files via ``sources/avro_lite.py`` — so ``lakehouse.read_table /
write_table`` with ``fmt="iceberg"`` work in this container the same way
``delta_lite`` serves ``fmt="delta"`` (VERDICT r8 ask #7; previously a
typed NotImplementedError at ``sources/lakehouse.py:43``).

Spec mapping (section names from the spec):

- **Table Metadata**: format-version 2 with the v2-required fields
  (table-uuid, last-sequence-number, schemas/current-schema-id,
  partition-specs/default-spec-id/last-partition-id, sort-orders,
  snapshots, snapshot-log, metadata-log). Snapshot ids are sequential
  longs (the spec requires unique longs, not randomness — deterministic
  ids keep reruns byte-stable for the repo's fingerprint gates).
- **Manifest Lists** (`snap-<id>.avro`): one `manifest_file` record per
  manifest with the v2-required counts, sequence numbers and per-partition
  `field_summary` bounds (509/510/511) — those summaries drive
  manifest-level partition pruning on read, the first of the two metadata
  pruning levels.
- **Manifests** (`m-<id>-*.avro`): `manifest_entry` records (status,
  snapshot_id, data_file) with identity-transform partition tuples and
  per-column lower/upper bounds in the spec's single-value binary
  serialization (int/long/date LE-int, float/double LE-IEEE; bounds are
  keyed by field id). Bounds come from the parquet footers via the
  soundness-audited ``tablefiles.file_stats`` shared with delta_lite (a
  bound is logged only when every row group contributed; nested columns
  get none while flat columns beside them keep theirs), so file skipping
  is never a correctness dependency.
- **Row-level deletes** (spec §Position Delete Files): DELETE / UPDATE /
  MERGE, planned by ``sources/dml.py``, commit *position delete files* —
  parquet files of ``(file_path, pos)`` pairs registered in delete
  manifests (manifest-list
  ``content=1``) — and every read applies them with
  ``tablefiles.mask``, a distributed anti-join of the data scan's
  ``(file, pos)`` row addresses against the delete frame, honoring the
  spec's sequence-number rule: a delete applies only to data files whose
  data sequence number is ≤ the delete file's. Merge-on-read economics: erasing 100 rows scattered over
  100 one-GB files costs kilobytes of delete parquet, never a rewrite;
  ``compact_iceberg`` later materializes the delete debt.
- **Commit protocol**: every file enters the table through
  ``sources/tablefiles.py``, the module delta_lite uses too. Metadata
  versions publish with ``tablefiles.put_if_absent`` (fsynced temp, then
  link to the final name) so two writers racing from the same parent
  version get a typed ``IcebergCommitConflict`` instead of a silent lost
  update, and ``version-hint.text`` moves with
  ``tablefiles.replace_atomically`` so a reader never observes a
  mid-truncate empty hint (ADVICE r9). Data and delete files go through
  ``tablefiles.stage`` (staging prefix, footer stats, put-if-absent
  publish: a name collision fails loudly instead of silently overwriting
  a file an older snapshot still references). Every snapshot — a write's
  append, overwrite, create or replace (compaction), a DELETE / UPDATE /
  MERGE, an upsert — is committed by ONE function, ``_finish_commit``: it
  writes the commit's own manifests, carries the parent's forward for
  append, DML and upsert, builds the summary, publishes the metadata and
  removes everything it published when the commit does not land. A lost
  race retries metadata-only under one rule — the retry must find the
  schema and default partition spec the files were staged under — plus
  one per operation: append and overwrite rebase over anything, DML and
  upsert only over appends, replace never. Every metadata version, with
  or without a snapshot, is bumped by ``_write_metadata``, which logs the
  version it replaces.
- **Paths**: manifests, manifest lists and data files are recorded as
  fully-qualified absolute locations (rooted at the metadata
  ``location``), matching the Iceberg runtime's resolution rules
  (ADVICE r9); tables written by earlier versions of this module stored
  table-relative paths, which every reader here still resolves via
  ``_resolve``.

Layout on disk::

    table/
      metadata/version-hint.text      # current metadata version (int)
      metadata/v1.metadata.json ...
      metadata/snap-<snapshot-id>.avro
      metadata/m-<snapshot-id>-0.avro
      data/[p_col=value/]part-*.parquet
      data/deletes-<snapshot-id>/part-*.parquet   # position delete files
      data/eq-deletes-<snapshot-id>/part-*.parquet  # equality delete files

Data files keep hive-style partition directories so the shared
``tablefiles.scan`` (``basePath`` = ``data/``) re-derives identity
partition columns (Spark's ``partitionBy`` writer drops them from the
files; delta_lite reads through the same scan). Scale shape: the metadata
files a reader touches are O(manifests), not O(data); file pruning happens
driver-side against footer-derived bounds before any task is scheduled,
exactly like the Iceberg runtime's scan planning.
"""

from __future__ import annotations

import contextlib
import datetime
import functools
import json
import os
import re
import struct
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from . import avro_lite, dml, tablefiles
from .tablefiles import partition_values

# ---------------------------------------------------------------------------
# Spark ↔ Iceberg schema mapping (spec §Schemas and Data Types)
# ---------------------------------------------------------------------------

_SPARK_TO_ICEBERG = {
    T.BooleanType: "boolean",
    T.IntegerType: "int",
    T.ShortType: "int",
    T.ByteType: "int",
    T.LongType: "long",
    T.FloatType: "float",
    T.DoubleType: "double",
    T.StringType: "string",
    T.BinaryType: "binary",
    T.DateType: "date",
    T.TimestampType: "timestamptz",  # Spark TimestampType is UTC-adjusted
    T.TimestampNTZType: "timestamp",
}


def _to_iceberg_type(dt: T.DataType, next_id) -> object:
    """Spark type → Iceberg type JSON; ``next_id()`` allocates nested field
    ids (list element / map key-value / struct fields all carry ids)."""
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision},{dt.scale})"
    if isinstance(dt, T.ArrayType):
        return {
            "type": "list",
            "element-id": next_id(),
            "element": _to_iceberg_type(dt.elementType, next_id),
            "element-required": not dt.containsNull,
        }
    if isinstance(dt, T.MapType):
        return {
            "type": "map",
            "key-id": next_id(),
            "key": _to_iceberg_type(dt.keyType, next_id),
            "value-id": next_id(),
            "value": _to_iceberg_type(dt.valueType, next_id),
            "value-required": not dt.valueContainsNull,
        }
    if isinstance(dt, T.StructType):
        fields = []
        for f in dt.fields:
            fid = next_id()
            fields.append(
                {
                    "id": fid,
                    "name": f.name,
                    "required": not f.nullable,
                    "type": _to_iceberg_type(f.dataType, next_id),
                }
            )
        return {"type": "struct", "fields": fields}
    for spark_cls, iceberg_name in _SPARK_TO_ICEBERG.items():
        if isinstance(dt, spark_cls):
            return iceberg_name
    raise NotImplementedError(f"no Iceberg mapping for Spark type {dt.simpleString()}")


def _iceberg_schema(spark_schema: T.StructType) -> dict:
    """Fresh Iceberg schema with pre-order field-id assignment (matches
    TypeUtil.assignFreshIds' traversal for a new table)."""
    counter = {"n": 0}

    def next_id() -> int:
        counter["n"] += 1
        return counter["n"]

    struct = _to_iceberg_type(spark_schema, next_id)
    return {
        "type": "struct",
        "schema-id": 0,
        "fields": struct["fields"],
        "_last_column_id": counter["n"],  # stripped before serialization
    }


def _to_spark_type(it) -> T.DataType:
    if isinstance(it, str):
        if it.startswith("decimal("):
            p, s = it[8:-1].split(",")
            return T.DecimalType(int(p), int(s))
        if it.startswith("fixed["):
            return T.BinaryType()
        simple = {
            "boolean": T.BooleanType(),
            "int": T.IntegerType(),
            "long": T.LongType(),
            "float": T.FloatType(),
            "double": T.DoubleType(),
            "string": T.StringType(),
            "binary": T.BinaryType(),
            "date": T.DateType(),
            "timestamptz": T.TimestampType(),
            "timestamp": T.TimestampNTZType(),
            "uuid": T.StringType(),
        }
        if it in simple:
            return simple[it]
        raise NotImplementedError(f"no Spark mapping for Iceberg type {it!r}")
    kind = it["type"]
    if kind == "struct":
        return T.StructType(
            [
                T.StructField(f["name"], _to_spark_type(f["type"]), not f["required"])
                for f in it["fields"]
            ]
        )
    if kind == "list":
        return T.ArrayType(_to_spark_type(it["element"]), not it["element-required"])
    if kind == "map":
        return T.MapType(
            _to_spark_type(it["key"]),
            _to_spark_type(it["value"]),
            not it["value-required"],
        )
    raise NotImplementedError(f"no Spark mapping for Iceberg type {it!r}")


def _schema_by_id(meta: dict, schema_id: int | None = None) -> dict:
    sid = meta["current-schema-id"] if schema_id is None else schema_id
    for s in meta["schemas"]:
        if s["schema-id"] == sid:
            return s
    raise KeyError(f"schema-id {sid} not in table metadata")


def _spark_schema(meta: dict, schema_id: int | None = None) -> T.StructType:
    current = _schema_by_id(meta, schema_id)
    return _to_spark_type({"type": "struct", "fields": current["fields"]})


# ---------------------------------------------------------------------------
# single-value binary serialization (spec §Binary single-value serialization)
# ---------------------------------------------------------------------------


def _single_value_bytes(iceberg_type: str, value) -> bytes | None:
    """Bound value → spec binary form; None when the type has no safe
    encoding here (decimal/timestamp bounds are simply omitted — skipping
    is an optimization, never a correctness dependency)."""
    try:
        if iceberg_type == "int":
            return struct.pack("<i", int(value))
        if iceberg_type == "long":
            return struct.pack("<q", int(value))
        if iceberg_type == "float":
            return struct.pack("<f", float(value))
        if iceberg_type == "double":
            return struct.pack("<d", float(value))
        if iceberg_type == "boolean":
            return b"\x01" if value else b"\x00"
        if iceberg_type == "string":
            return str(value).encode("utf-8")
        if iceberg_type == "date":
            if isinstance(value, str):
                value = datetime.date.fromisoformat(value)
            return struct.pack("<i", (value - datetime.date(1970, 1, 1)).days)
    except (ValueError, TypeError, struct.error):
        return None
    return None


def _single_value_parse(iceberg_type: str, data: bytes):
    if iceberg_type == "int":
        return struct.unpack("<i", data)[0]
    if iceberg_type == "long":
        return struct.unpack("<q", data)[0]
    if iceberg_type == "float":
        return struct.unpack("<f", data)[0]
    if iceberg_type == "double":
        return struct.unpack("<d", data)[0]
    if iceberg_type == "boolean":
        return data != b"\x00"
    if iceberg_type == "string":
        return data.decode("utf-8")
    if iceberg_type == "date":
        return datetime.date(1970, 1, 1) + datetime.timedelta(
            days=struct.unpack("<i", data)[0]
        )
    raise NotImplementedError(f"no single-value parse for {iceberg_type!r}")


# ---------------------------------------------------------------------------
# Avro schemas for the two metadata file kinds (field ids from the spec's
# manifest-list / manifest tables; "k/v + logicalType map" is how Iceberg
# encodes int-keyed maps, since Avro maps require string keys)
# ---------------------------------------------------------------------------


def _idmap(name: str, key_id: int, value_id: int, value_type: str = "bytes") -> dict:
    return {
        "type": "array",
        "logicalType": "map",
        "items": {
            "type": "record",
            "name": name,
            "fields": [
                {"name": "key", "type": "int", "field-id": key_id},
                {"name": "value", "type": value_type, "field-id": value_id},
            ],
        },
    }


_FIELD_SUMMARY = {
    "type": "record",
    "name": "r508",
    "fields": [
        {"name": "contains_null", "type": "boolean", "field-id": 509},
        {"name": "contains_nan", "type": ["null", "boolean"], "default": None, "field-id": 518},
        {"name": "lower_bound", "type": ["null", "bytes"], "default": None, "field-id": 510},
        {"name": "upper_bound", "type": ["null", "bytes"], "default": None, "field-id": 511},
    ],
}

MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
        {
            "name": "partitions",
            "type": ["null", {"type": "array", "items": _FIELD_SUMMARY}],
            "default": None,
            "field-id": 507,
        },
    ],
}


def _avro_partition_type(iceberg_type: str) -> object:
    """Partition VALUE type (the transform's result type) → its Avro
    storage type in the manifest partition tuple."""
    mapping = {
        "int": "int",
        "long": "long",
        "string": "string",
        "boolean": "boolean",
        "date": {"type": "int", "logicalType": "date"},
    }
    if iceberg_type not in mapping:
        raise NotImplementedError(
            f"partition values of Iceberg type {iceberg_type!r} are not "
            f"supported here (int/long/string/boolean/date are)"
        )
    return mapping[iceberg_type]


def _manifest_schema(partition_fields: list[dict], field_types: dict[int, str]) -> dict:
    """`manifest_entry` Avro schema for one partition spec.
    ``partition_fields`` is the spec's fields list; ``field_types`` maps
    source field id → iceberg type name."""
    part_record = {
        "type": "record",
        "name": "r102",
        "fields": [
            {
                "name": pf["name"],
                "type": [
                    "null",
                    _avro_partition_type(
                        _transform_result_type(
                            pf["transform"], field_types[pf["source-id"]]
                        )
                    ),
                ],
                "default": None,
                "field-id": pf["field-id"],
            }
            for pf in partition_fields
        ],
    }
    data_file = {
        "type": "record",
        "name": "r2",
        "fields": [
            {"name": "content", "type": "int", "field-id": 134},
            {"name": "file_path", "type": "string", "field-id": 100},
            {"name": "file_format", "type": "string", "field-id": 101},
            {"name": "partition", "type": part_record, "field-id": 102},
            {"name": "record_count", "type": "long", "field-id": 103},
            {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
            {
                # spec field 135: schema field ids an EQUALITY delete file
                # (content=2) matches on; null for data/position entries
                "name": "equality_ids",
                "type": ["null", {"type": "array", "items": "int"}],
                "default": None,
                "field-id": 135,
            },
            {
                "name": "null_value_counts",
                "type": ["null", _idmap("k121_v122", 121, 122, "long")],
                "default": None,
                "field-id": 110,
            },
            {
                "name": "lower_bounds",
                "type": ["null", _idmap("k126_v127", 126, 127)],
                "default": None,
                "field-id": 125,
            },
            {
                "name": "upper_bounds",
                "type": ["null", _idmap("k129_v130", 129, 130)],
                "default": None,
                "field-id": 128,
            },
        ],
    }
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": ["null", "long"], "default": None, "field-id": 1},
            {"name": "sequence_number", "type": ["null", "long"], "default": None, "field-id": 3},
            {"name": "file_sequence_number", "type": ["null", "long"], "default": None, "field-id": 4},
            {"name": "data_file", "type": data_file, "field-id": 2},
        ],
    }


# ---------------------------------------------------------------------------
# table metadata plumbing (HadoopTables version-hint convention)
# ---------------------------------------------------------------------------


class IcebergCommitConflict(RuntimeError):
    """Another writer committed the metadata version this commit was about
    to publish (optimistic concurrency, same contract as
    ``delta_lite.DeltaCommitConflict``): reload the table and retry."""


def _meta_dir(table: str) -> str:
    return os.path.join(table, "metadata")


def _resolve(table: str, path: str) -> str:
    """Resolve a metadata-recorded location to an absolute path. New
    tables record fully-qualified locations (``os.path.join`` would pass
    them through unchanged anyway); tables written before r10 recorded
    table-relative paths — both resolve here, normalized so path-set
    comparisons (snapshot expiry reachability) never alias one physical
    file under two spellings."""
    if path.startswith("file:"):
        path = "/" + path[5:].lstrip("/")
    if not os.path.isabs(path):
        path = os.path.join(table, path)
    return os.path.normpath(path)


def _current_version(table: str) -> int | None:
    hint = os.path.join(_meta_dir(table), "version-hint.text")
    if not os.path.exists(hint):
        return None
    with open(hint) as f:
        return int(f.read().strip())


def load_metadata(table: str, version: int | None = None) -> dict:
    v = version if version is not None else _current_version(table)
    if v is None:
        raise FileNotFoundError(f"{table}: no Iceberg version-hint.text — not a table")
    path = os.path.join(_meta_dir(table), f"v{v}.metadata.json")
    with open(path) as f:
        meta = json.load(f)
    if meta.get("format-version") != 2:
        raise NotImplementedError(
            f"{table}: format-version {meta.get('format-version')} — iceberg_lite "
            f"implements the v2 spec only"
        )
    return meta


def _write_metadata(table: str, meta: dict, version: int) -> None:
    """Publish ``meta`` as metadata ``version`` and move the hint to it —
    the one metadata version bump. It stamps ``last-updated-ms`` and logs
    the version it replaces in ``metadata-log`` (with that version's own
    timestamp, as the spec's log records it), so every caller hands in
    the previous metadata with only its own change applied."""
    now_ms = int(time.time() * 1000)
    log = list(meta.get("metadata-log", []))
    if version > 1:
        log.append({
            "timestamp-ms": meta.get("last-updated-ms", now_ms),
            "metadata-file": os.path.join("metadata", f"v{version - 1}.metadata.json"),
        })
    meta = dict(meta, **{"last-updated-ms": now_ms, "metadata-log": log})
    md = _meta_dir(table)
    body = json.dumps(meta, indent=1, sort_keys=True).encode()
    try:
        # put-if-absent (the HadoopTables commit rule): two writers that
        # both loaded version N race to create v(N+1); exactly one wins,
        # the loser gets a typed conflict instead of silently clobbering
        # the winner's commit (ADVICE r9)
        tablefiles.put_if_absent(
            os.path.join(md, f"v{version}.metadata.json"), lambda f: f.write(body)
        )
    except FileExistsError:
        raise IcebergCommitConflict(
            f"{table}: metadata version {version} already exists — either a "
            f"concurrent writer committed it (reload the table and retry) or "
            f"a previous writer crashed between writing it and moving the "
            f"version hint, leaving an orphan (the hint is the commit point, "
            f"so the orphan was never visible; run "
            f"recover_orphan_metadata(table) with no writers active to "
            f"clear it)"
        ) from None
    # hint LAST, via atomic replace: a reader following the hint always
    # finds a complete file (a crash between the two writes leaves the
    # previous version live), and never a mid-truncate empty hint
    tablefiles.replace_atomically(
        os.path.join(md, "version-hint.text"), lambda f: f.write(str(version).encode())
    )


def recover_orphan_metadata(table: str) -> list[int]:
    """Remove uncommitted metadata versions ABOVE the version hint (review
    r10 #4): a writer that crashed between its put-if-absent metadata
    write and the hint move leaves ``v(N+1).metadata.json`` orphaned while
    the hint still says N — the hint is this module's commit point, so the
    orphan was never reader-visible, but every future commit would compute
    version N+1, hit FileExistsError and wedge on IcebergCommitConflict
    forever. ONLY safe with no writer active (an in-flight writer's
    about-to-commit version looks identical to an orphan — that race is
    why this is a manual recovery step, not automatic adoption). Returns
    the removed version numbers."""
    current = _current_version(table)
    if current is None:
        raise FileNotFoundError(f"{table}: no version hint — not a table")
    removed = []
    v = current + 1
    while True:
        path = os.path.join(_meta_dir(table), f"v{v}.metadata.json")
        if not os.path.exists(path):
            break
        os.remove(path)
        removed.append(v)
        v += 1
    return removed


def snapshots(table: str) -> list[dict]:
    """Snapshot history (id, sequence number, timestamp, operation) —
    the time-travel index."""
    meta = load_metadata(table)
    return [
        {
            "snapshot_id": s["snapshot-id"],
            "sequence_number": s["sequence-number"],
            "timestamp_ms": s["timestamp-ms"],
            "operation": s["summary"]["operation"],
            "is_current": s["snapshot-id"] == meta.get("current-snapshot-id"),
        }
        for s in meta.get("snapshots", [])
    ]


def _field_types(meta: dict) -> dict[int, str]:
    current = _schema_by_id(meta)
    return {
        f["id"]: f["type"] for f in current["fields"] if isinstance(f["type"], str)
    }


def _partition_spec(meta: dict) -> list[dict]:
    specs = {s["spec-id"]: s for s in meta["partition-specs"]}
    return specs[meta["default-spec-id"]]["fields"]


# ---------------------------------------------------------------------------
# write path
# ---------------------------------------------------------------------------


def _coerce_partition_value(iceberg_type: str, raw: str | None):
    if raw is None:
        return None
    if iceberg_type in ("int", "long"):
        return int(raw)
    if iceberg_type == "boolean":
        return raw.lower() == "true"
    if iceberg_type == "date":
        return (datetime.date.fromisoformat(raw) - datetime.date(1970, 1, 1)).days
    return raw  # string


# ---------------------------------------------------------------------------
# hidden partitioning (spec §Partition Transforms + Appendix B bucket hash)
# ---------------------------------------------------------------------------

_TEMPORAL_ALIAS = {
    "year": "year", "years": "year",
    "month": "month", "months": "month",
    "day": "day", "days": "day", "date": "day",
    "hour": "hour", "hours": "hour", "date_hour": "hour",
}
_TERM1_RE = re.compile(
    r"^\s*(year|years|month|months|day|days|date|hour|hours|date_hour)"
    r"\s*\(\s*(\w+)\s*\)\s*$",
    re.IGNORECASE,
)
_TERM2_RE = re.compile(
    r"^\s*(bucket|truncate)\s*\(\s*(\d+)\s*,\s*(\w+)\s*\)\s*$", re.IGNORECASE
)


def _parse_partition_term(term: str) -> tuple[str, str]:
    """User partition term → (transform, source column). The surface is
    the spec's hidden-partitioning DDL shape: ``col`` (identity),
    ``years(col) / months(col) / days(col) / hours(col)``,
    ``bucket(N, col)``, ``truncate(W, col)``. Transforms are stored in
    the spec's canonical strings (``day``, ``bucket[N]``, ...)."""
    m = _TERM1_RE.match(term)
    if m:
        return _TEMPORAL_ALIAS[m.group(1).lower()], m.group(2)
    m = _TERM2_RE.match(term)
    if m:
        n = int(m.group(2))
        if n <= 0:
            raise ValueError(f"partition term {term!r}: parameter must be positive")
        return f"{m.group(1).lower()}[{n}]", m.group(3)
    if "(" in term or ")" in term:
        raise NotImplementedError(
            f"unsupported partition transform {term!r} — identity, "
            f"years/months/days/hours(col), bucket(N, col) and "
            f"truncate(W, col) are implemented (spec §Partition Transforms)"
        )
    return "identity", term.strip()


def _spec_to_terms(spec_fields: list[dict], fid_to_name: dict[int, str]) -> list[str]:
    """Spec fields → the canonical user-facing partition terms (inverse of
    ``_parse_partition_term``), so compaction can round-trip a transform
    spec through ``write_iceberg``."""
    terms = []
    for pf in spec_fields:
        src = fid_to_name[pf["source-id"]]
        t = pf["transform"]
        if t == "identity":
            terms.append(src)
        elif t in ("year", "month", "day", "hour"):
            terms.append(f"{t}s({src})")
        elif t.startswith("bucket["):
            terms.append(f"bucket({t[7:-1]}, {src})")
        elif t.startswith("truncate["):
            terms.append(f"truncate({t[9:-1]}, {src})")
        else:
            raise NotImplementedError(f"unknown transform {t!r}")
    return terms


def _partition_field_name(transform: str, source: str) -> str:
    """Iceberg's default partition-field naming (``ts`` + ``day`` →
    ``ts_day``); identity fields keep the source name."""
    if transform == "identity":
        return source
    base = transform.split("[", 1)[0]
    return f"{source}_{'trunc' if base == 'truncate' else base}"


def _transform_result_type(transform: str, source_type: str) -> str:
    """Iceberg type of the partition VALUE a transform produces — what the
    manifest partition tuple, field summaries and Avro schema store (spec
    §Partition Transforms result-type table)."""
    if transform == "identity":
        return source_type
    if transform in ("year", "month"):
        ok = ("date", "timestamp", "timestamptz")
    elif transform == "day":
        ok = ("date", "timestamp", "timestamptz")
    elif transform == "hour":
        ok = ("timestamp", "timestamptz")
    elif transform.startswith("bucket["):
        ok = ("int", "long", "string", "date", "timestamp", "timestamptz")
    elif transform.startswith("truncate["):
        ok = ("int", "long", "string")
    else:
        raise NotImplementedError(f"unknown partition transform {transform!r}")
    if source_type not in ok:
        raise NotImplementedError(
            f"transform {transform!r} on Iceberg type {source_type!r} is not "
            f"supported here (sources: {ok})"
        )
    if transform == "day":
        return "date"  # spec: day results are date-typed (epoch-day ints)
    if transform.startswith("truncate["):
        return source_type
    return "int"


def _murmur3_32(data: bytes, seed: int = 0) -> int:
    """murmur3_x86_32 (public-domain algorithm; Appendix B requires it
    with seed 0 for bucket transforms). Returns SIGNED int32 — matches the
    spec's published test vectors (e.g. long 34 → 2017239379, string
    "iceberg" → 1210000089)."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    n = len(data)
    rounded = n - (n % 4)
    for i in range(0, rounded, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    tail = data[rounded:]
    if tail:
        k = int.from_bytes(tail, "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


def _murmur3_32_long_np(values):
    """Vectorized murmur3_x86_32(seed 0) over int64 values hashed as the
    spec requires — 8-byte little-endian, i.e. exactly two 4-byte mix
    rounds — so bucketing an int/long/date/timestamp column at write is a
    numpy pass, not per-row Python."""
    import numpy as np

    v = values.astype(np.uint64)
    u32 = np.uint32
    h = np.zeros(len(v), dtype=np.uint32)
    for shift in (np.uint64(0), np.uint64(32)):
        k = ((v >> shift) & np.uint64(0xFFFFFFFF)).astype(np.uint32)
        k = k * u32(0xCC9E2D51)
        k = (k << u32(15)) | (k >> u32(17))
        k = k * u32(0x1B873593)
        h ^= k
        h = (h << u32(13)) | (h >> u32(19))
        h = h * u32(5) + u32(0xE6546B64)
    h ^= u32(8)
    h ^= h >> u32(16)
    h = h * u32(0x85EBCA6B)
    h ^= h >> u32(13)
    h = h * u32(0xC2B2AE35)
    h ^= h >> u32(16)
    return h.astype(np.int32)


def _bucket_expr(n: int, source: str, source_type: str):
    """``bucket(N, col)`` as an Arrow-batched pandas UDF (Appendix B:
    ``(murmur3(v) & Integer.MAX_VALUE) % N``). int/long/date/timestamp go
    through the vectorized numpy hash (values promoted to long — date as
    epoch days, timestamp as epoch micros); strings hash their UTF-8 bytes
    per value. Write-path only — reads never recompute buckets."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # no pd.Series type hints: pandas is imported locally, so string
    # annotations (PEP 563 is active module-wide) would not resolve in
    # pyspark's type-hint inference — the explicit returnType carries it
    if source_type == "string":

        @pandas_udf("int")
        def bkt(s):
            out = s.map(
                lambda v: None
                if v is None
                else (_murmur3_32(v.encode("utf-8")) & 0x7FFFFFFF) % n
            )
            return out.astype("Int32")

    else:

        @pandas_udf("int")
        def bkt(s):
            import numpy as np
            import pandas as pd

            mask = s.isna().to_numpy()
            if source_type in ("date",):
                longs = (
                    pd.to_datetime(s.where(~s.isna(), pd.Timestamp(0)))
                    .to_numpy()
                    .astype("datetime64[D]")
                    .astype(np.int64)
                )
            elif source_type in ("timestamp", "timestamptz"):
                longs = (
                    pd.to_datetime(s.where(~s.isna(), pd.Timestamp(0)))
                    .to_numpy()
                    .astype("datetime64[us]")
                    .astype(np.int64)
                )
            else:
                longs = s.fillna(0).to_numpy().astype(np.int64)
            h = _murmur3_32_long_np(longs)
            out = ((h.astype(np.int64) & 0x7FFFFFFF) % n).astype("int32")
            res = pd.Series(out).astype("Int32")
            res[mask] = None
            return res

    from pyspark.sql import functions as F

    return bkt(F.col(source))


def _partition_expr(transform: str, source: str, source_type: str):
    """Transform → the pyspark Column computing its partition value at
    write. All JVM-side built-ins except bucket (a vectorized pandas UDF).
    Temporal transforms follow the spec's UTC semantics — like the Iceberg
    runtime, this assumes a UTC session timezone for timestamptz sources."""
    from pyspark.sql import functions as F

    col = F.col(source)
    if transform == "year":
        return (F.year(col) - F.lit(1970)).cast("int")
    if transform == "month":
        return ((F.year(col) - 1970) * 12 + F.month(col) - 1).cast("int")
    if transform == "day":
        return F.to_date(col)
    if transform == "hour":
        # timestamp → epoch seconds is timezone-exact; floor-divide to hours
        return F.floor(col.cast("double") / 3600).cast("int")
    if transform.startswith("bucket["):
        return _bucket_expr(int(transform[7:-1]), source, source_type)
    if transform.startswith("truncate["):
        w = int(transform[9:-1])
        if source_type == "string":
            return F.substring(col, 1, w)
        # spec: v - (((v % W) + W) % W) — floors toward -inf for negatives
        trunc = col - (((col % w) + w) % w)
        return trunc.cast("long" if source_type == "long" else "int")
    raise NotImplementedError(f"no write expression for transform {transform!r}")


def _coerce_bound(value, source_type: str | None):
    """Coerce a string scan_filter bound to the source column's comparison
    domain (VERDICT r11 #3: an identity date partition fed a string bound
    straight into comparison with ``datetime.date`` summaries — TypeError
    at planning time). Temporal TRANSFORM bounds already coerce inside
    ``_transform_value``; this covers identity fields and the per-file
    column-bounds check, matching what ``_single_value_parse`` yields."""
    if value is None or not isinstance(value, str):
        return value
    if source_type == "date":
        return datetime.date.fromisoformat(value)
    if source_type in ("int", "long"):
        return int(value)
    if source_type in ("float", "double"):
        return float(value)
    return value


def _transform_value(transform: str, value):
    """Driver-side transform application for scan pruning: map a SOURCE-
    domain bound (int/str/date/datetime) into the transform's result
    domain. Returns None for non-order-preserving transforms (bucket) —
    callers must then skip range pruning on that field."""
    if value is None:
        return None
    if transform == "identity":
        return value
    if transform in ("year", "month", "day", "hour"):
        dt = value
        if isinstance(dt, str):
            dt = datetime.datetime.fromisoformat(dt)
        if isinstance(dt, datetime.datetime):
            pass
        elif isinstance(dt, datetime.date):
            dt = datetime.datetime(dt.year, dt.month, dt.day)
        else:
            raise TypeError(f"temporal transform bound must be date-like: {value!r}")
        if transform == "year":
            return dt.year - 1970
        if transform == "month":
            return (dt.year - 1970) * 12 + dt.month - 1
        if transform == "day":
            return dt.date()  # compared against epoch-day ints parsed as dates
        ts = dt.replace(tzinfo=dt.tzinfo or datetime.timezone.utc).timestamp()
        return int(ts // 3600)
    if transform.startswith("truncate["):
        w = int(transform[9:-1])
        if isinstance(value, str):
            return value[:w]
        return value - (((value % w) + w) % w)
    return None  # bucket: hash order ≠ value order


def _apply_partition_exprs(
    df: DataFrame, spec_fields: list[dict], field_types: dict[int, str],
    fid_to_name: dict[int, str],
) -> tuple[DataFrame, list[str]]:
    """Add derived partition-value columns for non-identity spec fields
    and return (df, names to partitionBy). Identity fields partition by
    the source column itself (Spark drops it from the data files; reads
    re-derive it from the hive dirs via basePath). Transform fields
    partition by a DERIVED column — dropped from data files by
    partitionBy — while the source column stays in the data: the spec's
    hidden-partitioning contract."""
    names = []
    for pf in spec_fields:
        src = fid_to_name[pf["source-id"]]
        if pf["transform"] == "identity":
            names.append(pf["name"])
            continue
        if pf["name"] in df.columns:
            raise ValueError(
                f"partition field name {pf['name']!r} collides with a data column"
            )
        df = df.withColumn(
            pf["name"],
            _partition_expr(pf["transform"], src, field_types[pf["source-id"]]),
        )
        names.append(pf["name"])
    return df, names


def _stage_partitioned(
    frame: DataFrame, table: str, meta: dict
) -> tuple[list, list[str]]:
    """Stage a frame of the table's logical rows (a write's frame, DML's
    new rows, an upsert's source) under ``meta``'s default (possibly
    transform-) partition spec, deriving hidden-partition columns — under
    PHYSICAL column names (renames never touch files or dirs). Returns
    (staged files, partition field names)."""
    frame = _to_physical_frame(frame, meta)
    phys = _physical_names(meta)
    fid_to_phys = {
        f["id"]: phys[f["name"]] for f in _schema_by_id(meta)["fields"]
    }
    frame, part_names = _apply_partition_exprs(
        frame, _partition_spec(meta), _field_types(meta), fid_to_phys
    )
    return tablefiles.stage(frame, table, "data", part_names), part_names


def _match_or_mint_spec(
    prev_specs: list[dict], prev_last_pid: int, want: list[tuple]
) -> tuple[int, list[dict], list[dict], int]:
    """Resolve a desired partition layout (``want`` = [(name, transform,
    source-id), ...]) against the table's spec history: reuse the matching
    spec-id if one exists, else mint the next id with fresh partition
    field ids. Returns (spec_id, spec_fields, specs list incl. any new
    one, last-partition-id). Shared by the write path and
    ``evolve_partition_spec`` so layout identity has one definition."""
    matched = next(
        (
            s
            for s in prev_specs
            if [(f["name"], f["transform"], f["source-id"]) for f in s["fields"]]
            == want
        ),
        None,
    )
    if matched is not None:
        return matched["spec-id"], matched["fields"], prev_specs, prev_last_pid
    spec_id = max((s["spec-id"] for s in prev_specs), default=-1) + 1
    spec_fields = [
        {
            "name": n,
            "transform": t,
            "source-id": sid,
            "field-id": prev_last_pid + 1 + i,
        }
        for i, (n, t, sid) in enumerate(want)
    ]
    return (
        spec_id,
        spec_fields,
        prev_specs + [{"spec-id": spec_id, "fields": spec_fields}],
        prev_last_pid + len(spec_fields),
    )


def _bounds_maps(stats: dict, name_to_field: dict[str, dict]):
    """Footer min/max → Iceberg lower/upper bound id-maps (and null counts)."""
    lowers, uppers, nulls = [], [], []
    for col, fid_type in name_to_field.items():
        fid, itype = fid_type
        lo = stats.get("minValues", {}).get(col)
        hi = stats.get("maxValues", {}).get(col)
        if lo is not None and hi is not None:
            lo_b = _single_value_bytes(itype, lo)
            hi_b = _single_value_bytes(itype, hi)
            if lo_b is not None and hi_b is not None:
                lowers.append({"key": fid, "value": lo_b})
                uppers.append({"key": fid, "value": hi_b})
        nc = stats.get("nullCount", {}).get(col)
        if nc is not None:
            nulls.append({"key": fid, "value": int(nc)})
    return (lowers or None), (uppers or None), (nulls or None)


def _data_entries(
    table: str,
    staged: list[tuple],
    partition_cols: list[str],
    spec_fields: list[dict],
    field_types: dict[int, str],
    name_to_field: dict[str, tuple],
    snap_id: int,
) -> list[dict]:
    """Staged parquet files → ADDED manifest_entry records (absolute
    file_path locations, partition tuples from the hive dirs coerced to
    each transform's RESULT type, footer-derived bounds)."""
    entries = []
    for rel, size, stats in staged:
        pvals_raw = partition_values(rel, partition_cols)
        partition = {
            pf["name"]: _coerce_partition_value(
                _transform_result_type(
                    pf["transform"], field_types[pf["source-id"]]
                ),
                pvals_raw.get(pf["name"]),
            )
            for pf in spec_fields
        }
        lowers, uppers, nulls = _bounds_maps(stats, name_to_field)
        entries.append(
            {
                "status": 1,  # ADDED
                "snapshot_id": snap_id,
                "sequence_number": None,  # inherited from the manifest list
                "file_sequence_number": None,
                "data_file": {
                    "content": 0,  # DATA
                    "file_path": os.path.join(os.path.abspath(table), rel),
                    "file_format": "PARQUET",
                    "partition": partition,
                    "record_count": stats["numRecords"],
                    "file_size_in_bytes": size,
                    "equality_ids": None,
                    "null_value_counts": nulls,
                    "lower_bounds": lowers,
                    "upper_bounds": uppers,
                },
            }
        )
    return entries


def _partition_summaries(
    entries: list[dict], spec_fields: list[dict], field_types: dict[int, str]
) -> list[dict] | None:
    """Per-partition-field lower/upper bound summaries (fields 509-511)
    over one manifest's entries — what manifest-level pruning reads."""
    if not spec_fields:
        return None
    summaries = []
    for pf in spec_fields:
        itype = _transform_result_type(pf["transform"], field_types[pf["source-id"]])
        vals = [e["data_file"]["partition"].get(pf["name"]) for e in entries]
        non_null = [v for v in vals if v is not None]
        if itype == "date":  # stored as epoch-day ints in the tuple
            bound = lambda v: struct.pack("<i", v)  # noqa: E731
        else:
            bound = lambda v, t=itype: _single_value_bytes(t, v)  # noqa: E731
        summaries.append(
            {
                "contains_null": any(v is None for v in vals),
                "contains_nan": False,
                "lower_bound": bound(min(non_null)) if non_null else None,
                "upper_bound": bound(max(non_null)) if non_null else None,
            }
        )
    return summaries


def _write_manifest(
    table: str,
    filename: str,
    entries: list[dict],
    spec_fields: list[dict],
    field_types: dict[int, str],
    spec_id: int,
    schema_json: dict,
    seq: int,
    snap_id: int,
    content: int,
) -> dict:
    """Write one manifest Avro file and return its manifest_file record
    for the manifest list. ``content=0`` for data manifests, ``1`` for
    (position-)delete manifests — the list-level flag a reader uses to
    split the scan into data files and the delete frame.

    Filenames get a per-commit random suffix (review r10 #3, matching the
    runtime's ``snap-<id>-<attempt>-<uuid>`` convention): snapshot ids are
    deterministic, so two writers racing from the same parent would
    otherwise write the SAME manifest name — avro_lite truncates on open,
    and the loser would corrupt the winner's already-committed manifests
    before its own metadata put-if-absent fails. Readers resolve manifests
    only through recorded paths, never by name pattern."""
    stem, ext = os.path.splitext(filename)
    filename = f"{stem}-{uuid.uuid4().hex[:8]}{ext}"
    manifest_path = os.path.join(os.path.abspath(table), "metadata", filename)
    avro_lite.write_ocf(
        manifest_path,
        _manifest_schema(spec_fields, field_types),
        entries,
        extra_meta={
            "schema": json.dumps(schema_json).encode(),
            "partition-spec": json.dumps(spec_fields).encode(),
            "partition-spec-id": str(spec_id).encode(),
            "format-version": b"2",
            "content": b"data" if content == 0 else b"deletes",
        },
    )
    return {
        "manifest_path": manifest_path,
        "manifest_length": os.path.getsize(manifest_path),
        "partition_spec_id": spec_id,
        "content": content,
        "sequence_number": seq,
        "min_sequence_number": seq,
        "added_snapshot_id": snap_id,
        "added_files_count": len(entries),
        "existing_files_count": 0,
        "deleted_files_count": 0,
        "added_rows_count": sum(e["data_file"]["record_count"] for e in entries),
        "existing_rows_count": 0,
        "deleted_rows_count": 0,
        "partitions": _partition_summaries(entries, spec_fields, field_types),
    }


def _write_manifest_list(table: str, snap_id: int, manifests: list[dict]) -> str:
    # random suffix for the same racing-writer reason as _write_manifest
    list_path = os.path.join(
        os.path.abspath(table),
        "metadata",
        f"snap-{snap_id}-{uuid.uuid4().hex[:8]}.avro",
    )
    avro_lite.write_ocf(
        list_path,
        MANIFEST_LIST_SCHEMA,
        manifests,
        extra_meta={"format-version": b"2"},
    )
    return list_path


def _rows_in(manifests: list[dict], content: int) -> int:
    return sum(
        m["added_rows_count"] + m["existing_rows_count"]
        for m in manifests
        if m["content"] == content
    )


def _next_ids(meta: dict) -> tuple[int, int]:
    seq = meta["last-sequence-number"] + 1
    snap_id = max((s["snapshot-id"] for s in meta.get("snapshots", [])), default=0) + 1
    return seq, snap_id


def _layout(meta: dict) -> tuple:
    """What a commit's files were staged under: the table (its uuid), its
    current schema id, its default spec id and how many specs it has (a
    spec minted since, even if no longer the default, would clash with a
    spec this commit mints). A retry must find the same tuple."""
    return (
        meta["table-uuid"],
        meta["current-schema-id"],
        meta.get("default-spec-id"),
        len(meta["partition-specs"]),
    )


def _finish_commit(
    table: str,
    version: int | None,
    meta: dict,
    operation: str,
    staged_data: list,
    part_cols: list[str],
    staged_del: list = (),
    equality_ids: list[int] | None = None,
    changes: dict | None = None,
    revalidate=None,
    row_level: bool = False,
    retries: int = 3,
) -> int:
    """Commit staged files as ONE snapshot on top of metadata ``version``
    (``meta``; None for a table this commit creates) — the one snapshot
    commit every Iceberg write goes through: ``write_iceberg``'s append,
    overwrite, create and replace, the DML statements and
    ``upsert_by_key``. Returns the new snapshot id.

    The commit's own manifests are a data manifest for ``staged_data``
    (hive partition dirs ``part_cols``) and a delete manifest for
    ``staged_del`` — position deletes, or equality deletes on
    ``equality_ids`` — each only when non-empty, stamped with the schema
    and default spec of ``meta`` updated by ``changes`` (a write's adopted
    or minted spec), i.e. the layout the files were staged under. An
    ``append`` and every ``row_level`` commit (DML, upsert) carry the
    parent's manifests forward, delete manifests included; ``overwrite``
    and ``replace`` reference only their own. The summary's two delete
    totals are tracked apart: position-delete rows subtract 1:1 from
    total-records (the ``replace`` guard's arithmetic), while an
    equality-delete KEY may kill 0..N rows, so its total only signals
    that logical cardinality is no longer metadata-derivable. A carrying
    commit adds its deletes to the parent's totals; the others reset them.

    Optimistic concurrency (spec §Optimistic Concurrency): losing the
    put-if-absent on the metadata version reloads the table and retries,
    up to ``retries`` times, METADATA-ONLY — the staged files stay where
    they landed; only the manifests, the manifest list and the metadata
    JSON are rebuilt under fresh ids on top of the new base. A retry
    first runs ``revalidate(fresh_meta)`` (a write re-checks its frame, so
    it fails as a write made after the concurrent change would), then one
    rule: it must find the ``_layout`` the files were staged under — a
    concurrent schema or partition-spec change makes the staged files'
    layout a lie, so it is a typed conflict. Per operation on top of it:

    - ``append``, ``overwrite``: rebase over any snapshot;
    - DML and upsert (``row_level``): rebase only over ``append``
      snapshots — a concurrent DML or overwrite may have touched the rows
      this commit scanned. Under an interleaved append the retried commit
      keeps snapshot isolation: the appended rows were not scanned, so a
      predicate DELETE does not cover them, while an equality delete
      re-sequenced ABOVE the append covers its keys (CDC last-writer-wins,
      what a re-run would produce);
    - ``replace``: never retries — its data-unchanged claim was made
      against a parent that just moved.

    No retry either when the hint did not advance: that is an ORPHAN
    metadata file from a crashed writer (see ``recover_orphan_metadata``),
    and retrying would recompute the same version forever. Whenever the
    commit does not land, every file it published is removed again
    (``_unpublish_commit_files``)."""
    changes = changes or {}
    staged_layout = _layout(meta)
    target = dict(meta, **changes)
    spec_fields = _partition_spec(target)
    schema_json = _schema_by_id(target)
    field_types = _field_types(target)
    name_to_field = _phys_name_to_field(target, schema_json)
    carries = row_level or operation == "append"
    n_del = sum(stats["numRecords"] for _rel, _size, stats in staged_del)

    def own_manifests(seq: int, snap_id: int) -> list[dict]:
        groups = []
        if staged_data:
            groups.append((0, _data_entries(
                table, staged_data, part_cols, spec_fields, field_types,
                name_to_field, snap_id,
            )))
        if staged_del:
            groups.append(
                (1, _delete_entries(table, staged_del, spec_fields, snap_id, equality_ids))
            )
        return [
            _write_manifest(
                table, f"m-{snap_id}-{i}.avro", entries, spec_fields, field_types,
                target["default-spec-id"], schema_json, seq, snap_id, content=content,
            )
            for i, (content, entries) in enumerate(groups)
        ]

    os.makedirs(_meta_dir(table), exist_ok=True)
    list_path, own = None, []
    try:
        for attempt in range(retries + 1):
            seq, snap_id = _next_ids(meta)
            own = own_manifests(seq, snap_id)
            parent = next(
                (s for s in meta.get("snapshots", [])
                 if s["snapshot-id"] == meta.get("current-snapshot-id")),
                None,
            )
            psum = parent["summary"] if parent else {}
            carried = []
            if carries and parent is not None:
                _, carried = avro_lite.read_ocf(_resolve(table, parent["manifest-list"]))
            added_rows = _rows_in(own, content=0)
            if operation == "replace":
                # a replace claims "same LOGICAL rows, different files" and
                # the streaming tail SKIPS it on that claim — hold the
                # writer to it. Logical = physical data rows minus
                # outstanding POSITION deletes (1:1 by construction);
                # outstanding EQUALITY deletes make logical cardinality
                # metadata-underivable (a key kills 0..N rows), so the
                # guard stands down there — the lifecycle fuzzer
                # model-checks compaction row preservation instead
                # (tests/test_iceberg_lifecycle_fuzz.py).
                expect = int(psum.get("total-records", -1))
                if expect >= 0:
                    expect -= int(psum.get("total-position-deletes", 0))
                if int(psum.get("total-equality-deletes", 0)) > 0:
                    expect = -1
                if expect >= 0 and expect != added_rows:
                    raise ValueError(
                        f"replace (compaction) must not change data: parent "
                        f"snapshot holds {expect} logical rows, rewrite holds "
                        f"{added_rows}; use mode='overwrite' for a data change"
                    )
            debt = psum if carries else {}
            list_path = _write_manifest_list(table, snap_id, carried + own)
            now_ms = int(time.time() * 1000)
            snapshot = {
                "snapshot-id": snap_id,
                "sequence-number": seq,
                "timestamp-ms": now_ms,
                "manifest-list": list_path,
                "schema-id": target["current-schema-id"],
                "summary": {
                    # "replace" = a rewrite that changes no data
                    # (compaction): the streaming tail skips it the way
                    # delta_lite_stream skips dataChange=false commits
                    "operation": operation,
                    "added-data-files": str(len(staged_data)),
                    "added-records": str(added_rows),
                    "total-records": str(_rows_in(carried + own, content=0)),
                    "total-position-deletes": str(
                        int(debt.get("total-position-deletes", 0))
                        + (n_del if equality_ids is None else 0)
                    ),
                    "total-equality-deletes": str(
                        int(debt.get("total-equality-deletes", 0))
                        + (0 if equality_ids is None else n_del)
                    ),
                },
            }
            # spec: every snapshot but the first records its parent — the
            # streaming tail tells a mid-history rewrite from the
            # parentless initial load by it
            if parent is not None:
                snapshot["parent-snapshot-id"] = parent["snapshot-id"]
            new_meta = dict(
                meta,
                **changes,
                **{
                    "last-sequence-number": seq,
                    "current-snapshot-id": snap_id,
                    "snapshots": meta.get("snapshots", []) + [snapshot],
                    "snapshot-log": meta.get("snapshot-log", [])
                    + [{"timestamp-ms": now_ms, "snapshot-id": snap_id}],
                },
            )
            try:
                _write_metadata(table, new_meta, (version or 0) + 1)
                return snap_id
            except IcebergCommitConflict:
                fresh = _current_version(table)
                if fresh == version:
                    raise  # an orphan, not a race (docstring)
                if operation == "replace":
                    raise IcebergCommitConflict(
                        f"{table}: commit lost the race and replace "
                        f"(compaction) does not retry — its data-unchanged "
                        f"claim was made against a parent that just moved; "
                        f"re-run compact_iceberg"
                    ) from None
                if attempt == retries:
                    raise IcebergCommitConflict(
                        f"{table}: commit lost the race {retries + 1} times; "
                        f"giving up"
                    ) from None
            base_seq = meta["last-sequence-number"]
            meta, version = load_metadata(table, fresh), fresh
            if revalidate is not None:
                revalidate(meta)
            if _layout(meta) != staged_layout:
                raise IcebergCommitConflict(
                    f"{table}: the table changed under this {operation} "
                    f"(table, schema id, default spec id, spec count "
                    f"{staged_layout[1:]} -> {_layout(meta)[1:]}): its files "
                    f"were staged under the old layout; re-run the operation"
                )
            clash = [
                s["snapshot-id"]
                for s in meta.get("snapshots", [])
                if row_level
                and s["sequence-number"] > base_seq
                and s["summary"]["operation"] != "append"
            ]
            if clash:
                raise IcebergCommitConflict(
                    f"{table}: concurrent non-append snapshot(s) {clash} "
                    f"committed since this {operation} scanned the table — "
                    f"the rows it targeted may have changed; reload and "
                    f"re-run the operation"
                )
            # rebase: drop THIS attempt's manifests and list only; the
            # staged files stay
            _unpublish_commit_files(table, [], list_path, own)
            list_path, own = None, []
    except BaseException:
        _unpublish_commit_files(table, [*staged_data, *staged_del], list_path, own)
        raise


def _unpublish_commit_files(
    table: str, staged: list, list_path: str | None, own: list[dict]
) -> None:
    """Remove what a commit that did not land published: the ``staged``
    data and delete files, its own manifests and its manifest list (files
    already gone are fine). No committed metadata version references any
    of them — the put-if-absent failed or never ran — and nothing else
    would ever reclaim them (``expire_snapshots`` only removes files that
    expired snapshots referenced)."""
    tablefiles.unpublish(table, staged)
    paths = [m["manifest_path"] for m in own] + ([list_path] if list_path else [])
    for path in paths:
        with contextlib.suppress(OSError):
            os.unlink(path)


def _first_metadata(table: str, schema: T.StructType) -> dict:
    """The metadata a create commits on top of: a fresh table uuid and
    field ids, no spec (the write adopts or mints it), no snapshot."""
    ice = _iceberg_schema(schema)
    return {
        "format-version": 2,
        "table-uuid": str(uuid.UUID(bytes=os.urandom(16), version=4)),
        "location": os.path.abspath(table),
        "last-sequence-number": 0,
        "last-column-id": ice.pop("_last_column_id"),
        "schemas": [ice],
        "current-schema-id": ice["schema-id"],
        "partition-specs": [],
        "last-partition-id": 999,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "default-sort-order-id": 0,
        "properties": {},
    }


def _conform(df: DataFrame, meta: dict, mode: str) -> DataFrame:
    """``df`` in the column order of the table's current schema, or a loud
    error when its columns differ: reusing the table's field ids keeps
    bounds/stats keys and old snapshots coherent, so a shape change goes
    through add_column (or a new location), never a silent re-numbering."""
    expected = {f.name: f.dataType for f in _spark_schema(meta).fields}
    incoming = {f.name: f.dataType for f in df.schema.fields}
    if incoming != expected:
        if mode == "append":
            raise ValueError(
                f"append schema mismatch: table {expected} vs frame {incoming}"
            )
        raise NotImplementedError(
            f"overwrite with a different schema (table {expected}, frame "
            f"{incoming}): evolve via add_column or write a new table"
        )
    return df.select(*expected)


def _spec_terms(meta: dict, partition_cols: list[str] | None) -> list[tuple]:
    """Partition terms — ``days(ts)``, ``bucket(8, id)``, ``truncate(2,
    s)`` or plain identity columns — as the spec tuple ``[(field name,
    transform, source-id), ...]`` under the table's current schema, with
    every check made before any file lands. Spec field names use the
    source column's PHYSICAL name: hive dirs and the files' own columns
    share it, so renames never move directories, and a spec created
    before a rename keeps matching (spec identity compares the tuple)."""
    schema_json = _schema_by_id(meta)
    name_to_id = {f["name"]: f["id"] for f in schema_json["fields"]}
    field_types = _field_types(meta)
    phys = _physical_names(meta, schema_json)
    want = []
    for t, src in (_parse_partition_term(c) for c in partition_cols or []):
        if src not in name_to_id:
            raise KeyError(f"partition column {src!r} not in schema")
        # loud unsupported-transform/type check
        _avro_partition_type(_transform_result_type(t, field_types[name_to_id[src]]))
        want.append((_partition_field_name(t, phys[src]), t, name_to_id[src]))
    names = [n for n, _t, _sid in want]
    if len(set(names)) != len(names):
        # two same-base transforms of one column share the default field
        # name — the second derived column would silently overwrite the
        # first's values while the spec claims both transforms
        dupes = sorted({n for n in names if names.count(n) > 1})
        raise ValueError(
            f"partition terms collide on derived field name(s) {dupes}: "
            f"at most one transform per (kind, column) is supported"
        )
    return want


def write_iceberg(
    df: DataFrame,
    table: str,
    mode: str = "overwrite",
    partition_cols: list[str] | None = None,
    commit_retries: int = 3,
) -> int:
    """Commit df to an Iceberg v2 table; returns the new snapshot id.

    ``overwrite`` starts a snapshot whose manifest list references only
    the new manifest (prior snapshots keep their own manifest lists, so
    time travel to them still works — the manifest list is authoritative
    for a snapshot's content per spec §Snapshots). ``append`` carries the
    previous snapshot's manifest_file records forward unchanged (their
    sequence numbers are theirs) and adds one new manifest. ``replace``
    is compaction's overwrite: it must keep the parent's logical rows.

    What is decided here is only what a write decides: the frame checked
    against the table, a new table's first metadata, and the partition
    spec — an append adopts the table's; the other modes reuse a spec
    with the same ``(name, transform, source-id)`` fields or mint a new
    spec id, so older snapshots' manifests keep resolving their own
    partition fields. The data lands ONCE (``_stage_partitioned``); the
    snapshot is committed by ``_finish_commit``, whose put-if-absent
    losses retry up to ``commit_retries`` times, metadata-only, by its one
    rule: the retry must find the schema and default spec the files were
    staged under (a concurrent add_column fails the frame check first).
    ``append`` and ``overwrite`` rebase over anything else; ``replace``
    never retries."""
    if mode not in ("overwrite", "append", "replace"):
        raise ValueError(f"mode {mode!r}: overwrite|append|replace")
    version = _current_version(table)
    if version is None:
        if mode == "replace":
            raise ValueError("replace (compaction commit) needs an existing table")
        meta = _first_metadata(table, df.schema)
    else:
        # the PINNED version, not a re-read of the hint (r10 TOCTOU)
        meta = load_metadata(table, version)
        df = _conform(df, meta, mode)
    want = _spec_terms(meta, partition_cols)
    changes: dict = {}
    if mode == "append" and version is not None:
        spec = [(pf["name"], pf["transform"], pf["source-id"]) for pf in _partition_spec(meta)]
        if want and want != spec:
            raise ValueError(f"append partition spec {want} != table spec {spec}")
    else:
        spec_id, _fields, specs, last_pid = _match_or_mint_spec(
            meta["partition-specs"], meta["last-partition-id"], want
        )
        changes = {
            "partition-specs": specs,
            "default-spec-id": spec_id,
            "last-partition-id": last_pid,
        }
    staged, part_cols = _stage_partitioned(df, table, dict(meta, **changes))
    return _finish_commit(
        table, version, meta, mode, staged, part_cols,
        changes=changes,
        revalidate=lambda fresh: _conform(df, fresh, mode),
        retries=commit_retries,
    )


# ---------------------------------------------------------------------------
# read path
# ---------------------------------------------------------------------------


def _select_snapshot(meta: dict, snapshot_id=None, as_of_timestamp_ms=None) -> dict:
    snaps = meta.get("snapshots", [])
    if snapshot_id is not None:
        for s in snaps:
            if s["snapshot-id"] == snapshot_id:
                return s
        raise KeyError(f"snapshot {snapshot_id} not in table (have "
                       f"{[s['snapshot-id'] for s in snaps]})")
    if as_of_timestamp_ms is not None:
        eligible = [s for s in snaps if s["timestamp-ms"] <= as_of_timestamp_ms]
        if not eligible:
            raise KeyError(f"no snapshot at or before {as_of_timestamp_ms}")
        # sequence-number tie-break: two commits can land in the same ms
        return max(eligible, key=lambda s: (s["timestamp-ms"], s["sequence-number"]))
    current = meta.get("current-snapshot-id")
    for s in snaps:
        if s["snapshot-id"] == current:
            return s
    raise FileNotFoundError("table has no current snapshot")


def _summary_may_match(summary: dict, itype: str, value) -> bool:
    if value is None:
        return summary["contains_null"]
    lo, hi = summary.get("lower_bound"), summary.get("upper_bound")
    if lo is None or hi is None:
        return True  # no bounds → conservatively keep
    return _single_value_parse(itype, lo) <= value <= _single_value_parse(itype, hi)


def _summary_may_overlap(summary: dict, itype: str, lo, hi) -> bool:
    """Range version of ``_summary_may_match`` for transform-derived
    partition ranges: keep the manifest unless its field summary's
    [lower, upper] is provably disjoint from [lo, hi]."""
    slo, shi = summary.get("lower_bound"), summary.get("upper_bound")
    if slo is None or shi is None:
        return True  # no bounds → conservatively keep
    smin, smax = _single_value_parse(itype, slo), _single_value_parse(itype, shi)
    if lo is not None and smax < lo:
        return False
    if hi is not None and smin > hi:
        return False
    return True


def _bucket_value_py(value, source_type: str, n: int):
    """Driver-side bucket transform for point-lookup pruning — the same
    Appendix B hash the write-path UDF applies. Returns None when the
    value's type can't be hashed here (prune conservatively)."""
    if value is None:
        return None
    if source_type == "string":
        return (_murmur3_32(str(value).encode("utf-8")) & 0x7FFFFFFF) % n
    if source_type in ("int", "long"):
        return (_murmur3_32(struct.pack("<q", int(value))) & 0x7FFFFFFF) % n
    if source_type == "date":
        d = value
        if isinstance(d, str):
            d = datetime.date.fromisoformat(d)
        days = (d - datetime.date(1970, 1, 1)).days
        return (_murmur3_32(struct.pack("<q", days)) & 0x7FFFFFFF) % n
    if source_type in ("timestamp", "timestamptz"):
        dt = value
        if isinstance(dt, str):
            dt = datetime.datetime.fromisoformat(dt)
        dt = dt.replace(tzinfo=dt.tzinfo or datetime.timezone.utc)
        micros = int(dt.timestamp() * 1_000_000)
        return (_murmur3_32(struct.pack("<q", micros)) & 0x7FFFFFFF) % n
    return None


def plan_scan(
    table: str,
    snapshot_id: int | None = None,
    as_of_timestamp_ms: int | None = None,
    partition_filters: dict | None = None,
    scan_filter: tuple | None = None,
    pin_schema: bool | None = None,
) -> dict:
    """Driver-side scan planning: resolve the snapshot, prune manifests by
    partition field summaries, prune files by partition tuple equality and
    column bounds. Returns the pruning ledger (what tests assert on):
    ``{files, schema, manifests_total, manifests_read, files_total_in_read,
    partition_cols}`` — files is the surviving list of absolute paths —
    plus the merge-on-read state a reader must apply: ``file_seqs`` (data
    sequence number per surviving file) and ``delete_files`` (position
    delete files as ``(path, sequence_number)`` pairs; spec rule — a
    delete applies to data files whose sequence number is ≤ its own)."""
    table = os.path.abspath(table)
    meta = load_metadata(table)
    snap = _select_snapshot(meta, snapshot_id, as_of_timestamp_ms)
    # schema selection (ADVICE r9): a CURRENT read uses the table's
    # current-schema-id — after a metadata-only add_column the newest
    # snapshot's pinned schema-id is one evolution behind, and the runtime
    # reads current state under the current schema. Snapshot pinning is
    # for TIME TRAVEL, where evolution keeps every referenced schema-id in
    # the metadata so the read gets the shape that snapshot had.
    # pin_schema default: time travel pins the snapshot's own schema-id;
    # pin_schema=False lets a DML scan pin the SNAPSHOT (commit
    # consistency) while reading under the CURRENT schema (ADVICE r9 rule)
    time_travel = snapshot_id is not None or as_of_timestamp_ms is not None
    if pin_schema is None:
        pin_schema = time_travel
    schema_id = snap.get("schema-id") if pin_schema else meta["current-schema-id"]
    snap_schema = _schema_by_id(meta, schema_id)
    field_types = {
        f["id"]: f["type"] for f in snap_schema["fields"] if isinstance(f["type"], str)
    }
    name_to_fid = {f["name"]: f["id"] for f in snap_schema["fields"]}

    _, all_manifests = avro_lite.read_ocf(_resolve(table, snap["manifest-list"]))
    manifests = [m for m in all_manifests if m["content"] == 0]
    # delete files (content=1 manifests): collected BEFORE any partition
    # pruning — they apply by (file_path, pos) match / key equality, so
    # pruning data files never makes a delete unsound, but pruning the
    # delete frame by a partition filter could resurrect rows. Two kinds
    # per spec: content=1 POSITION deletes (apply to data seq <= delete
    # seq), content=2 EQUALITY deletes (apply to data seq STRICTLY < —
    # the CDC-upsert shape: a commit's own new files outlive its deletes).
    delete_files: list[tuple[str, int]] = []
    eq_delete_files: list[tuple[str, int, tuple[str, ...]]] = []
    fid_to_name = {f["id"]: f["name"] for f in snap_schema["fields"]}
    for m in all_manifests:
        if m["content"] != 1:
            continue
        _, dentries = avro_lite.read_ocf(_resolve(table, m["manifest_path"]))
        for e in dentries:
            if e["status"] == 2:
                continue
            dfile = e["data_file"]
            dseq = e.get("sequence_number")
            dseq = dseq if dseq is not None else m["sequence_number"]
            path = _resolve(table, dfile["file_path"])
            if dfile["content"] == 2:  # EQUALITY_DELETES
                ids = dfile.get("equality_ids") or []
                names = tuple(fid_to_name[i] for i in ids if i in fid_to_name)
                if len(names) != len(ids):
                    raise NotImplementedError(
                        f"{table}: equality delete {path} references field "
                        f"ids {ids} not all present in the read schema"
                    )
                eq_delete_files.append((path, dseq, names))
            else:
                delete_files.append((path, dseq))
    # partition specs AS USED by this snapshot's manifests (a later
    # overwrite/evolution may have changed the table default; spec-ids are
    # immutable). Since r12 a snapshot may MIX specs: evolve_partition_spec
    # is metadata-only, so appends after it land under the new default
    # while carried manifests keep the old one. Pruning runs per manifest
    # under ITS spec; the scan groups files by layout (see _scan).
    spec_ids = {m["partition_spec_id"] for m in manifests}
    specs = {s["spec-id"]: s["fields"] for s in meta["partition-specs"]}
    # the representative spec (partition_cols / partition_spec consumers,
    # e.g. compaction's rewrite target): the manifests' spec when uniform,
    # else the table DEFAULT — compacting a mixed table migrates it
    spec_fields = (
        specs[next(iter(spec_ids))]
        if len(spec_ids) == 1
        else _partition_spec(meta)
    )

    # pf_types carry the transform RESULT type — what the partition tuple
    # and field summaries actually store (epoch-day ints for days(ts), ...)
    def _pf_types(sfields: list[dict]) -> dict[str, str]:
        return {
            pf["name"]: _transform_result_type(
                pf["transform"], field_types[pf["source-id"]]
            )
            for pf in sfields
        }

    pf_types_by_spec = {sid: _pf_types(specs[sid]) for sid in spec_ids}
    pf_types = _pf_types(spec_fields)
    partition_filters = dict(partition_filters or {})
    all_pf_names = set(pf_types) | {
        n for t in pf_types_by_spec.values() for n in t
    }
    unknown = set(partition_filters) - all_pf_names
    if unknown:
        raise KeyError(f"partition_filters on non-partition columns: {sorted(unknown)}")
    if partition_filters:
        # a partition filter is VALUE-granular only where the layout makes
        # it so; a spec in this snapshot that lacks the field cannot prune
        # its files — returning them would change the result silently
        for sid in spec_ids:
            lacking = set(partition_filters) - set(pf_types_by_spec[sid])
            if lacking:
                raise NotImplementedError(
                    f"partition_filters {sorted(lacking)} not in partition "
                    f"spec {sid}, which some of this snapshot's files use "
                    f"(mixed layouts after evolve_partition_spec) — filter "
                    f"rows instead, or compact to migrate the layout"
                )
    # hidden-partition pruning (spec §Partition Transforms): a scan_filter
    # range on a SOURCE column maps through every order-preserving
    # transform of that column into a partition-value range — the whole
    # point of days(ts) layouts is that a time-range read skips files
    # without the reader naming the partition field. Bucket is not
    # order-preserving: it prunes only on point lookups (lo == hi).
    derived_by_spec: dict[int, dict[str, tuple]] = {sid: {} for sid in spec_ids}
    if scan_filter is not None:
        fcol, flo, fhi = scan_filter
        src_type = field_types.get(name_to_fid.get(fcol))
        flo = _coerce_bound(flo, src_type)
        fhi = _coerce_bound(fhi, src_type)
        # the per-file column-bounds check below unpacks scan_filter again
        # — keep it on the coerced domain too
        scan_filter = (fcol, flo, fhi)
        for sid in spec_ids:
            for pf in specs[sid]:
                if fid_to_name.get(pf["source-id"]) != fcol:
                    continue
                t = pf["transform"]
                if t.startswith("bucket["):
                    if flo is not None and flo == fhi:
                        n = int(t[7:-1])
                        b = _bucket_value_py(
                            flo, field_types[pf["source-id"]], n
                        )
                        if b is not None:
                            derived_by_spec[sid][pf["name"]] = (b, b)
                    continue
                t_lo = _transform_value(t, flo)
                t_hi = _transform_value(t, fhi)
                if t_lo is not None or t_hi is not None:
                    derived_by_spec[sid][pf["name"]] = (t_lo, t_hi)
    kept_manifests = []
    for m in manifests:
        sid = m["partition_spec_id"]
        m_fields = specs[sid]
        m_types = pf_types_by_spec[sid]
        m_ranges = derived_by_spec[sid]
        summaries = m.get("partitions")
        if (partition_filters or m_ranges) and summaries:
            drop = False
            for i, pf in enumerate(m_fields):
                if i >= len(summaries):
                    break
                itype = m_types[pf["name"]]
                if pf["name"] in partition_filters:
                    want = partition_filters[pf["name"]]
                    if itype == "date" and isinstance(want, str):
                        # _single_value_parse returns datetime.date for
                        # date bounds; compare like with like
                        want = datetime.date.fromisoformat(want)
                    if not _summary_may_match(summaries[i], itype, want):
                        drop = True
                        break
                if pf["name"] in m_ranges:
                    t_lo, t_hi = m_ranges[pf["name"]]
                    if not _summary_may_overlap(summaries[i], itype, t_lo, t_hi):
                        drop = True
                        break
            if drop:
                continue
        kept_manifests.append(m)

    files: list[str] = []
    file_seqs: dict[str, int] = {}
    file_specs: dict[str, int] = {}
    files_total = 0
    for m in kept_manifests:
        sid = m["partition_spec_id"]
        m_types = pf_types_by_spec[sid]
        m_ranges = derived_by_spec[sid]
        _, entries = avro_lite.read_ocf(_resolve(table, m["manifest_path"]))
        for e in entries:
            if e["status"] == 2:  # DELETED
                continue
            files_total += 1
            dfile = e["data_file"]
            part = dfile.get("partition") or {}
            keep = True
            for col, want in partition_filters.items():
                have = part.get(col)
                if m_types[col] == "date" and have is not None:
                    have = datetime.date(1970, 1, 1) + datetime.timedelta(days=have)
                    if isinstance(want, str):
                        want = datetime.date.fromisoformat(want)
                if have != want:
                    keep = False
                    break
            if keep:
                for col, (t_lo, t_hi) in m_ranges.items():
                    have = part.get(col)
                    if have is None:
                        # an all-null source partition cannot satisfy a
                        # range predicate (SQL: NULL fails every bound)
                        keep = False
                        break
                    if m_types[col] == "date":
                        have = datetime.date(1970, 1, 1) + datetime.timedelta(
                            days=have
                        )
                    if (t_lo is not None and have < t_lo) or (
                        t_hi is not None and have > t_hi
                    ):
                        keep = False
                        break
            if keep and scan_filter is not None:
                col, lo, hi = scan_filter
                fid = name_to_fid.get(col)
                itype = field_types.get(fid)
                lbs = {d["key"]: d["value"] for d in (dfile.get("lower_bounds") or [])}
                ubs = {d["key"]: d["value"] for d in (dfile.get("upper_bounds") or [])}
                if fid in lbs and fid in ubs and itype is not None:
                    fmin = _single_value_parse(itype, lbs[fid])
                    fmax = _single_value_parse(itype, ubs[fid])
                    if (lo is not None and fmax < lo) or (hi is not None and fmin > hi):
                        keep = False
            if keep:
                path = _resolve(table, dfile["file_path"])
                files.append(path)
                file_specs[path] = sid
                eseq = e.get("sequence_number")
                file_seqs[path] = eseq if eseq is not None else m["sequence_number"]
    return {
        "files": files,
        "file_seqs": file_seqs,
        "delete_files": delete_files,
        "eq_delete_files": eq_delete_files,
        "schema": _spark_schema(meta, schema_id),
        "manifests_total": len(manifests),
        "manifests_read": len(kept_manifests),
        "files_total_in_read": files_total,
        "partition_cols": [pf["name"] for pf in spec_fields],
        "partition_spec": spec_fields,
        # per-file spec ids + each spec's partition field names: mixed
        # layouts after evolve_partition_spec read as one grouped scan
        "file_specs": file_specs,
        "partition_cols_by_spec": {
            sid: [pf["name"] for pf in specs[sid]] for sid in spec_ids
        },
        # logical -> physical parquet column names for the selected schema
        # (identity unless rename_column ever ran; see _physical_names)
        "physical_by_name": _physical_names(meta, snap_schema),
    }


def read_iceberg(
    spark: SparkSession,
    table: str,
    snapshot_id: int | None = None,
    as_of_timestamp_ms: int | None = None,
    partition_filters: dict | None = None,
    scan_filter: tuple | None = None,
) -> DataFrame:
    """Snapshot read (current, by snapshot id, or as-of timestamp) with
    metadata-level manifest + file pruning. The surviving file list goes to
    one ``spark.read.parquet`` under the TABLE schema (never inference),
    with ``basePath`` re-deriving identity partition columns from the hive
    directory names. Snapshots carrying position deletes get the
    merge-on-read anti-join (see ``_scan``)."""
    plan = plan_scan(
        table, snapshot_id, as_of_timestamp_ms, partition_filters, scan_filter
    )
    return _scan(spark, os.path.abspath(table), plan)


def _scan(
    spark: SparkSession, table: str, plan: dict, lineage: bool = False
) -> DataFrame:
    """Execute a ``plan_scan`` plan through the shared ``tablefiles.scan``:
    the plan's files grouped by partition layout (after
    ``evolve_partition_spec`` one snapshot legally mixes specs, each file
    under its own manifest's spec), read under the TABLE schema with
    physical names aliased back to logical. ``lineage=True`` keeps the
    ``(dml.FILE, dml.POS)`` row-address columns the DML paths turn into
    position delete records; either way, outstanding deletes are applied
    distributedly — position deletes by ``tablefiles.mask`` with the
    spec's sequence-number rule as its one extra condition, equality
    deletes by ``_apply_equality_deletes`` — so every consumer — queries,
    DML re-scans, compaction — sees logical rows."""
    from pyspark.sql import functions as F

    schema: T.StructType = plan["schema"]
    file_specs = plan.get("file_specs") or {}
    pcols_by_spec = plan.get("partition_cols_by_spec") or {}
    groups: dict[tuple[str, ...], list[str]] = {}
    for f in plan["files"]:
        pc = pcols_by_spec.get(file_specs.get(f), plan["partition_cols"])
        groups.setdefault(tuple(pc), []).append(f)
    deletes = bool(plan["files"]) and bool(plan["delete_files"] or plan["eq_delete_files"])
    df = tablefiles.scan(
        spark,
        os.path.join(table, "data"),
        groups,
        schema,
        plan.get("physical_by_name") or {},
        address=lineage or deletes,
    )
    if deletes:
        df = _attach_data_seq(spark, df, plan)
        if plan["delete_files"]:
            df = tablefiles.mask(
                df,
                _position_deletes(spark, plan),
                F.col("_ice_data_seq") <= F.col("_ice_del_seq"),
            )
        if plan["eq_delete_files"]:
            df = _apply_equality_deletes(spark, df, plan)
    cols = [f.name for f in schema.fields]
    return df.select(*cols, *([dml.FILE, dml.POS] if lineage else []))


def _attach_data_seq(spark: SparkSession, df: DataFrame, plan: dict) -> DataFrame:
    """Attach each row's data-file sequence number (``_ice_data_seq``) via
    a broadcast of the O(files) driver-side map — both delete kinds gate
    on it (position: ``<=``, equality: ``<``). LEFT join + per-row
    raise_error (ADVICE r10 #4): every scanned row's file is in the plan's
    map by construction, so a runtime URI-normalization mismatch must fail
    LOUDLY at scan time — the prior inner join silently dropped the whole
    affected file from results (silent data loss in production, even
    though in-repo count audits would notice); a null seq would instead
    silently resurrect deleted rows. The guard is a map-side when-clause —
    no extra action or shuffle."""
    from pyspark.sql import functions as F

    from ..functions.localrows import local_rows_df

    # O(files) driver map as ONE Arrow batch, not a defaultParallelism-
    # sliced Python RDD: the broadcast build job otherwise pays one Python
    # worker round trip per slice for a kilobyte of rows (r13 jobprof)
    seq_df = local_rows_df(
        spark,
        [(p, s) for p, s in plan["file_seqs"].items()],
        "_ice_seq_file string, _ice_data_seq long",
    )
    joined = df.join(
        F.broadcast(seq_df), df[dml.FILE] == seq_df["_ice_seq_file"], "left"
    ).drop("_ice_seq_file")
    return joined.withColumn(
        "_ice_data_seq",
        F.when(
            F.col("_ice_data_seq").isNull(),
            F.raise_error(
                F.concat(
                    F.lit(
                        "iceberg_lite: scanned row's file is missing from the "
                        "plan's sequence map (URI normalization mismatch?): "
                    ),
                    F.col(dml.FILE),
                )
            ).cast("long"),
        ).otherwise(F.col("_ice_data_seq")),
    )


def _position_deletes(spark: SparkSession, plan: dict) -> DataFrame:
    """The snapshot's position deletes as ``(dml.FILE, dml.POS,
    _ice_del_seq)``, for ``tablefiles.mask`` under the spec's rule
    ``data_seq <= delete_seq``. Scale shape: the frame stays distributed
    (parquet scan, never collected), so the mask is a HASH anti-join on the
    (file, pos) equi-pair with the rule as a residual condition — the
    same shape Spark's own DV application uses."""
    from pyspark.sql import functions as F

    by_seq: dict[int, list[str]] = {}
    for path, seq in plan["delete_files"]:
        by_seq.setdefault(seq, []).append(path)
    return functools.reduce(
        DataFrame.unionByName,
        [
            spark.read.schema(_POS_DELETE_SCHEMA)
            .parquet(*paths)
            .select(
                F.col("file_path").alias(dml.FILE),
                F.col("pos").alias(dml.POS),
                F.lit(seq).alias("_ice_del_seq"),
            )
            for seq, paths in sorted(by_seq.items())
        ],
    )


def _apply_equality_deletes(spark: SparkSession, df: DataFrame, plan: dict) -> DataFrame:
    """Anti-join the data scan against each equality-delete key set (spec
    content=2): a row dies when its key columns null-safe-equal a delete
    row's AND its file's sequence number is STRICTLY below the delete's —
    so a CDC upsert's own appended rows (same commit, same seq) survive
    the keys it deletes. One hash anti-join per (seq, key-set) group; keys
    stay distributed."""
    from pyspark.sql import functions as F

    schema: T.StructType = plan["schema"]
    types = {f.name: f.dataType.simpleString() for f in schema.fields}
    # key files carry PHYSICAL column names (identical to logical unless
    # rename_column ran after the delete was written)
    phys = plan.get("physical_by_name") or {}
    groups: dict[tuple[int, tuple[str, ...]], list[str]] = {}
    for path, seq, names in plan["eq_delete_files"]:
        groups.setdefault((seq, names), []).append(path)
    for (seq, names), paths in sorted(groups.items()):
        key_schema = ", ".join(
            f"`{phys.get(n, n)}` {types[n]}" for n in names
        )
        keys = spark.read.schema(key_schema).parquet(*paths)
        # alias the delete side so same-named key columns stay resolvable
        keys = keys.select(
            *[F.col(phys.get(n, n)).alias(f"_ice_eq_{n}") for n in names]
        ).distinct()
        cond = F.col("_ice_data_seq") < F.lit(seq)
        for n in names:
            cond = cond & F.col(n).eqNullSafe(F.col(f"_ice_eq_{n}"))
        df = df.join(keys, cond, "left_anti")
    return df


# ---------------------------------------------------------------------------
# changelog read (CDF parity with delta_lite.table_changes; VERDICT r10 #2)
# ---------------------------------------------------------------------------


def _snapshot_state(table: str, snap: dict, fid_to_name: dict[int, str]):
    """One snapshot's full file state from its manifest list: (data files
    as {path: data_seq}, position delete files as [(path, seq)], equality
    delete files as [(path, seq, key names)], per-file spec-id map)."""
    _, all_manifests = avro_lite.read_ocf(_resolve(table, snap["manifest-list"]))
    files: dict[str, int] = {}
    pos_dels: list[tuple[str, int]] = []
    eq_dels: list[tuple[str, int, tuple[str, ...]]] = []
    fspec: dict[str, int] = {}  # per-FILE spec id (snapshots mix after
    # evolve_partition_spec; one trailing id would scan some files under
    # the wrong layout)
    for m in all_manifests:
        _, entries = avro_lite.read_ocf(_resolve(table, m["manifest_path"]))
        for e in entries:
            if e["status"] == 2:
                continue
            dfile = e["data_file"]
            eseq = e.get("sequence_number")
            seq = eseq if eseq is not None else m["sequence_number"]
            path = _resolve(table, dfile["file_path"])
            if m["content"] == 0:
                files[path] = seq
                fspec[path] = m["partition_spec_id"]
            elif dfile["content"] == 2:
                ids = dfile.get("equality_ids") or []
                names = tuple(fid_to_name[i] for i in ids if i in fid_to_name)
                if len(names) != len(ids):
                    # same guard as plan_scan (review r12 #1): silently
                    # narrowing the key set after drop_column would make
                    # the delete match on the surviving columns alone —
                    # wrong pre-images, silently
                    raise NotImplementedError(
                        f"{table}: equality delete {path} references field "
                        f"ids {ids} not all present in the read schema"
                    )
                eq_dels.append((path, seq, names))
            else:
                pos_dels.append((path, seq))
    return files, pos_dels, eq_dels, fspec


def iceberg_table_changes(
    spark: SparkSession, table: str, from_seq: int, to_seq: int | None = None
) -> DataFrame:
    """Changelog read — CDF parity with ``delta_lite.table_changes``
    (VERDICT r10 ask #2): emit every row-level change committed by the
    snapshots with sequence numbers in ``(from_seq, to_seq]`` as table
    rows plus ``_change_type`` ('insert' | 'delete') and ``_commit_seq``.
    Nothing was written for this at commit time — changes are DERIVED from
    each snapshot's own manifests against its parent's, the way Iceberg's
    changelog scan works:

    - data files the snapshot ADDED → their rows are inserts (an upsert's
      own new rows outlive its equality deletes by the strict-< rule, so
      all of them are inserts);
    - data files the snapshot REMOVED (a full overwrite) → their rows AS
      VISIBLE AT THE PARENT (parent's delete state applied) are deletes;
    - position delete files it added → the ADDRESSED rows, re-read from
      their data files by (file, pos), are deletes (exact pre-images);
    - equality delete files it added → parent-visible rows matching the
      keys from STRICTLY OLDER files are deletes (pre-images of an
      upsert's replaced rows; brand-new keys delete nothing).

    ``replace`` (compaction) snapshots emit nothing — same rows, different
    files. UPDATE/MERGE surface as delete(old image) + insert(new image)
    pairs, the same net shape ``delta_lite.snapshot_diff`` yields.

    Scale shape: inserts and position-delete pre-images cost O(changed
    rows) — only added files and addressed files are read; a full
    overwrite or an equality-delete batch re-reads the parent's files it
    invalidated (the delete volume IS the change volume there). All joins
    are distributed hash joins; the only driver-side data is the O(files)
    distinct-target list of a position-delete batch. Expired snapshots in
    range raise (retention-gap honesty, same rule as the streaming tail),
    except expired compaction ``replace`` snapshots, which never carried
    change rows."""
    from pyspark.sql import functions as F

    table = os.path.abspath(table)
    meta = load_metadata(table)
    snaps = sorted(meta.get("snapshots", []), key=lambda s: s["sequence-number"])
    if to_seq is None:
        to_seq = meta["last-sequence-number"]
    schema = _spark_schema(meta)
    cols = [f.name for f in schema.fields]
    fid_to_name = {f["id"]: f["name"] for f in _schema_by_id(meta)["fields"]}
    specs = {s["spec-id"]: s["fields"] for s in meta["partition-specs"]}
    by_id = {s["snapshot-id"]: s for s in snaps}
    # retention-gap honesty (same contract as the streaming tail)
    have_seqs = {s["sequence-number"] for s in snaps}
    missing = set(range(from_seq + 1, to_seq + 1)) - have_seqs
    if missing:
        harmless = set(
            json.loads(meta.get("properties", {}).get(_EXPIRED_REPLACE_KEY, "[]"))
        )
        missing -= harmless
    if missing:
        raise RuntimeError(
            f"iceberg_table_changes: snapshots {sorted(missing)} in "
            f"({from_seq}, {to_seq}] were expired; their changes cannot be "
            f"replayed — start from the oldest retained sequence or raise "
            f"the retention window"
        )

    state_cache: dict[int, tuple] = {}

    def state(snap: dict):
        sid = snap["snapshot-id"]
        if sid not in state_cache:
            state_cache[sid] = _snapshot_state(table, snap, fid_to_name)
        return state_cache[sid]

    phys_by_name = _physical_names(meta)
    pcols_by_spec = {
        sid: [pf["name"] for pf in fields] for sid, fields in specs.items()
    }

    def subplan(files_map: dict, fspec: dict, pos=(), eq=()):
        # per-FILE spec ids (snapshots mix layouts after
        # evolve_partition_spec); _scan groups reads by layout
        return {
            "files": sorted(files_map),
            "file_seqs": dict(files_map),
            "delete_files": list(pos),
            "eq_delete_files": list(eq),
            "schema": schema,
            "partition_cols": [],
            "file_specs": {p: fspec[p] for p in files_map},
            "partition_cols_by_spec": pcols_by_spec,
            "physical_by_name": phys_by_name,
        }

    def lift(df: DataFrame, ctype: str, seq: int) -> DataFrame:
        return df.select(
            *[F.col(c) for c in cols],
            F.lit(ctype).alias("_change_type"),
            F.lit(seq).cast("long").alias("_commit_seq"),
        )

    pieces: list[DataFrame] = []
    for snap in snaps:
        seq = snap["sequence-number"]
        if not from_seq < seq <= to_seq:
            continue
        if snap["summary"]["operation"] == "replace":
            continue  # compaction: same rows, different files — no change
        cur_files, cur_pos, cur_eq, cur_fspec = state(snap)
        # the snapshot's OWN manifest list already encodes the parent
        # state for append/DML commits (they carry every parent manifest
        # forward): entries with sequence numbers STRICTLY BELOW this
        # snapshot's are the parent's, entries AT it are this commit's —
        # so the diff needs no parent lookup and survives parent expiry
        par_files = {p: fs for p, fs in cur_files.items() if fs < seq}
        par_pos = [(p, ds) for p, ds in cur_pos if ds < seq]
        par_eq = [(p, ds, nm) for p, ds, nm in cur_eq if ds < seq]
        # spec resolution is per FILE (cur_fspec / the parent's map): the
        # r11 spec-id-0 bug class — one trailing spec id applied to every
        # file — cannot recur, and mixed-layout snapshots after
        # evolve_partition_spec resolve each file under its own manifest's
        # spec
        new_files = {p: fs for p, fs in cur_files.items() if fs >= seq}
        new_pos = [(p, ds) for p, ds in cur_pos if ds >= seq]
        new_eq = [(p, ds, nm) for p, ds, nm in cur_eq if ds >= seq]
        # removed files (a FULL overwrite drops the parent's manifests)
        # are the one diff that genuinely needs the parent snapshot
        removed: dict[str, int] = {}
        removed_fspec: dict[str, int] = {}
        has_parent = "parent-snapshot-id" in snap
        parent = by_id.get(snap.get("parent-snapshot-id"))
        if parent is not None:
            pf, ppos, peq, pfspec = state(parent)
            removed = {p: fs for p, fs in pf.items() if p not in cur_files}
            if removed:
                # a full overwrite dropped the parent's delete manifests
                # from the current list — the removal emission must apply
                # the PARENT's own delete state, not the carried subset
                par_pos, par_eq = ppos, peq
                removed_fspec = pfspec
        elif has_parent and not par_files:
            # parent expired AND nothing carried: a full overwrite whose
            # removed rows are unrecoverable — refuse loudly
            raise RuntimeError(
                f"iceberg_table_changes: snapshot {snap['snapshot-id']} "
                f"(seq {seq}) overwrote a parent that was expired; its "
                f"removed rows cannot be derived — start from sequence "
                f"{seq} or later"
            )
        if new_files:
            ins = _scan(spark, table, subplan(new_files, cur_fspec))
            pieces.append(lift(ins, "insert", seq))
        if removed:
            # full overwrite: the parent's rows, as the parent served them
            old = _scan(
                spark, table, subplan(removed, removed_fspec, par_pos, par_eq)
            )
            pieces.append(lift(old, "delete", seq))
        if new_pos:
            dels = spark.read.schema(_POS_DELETE_SCHEMA).parquet(
                *[p for p, _s in new_pos]
            )
            # distinct target list is O(files) — the only driver-side data
            targets = {
                r.file_path
                for r in dels.select("file_path").distinct().collect()
            }
            tmap = {p: s for p, s in par_files.items() if p in targets}
            if len(tmap) != len(targets):
                raise RuntimeError(
                    f"position delete targets {sorted(targets - set(tmap))} "
                    f"not present in the parent snapshot — corrupt changelog"
                )
            tdf = _scan(spark, table, subplan(tmap, cur_fspec), lineage=True)
            hit = tdf.join(
                dels,
                (tdf[dml.FILE] == dels["file_path"])
                & (tdf[dml.POS] == dels["pos"]),
                "left_semi",
            )
            pieces.append(lift(hit, "delete", seq))
        if new_eq:
            visible = _scan(
                spark, table, subplan(par_files, cur_fspec, par_pos, par_eq)
            )
            groups: dict[tuple[str, ...], list[str]] = {}
            for path, _s, names in new_eq:
                groups.setdefault(names, []).append(path)
            types = {f.name: f.dataType.simpleString() for f in schema.fields}
            for names, paths in sorted(groups.items()):
                # key files carry PHYSICAL column names (r12: reading them
                # by the renamed logical name would null-fill the keys and
                # silently emit no pre-images)
                key_schema = ", ".join(
                    f"`{phys_by_name.get(n, n)}` {types[n]}" for n in names
                )
                keys = (
                    spark.read.schema(key_schema)
                    .parquet(*paths)
                    .select(
                        *[
                            F.col(phys_by_name.get(n, n)).alias(f"_ice_eq_{n}")
                            for n in names
                        ]
                    )
                    .distinct()
                )
                cond = F.lit(True)
                for n in names:
                    cond = cond & F.col(n).eqNullSafe(F.col(f"_ice_eq_{n}"))
                pre = visible.join(keys, cond, "left_semi")
                pieces.append(lift(pre, "delete", seq))
    if not pieces:
        empty = spark.createDataFrame([], schema)
        return lift(empty, "insert", 0).limit(0)
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# row-level DML: DELETE / UPDATE / MERGE via position delete files
# (spec §Position Delete Files; VERDICT r9 ask #1 — delta_lite DML parity)
# ---------------------------------------------------------------------------

# spec-reserved field ids for the position-delete file columns
_POS_DELETE_SCHEMA = "file_path string, pos long"


def _delete_entries(
    table: str,
    staged: list,
    spec_fields: list[dict],
    snap_id: int,
    equality_ids: list[int] | None = None,
) -> list[dict]:
    """Delete files → ADDED manifest_entry records: position deletes, or
    equality deletes (content=2) carrying the spec's ``equality_ids``
    (field 135) so readers know which columns the keys match on. The
    partition tuple is all-null: lite delete files are written
    table-global (they match by exact file path or by key), and
    ``plan_scan`` never partition-prunes delete manifests, so null tuples
    cannot resurrect rows."""
    return [
        {
            "status": 1,
            "snapshot_id": snap_id,
            "sequence_number": None,
            "file_sequence_number": None,
            "data_file": {
                # POSITION_DELETES | EQUALITY_DELETES
                "content": 1 if equality_ids is None else 2,
                "file_path": os.path.join(os.path.abspath(table), rel),
                "file_format": "PARQUET",
                "partition": {pf["name"]: None for pf in spec_fields},
                "record_count": stats["numRecords"],
                "file_size_in_bytes": size,
                "equality_ids": None if equality_ids is None else list(equality_ids),
                "null_value_counts": None,
                "lower_bounds": None,
                "upper_bounds": None,
            },
        }
        for rel, size, stats in staged
    ]


def _pinned(table: str) -> tuple[str, int | None, dict]:
    """(absolute table path, version, metadata) for a row-level commit:
    version FIRST, then that EXACT version loaded (ADVICE r10 TOCTOU) — a
    hint read + an unpinned load are two reads, and a concurrent commit
    landing between them yields stale meta with an advanced version;
    put-if-absent would then publish v(N+2) missing the intervening
    snapshot, the exact lost update IcebergCommitConflict exists to stop."""
    table = os.path.abspath(table)
    version = _current_version(table)
    return table, version, load_metadata(table, version)


def _lineage_scan(spark: SparkSession, table: str, meta: dict) -> DataFrame:
    """The DML planner's scan: live rows of the PINNED snapshot plus their
    (file, pos) address — not a re-read of the hint, or a commit landing
    between the metadata load and the scan would make the position deletes
    target rows the validation never accounted for."""
    plan = plan_scan(table, snapshot_id=meta.get("current-snapshot-id"), pin_schema=False)
    return _scan(spark, table, plan, lineage=True)


def _commit_plan(table: str, version: int | None, meta: dict, plan) -> int | None:
    """Iceberg's commit step for a ``dml`` plan, merge-on-read: the hits
    become position-delete files (kilobytes; no data file is rewritten)
    and the new rows become data files under the table's partition spec,
    in ONE snapshot — readers see before XOR after. Returns the snapshot
    id, or None when nothing was staged (a DELETE or UPDATE that matched
    nothing stages no new rows either)."""
    from pyspark.sql import functions as F

    _seq, snap_id = _next_ids(meta)
    # one unpartitioned delete file per non-empty task (the Iceberg
    # runtime's write shape; the hits never touch the driver), its rows
    # sorted as the spec requires
    staged_del = tablefiles.stage(
        plan.hits.select(F.col(dml.FILE).alias("file_path"), F.col(dml.POS).alias("pos"))
        .sortWithinPartitions("file_path", "pos"),
        table,
        os.path.join("data", f"deletes-{snap_id}"),
    )
    if plan.new_rows is None or (not staged_del and plan.kind != "merge"):
        staged_data, part_cols = [], []
    else:
        staged_data, part_cols = _stage_partitioned(
            plan.new_rows.drop(dml.CHANGE), table, meta
        )
    if not staged_del and not staged_data:
        return None
    return _finish_commit(
        table, version, meta,
        "delete" if plan.new_rows is None else "overwrite",
        staged_data, part_cols, staged_del,
        row_level=True,
    )


def delete_where(spark: SparkSession, table: str, predicate: str) -> int | None:
    """Transactional row-level DELETE, merge-on-read: ONE distributed scan
    (with prior deletes already applied, so a second DELETE never
    re-deletes) finds matching rows' physical addresses, which land as
    position delete parquet + one delete manifest in a new ``delete``
    snapshot — no data file is rewritten. NULL-predicate rows are kept
    (SQL DELETE semantics). Returns the new snapshot id, or None if
    nothing matched. Erasing 100 rows scattered over 100 one-GB files
    costs kilobytes (the GDPR-erasure shape); ``compact_iceberg``
    materializes the debt later. Time travel to pre-delete snapshots
    still sees the rows — their manifest lists carry no delete manifest."""
    table, version, meta = _pinned(table)
    with dml.delete(_lineage_scan(spark, table, meta), predicate) as plan:
        return _commit_plan(table, version, meta, plan)


def update_where(
    spark: SparkSession, table: str, assignments: dict[str, str], predicate: str
) -> int | None:
    """Transactional row-level UPDATE (``UPDATE ... SET col = expr WHERE
    pred``), merge-on-read: matched rows' old images become position
    deletes (kilobytes) and their updated images land as NEW data files —
    both in ONE snapshot, so readers see pre-update XOR post-update.
    All assignments see the PRE-update row (simultaneous semantics:
    ``{"a": "b", "b": "a"}`` swaps) and are cast back to the column's
    declared type — an UPDATE never forks the table schema. NULL-predicate
    rows are untouched. Returns the new snapshot id, or None when nothing
    matched. Same shape as ``delta_lite.update_where(mode='dv')``."""
    table, version, meta = _pinned(table)
    with dml.update(
        _lineage_scan(spark, table, meta), _spark_schema(meta), assignments, predicate
    ) as plan:
        return _commit_plan(table, version, meta, plan)


def merge_iceberg(
    spark: SparkSession,
    table: str,
    source: DataFrame,
    key_cols: list[str],
    when_matched: list[tuple[str | None, object]] | None = None,
    when_not_matched_insert: bool | str = True,
) -> int | None:
    """Transactional MERGE, merge-on-read. The default is upsert-all
    (``WHEN MATCHED UPDATE SET * WHEN NOT MATCHED INSERT *``): rows whose
    key matches ``source`` get position deletes for their old images, and
    the update images and inserts land as new data files; both publish in
    ONE snapshot. ``source`` must be unique per key (dedupe upstream —
    same contract as ``delta_lite.merge_delta``). Returns the new snapshot
    id, or None when nothing matched and nothing inserts.

    - ``when_matched``: ordered clauses ``(condition, action)`` where
      ``condition`` is a SQL expression over ``t.<col>`` (target) and
      ``s.<col>`` (source) or None (always), and ``action`` is either the
      string ``"delete"`` or ``{"update": {col: expr}}`` with expressions
      over the same two prefixes. FIRST matching clause wins per row
      (ANSI MERGE clause-order semantics); matched rows matching no clause
      are left untouched.
    - ``when_not_matched_insert``: True (insert all unmatched source
      rows), False (insert none), or a SQL condition over the BARE source
      column names.

    Keys compare NULL-SAFELY (identity keys: a NULL-key source row updates
    the NULL-key target row and is not also inserted). The plan — join
    shape, clause routing, the insert anti-join — is ``dml.merge``."""
    table, version, meta = _pinned(table)
    with dml.merge(
        _lineage_scan(spark, table, meta),
        source,
        _spark_schema(meta),
        key_cols,
        when_matched,
        when_not_matched_insert,
        null_safe=True,
    ) as plan:
        return _commit_plan(table, version, meta, plan)


def upsert_by_key(
    spark: SparkSession, table: str, source: DataFrame, key_cols: list[str]
) -> int | None:
    """CDC upsert via EQUALITY deletes (spec content=2) — the Flink-writer
    shape: ONE commit stages the whole ``source`` as new data files plus
    one equality-delete file of the source's distinct keys; NO read of the
    target happens at write time (contrast ``merge_iceberg``, which scans
    the target for positions). Readers apply the key anti-join to data
    files with sequence number STRICTLY below the commit's, so the
    commit's own rows survive its own deletes; ``compact_iceberg`` later
    materializes the debt. Write cost is O(|source|) regardless of target
    size — the right trade when ingest latency matters more than read
    amplification. ``source`` must be unique per key (same contract as
    merge). Returns the new snapshot id, or None for an empty source."""
    table, version, meta = _pinned(table)
    schema = _spark_schema(meta)
    if [(f.name, f.dataType) for f in source.schema.fields] != [
        (f.name, f.dataType) for f in schema.fields
    ]:
        raise ValueError("upsert source schema must match the table schema")
    name_to_id = {f["name"]: f["id"] for f in _schema_by_id(meta)["fields"]}
    unknown = sorted(set(key_cols) - set(name_to_id))
    if unknown:
        raise KeyError(f"upsert key columns not in table schema: {unknown}")
    _seq, snap_id = _next_ids(meta)
    staged_data, part_cols = _stage_partitioned(
        source.select(*[f.name for f in schema.fields]), table, meta
    )
    if not staged_data:
        return None
    # the delete side: the source's distinct keys, sorted for determinism
    keys = source.select(*key_cols).distinct().sortWithinPartitions(*key_cols)
    # key files carry PHYSICAL names, like every staged parquet
    staged_keys = tablefiles.stage(
        _to_physical_frame(keys, meta),
        table,
        os.path.join("data", f"eq-deletes-{snap_id}"),
    )
    return _finish_commit(
        table, version, meta, "overwrite", staged_data, part_cols, staged_keys,
        equality_ids=[name_to_id[c] for c in key_cols],
        row_level=True,
    )


# ---------------------------------------------------------------------------
# table maintenance: schema evolution + snapshot expiry
# ---------------------------------------------------------------------------


def add_column(table: str, name: str, dtype: T.DataType) -> int:
    """Metadata-only schema evolution (spec §Schema Evolution: adding an
    optional field is always safe): append a new nullable column as a NEW
    schema-id — existing snapshots keep their schema-id, so time travel
    still reads the old shape, while reads of new snapshots null-fill the
    column for pre-evolution data files (Spark's explicit-schema parquet
    read does the fill). Returns the new schema-id. No snapshot is
    committed — like the Iceberg runtime, evolution is a metadata version
    bump, not a data operation."""
    def mutate(meta, fields, props):
        if any(f["name"] == name for f in fields):
            raise ValueError(f"column {name!r} already exists")
        counter = {"n": meta["last-column-id"]}

        def next_id() -> int:
            counter["n"] += 1
            return counter["n"]

        new_field = {
            "id": next_id(),
            "name": name,
            "required": False,  # spec: a new column may not be required
            "type": _to_iceberg_type(dtype, next_id),
        }
        # drop-then-re-add must NOT alias the dropped field's bytes: if the
        # name was EVER a physical parquet column of another field (any
        # historical schema), the new field gets a synthesized physical
        # name keyed by its id — old files then null-fill for it instead
        # of resurfacing the dead column (delta_lite column-mapping parity)
        mapping = _name_mapping_prop(props)
        used_physical = set()
        for s in meta["schemas"]:
            for f in s["fields"]:
                used_physical.add(mapping.get(f["id"], [f["name"]])[0])
        if name in used_physical:
            # the synthesized name itself must be fresh too — a table can
            # legitimately contain a column literally named f"{name}_{id}"
            # (review r12 #2: two live fields sharing one physical column
            # would corrupt both reads and writes)
            candidate = f"{name}_{new_field['id']}"
            while candidate in used_physical:
                candidate += "_"
            mapping[new_field["id"]] = [candidate]
            props[_NAME_MAPPING_KEY] = _name_mapping_json(mapping)
        return fields + [new_field], {"last-column-id": counter["n"]}

    return _evolve_schema(table, mutate)


def _evolve_schema(table: str, mutate) -> int:
    """Shared metadata-only schema-evolution commit (add/rename/drop all
    ride it): pin hint+load together, let ``mutate(meta, current_fields,
    props)`` return the new field list (and update props in place), then
    publish a NEW schema-id via the usual metadata version bump — no
    snapshot, so existing snapshots keep their pinned schema-id."""
    version = _current_version(table)  # pin hint+load together (r10 TOCTOU)
    meta = load_metadata(table, version)
    current = _schema_by_id(meta)
    props = dict(meta.get("properties", {}))
    new_fields, extra = mutate(meta, current["fields"], props)
    new_schema = {
        "type": "struct",
        "schema-id": max(s["schema-id"] for s in meta["schemas"]) + 1,
        "fields": new_fields,
    }
    new_meta = dict(
        meta,
        **{
            "schemas": meta["schemas"] + [new_schema],
            "current-schema-id": new_schema["schema-id"],
            "properties": props,
            **extra,
        },
    )
    _write_metadata(table, new_meta, version + 1)
    return new_schema["schema-id"]


def rename_column(table: str, old: str, new: str) -> int:
    """Metadata-only column RENAME (spec §Schema Evolution — names may
    change freely because everything durable is keyed by FIELD ID): a new
    schema-id carries the field under its new name with the same id, type
    and required flag, so time travel still reads the old shape.

    Physical-name doctrine (delta_lite column-mapping parity, VERDICT r11
    missing #1): parquet data files are written WITHOUT field ids here, so
    the file column name a field was CREATED under stays its physical name
    forever — the spec's ``schema.name-mapping.default`` property records
    the chain ``[physical, ..., current]`` per field id (the mapping real
    Iceberg uses to assign ids to files that lack them). Writes project
    logical → physical before staging; reads scan under physical names and
    alias back (see ``_physical_names`` / ``_scan``). Renaming a partition
    SOURCE column is fine — spec field names and hive dirs stay physical.
    Returns the new schema-id."""
    def mutate(meta, fields, props):
        by_name = {f["name"]: f for f in fields}
        if old not in by_name:
            raise KeyError(f"column {old!r} not in the current schema")
        if new in by_name:
            raise ValueError(f"column {new!r} already exists")
        target = by_name[old]
        mapping = _name_mapping_prop(props)
        chain = mapping.setdefault(target["id"], [old])
        chain.append(new)
        props[_NAME_MAPPING_KEY] = _name_mapping_json(mapping)
        return (
            [dict(f, name=new) if f["name"] == old else f for f in fields],
            {},
        )

    return _evolve_schema(table, mutate)


def drop_column(table: str, name: str) -> int:
    """Metadata-only column DROP: a new schema-id without the field — the
    field id is never reused (``last-column-id`` is monotonic), old
    snapshots' pinned schemas still carry it for time travel, and current
    reads simply stop requesting the column from the files. Refused when
    the CURRENT default partition spec derives from the field (writes
    could no longer stage the layout — evolve the spec first, matching the
    real runtime's check). An outstanding equality delete keyed on the
    dropped field keeps failing loudly at plan time (``plan_scan`` raises
    on delete field ids absent from the read schema). Returns the new
    schema-id."""
    def mutate(meta, fields, props):
        by_name = {f["name"]: f for f in fields}
        if name not in by_name:
            raise KeyError(f"column {name!r} not in the current schema")
        if len(fields) == 1:
            raise ValueError("cannot drop the last column")
        fid = by_name[name]["id"]
        for pf in _partition_spec(meta):
            if pf["source-id"] == fid:
                raise ValueError(
                    f"column {name!r} is the source of partition field "
                    f"{pf['name']!r} in the current spec — "
                    f"evolve_partition_spec to a layout without it "
                    f"before dropping it"
                )
        return [f for f in fields if f["name"] != name], {}

    return _evolve_schema(table, mutate)


def evolve_partition_spec(table: str, partition_cols: list[str] | None) -> int:
    """Metadata-only partition-spec evolution (spec §Partition Evolution):
    set the table's DEFAULT spec to the given terms — ``days(ts)``,
    ``bucket(8, id)``, plain identity columns, or ``None``/``[]`` for
    unpartitioned — WITHOUT touching a single data file. Existing files
    keep their layout under their manifests' immutable spec-ids; appends
    and DML after the call stage under the new default; ``plan_scan``
    prunes each manifest under its own spec and ``_scan`` reads mixed
    layouts as one grouped union. ``compact_iceberg`` rewrites under the
    default spec, so compaction is the gradual migration path. At 100 TB
    this is the difference between a metadata version bump and rewriting
    the table. Returns the (existing or new) spec-id.

    Identity spec field names use the source column's PHYSICAL name, like
    the write path — renames never move hive dirs."""
    version = _current_version(table)  # pin hint+load together
    if version is None:
        raise ValueError("evolve_partition_spec needs an existing table")
    meta = load_metadata(table, version)
    want = _spec_terms(meta, partition_cols)
    spec_id, _fields, new_specs, last_pid = _match_or_mint_spec(
        list(meta["partition-specs"]), meta["last-partition-id"], want
    )
    if spec_id == meta["default-spec-id"]:
        return spec_id  # already the default — nothing to publish
    new_meta = dict(
        meta,
        **{
            "partition-specs": new_specs,
            "default-spec-id": spec_id,
            "last-partition-id": last_pid,
        },
    )
    _write_metadata(table, new_meta, version + 1)
    return spec_id


# name mapping (spec §Name Mapping Serialization, property
# schema.name-mapping.default): [{"field-id": N, "names": [...]}] — here
# names[0] is the field's PHYSICAL parquet column name (its creation name)
_NAME_MAPPING_KEY = "schema.name-mapping.default"


def _name_mapping_prop(props: dict) -> dict[int, list[str]]:
    raw = props.get(_NAME_MAPPING_KEY)
    if not raw:
        return {}
    return {int(e["field-id"]): list(e["names"]) for e in json.loads(raw)}


def _name_mapping_json(mapping: dict[int, list[str]]) -> str:
    return json.dumps(
        [{"field-id": fid, "names": names} for fid, names in sorted(mapping.items())]
    )


def _physical_names(meta: dict, schema_json: dict | None = None) -> dict[str, str]:
    """logical name -> PHYSICAL parquet column name for one schema.
    Identity for every field without a mapping entry, i.e. for every table
    that never renamed — the doctrine costs nothing until the first
    rename."""
    mapping = _name_mapping_prop(meta.get("properties", {}))
    sj = schema_json if schema_json is not None else _schema_by_id(meta)
    return {f["name"]: mapping.get(f["id"], [f["name"]])[0] for f in sj["fields"]}


def _to_physical_frame(df: DataFrame, meta: dict) -> DataFrame:
    """Project a logical (current-schema) frame to physical column names
    before staging. No-op select when nothing was ever renamed."""
    from pyspark.sql import functions as F

    phys = _physical_names(meta)
    if all(phys.get(c, c) == c for c in df.columns):
        return df
    return df.select(*[F.col(c).alias(phys.get(c, c)) for c in df.columns])


def _phys_name_to_field(meta: dict, schema_json: dict | None = None) -> dict:
    """{physical name: (field id, type)} — the key shape ``_bounds_maps``
    needs, because footer stats are keyed by the names IN the files."""
    sj = schema_json if schema_json is not None else _schema_by_id(meta)
    phys = _physical_names(meta, sj)
    return {
        phys[f["name"]]: (f["id"], f["type"])
        for f in sj["fields"]
        if isinstance(f["type"], str)
    }


# table-properties key listing expired `replace` sequence numbers (see
# expire_snapshots / the streaming tail's retention-gap check)
_EXPIRED_REPLACE_KEY = "iceberg-lite.expired-replace-seqs"


def compact_iceberg(
    spark: SparkSession, table: str, min_files_per_partition: int = 2
) -> dict:
    """OPTIMIZE analogue (delta_lite.compact_table parity): rewrite the
    current snapshot's small files into ~one file per partition as a
    ``replace`` snapshot — same LOGICAL rows, fewer files. The rewrite is
    a current-snapshot read, so outstanding position deletes are
    MATERIALIZED by it (the new snapshot carries no delete manifests —
    compaction is how merge-on-read delete debt gets repaid, like Delta's
    REORG APPLY PURGE), and the current read path null-fills any
    post-evolution columns. Data-unchanged by construction, so the
    streaming tail skips the snapshot entirely; time travel to
    pre-compaction snapshots still reads the original files until
    ``expire_snapshots`` reclaims them. No-op (returns zeros) when no
    partition holds ``min_files_per_partition`` or more files AND no
    delete debt is outstanding."""
    from collections import Counter

    plan = plan_scan(table)
    by_dir = Counter(os.path.dirname(f) for f in plan["files"])
    fragmented = by_dir and max(by_dir.values()) >= min_files_per_partition
    debt_files = plan["delete_files"] or plan["eq_delete_files"]
    if not fragmented and not debt_files:
        return {"files_before": len(plan["files"]), "files_after": len(plan["files"]),
                "snapshot_id": None, "position_deletes_materialized": 0,
                "equality_deletes_materialized": 0}
    meta = load_metadata(table)
    cur = _select_snapshot(meta)
    # report BOTH debt kinds (ADVICE r10 #3): an upsert-triggered
    # compaction repays equality-delete debt, and observability must say so
    debt = int(cur["summary"].get("total-position-deletes", 0))
    eq_debt = int(cur["summary"].get("total-equality-deletes", 0))
    df = _scan(spark, os.path.abspath(table), plan)  # current schema, deletes applied
    spec_fields = plan["partition_spec"]
    if spec_fields:
        # co-locate by the partition VALUE (through the transform) so the
        # rewrite lands ~one file per hidden partition, then round-trip
        # the spec through its canonical terms
        from pyspark.sql import functions as F

        field_types = _field_types(meta)
        fid_to_name = {f["id"]: f["name"] for f in _schema_by_id(meta)["fields"]}
        parts = [
            F.col(fid_to_name[pf["source-id"]])
            if pf["transform"] == "identity"
            else _partition_expr(
                pf["transform"],
                fid_to_name[pf["source-id"]],
                field_types[pf["source-id"]],
            )
            for pf in spec_fields
        ]
        df = df.repartition(*parts)
        terms = _spec_to_terms(spec_fields, fid_to_name)
    else:
        df = df.coalesce(1)
        terms = []
    snap_id = write_iceberg(df, table, mode="replace", partition_cols=terms)
    # replace never retries, so the committed snapshot holds exactly its
    # own data manifest: the files it added are the files after
    added = _select_snapshot(load_metadata(table), snap_id)["summary"]["added-data-files"]
    return {
        "files_before": len(plan["files"]),
        "files_after": int(added),
        "snapshot_id": snap_id,
        "position_deletes_materialized": debt,
        "equality_deletes_materialized": eq_debt,
    }


def _referenced_paths(
    table: str, snaps: list[dict], _cache: dict | None = None
) -> tuple[set[str], set[str]]:
    """(manifest paths, data+delete file paths) referenced by ``snaps``,
    RESOLVED to normalized absolute paths — a table whose history mixes
    pre-r10 relative and current absolute spellings must not alias one
    physical file under two set members (reachability would otherwise
    delete a still-referenced file). Delete manifests walk like data
    manifests: their entries' file_path is the position-delete parquet.
    ``_cache`` memoizes manifest decodes by path: append lineage carries
    the same manifest through many snapshots, so without it a 50-append
    table decodes each manifest O(snapshots) times."""
    cache = _cache if _cache is not None else {}
    manifest_rels: set[str] = set()
    file_rels: set[str] = set()
    for s in snaps:
        _, manifests = avro_lite.read_ocf(_resolve(table, s["manifest-list"]))
        for m in manifests:
            rel = _resolve(table, m["manifest_path"])
            manifest_rels.add(rel)
            if rel not in cache:
                _, entries = avro_lite.read_ocf(rel)
                cache[rel] = {
                    _resolve(table, e["data_file"]["file_path"]) for e in entries
                }
            file_rels.update(cache[rel])
    return manifest_rels, file_rels


def expire_snapshots(table: str, keep_last: int = 1) -> dict:
    """Retire all but the most recent ``keep_last`` snapshots (always
    keeping the current one) and physically delete every manifest list,
    manifest and data file ONLY they referenced — the vacuum analogue.
    Reachability is computed from the kept snapshots' manifests, so a file
    shared by a kept and an expired snapshot (append lineage) survives.
    Returns counts: {snapshots_expired, files_deleted, manifests_deleted}."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    version = _current_version(table)  # pin hint+load together (r10 TOCTOU)
    meta = load_metadata(table, version)
    snaps = meta.get("snapshots", [])
    current_id = meta.get("current-snapshot-id")
    keep = snaps[-keep_last:]
    if current_id is not None and all(s["snapshot-id"] != current_id for s in keep):
        keep = [s for s in snaps if s["snapshot-id"] == current_id] + keep
    expired = [s for s in snaps if s not in keep]
    if not expired:
        return {"snapshots_expired": 0, "files_deleted": 0, "manifests_deleted": 0}
    cache: dict = {}  # shared decode memo across the two reachability passes
    keep_manifests, keep_files = _referenced_paths(table, keep, cache)
    exp_manifests, exp_files = _referenced_paths(table, expired, cache)
    dead_manifests = exp_manifests - keep_manifests
    dead_files = exp_files - keep_files
    keep_ids = {s["snapshot-id"] for s in keep}
    # remember which expired sequence numbers were data-free `replace`
    # (compaction) snapshots: the streaming tail's retention-gap check
    # excludes them, so the documented compact→expire maintenance pair
    # cannot wedge a healthy stream over rows that were never at risk.
    # Bounded by expired-snapshot count; stored compactly in properties.
    props = dict(meta.get("properties", {}))
    prior = set(json.loads(props.get(_EXPIRED_REPLACE_KEY, "[]")))
    prior.update(
        s["sequence-number"]
        for s in expired
        if s["summary"]["operation"] == "replace"
    )
    props[_EXPIRED_REPLACE_KEY] = json.dumps(sorted(prior))
    new_meta = dict(
        meta,
        **{
            "snapshots": keep,
            "snapshot-log": [
                e for e in meta.get("snapshot-log", []) if e["snapshot-id"] in keep_ids
            ],
            "properties": props,
        },
    )
    # metadata FIRST: once the hint moves, no reader can resolve an expired
    # snapshot, so the physical deletes below can't race a correct reader
    _write_metadata(table, new_meta, version + 1)
    for s in expired:
        _rm(_resolve(table, s["manifest-list"]))
    for rel in dead_manifests:
        _rm(_resolve(table, rel))
    for rel in dead_files:
        _rm(_resolve(table, rel))
    return {
        "snapshots_expired": len(expired),
        "files_deleted": len(dead_files),
        "manifests_deleted": len(dead_manifests),
    }


def _rm(path: str) -> None:
    try:
        os.remove(path)
    except FileNotFoundError:
        pass
