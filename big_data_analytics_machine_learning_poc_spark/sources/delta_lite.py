"""delta_lite — jar-free reader/writer for a subset of the Delta Lake
transaction-log protocol (the PUBLIC spec: delta-io/delta PROTOCOL.md).

`sources/lakehouse.py` routes ``format("delta")`` through the Delta runtime
jars when they are on the classpath; this module is the fallback that makes
the lakehouse lane REAL in jar-less environments like this container. It
speaks the on-disk layout itself:

    <table>/
      part-...parquet                   data files (root or partition dirs)
      <col>=<value>/part-...parquet
      _delta_log/00000000000000000000.json   one JSON action per line

and implements the protocol subset

    protocol(minReaderVersion=1, minWriterVersion=2)
    metaData(schemaString = Spark StructType JSON, partitionColumns)
    add(path, partitionValues, size, modificationTime, dataChange, stats)
    remove(path, deletionTimestamp, dataChange)
    commitInfo(operation, operationParameters, timestamp)

Supported: overwrite + append writes, partitioned tables, snapshot reads,
time travel by version AND timestamp (version_at_timestamp), RESTORE to a
prior version (one metadata-only commit), log-level partition pruning, per-file stats with
data skipping, OPTIMIZE compaction + VACUUM, txn actions (exactly-once
streaming), parquet checkpoints + `_last_checkpoint` (replay cost
O(#commits since checkpoint)), history, optimistic commit conflict
detection (put-if-absent of the next version's log file via
``tablefiles.put_if_absent`` — the same primitive real Delta uses on
filesystems with atomic put-if-absent; data files are staged and
published by ``tablefiles.stage``, which refuses to overwrite), the full DML
triad (DELETE / UPDATE / MERGE, planned by ``sources/dml.py``), deletion
vectors, column mapping (rename/drop without rewrites), per-column Bloom
filters, CHECK
constraints (writer version 3), and the change data feed — a real
`_change_data` directory written by the DML paths plus file-diff
derivation for plain appends/overwrites (``snapshot_diff`` below reads
only changed files).
NOT implemented (documented subset): generated columns, identity columns,
row tracking.

Native-reader interop: tables restricted to the BASE subset (no DVs, no
column mapping) stay at protocol v1 and are readable by a real Delta
reader. Deletion-vector tables are NOT: DVs here use the custom
`deletionVectors-u32z` reader feature (plain-parquet u32 offset lists,
not the spec's RoaringBitmap-in-base85), and the first DV upgrades the
table to the spec's TABLE-FEATURES protocol — minReaderVersion 3 +
minWriterVersion 7 with explicit readerFeatures/writerFeatures lists —
because the spec only obliges readers to honor `readerFeatures` at
reader version 3 (a v2 reader ignores the field entirely and would
silently resurrect DV-deleted rows). At v3 a real reader refuses the
unknown feature loudly, which is the intended failure mode; only
delta_lite reads DV tables back. Column-mapped tables (without DVs) use
the spec's LEGACY protocol for column mapping (reader version 2, whose
version number itself means "column mapping"), so real readers still
read them. `read_delta` refuses any table whose `protocol` demands a
reader version above 3, omits `readerFeatures` at version 3, or lists a
feature outside `_SUPPORTED_READER_FEATURES`.

Scale notes (100 TB): the log is the scan index — `read_delta` hands Spark
an explicit file list, so a snapshot read never LISTs the data directory
(object-store LIST over millions of files is the classic lake bottleneck);
partition pruning happens driver-side against ``add.partitionValues``
before Spark sees a single path, and per-file ``stats.numRecords`` ride the
log for planning. The file moves below use the local filesystem API; a
cloud deployment swaps them for the store's rename/put — the log protocol
is unchanged.

Known interop caveat (documented divergence): ``add.path`` is logged as
the raw on-disk relative path; the Delta protocol percent-encodes it, so
a native reader URL-decoding paths would mangle partition VALUES that
contain percent-escapable characters (`a b` → dir `c=a%20b`). Tables
whose partition values are alphanumeric (every lane here) round-trip
exactly; encode-on-log/decode-on-read is the listed follow-up if
special-character partition values ever need native-reader interop.

Reference parity: the reference clients (SURVEY.md §0) stop at CSV in /
console out; lakehouse tables are part of the BASELINE.json extension
surface.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StringType, StructField, StructType

from . import tablefiles
from .tablefiles import json_scalar, partition_values

_LOG_DIR = "_delta_log"
_PROTOCOL = {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}

# Reader features this implementation understands beyond protocol v1. A
# table acquires the table-features protocol {minReaderVersion: 3,
# minWriterVersion: 7, readerFeatures: [...], writerFeatures: [...]} the
# moment the custom DV feature is first used — version 3 because the Delta
# spec only obliges readers to consult `readerFeatures` there; at version
# 2 a real reader ignores the field and would silently resurrect
# DV-deleted rows (ADVICE r7). Column mapping alone stays on the LEGACY
# protocol (reader version 2 means column mapping by version number), so
# CM-only tables remain real-reader readable. Readers refuse any feature
# they don't recognize instead of silently mis-reading.
_SUPPORTED_READER_FEATURES = {"deletionVectors-u32z", "columnMapping"}


def _check_protocol(action: dict) -> None:
    p = action["protocol"]
    rv = p.get("minReaderVersion", 1)
    if rv <= 1:
        return
    unknown = set(p.get("readerFeatures") or []) - _SUPPORTED_READER_FEATURES
    # rv 2 = legacy column mapping (supported); rv 3 = table features,
    # honored only when the features list is PRESENT and fully understood
    # (a v3 protocol without readerFeatures is malformed — unverifiable,
    # so refused rather than guessed at).
    if rv > 3 or unknown or (rv == 3 and "readerFeatures" not in p):
        raise NotImplementedError(
            f"table requires Delta reader version {rv} with features "
            f"{sorted(unknown)}; delta_lite reads version ≤3 with "
            f"{sorted(_SUPPORTED_READER_FEATURES)}"
        )


# Writer-side protocol ceiling, legacy versions: 3 = CHECK constraints,
# 4 = change data feed, 5 = column mapping (all three enforced/honored in
# every write path here — writes go through _phys_map, so wv 5 is earned,
# not waved through). Legacy 6 (identity columns) is refused — identity
# columns aren't implemented. Writer version 7 (table features) is
# accepted exactly when every listed writerFeature is understood; 7
# WITHOUT a writerFeatures list is malformed and refused. A table
# demanding more — or listing writer features we don't recognize — must
# be REFUSED for writing (reading can still be fine): a constraint- or
# invariant-unaware writer inserting rows is exactly the corruption
# writer versioning exists to prevent.
_MAX_LEGACY_WRITER_VERSION = 5
_SUPPORTED_WRITER_FEATURES = {
    "changeDataFeed",
    "checkConstraints",
    "columnMapping",
    "deletionVectors-u32z",
}


def _check_writer_protocol(table: str) -> None:
    p = _table_protocol(table)["protocol"]
    wv = p.get("minWriterVersion", 2)
    unknown = set(p.get("writerFeatures") or []) - _SUPPORTED_WRITER_FEATURES
    ok = wv <= _MAX_LEGACY_WRITER_VERSION or (wv == 7 and "writerFeatures" in p)
    if not ok or unknown:
        raise NotImplementedError(
            f"table requires Delta writer version {wv} with features "
            f"{sorted(unknown)}; delta_lite writes legacy version "
            f"≤{_MAX_LEGACY_WRITER_VERSION} or version 7 with features in "
            f"{sorted(_SUPPORTED_WRITER_FEATURES)}"
        )


class DeltaCommitConflict(RuntimeError):
    """Another writer committed this version first (optimistic-concurrency
    loss). Callers retry: re-read the snapshot, re-stage, re-commit."""


# ---------------------------------------------------------------------------
# log plumbing
# ---------------------------------------------------------------------------


def _log_path(table: str, version: int) -> str:
    return os.path.join(table, _LOG_DIR, f"{version:020d}.json")


def _list_versions(table: str) -> list[int]:
    log_dir = os.path.join(table, _LOG_DIR)
    if not os.path.isdir(log_dir):
        return []
    out = []
    for name in os.listdir(log_dir):
        stem, ext = os.path.splitext(name)
        if ext == ".json" and stem.isdigit():
            out.append(int(stem))
    return sorted(out)


def _read_log(table: str, version: int) -> list[dict]:
    with open(_log_path(table, version)) as f:
        return [json.loads(line) for line in f if line.strip()]


def _checkpoint_path(table: str, version: int) -> str:
    return os.path.join(table, _LOG_DIR, f"{version:020d}.checkpoint.parquet")


def _last_checkpoint_version(table: str, at_most: int) -> int | None:
    """Version of the newest checkpoint ≤ ``at_most`` per ``_last_checkpoint``
    (falling back to a directory scan if the pointer is ahead of the
    requested time-travel version)."""
    log_dir = os.path.join(table, _LOG_DIR)
    pointer = os.path.join(log_dir, "_last_checkpoint")
    if os.path.exists(pointer):
        try:
            with open(pointer) as f:
                v = int(json.load(f)["version"])
            if v <= at_most:
                return v
        except (ValueError, KeyError, OSError):
            pass  # corrupt/partial pointer → fall back to the directory scan
    if not os.path.isdir(log_dir):
        return None
    best = None
    for name in os.listdir(log_dir):
        if name.endswith(".checkpoint.parquet"):
            v = int(name.split(".")[0])
            if v <= at_most and (best is None or v > best):
                best = v
    return best


def _load_checkpoint(table: str, version: int) -> tuple[dict[str, dict], dict, dict[str, int]]:
    import pyarrow.parquet as pq

    rows = pq.read_table(_checkpoint_path(table, version)).to_pylist()
    active: dict[str, dict] = {}
    meta: dict = {}
    txns: dict[str, int] = {}
    for row in rows:
        action = json.loads(row["action_json"])
        if "protocol" in action:
            _check_protocol(action)
        elif "metaData" in action:
            meta = action["metaData"]
        elif "add" in action:
            active[action["add"]["path"]] = action["add"]
        elif "txn" in action:
            txns[action["txn"]["appId"]] = action["txn"]["version"]
    return active, meta, txns


def _table_protocol(table: str) -> dict:
    """The latest protocol action committed to the table (checkpoint state
    included), falling back to the baseline."""
    proto = dict(_PROTOCOL)
    versions = _list_versions(table)
    start_after = -1
    ckpt = _last_checkpoint_version(table, versions[-1]) if versions else None
    if ckpt is not None:
        import pyarrow.parquet as pq

        for row in pq.read_table(_checkpoint_path(table, ckpt)).to_pylist():
            action = json.loads(row["action_json"])
            if "protocol" in action:
                proto = action
        start_after = ckpt
    for v in versions:
        if v <= start_after:
            continue
        for action in _read_log(table, v):
            if "protocol" in action:
                proto = action
    return proto


def _txn_state(table: str) -> dict[str, int]:
    """Latest txn.version per appId — checkpoint state plus commits after
    it, so the exactly-once lookup is O(commits since checkpoint), not
    O(table lifetime)."""
    versions = _list_versions(table)
    if not versions:
        return {}
    txns: dict[str, int] = {}
    start_after = -1
    ckpt = _last_checkpoint_version(table, versions[-1])
    if ckpt is not None:
        _active, _meta, txns = _load_checkpoint(table, ckpt)
        txns = dict(txns)
        start_after = ckpt
    for v in versions:
        if v <= start_after:
            continue
        for action in _read_log(table, v):
            t = action.get("txn")
            if t:
                prev = txns.get(t["appId"])
                txns[t["appId"]] = t["version"] if prev is None else max(prev, t["version"])
    return txns


def checkpoint_table(table: str) -> int:
    """Write a protocol checkpoint of the CURRENT snapshot (flattened
    protocol/metaData/add state as parquet) plus the ``_last_checkpoint``
    pointer, and return the checkpointed version. Replay cost then drops
    from O(#commits) to O(#commits since checkpoint): at one commit per
    micro-batch, an ingest table accrues thousands of commits per day —
    without checkpoints every reader re-parses them all.

    Format note (honest divergence): real Delta checkpoints flatten each
    action into TYPED parquet columns (add.path, add.stats, ...); this one
    stores one JSON string per action (`action_json`). Same role and same
    pointer file, but a native Delta reader would ignore this checkpoint
    and replay the JSON commits — which remain complete and
    protocol-faithful, so interop is unaffected, only native replay
    speed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    active, meta, version = _replay(table, None)
    # the table's ACTUAL protocol (it may have been upgraded, e.g. by a
    # deletion-vector commit) — re-writing the baseline constant here
    # would silently downgrade the record and let a v1 reader mis-read
    actions = [_table_protocol(table), {"metaData": meta}]
    actions += [{"add": a} for a in active.values()]
    actions += [
        {"txn": {"appId": app, "version": v}} for app, v in sorted(_txn_state(table).items())
    ]
    tbl = pa.table({"action_json": [json.dumps(a, separators=(",", ":")) for a in actions]})
    # atomic replace: the checkpoint file itself is PARSED by readers (the
    # pointer fallback scan trusts any *.checkpoint.parquet), so a crash
    # mid-write must never leave a torn one; same for the pointer (the
    # read side also tolerates a partial one by falling back to a scan)
    tablefiles.replace_atomically(
        _checkpoint_path(table, version), lambda f: pq.write_table(tbl, f)
    )
    pointer = json.dumps({"version": version, "size": len(actions)}).encode()
    tablefiles.replace_atomically(
        os.path.join(table, _LOG_DIR, "_last_checkpoint"), lambda f: f.write(pointer)
    )
    return version


def _replay(table: str, version: int | None) -> tuple[dict[str, dict], dict, int]:
    """Replay the log through ``version`` (latest if None), starting from
    the newest checkpoint at-or-before it when one exists. Returns
    (active add-actions by relative path, latest metaData, snapshot version).
    """
    versions = _list_versions(table)
    if not versions:
        raise FileNotFoundError(f"no Delta log at {table}/{_LOG_DIR}")
    if version is None:
        version = versions[-1]
    if version not in versions:
        raise ValueError(f"version {version} not in log (have {versions[0]}..{versions[-1]})")
    active: dict[str, dict] = {}
    meta: dict = {}
    start_after = -1
    ckpt = _last_checkpoint_version(table, version)
    if ckpt is not None:
        active, meta, _txns = _load_checkpoint(table, ckpt)
        start_after = ckpt
    for v in versions:
        if v > version:
            break
        if v <= start_after:
            continue
        for action in _read_log(table, v):
            if "protocol" in action:
                _check_protocol(action)
            elif "metaData" in action:
                meta = action["metaData"]
            elif "add" in action:
                active[action["add"]["path"]] = action["add"]
            elif "remove" in action:
                active.pop(action["remove"]["path"], None)
    if not meta:
        raise ValueError(f"log at {table} has no metaData action")
    return active, meta, version


def _commit(table: str, version: int, actions: list[dict]) -> None:
    """Atomically publish ``version``: the put-if-absent create of the
    COMPLETE log file IS the commit — concurrent writers race on the
    filename and exactly one wins; a crash mid-write never leaves a torn
    log file that poisons every later replay."""
    body = "".join(json.dumps(a, separators=(",", ":")) + "\n" for a in actions)
    try:
        tablefiles.put_if_absent(
            _log_path(table, version), lambda f: f.write(body.encode())
        )
    except FileExistsError as exc:
        raise DeltaCommitConflict(
            f"version {version} already committed at {table}"
        ) from exc


# ---------------------------------------------------------------------------
# writer
# ---------------------------------------------------------------------------


def _add(rel: str, size: int, stats: dict, pvals: dict, now_ms: int, data_change: bool) -> dict:
    """The add action for one file ``tablefiles.stage`` published."""
    return {
        "add": {
            "path": rel,
            "partitionValues": pvals,
            "size": size,
            "modificationTime": now_ms,
            "dataChange": data_change,
            "stats": json.dumps(stats),
        }
    }


def _stage_adds(df: DataFrame, table: str, meta: dict, now_ms: int) -> list[dict]:
    """Stage ``df`` (logical names — physical on disk under column mapping)
    as new data files partitioned like the table; returns their add
    actions."""
    cols = meta.get("partitionColumns", [])
    return [
        _add(rel, size, stats, partition_values(rel, cols), now_ms, True)
        for rel, size, stats in tablefiles.stage(_to_physical(df, meta), table, "", cols)
    ]


# ---------------------------------------------------------------------------
# Per-file Bloom filters (equality data skipping beyond zone maps)
# ---------------------------------------------------------------------------

_BLOOM_BITS_DEFAULT = 8192  # 1 KiB of log per (file, column)
_BLOOM_K = 4  # ~2.4% false-positive rate at 1000 distinct values / 8192 bits


def _bloom_positions(value, m: int, k: int) -> list[int]:
    """k bit positions for a value — md5-derived (the repo's cross-process
    stable hash family; hash() is seed-dependent), value canonicalized to
    str so the WRITE side (python scalars from pyarrow) and the READ side
    (predicate literals) agree. Restricted to string/int values — float
    str() forms are representation-fragile and are rejected at build time."""
    digest = hashlib.md5(str(value).encode("utf-8")).digest()
    return [
        int.from_bytes(digest[4 * i : 4 * i + 4], "big") % m for i in range(k)
    ]


def _bloom_build(values, m: int, k: int) -> bytes:
    bits = bytearray(m // 8)
    for v in values:
        if v is None:
            continue
        if isinstance(v, float):
            raise TypeError(
                "bloom_columns must be string/int typed: float equality "
                "is not a meaningful skipping predicate"
            )
        for pos in _bloom_positions(v, m, k):
            bits[pos >> 3] |= 1 << (pos & 7)
    return bytes(bits)


def _augment_bloom(
    table: str,
    staged: list[tuple[str, int, dict]],
    bloom_columns: list[str],
    bits: int = _BLOOM_BITS_DEFAULT,
) -> None:
    """Enrich each staged file's stats dict with per-column Bloom filters
    (read-back of just those columns — write-side cost, like parquet's own
    bloom filters). Stored under stats["bloom"] as base64; readers that
    don't know the field ignore it, so the addition is fully backward/
    forward compatible with every existing snapshot operation."""
    import base64

    import pyarrow.parquet as pq

    for rel, _size, stats in staged:
        tbl = pq.read_table(os.path.join(table, rel), columns=bloom_columns)
        blooms = {}
        for col in bloom_columns:
            vals = tbl.column(col).to_pylist()
            blooms[col] = {
                "m": bits,
                "k": _BLOOM_K,
                "b64": base64.b64encode(_bloom_build(vals, bits, _BLOOM_K)).decode(),
            }
        stats["bloom"] = blooms


def _bloom_may_contain(add: dict, col: str, value) -> bool:
    """Definite-absence test against the file's logged Bloom filter. A file
    without a bloom for the column is conservatively kept (same contract as
    `_file_may_match`: skipping is an optimization, never correctness) —
    which also makes the feature additive: compaction/merge rewrites that
    don't rebuild blooms simply lose the skipping, never rows."""
    import base64

    stats = json.loads(add.get("stats") or "{}")
    bl = stats.get("bloom", {}).get(col)
    if not bl:
        return True
    bits = base64.b64decode(bl["b64"])
    return all(
        bits[pos >> 3] & (1 << (pos & 7))
        for pos in _bloom_positions(value, bl["m"], bl["k"])
    )


# ---------------------------------------------------------------------------
# Deletion vectors (merge-on-read DELETE — the sparse-delete lever)
# ---------------------------------------------------------------------------
#
# Public Delta protocol concept (PROTOCOL.md "Deletion Vectors"): an ``add``
# action may carry a ``deletionVector`` descriptor marking row INDICES of the
# data file as logically deleted, so a sparse DELETE (GDPR erasure, late
# correction) commits kilobytes of log instead of rewriting gigabyte files.
# Honest divergence, same spirit as the checkpoint note: real Delta encodes
# DVs as RoaringBitmaps in sidecar files or inline (storageType 'i'); this
# implementation always inlines — zlib-compressed packed uint32 sorted
# indices, base64 in the log — under a hard per-file cardinality cap.
# Deletes denser than the cap fall back to copy-on-write per file (which is
# the better plan for dense deletes anyway). Readers that predate the field
# would silently resurrect rows, so DV tables bump to the table-features
# protocol (minReaderVersion 3 — the version at which the spec obliges
# readers to honor readerFeatures); delta_lite refuses any feature it
# doesn't recognize, exactly the protocol's intent (see _replay).

_DV_STORAGE = "u32z"  # delta_lite's inline encoding tag
_DV_MAX_ROWS_PER_FILE = 100_000  # inline-size guard: ~400 KB raw before zlib


def _dv_encode(indices) -> dict:
    """deletionVector descriptor from an iterable of physical row indices."""
    import base64
    import struct
    import zlib

    idx = sorted(set(int(i) for i in indices))
    if not idx:
        raise ValueError("refusing to encode an empty deletion vector")
    raw = struct.pack(f"<{len(idx)}I", *idx)
    return {
        "storageType": _DV_STORAGE,
        "cardinality": len(idx),
        "b64": base64.b64encode(zlib.compress(raw)).decode(),
    }


def _dv_indices(add: dict) -> list[int]:
    """Deleted physical row indices of an add action ([] when no DV)."""
    import base64
    import struct
    import zlib

    dv = add.get("deletionVector")
    if not dv:
        return []
    if dv.get("storageType") != _DV_STORAGE:
        raise NotImplementedError(
            f"unknown deletionVector storageType {dv.get('storageType')!r}"
        )
    raw = zlib.decompress(base64.b64decode(dv["b64"]))
    return list(struct.unpack(f"<{len(raw) // 4}I", raw))


# ---------------------------------------------------------------------------
# Column mapping (metadata-only RENAME / DROP / ADD COLUMN)
# ---------------------------------------------------------------------------
#
# Public Delta protocol feature (PROTOCOL.md "Column Mapping", mode 'name'):
# every schema field carries a stable PHYSICAL name in its metadata; data
# files store physical names, readers translate physical -> logical. A
# column rename is then ONE metaData commit — on a 100 TB table the
# alternative is rewriting every file. Dropping a column is likewise
# metadata-only (the bytes stay until files naturally rewrite), and a
# re-added column gets a FRESH physical name so it can never alias the
# dropped column's leftover data — the correctness reason mapping exists.
# Enablement is restricted to unpartitioned tables here (partition
# directories embed physical names on disk; honest scope bound, documented).


def _mapping_enabled(meta: dict) -> bool:
    return (meta.get("configuration") or {}).get("delta.columnMapping.mode") == "name"


def _phys_map(meta: dict) -> dict[str, str]:
    """logical field name -> physical (parquet) column name. Identity for
    tables without column mapping."""
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    if not _mapping_enabled(meta):
        return {f.name: f.name for f in schema.fields}
    return {
        f.name: (f.metadata or {}).get("delta.columnMapping.physicalName", f.name)
        for f in schema.fields
    }


def _to_physical(df: DataFrame, meta: dict) -> DataFrame:
    """Rename a logical-named frame to physical names for staging writes.
    Identity (no projection) when mapping is off, so unmapped write paths
    are byte-for-byte unchanged."""
    if not _mapping_enabled(meta):
        return df
    from pyspark.sql import functions as F

    pm = _phys_map(meta)
    return df.select(*[F.col(c).alias(pm.get(c, c)) for c in df.columns])


def _mapping_protocol_action(table: str) -> dict:
    """Protocol upgrade action for a mapping enablement (merging any
    features the table already acquired, e.g. deletion vectors). A table
    already on the table-features protocol (reader v3, e.g. because it
    holds a DV) must NOT be downgraded: columnMapping merges into both
    feature lists there. Otherwise the LEGACY form is kept — reader
    version 2 itself means column mapping in the spec, so CM-only tables
    stay real-reader readable (the extra readerFeatures field at v2 is
    delta_lite bookkeeping a spec reader ignores)."""
    proto = _table_protocol(table)["protocol"]
    feats = set(proto.get("readerFeatures") or []) | {"columnMapping"}
    if proto.get("minReaderVersion", 1) >= 3:
        wfeats = set(proto.get("writerFeatures") or []) | feats
        return {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": sorted(feats),
                "writerFeatures": sorted(wfeats),
            }
        }
    # The spec gates column mapping behind LEGACY writer version 5: a
    # spec-compliant external writer seeing wv ≤4 would write PHYSICAL
    # column names without honoring the mapping and corrupt the table, so
    # foreign writers must be blocked the same way foreign readers are
    # (reader version 2 already does that side).
    return {
        "protocol": {
            "minReaderVersion": 2,
            "minWriterVersion": max(5, proto.get("minWriterVersion", 2)),
            "readerFeatures": sorted(feats),
        }
    }


def _mapped_meta_commit(table: str, new_meta: dict, operation: str, params: dict) -> int:
    now_ms = int(time.time() * 1000)
    _active, _meta, latest = _replay(table, None)
    _check_writer_protocol(table)
    actions = [
        {"metaData": new_meta},
        {"commitInfo": {"timestamp": now_ms, "operation": operation, "operationParameters": params}},
    ]
    proto = _table_protocol(table)["protocol"]
    if "columnMapping" not in (proto.get("readerFeatures") or []):
        actions.insert(0, _mapping_protocol_action(table))
    version = latest + 1
    _commit(table, version, actions)
    return version


def enable_column_mapping(table: str) -> int:
    """Turn on column-mapping mode 'name': every existing field's physical
    name is pinned to its CURRENT name (matching the bytes already on
    disk), the config + a column-id watermark land in metaData, and the
    protocol upgrades so mapping-unaware readers refuse instead of
    misreading renamed columns. Metadata-only; returns the version."""
    _active, meta, _ = _replay(table, None)
    if meta.get("partitionColumns"):
        raise NotImplementedError(
            "column mapping on partitioned tables is not supported by "
            "delta_lite (partition directories embed physical names)"
        )
    if _mapping_enabled(meta):
        raise ValueError(f"column mapping already enabled on {table}")
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    fields = []
    for i, f in enumerate(schema.fields):
        md = dict(f.metadata or {})
        md["delta.columnMapping.id"] = i + 1
        md["delta.columnMapping.physicalName"] = f.name
        fields.append(StructField(f.name, f.dataType, f.nullable, md))
    conf = dict(meta.get("configuration") or {})
    conf["delta.columnMapping.mode"] = "name"
    conf["delta.columnMapping.maxColumnId"] = str(len(fields))
    new_meta = {
        **meta,
        "schemaString": StructType(fields).json(),
        "configuration": conf,
    }
    return _mapped_meta_commit(
        table, new_meta, "SET TBLPROPERTIES", {"delta.columnMapping.mode": "name"}
    )


def rename_column(table: str, old: str, new: str) -> int:
    """ALTER TABLE ... RENAME COLUMN — one metadata commit, zero data
    rewritten: the field keeps its physical name (and therefore every
    existing file, stats entry, and Bloom filter), only the logical name
    changes. Requires column mapping (enable_column_mapping)."""
    _active, meta, _ = _replay(table, None)
    if not _mapping_enabled(meta):
        raise ValueError("rename_column requires enable_column_mapping first")
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    names = [f.name for f in schema.fields]
    if old not in names:
        raise KeyError(f"no column {old!r} in {names}")
    if new in names:
        raise ValueError(f"column {new!r} already exists")
    fields = [
        StructField(new if f.name == old else f.name, f.dataType, f.nullable, f.metadata)
        for f in schema.fields
    ]
    new_meta = {**meta, "schemaString": StructType(fields).json()}
    return _mapped_meta_commit(
        table, new_meta, "RENAME COLUMN", {"from": old, "to": new}
    )


def drop_column(table: str, name: str) -> int:
    """ALTER TABLE ... DROP COLUMN — metadata-only: the field leaves the
    logical schema; its bytes stay in existing files (reclaimed as files
    naturally rewrite) but are unreachable, because any re-added column
    with the same logical name gets a FRESH physical name. Requires
    column mapping."""
    _active, meta, _ = _replay(table, None)
    if not _mapping_enabled(meta):
        raise ValueError("drop_column requires enable_column_mapping first")
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    fields = [f for f in schema.fields if f.name != name]
    if len(fields) == len(schema.fields):
        raise KeyError(f"no column {name!r}")
    if not fields:
        raise ValueError("cannot drop the last column")
    new_meta = {**meta, "schemaString": StructType(fields).json()}
    return _mapped_meta_commit(table, new_meta, "DROP COLUMNS", {"column": name})


def add_column(table: str, name: str, dtype) -> int:
    """ALTER TABLE ... ADD COLUMN (nullable) — metadata-only: existing
    files surface the new column as NULL (same explicit-schema mechanics
    as merge_schema evolution). Under column mapping the field gets a
    fresh ``col-<id>`` physical name so it can NEVER alias a previously
    dropped column's leftover bytes. ``dtype`` is a pyspark DataType."""
    _active, meta, _ = _replay(table, None)
    if not _mapping_enabled(meta):
        raise ValueError("add_column requires enable_column_mapping first")
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    if name in [f.name for f in schema.fields]:
        raise ValueError(f"column {name!r} already exists")
    conf = dict(meta.get("configuration") or {})
    next_id = int(conf.get("delta.columnMapping.maxColumnId", "0")) + 1
    md = {
        "delta.columnMapping.id": next_id,
        "delta.columnMapping.physicalName": f"col-{next_id}",
    }
    fields = list(schema.fields) + [StructField(name, dtype, True, md)]
    conf["delta.columnMapping.maxColumnId"] = str(next_id)
    new_meta = {
        **meta,
        "schemaString": StructType(fields).json(),
        "configuration": conf,
    }
    return _mapped_meta_commit(
        table, new_meta, "ADD COLUMNS", {"column": name, "type": str(dtype)}
    )


# ---------------------------------------------------------------------------
# CHECK constraints (writer-enforced invariants — delta.constraints.*)
# ---------------------------------------------------------------------------


def _constraints(meta: dict) -> dict[str, str]:
    """{name: expr} of the table's CHECK constraints (Delta protocol:
    ``delta.constraints.<name>`` keys in metaData.configuration)."""
    conf = meta.get("configuration") or {}
    pre = "delta.constraints."
    return {k[len(pre):]: v for k, v in conf.items() if k.startswith(pre)}


def _enforce_constraints(df: DataFrame, meta: dict, context: str) -> None:
    """Reject ``df`` if any row makes any constraint expression FALSE —
    SQL CHECK semantics: TRUE and NULL pass, FALSE fails (so a constraint
    on a nullable column doesn't reject its NULLs; add `x IS NOT NULL`
    explicitly for that). Cost: ONE extra aggregate scan of the BATCH
    (all constraints folded into a single conditional-agg pass), never of
    the table. Runs BEFORE staging, so a rejected write stages nothing."""
    cons = _constraints(meta)
    if not cons:
        return
    from pyspark.sql import functions as F

    counts = df.agg(
        *[
            F.sum(
                (~F.coalesce(F.expr(expr), F.lit(True))).cast("long")
            ).alias(name)
            for name, expr in cons.items()
        ]
    ).first()
    bad = {n: int(counts[n] or 0) for n in cons if counts[n]}
    if bad:
        detail = ", ".join(
            f"{n} (CHECK {cons[n]!r}): {c} row(s)" for n, c in sorted(bad.items())
        )
        raise ValueError(f"CHECK constraint violation in {context}: {detail}")


def add_check_constraint(spark: SparkSession, table: str, name: str, expr: str) -> int:
    """ALTER TABLE ... ADD CONSTRAINT (Delta CHECK constraints): validate
    the EXISTING rows first (one scan — same contract as Delta, which
    refuses to add a constraint the table already violates), then commit
    the expression into metaData.configuration. Every later write path —
    write_delta, merge_delta, update_where — enforces it against the new
    batch; the connector writer refuses constrained tables loudly rather
    than silently bypassing. minWriterVersion rises to 3 (the protocol's
    checkConstraints writer feature) so a constraint-unaware writer
    refuses instead of inserting violations."""
    if not name.isidentifier():
        raise ValueError(f"constraint name must be an identifier, got {name!r}")
    _active, meta, latest = _replay(table, None)
    if name in _constraints(meta):
        raise ValueError(f"constraint {name!r} already exists")
    _enforce_constraints(
        read_delta(spark, table), {**meta, "configuration": {f"delta.constraints.{name}": expr}},
        "existing table data",
    )
    conf = dict(meta.get("configuration") or {})
    conf[f"delta.constraints.{name}"] = expr
    new_meta = {**meta, "configuration": conf}
    now_ms = int(time.time() * 1000)
    proto = _table_protocol(table)["protocol"]
    actions: list[dict] = []
    if proto.get("minWriterVersion", 2) < 3:
        actions.append(
            {"protocol": {**proto, "minWriterVersion": 3}}
        )
    actions += [
        {"metaData": new_meta},
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "ADD CONSTRAINT",
                "operationParameters": {"name": name, "expr": expr},
            }
        },
    ]
    version = latest + 1
    _commit(table, version, actions)
    return version


def drop_check_constraint(table: str, name: str) -> int:
    """ALTER TABLE ... DROP CONSTRAINT — metadata-only."""
    _active, meta, latest = _replay(table, None)
    key = f"delta.constraints.{name}"
    conf = dict(meta.get("configuration") or {})
    if key not in conf:
        raise KeyError(f"no constraint {name!r}")
    del conf[key]
    new_meta = {**meta, "configuration": conf}
    now_ms = int(time.time() * 1000)
    actions = [
        {"metaData": new_meta},
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "DROP CONSTRAINT",
                "operationParameters": {"name": name},
            }
        },
    ]
    version = latest + 1
    _commit(table, version, actions)
    return version


# ---------------------------------------------------------------------------
# Change Data Feed (delta.enableChangeDataFeed — written CDF)
# ---------------------------------------------------------------------------
#
# Delta's CDF contract: when enabled, every DML commit that changes rows
# WITHOUT the add/remove actions fully describing the change (DELETE,
# UPDATE, MERGE) also writes typed change files under ``_change_data/``
# and references them with ``cdc`` actions in the SAME commit. Readers of
# the feed (table_changes / the streaming CDF source) then reconstruct
# per-commit row-level changes without any cross-file diffing: appends are
# inserts by their add actions; cdc actions carry delete/update_preimage/
# update_postimage rows verbatim. This is the WRITTEN feed — the derived
# companion is snapshot_diff (net changes between any two snapshots,
# CDF-enabled or not).

_CDF_DIR = "_change_data"
_CDF_COL = "_change_type"


def _cdf_enabled(meta: dict) -> bool:
    return (meta.get("configuration") or {}).get(
        "delta.enableChangeDataFeed"
    ) == "true"


def enable_change_data_feed(table: str) -> int:
    """SET TBLPROPERTIES (delta.enableChangeDataFeed = true): later DML
    commits write typed change files; the protocol's minWriterVersion
    rises to 4 (the CDF writer feature) so CDF-unaware writers refuse
    instead of committing feed-less changes."""
    _active, meta, latest = _replay(table, None)
    _check_writer_protocol(table)
    if _cdf_enabled(meta):
        raise ValueError(f"change data feed already enabled on {table}")
    conf = dict(meta.get("configuration") or {})
    conf["delta.enableChangeDataFeed"] = "true"
    new_meta = {**meta, "configuration": conf}
    now_ms = int(time.time() * 1000)
    actions: list[dict] = []
    proto = _table_protocol(table)["protocol"]
    if proto.get("minWriterVersion", 2) < 4:
        actions.append({"protocol": {**proto, "minWriterVersion": 4}})
    actions += [
        {"metaData": new_meta},
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "SET TBLPROPERTIES",
                "operationParameters": {"delta.enableChangeDataFeed": "true"},
            }
        },
    ]
    version = latest + 1
    _commit(table, version, actions)
    return version


def _stage_cdf(table: str, meta: dict, change_df: DataFrame | None) -> list[dict]:
    """Stage a (table columns + _change_type) frame under _change_data/
    and return its cdc actions. No-op when CDF is off or the frame is
    None. Data columns are stored under physical names (column mapping),
    like every data file; _change_type passes through verbatim."""
    if change_df is None or not _cdf_enabled(meta):
        return []
    return [
        {
            "cdc": {
                "path": rel,
                "partitionValues": {},
                "size": size,
                "dataChange": False,
            }
        }
        for rel, size, _stats in tablefiles.stage(
            _to_physical(change_df, meta), table, _CDF_DIR
        )
    ]


def table_changes(
    spark: SparkSession, table: str, from_version: int, to_version: int | None = None
) -> DataFrame:
    """Read the WRITTEN change feed for commits in (from_version,
    to_version] — each row is a table row plus ``_change_type`` ('insert'
    | 'delete' | 'update_preimage' | 'update_postimage') and
    ``_commit_version``. Per commit: cdc actions are read verbatim;
    data-changing add actions without cdc are inserts (appends / the new
    half of an overwrite); data-changing removes without cdc are only
    legal for OVERWRITE commits (the removed snapshot's rows re-emerge as
    deletes, each file read under its as-of deletion vector) — a RESTORE
    raises, because its remove/add sets don't carry row-level meaning
    without cross-file diffing (use snapshot_diff for that). Commits with
    ``dataChange: false`` only (OPTIMIZE / ZORDER / PURGE) emit nothing.

    Scale shape: cost is proportional to the CHANGE volume — cdc files
    hold exactly the changed rows, and only overwritten files are re-read
    for their deletes; unchanged data is never touched."""
    from pyspark.sql import functions as F

    _active, meta, latest = _replay(table, to_version)
    if to_version is None:
        to_version = latest
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    out_cols = [f.name for f in schema.fields] + [_CDF_COL, "_commit_version"]
    pieces: list[DataFrame] = []

    def lift(df: DataFrame, ctype, version: int) -> DataFrame:
        cols = [F.col(f.name) for f in schema.fields]
        cols.append(
            (F.col(_CDF_COL) if ctype is None else F.lit(ctype)).alias(_CDF_COL)
        )
        cols.append(F.lit(version).alias("_commit_version"))
        return df.select(*cols)

    for v in range(from_version + 1, to_version + 1):
        actions = _read_log(table, v)
        cdcs = [a["cdc"] for a in actions if "cdc" in a]
        adds = [a["add"] for a in actions if "add" in a and a["add"].get("dataChange", True)]
        removes = [
            a["remove"] for a in actions if "remove" in a and a["remove"].get("dataChange", True)
        ]
        if cdcs:
            # typed change rows, stored physical + _change_type, unpartitioned
            raw = tablefiles.scan(
                spark,
                table,
                {(): [os.path.join(table, c["path"]) for c in cdcs]},
                StructType([*schema.fields, StructField(_CDF_COL, StringType())]),
                _phys_map(meta),
            )
            pieces.append(lift(raw, None, v))
            # adds in a cdc-carrying commit are the rewrite/new-image files
            # the cdc rows already describe — never re-emitted
            continue
        info = next((a["commitInfo"] for a in actions if "commitInfo" in a), {})
        if removes:
            op = info.get("operation")
            params = info.get("operationParameters", {})
            if op == "WRITE" and params.get("mode", "").lower() == "overwrite":
                prior, prior_meta, _ = _replay(table, v - 1)
                gone = [prior[r["path"]] for r in removes if r["path"] in prior]
                pieces.append(
                    lift(_read_adds(spark, table, prior_meta, gone), "delete", v)
                )
            else:
                raise ValueError(
                    f"commit {v} ({op}) removed data files without a change "
                    f"feed (committed before CDF was enabled, or RESTORE) — "
                    f"use snapshot_diff for net changes across it"
                )
        if adds:
            pieces.append(lift(_read_adds(spark, table, meta, adds), "insert", v))
    if not pieces:
        return spark.createDataFrame(
            [],
            StructType(
                [StructField(f.name, f.dataType, True) for f in schema.fields]
                + [
                    StructField(_CDF_COL, StringType(), True),
                    StructField("_commit_version", LongType(), True),
                ]
            ),
        )
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out.select(*out_cols)


def _data_files(table: str, adds: list[dict]) -> dict[str, dict]:
    """The add actions by their data file's absolute path — the list
    ``_read_adds`` hands the shared scan, and the form a row's
    ``dml.FILE`` takes there."""
    return {os.path.abspath(os.path.join(table, a["path"])): a for a in adds}


def _read_adds(
    spark: SparkSession, table: str, meta: dict, adds: list[dict], lineage: bool = False
) -> DataFrame:
    """THE snapshot read core: the given add-actions' files read by the
    shared ``tablefiles.scan`` under the logged schema (physical names
    aliased back to logical under column mapping), with each file's
    deletion vector applied. Every reader of active files — read_delta,
    the DML lineage scan and copy-on-write keep side, OPTIMIZE rewrites,
    snapshot_diff — comes through here, so a DV'd row cannot be
    resurrected by any code path. Application is ``tablefiles.mask``: one
    broadcast left-anti join on the row address against the union of
    inline DVs, each keyed by its file's absolute path — executor-side,
    arbitrarily many data rows; the driver holds only the DV indices
    themselves, bounded by _DV_MAX_ROWS_PER_FILE per file (the promotion
    path past that bound is DV sidecar files loaded executor-side — but
    past that bound copy-on-write already wins).

    ``lineage=True`` is the DML planner's scan (``sources/dml.py``): each
    live row also carries its address, ``dml.FILE`` and ``dml.POS``."""
    from pyspark.sql import functions as F

    from . import dml

    files = _data_files(table, adds)
    deleted = [
        (f, i) for f, a in files.items() if a.get("deletionVector") for i in _dv_indices(a)
    ]
    df = tablefiles.scan(
        spark,
        table,
        {tuple(meta.get("partitionColumns", [])): list(files)},
        StructType.fromJson(json.loads(meta["schemaString"])),
        _phys_map(meta),
        address=lineage or bool(deleted),
    )
    if deleted:
        from ..functions.localrows import local_rows_df

        # driver-bounded DV index list as one Arrow batch (r13: the sliced
        # Python-RDD form cost a worker round trip per slice per broadcast)
        ddl = f"{dml.FILE} string, {dml.POS} long"
        df = tablefiles.mask(df, F.broadcast(local_rows_df(spark, deleted, ddl)))
        if not lineage:
            df = df.drop(dml.FILE, dml.POS)
    return df


def write_delta(
    df: DataFrame,
    table: str,
    mode: str = "overwrite",
    partition_cols: list[str] | None = None,
    txn: tuple[str, int] | None = None,
    merge_schema: bool = False,
    bloom_columns: list[str] | None = None,
) -> int:
    """Commit ``df`` to the Delta-layout table at ``table``; returns the
    committed version. ``mode``: 'overwrite' (remove the previous snapshot's
    files in the same commit — readers see old XOR new, never a mix) or
    'append'. First commit on a path creates the table (protocol+metaData).

    ``txn=(app_id, version)`` records the protocol's transaction-identifier
    action in the same commit — the exactly-once primitive: an idempotent
    writer (a Structured Streaming foreachBatch replaying batch N after a
    crash) checks ``last_txn_version(table, app_id)`` and skips versions
    already committed, because the data files and the txn marker landed
    ATOMICALLY in one log entry.

    Schema is ENFORCED on every later commit (a frame whose schema differs
    from the table's is rejected — the lake-table contract that keeps a
    10-team pipeline from silently forking a table's shape). With
    ``merge_schema=True`` a frame may ADD columns: the commit carries an
    updated metaData action, and snapshot reads apply the as-of-version
    schema, so old files surface the new columns as nulls and time travel
    still sees the old shape."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    partition_cols = list(partition_cols or [])
    versions = _list_versions(table)
    now_ms = int(time.time() * 1000)

    actions: list[dict] = []
    if not versions:
        version = 0
        actions.append(_PROTOCOL)
        actions.append(
            {
                "metaData": {
                    "id": uuid.uuid4().hex,
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": df.schema.json(),
                    "partitionColumns": partition_cols,
                    "configuration": {},
                    "createdTime": now_ms,
                }
            }
        )
        prior_active: dict[str, dict] = {}
    else:
        prior_active, meta, _ = _replay(table, None)
        _check_writer_protocol(table)
        version = versions[-1] + 1
        logged_parts = meta.get("partitionColumns", [])
        if partition_cols and partition_cols != logged_parts:
            raise ValueError(
                f"partition columns {partition_cols} != table's {logged_parts}"
            )
        partition_cols = logged_parts
        table_schema = StructType.fromJson(json.loads(meta["schemaString"]))
        # nullability-insensitive: an aggregate rewrite flips count()'s
        # non-null to sum()'s nullable with identical storage semantics —
        # reference Delta likewise treats nullability as advisory on write
        # (only name/type conflicts, drops, or unmerged adds reject)
        if [(f.name, f.dataType) for f in df.schema.fields] != [
            (f.name, f.dataType) for f in table_schema.fields
        ]:
            existing = {f.name: f.dataType for f in table_schema.fields}
            incoming = {f.name: f.dataType for f in df.schema.fields}
            conflicts = [
                n for n, t in incoming.items() if n in existing and existing[n] != t
            ]
            new_cols = [f for f in df.schema.fields if f.name not in existing]
            dropped = [n for n in existing if n not in incoming]
            if conflicts or dropped or not merge_schema:
                raise ValueError(
                    f"schema mismatch vs table (conflicting types: {conflicts}, "
                    f"missing table columns: {dropped}, new columns: "
                    f"{[f.name for f in new_cols]}); pass merge_schema=True to "
                    f"add columns"
                )
            if _mapping_enabled(meta):
                # a merge-schema field would default physical==logical and
                # could alias a DROPPED column's leftover bytes — column-id
                # assignment belongs to add_column
                raise ValueError(
                    "merge_schema is not allowed on a column-mapped table; "
                    "use add_column() then write the new shape"
                )
            merged = StructType(list(table_schema.fields) + new_cols)
            meta = {**meta, "schemaString": merged.json()}
            actions.append({"metaData": meta})

    # under column mapping, files store PHYSICAL names (identity otherwise)
    table_meta = meta if versions else {"schemaString": df.schema.json()}
    if versions:
        _enforce_constraints(df, meta, f"WRITE ({mode}) batch")
    staged = tablefiles.stage(_to_physical(df, table_meta), table, "", partition_cols)
    if bloom_columns:
        # per-file Bloom filters for equality skipping on columns zone maps
        # can't serve (strings, high-cardinality ids); see _augment_bloom —
        # logged under the columns' PHYSICAL names, like the footer stats
        pm = _phys_map(table_meta) if versions else {}
        _augment_bloom(table, staged, [pm.get(c, c) for c in bloom_columns])
    if mode == "overwrite":
        for rel in prior_active:
            actions.append(
                {"remove": {"path": rel, "deletionTimestamp": now_ms, "dataChange": True}}
            )
    actions += [
        _add(rel, size, stats, partition_values(rel, partition_cols), now_ms, True)
        for rel, size, stats in staged
    ]
    if txn is not None:
        actions.append(
            {"txn": {"appId": txn[0], "version": int(txn[1]), "lastUpdated": now_ms}}
        )
    actions.append(
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "WRITE",
                "operationParameters": {"mode": mode.upper(), "partitionBy": partition_cols},
            }
        }
    )
    return _commit_append_rebase(
        table,
        version,
        actions,
        mode,
        partition_cols,
        base_schema_string=meta["schemaString"] if versions else None,
    )


def _commit_append_rebase(
    table: str,
    version: int,
    actions: list[dict],
    mode: str,
    partition_cols: list[str],
    base_schema_string: str | None = None,
    max_retries: int = 10,
) -> int:
    """Commit, rebasing a BLIND APPEND past concurrent winners (the
    protocol's conflict rule: an append conflicts with nothing unless the
    winner changed the table's metadata): on losing the put-if-absent race,
    re-aim at the new head after verifying schema and partitioning are
    unchanged — the staged files and actions stay valid verbatim.
    Overwrites are NOT rebased (their remove-set describes the snapshot
    they read) and re-raise immediately, as does a metadata change or
    retry exhaustion."""
    carries_meta = any("metaData" in a for a in actions)
    if mode != "append" or carries_meta:
        # overwrites read a snapshot their remove-set depends on; a
        # schema-evolving append could clobber a concurrent evolution —
        # both surface the conflict to the caller instead of rebasing
        _commit(table, version, actions)
        return version
    if base_schema_string is None:  # direct callers without the base in hand
        _, base_meta, _ = _replay(table, version - 1)
        base_schema_string = base_meta["schemaString"]
    for _ in range(max_retries + 1):
        try:
            _commit(table, version, actions)
            return version
        except DeltaCommitConflict:
            _active, head_meta, head = _replay(table, None)
            if (
                head_meta.get("partitionColumns", []) != partition_cols
                or head_meta.get("schemaString") != base_schema_string
            ):
                raise
            version = head + 1
    raise DeltaCommitConflict(
        f"append lost the commit race {max_retries + 1} times at {table}"
    )


def last_txn_version(table: str, app_id: str) -> int | None:
    """Highest ``txn.version`` committed for ``app_id``, or None — the
    read side of the exactly-once handshake. Checkpoints carry the txn
    state forward, so the per-micro-batch cost stays O(commits since
    checkpoint) over a stream's lifetime."""
    return _txn_state(table).get(app_id)


def delta_foreach_batch_sink(table: str, app_id: str, partition_cols: list[str] | None = None):
    """Exactly-once Structured Streaming sink for the jar-free Delta lane:

        q = stream_df.writeStream.foreachBatch(
                delta_foreach_batch_sink(path, "my-ingest")
            ).option("checkpointLocation", ckpt).start()

    foreachBatch is at-least-once — after a crash the engine REPLAYS the
    last uncommitted micro-batch. The sink makes the replay a no-op: batch
    N's data files and ``txn(appId, N)`` marker commit atomically, and a
    second delivery of N sees ``last_txn_version >= N`` and returns before
    writing. (Same recipe real Delta documents for idempotent foreachBatch
    writes; SURVEY §2.11 streaming-writes lane.)"""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        done = last_txn_version(table, app_id)
        if done is not None and batch_id <= done:
            return
        write_delta(
            batch_df,
            table,
            mode="append",
            partition_cols=partition_cols,
            txn=(app_id, batch_id),
        )

    return write_batch


# ---------------------------------------------------------------------------
# reader
# ---------------------------------------------------------------------------


def _file_may_match(add: dict, col: str, lo, hi) -> bool:
    """Range-overlap test against the file's logged min/maxValues. A file
    with no stats for the column is conservatively kept — skipping is an
    optimization, never a correctness dependency."""
    stats = json.loads(add.get("stats") or "{}")
    fmin = stats.get("minValues", {}).get(col)
    fmax = stats.get("maxValues", {}).get(col)
    if fmin is None or fmax is None:
        return True
    if lo is not None and fmax < lo:
        return False
    if hi is not None and fmin > hi:
        return False
    return True


def read_delta(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    partition_filters: dict[str, str] | None = None,
    range_filters: dict[str, tuple] | None = None,
    equality_filters: dict | None = None,
) -> DataFrame:
    """Snapshot read. ``version`` time-travels; ``partition_filters`` prunes
    files DRIVER-SIDE against the log's ``add.partitionValues`` — at 100 TB
    the pruned partitions never reach Spark's file index at all (and the
    data directory is never LISTed; the log is the index).
    ``range_filters`` = {col: (lo, hi)} additionally skips files whose
    logged per-file min/max can't overlap the range (Delta data skipping;
    lo/hi of None = unbounded). Skipping only DROPS whole files — the
    caller still applies its row-level ``.filter``; a file without stats
    for the column is always read. The log schema is applied explicitly so
    a snapshot read sees the schema as-of its version even after later
    schema changes."""
    active, meta, _ = _replay(table, version)
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    partition_cols = meta.get("partitionColumns", [])
    adds = list(active.values())
    if partition_filters:
        unknown = set(partition_filters) - set(partition_cols)
        if unknown:
            raise KeyError(f"not partition columns: {sorted(unknown)}")
        adds = [
            a
            for a in adds
            if all(a["partitionValues"].get(k) == v for k, v in partition_filters.items())
        ]
    pm = _phys_map(meta)  # stats/blooms are keyed by PHYSICAL column names
    if range_filters:
        # bounds normalized like the logged stats (json_scalar): a
        # date/datetime bound becomes its ISO string, comparable with the
        # stored min/max; numerics pass through
        norm = {
            pm.get(c, c): (json_scalar(lo) if lo is not None else None,
                           json_scalar(hi) if hi is not None else None)
            for c, (lo, hi) in range_filters.items()
        }
        adds = [
            a
            for a in adds
            if all(_file_may_match(a, c, lo, hi) for c, (lo, hi) in norm.items())
        ]
    if equality_filters:
        # zone maps (lo==hi) where logged, plus Bloom definite-absence for
        # columns written with bloom_columns= (strings/ids that zone maps
        # can't serve); files without either are conservatively read
        adds = [
            a
            for a in adds
            if all(
                _file_may_match(a, pm.get(c, c), json_scalar(v), json_scalar(v))
                and _bloom_may_contain(a, pm.get(c, c), v)
                for c, v in equality_filters.items()
            )
        ]
    if not adds:
        return spark.createDataFrame([], schema)
    # _read_adds: logged schema (not inference — evolution can mix file
    # shapes; old files null-fill new columns) + each file's deletion
    # vector applied, so merge-on-read deletes are invisible here too.
    return _read_adds(spark, table, meta, adds)


def compact_table(
    spark: SparkSession, table: str, min_files_per_partition: int = 2
) -> int | None:
    """Bin-pack small files (Delta OPTIMIZE): every partition holding at
    least ``min_files_per_partition`` active files is rewritten into one
    file, committed as remove+add with ``dataChange: false`` — streaming /
    incremental readers know no rows changed and skip the commit entirely.
    Returns the committed version, or None when nothing needed compaction.

    The 100 TB motive: dynamic-partition ingest emits (tasks × partitions)
    files; scan cost at the thousand-executor scale is dominated by
    per-file open/seek overhead once files fall under a few hundred MB.
    Compaction is metadata-transactional here exactly like real Delta —
    readers of the pre-compaction snapshot keep their file list (old files
    are not deleted until `vacuum_table`), so time travel still works."""
    active, meta, latest = _replay(table, None)
    _check_writer_protocol(table)
    partition_cols = meta.get("partitionColumns", [])
    by_part: dict[tuple, list[dict]] = {}
    for a in active.values():
        key = tuple(sorted(a.get("partitionValues", {}).items()))
        by_part.setdefault(key, []).append(a)
    groups = [adds for adds in by_part.values() if len(adds) >= min_files_per_partition]
    if not groups:
        return None

    now_ms = int(time.time() * 1000)
    actions: list[dict] = []
    # _read_adds: the LOGGED schema, not inference (after merge_schema
    # evolution a partition can hold files with and without the new
    # columns), and deletion vectors applied — compaction physically drops
    # DV'd rows, which is exactly what keeps dataChange=false truthful
    # (logical row set unchanged) while clearing merge-on-read debt
    for adds in groups:
        # drop the hive partition columns Spark re-derived: the rewritten
        # file must have the same physical columns as the originals
        df = _read_adds(spark, table, meta, adds).drop(*partition_cols).coalesce(1)
        part_dir = os.path.dirname(adds[0]["path"])
        pvals = adds[0]["partitionValues"]
        actions += [
            _add(rel, size, stats, dict(pvals), now_ms, False)
            for rel, size, stats in tablefiles.stage(_to_physical(df, meta), table, part_dir)
        ]
        for a in adds:
            actions.append(
                {
                    "remove": {
                        "path": a["path"],
                        "deletionTimestamp": now_ms,
                        "dataChange": False,
                    }
                }
            )
    actions.append(
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "OPTIMIZE",
                "operationParameters": {"minFilesPerPartition": min_files_per_partition},
            }
        }
    )
    version = latest + 1
    _commit(table, version, actions)
    return version


def _commit_plan(
    spark: SparkSession,
    table: str,
    active: dict,
    meta: dict,
    latest: int,
    plan,
    mode: str,
    dv_max_fraction: float,
    params: dict,
) -> int | None:
    """Delta's commit step for a ``dml`` plan, in ONE log version.

    Each file holding a hit either gets a deletion vector of its hit rows
    (merged with the DV it already has) or is rewritten copy-on-write as
    its rows minus the hit addresses. ``mode='cow'`` rewrites every touched
    file; ``mode='dv'`` rewrites only the files whose accumulated DV would
    exceed ``dv_max_fraction`` of their rows or the inline cap
    _DV_MAX_ROWS_PER_FILE — dense changes want the rewrite anyway, and read
    amplification stays bounded. Files without a hit are never touched, and
    the rows of a touched file that no statement clause hits stay in place.

    The hit addresses are collected ONCE, as ``(file, pos)`` pairs (no
    more rows than the keep-side broadcast of a copy-on-write rewrite
    ships anyway); the per-file counts and the DV indices come from them,
    and the rewrite's mask broadcasts the same pinned hits. The density
    bound old_cardinality + new_hits is exact, as hits are live rows only.
    The new rows (update and merge images, accepted inserts) are validated
    against the CHECK constraints before anything is staged, then land as
    one new file (compaction folds it later), written in the same job as
    the rewrites. With the change data feed on, the hits and the new rows
    are the commit's change rows. Returns the version, or None when a
    DELETE or UPDATE touches nothing (a MERGE always commits)."""
    from pyspark.sql import functions as F

    from . import dml

    # a hit's file → its add action (an unmapped file raises KeyError
    # instead of turning the statement into a silent no-op)
    files = _data_files(table, list(active.values()))
    hits: dict[str, list[int]] = {}
    for f, pos in plan.hits.select(dml.FILE, dml.POS).collect():
        hits.setdefault(f, []).append(pos)
    if not hits and plan.kind != "merge":
        return None
    data_cols = [
        f.name for f in StructType.fromJson(json.loads(meta["schemaString"])).fields
    ]
    if plan.new_rows is not None:
        # only the CHANGED rows: unchanged rows hold by invariant
        _enforce_constraints(
            plan.new_rows.select(*data_cols), meta, f"{plan.kind.upper()} result"
        )
    now_ms = int(time.time() * 1000)

    def remove(add: dict) -> dict:
        return {
            "remove": {"path": add["path"], "deletionTimestamp": now_ms, "dataChange": True}
        }

    dv_files: dict[str, dict] = {}
    cow_files: dict[str, dict] = {}
    for path, idx in hits.items():
        add = files[path]
        n_phys = int(json.loads(add.get("stats") or "{}").get("numRecords") or 0)
        bound = len(_dv_indices(add)) + len(idx)
        dense = n_phys and bound > dv_max_fraction * n_phys
        if mode == "dv" and not dense and bound <= _DV_MAX_ROWS_PER_FILE:
            dv_files[path] = add
        else:
            cow_files[path] = add
    actions: list[dict] = []
    for path, add in dv_files.items():
        merged = _dv_encode(set(_dv_indices(add)) | set(hits[path]))
        actions += [remove(add), {"add": {**add, "deletionVector": merged}}]
    rows = None if plan.new_rows is None else plan.new_rows.select(*data_cols).coalesce(1)
    if cow_files:
        # _read_adds applies any deletion vectors — a DV-deleted row must
        # not be resurrected into the rewritten files
        keep = tablefiles.mask(
            _read_adds(spark, table, meta, list(cow_files.values()), lineage=True),
            F.broadcast(plan.hits.select(dml.FILE, dml.POS)),
        ).select(*data_cols)
        rows = keep if rows is None else keep.unionByName(rows)
        actions += [remove(a) for a in cow_files.values()]
    if rows is not None:
        actions += _stage_adds(rows, table, meta, now_ms)
    _dv_protocol_upgrade(table, actions)
    if _cdf_enabled(meta):
        changes = plan.hits.select(*data_cols, dml.CHANGE)
        if plan.new_rows is not None:
            changes = changes.unionByName(plan.new_rows.select(*data_cols, dml.CHANGE))
        actions += _stage_cdf(table, meta, changes.withColumnRenamed(dml.CHANGE, _CDF_COL))
    actions.append(
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": plan.kind.upper(),
                "operationParameters": params,
            }
        }
    )
    version = latest + 1
    _commit(table, version, actions)
    return version


def _lineage_scan(spark: SparkSession, table: str, active: dict, meta: dict) -> DataFrame:
    """The DML planner's scan of the replayed snapshot: live rows plus
    their (file, pos) address."""
    return _read_adds(spark, table, meta, list(active.values()), lineage=True)


def _dv_protocol_upgrade(table: str, actions: list[dict]) -> None:
    """Prepend the protocol-upgrade action when this commit introduces the
    table's first deletion vector. The upgrade is to the spec's
    TABLE-FEATURES protocol — minReaderVersion 3 / minWriterVersion 7 with
    explicit feature lists — NOT legacy v2: the spec only obliges readers
    to consult ``readerFeatures`` at reader version 3, so a v2-capable
    real reader would ignore the custom `deletionVectors-u32z` entry and
    silently resurrect DV-deleted rows; at v3 it refuses loudly, the
    intended failure mode (ADVICE r7). readerFeatures merges anything the
    table already acquired (e.g. columnMapping); writerFeatures lists
    every feature delta_lite's write paths actually enforce on this table
    (CDF + CHECK constraints are enforced in every write path here, plus
    the reader-writer features in use)."""
    if not any("deletionVector" in a.get("add", {}) for a in actions):
        return
    proto = _table_protocol(table)["protocol"]
    feats = set(proto.get("readerFeatures") or []) | {"deletionVectors-u32z"}
    if proto.get("minReaderVersion", 1) >= 3 and feats == set(
        proto.get("readerFeatures") or []
    ):
        return
    wfeats = (
        set(proto.get("writerFeatures") or [])
        | feats
        | {"changeDataFeed", "checkConstraints"}
    )
    actions.insert(
        0,
        {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": sorted(feats),
                "writerFeatures": sorted(wfeats),
            }
        },
    )


def delete_where(
    spark: SparkSession,
    table: str,
    predicate: str,
    mode: str = "cow",
    dv_max_fraction: float = 0.15,
) -> int | None:
    """Transactional row-level DELETE. ONE scan finds the files holding
    matching rows (NULL-predicate rows are kept, SQL DELETE semantics);
    only those files are touched; everything publishes atomically. Returns
    the committed version, or None if nothing matched.

    ``mode='cow'`` (copy-on-write): matched files are rewritten without
    their matching rows — at 100 TB a targeted delete (GDPR erasure,
    bad-batch rollback) rewrites a handful of files, not the table;
    zone-map/partition locality of the delete key (see
    write_zordered_delta) decides how few.

    ``mode='dv'`` (merge-on-read, Delta deletion vectors): matched files
    are NOT rewritten — each gets a deletion vector of the matching
    physical row indices committed in the log (union'd with any existing
    DV), and every reader applies it via _read_adds. This is the
    sparse-delete lever: erasing 100 rows scattered over 100 one-GB files
    costs kilobytes of log instead of 100 GB of rewrite. Per file, when
    the accumulated DV would exceed ``dv_max_fraction`` of its rows (or
    the inline cap _DV_MAX_ROWS_PER_FILE), that file falls back to
    copy-on-write in the same commit — dense deletes want the rewrite
    anyway, and read amplification stays bounded. The table's protocol is
    upgraded to the table-features protocol (minReaderVersion 3 +
    readerFeatures/writerFeatures) on the first DV so a
    DV-unaware reader refuses loudly instead of resurrecting rows."""
    from . import dml

    if mode not in ("cow", "dv"):
        raise ValueError(f"mode must be 'cow' or 'dv', got {mode!r}")
    active, meta, latest = _replay(table, None)
    _check_writer_protocol(table)
    with dml.delete(_lineage_scan(spark, table, active, meta), predicate) as plan:
        return _commit_plan(
            spark, table, active, meta, latest, plan, mode, dv_max_fraction,
            {"predicate": predicate, "mode": mode},
        )


def update_where(
    spark: SparkSession,
    table: str,
    assignments: dict[str, str],
    predicate: str,
    mode: str = "cow",
    dv_max_fraction: float = 0.15,
) -> int | None:
    """Transactional row-level UPDATE (SQL ``UPDATE ... SET col = expr
    WHERE pred``) — completing the DML triad beside delete_where and
    merge_delta. ONE scan finds the matching rows; only their files are
    touched; everything publishes atomically. Returns the committed
    version, or None if nothing matched. Set expressions may reference any
    table column; all assignments see the PRE-update row (simultaneous
    semantics, one projection — standard SQL UPDATE, so ``{"a": "b", "b":
    "a"}`` swaps). Each expression is cast back to the column's declared
    type: an UPDATE must never fork the table schema. NULL-predicate rows
    are left untouched (SQL three-valued logic).

    The matched rows' old images leave their files and their updated
    images land as one NEW file, in the same commit, so readers see
    pre-update XOR post-update. ``mode='cow'``: matched files are
    rewritten without the matched rows. ``mode='dv'`` (merge-on-read
    UPDATE, like Delta's DV-enabled UPDATE): the matched rows are
    deletion-vector-marked in their ORIGINAL files (kilobytes of log) —
    updating 100 rows scattered over 100 one-GB files writes one small
    file instead of 100 rewrites. Per file, dense updates fall back to
    copy-on-write under the same ``dv_max_fraction`` bound as
    delete_where."""
    from . import dml

    if mode not in ("cow", "dv"):
        raise ValueError(f"mode must be 'cow' or 'dv', got {mode!r}")
    active, meta, latest = _replay(table, None)
    _check_writer_protocol(table)
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    with dml.update(
        _lineage_scan(spark, table, active, meta), schema, assignments, predicate
    ) as plan:
        return _commit_plan(
            spark, table, active, meta, latest, plan, mode, dv_max_fraction,
            {"predicate": predicate, "set": dict(assignments), "mode": mode},
        )


def purge_deletion_vectors(spark: SparkSession, table: str) -> int | None:
    """REORG TABLE ... APPLY (PURGE): physically rewrite every active file
    that carries a deletion vector, dropping the DV — committed with
    ``dataChange: false`` because the LOGICAL row set is untouched
    (streaming/incremental readers skip the commit, like OPTIMIZE). Run it
    when accumulated merge-on-read debt makes scans pay too much anti-join,
    or before handing the table to a DV-unaware reader. Returns the
    committed version, or None when no file has a DV."""
    active, meta, latest = _replay(table, None)
    _check_writer_protocol(table)
    dv_adds = [a for a in active.values() if a.get("deletionVector")]
    if not dv_adds:
        return None
    now_ms = int(time.time() * 1000)
    actions: list[dict] = []
    partition_cols = meta.get("partitionColumns", [])
    by_dir: dict[str, list[dict]] = {}
    for a in dv_adds:
        by_dir.setdefault(os.path.dirname(a["path"]), []).append(a)
    for part_dir, adds in sorted(by_dir.items()):
        df = _read_adds(spark, table, meta, adds).drop(*partition_cols)
        pvals = adds[0].get("partitionValues", {})
        actions += [
            _add(rel, size, stats, dict(pvals), now_ms, False)
            for rel, size, stats in tablefiles.stage(_to_physical(df, meta), table, part_dir)
        ]
        for a in adds:
            actions.append(
                {"remove": {"path": a["path"], "deletionTimestamp": now_ms, "dataChange": False}}
            )
    actions.append(
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "REORG",
                "operationParameters": {"applyPurge": True},
            }
        }
    )
    version = latest + 1
    _commit(table, version, actions)
    return version


def merge_delta(
    spark: SparkSession,
    table: str,
    source: DataFrame,
    key_cols: list[str],
    when_matched: list | None = None,
    when_not_matched_insert: bool | str = True,
) -> int:
    """Transactional MERGE, copy-on-write. Default is upsert-all (``WHEN
    MATCHED UPDATE SET * WHEN NOT MATCHED INSERT *``): files holding rows
    that a clause hits are rewritten without those rows, the update images
    and inserts land as one new file, and everything publishes in ONE
    commit — readers see pre-merge XOR post-merge. Only files holding a
    hit rewrite; a matched row that no clause hits stays where it is, even
    when another row of its key is hit. Returns the committed version.

    - ``when_matched``: ordered ``(condition, action)`` clauses over
      ``t.<col>`` / ``s.<col>``; ``action`` is ``"delete"`` or
      ``{"update": {col: expr}}``; FIRST match wins. Keys compare with
      PLAIN equality (ANSI ``ON t.k = s.k``: NULL keys never match, so a
      NULL-key source row inserts — vs merge_iceberg's null-safe identity
      keys).
    - ``when_not_matched_insert``: True / False / a SQL condition over the
      bare source columns.

    The plan (join shape, clause routing) is ``dml.merge``. ``source``
    must be unique per key (dedupe upstream — e.g. latest change per key
    via a window), like SQL MERGE's multiple-match error, except
    undetected here because detection would cost an extra aggregation job
    per merge."""
    from . import dml

    active, meta, latest = _replay(table, None)
    _check_writer_protocol(table)
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    with dml.merge(
        _lineage_scan(spark, table, active, meta),
        source,
        schema,
        key_cols,
        when_matched,
        when_not_matched_insert,
        null_safe=False,
    ) as plan:
        return _commit_plan(
            spark, table, active, meta, latest, plan, "cow", 0.0,
            {"matchedKeys": key_cols},
        )


def vacuum_table(
    table: str,
    retention_ms: int = 7 * 24 * 3600 * 1000,
    orphan_grace_ms: int = 5_000,
) -> list[str]:
    """Physically delete data files no longer referenced by the LATEST
    snapshot whose tombstone (remove action) is older than ``retention_ms``
    — after which time travel to versions needing those files fails, the
    documented Delta trade-off. ALSO reclaims orphans: data files on disk
    referenced by NO log entry (a writer that staged and moved its files,
    then lost the commit race or died before committing) past retention by
    mtime — without this, every lost overwrite race leaks a snapshot's
    worth of storage forever. Returns the deleted relative paths.
    ``retention_ms=0`` reclaims immediately (tests / aggressive cleanup).

    ``orphan_grace_ms`` (ADVICE r4): an ORPHAN is kept — even at
    ``retention_ms=0`` — until some LOG COMMIT postdates its mtime by the
    grace, because a parquet on disk with no log entry is
    indistinguishable from an IN-FLIGHT write_delta/merge_delta that has
    written data but not yet committed its log record (reference Delta
    guards VACUUM with a minimum-retention check for exactly this race).
    The grace compares the orphan's mtime to the newest log file's mtime
    — the SAME filesystem clock — so driver-vs-fs clock skew (the r4
    flake class) cannot delete an in-flight file in either skew
    direction. Tombstoned files are exempt (their remove action proves no
    writer owns them). Pass grace 0 only when no concurrent writers
    exist."""
    active, _meta, _ = _replay(table, None)
    cutoff_ms = int(time.time() * 1000) - retention_ms
    removed_at: dict[str, int] = {}
    ever_added: set[str] = set()
    for v in _list_versions(table):
        for action in _read_log(table, v):
            if "remove" in action:
                r = action["remove"]
                removed_at[r["path"]] = r.get("deletionTimestamp", 0)
            elif "add" in action:
                ever_added.add(action["add"]["path"])
                if action["add"]["path"] in removed_at:
                    removed_at.pop(action["add"]["path"])  # re-added later
            elif "cdc" in action:
                # change-data-feed files are log-referenced (never active,
                # never tombstoned) — not orphans; they live as long as
                # their commit does (CDF retention piggybacks on the log)
                ever_added.add(action["cdc"]["path"])
    deleted = []
    for rel, ts in sorted(removed_at.items()):
        # retention 0 means "reclaim immediately", unconditionally: age
        # checks compare a stored timestamp against time.time(), and the two
        # clocks can disagree by more than the zero allowance (fs mtime
        # granularity, VM clock-source skew) — a nonzero retention absorbs
        # that skew, zero must not depend on it
        if rel in active or (retention_ms > 0 and ts > cutoff_ms):
            continue
        full = os.path.join(table, rel)
        if os.path.exists(full):
            os.remove(full)
            deleted.append(rel)
    # orphans: on disk, in no log entry, old enough
    for root, dirs, files in os.walk(table):
        dirs[:] = [
            d
            for d in dirs
            if d != _LOG_DIR and not d.startswith(tablefiles.STAGING_PREFIX)
        ]
        for name in files:
            full = os.path.join(root, name)
            rel = os.path.relpath(full, table)
            if not name.endswith(".parquet") or rel in ever_added:
                continue
            # Orphans get the grace window ON TOP of retention: unlike a
            # tombstoned file, nothing in the log proves this parquet is
            # abandoned rather than mid-commit. The grace test compares
            # the orphan's mtime against the NEWEST LOG FILE's mtime —
            # the SAME filesystem clock, so driver-vs-fs clock skew (the
            # r4 flake class) cannot fire in either direction: an
            # in-flight writer's file is newer than every committed log
            # entry and is kept no matter what the clocks disagree on; a
            # lost-race orphan becomes reclaimable once a LATER commit
            # postdates it by the grace. retention (a wall-clock policy)
            # still applies via the stored-timestamp path only for
            # nonzero retention, same as tombstones.
            age_ms = time.time() * 1000 - os.path.getmtime(full) * 1000
            if orphan_grace_ms <= 0:
                reclaim = retention_ms == 0 or age_ms >= retention_ms
            else:
                newest_log_ms = max(
                    (os.path.getmtime(_log_path(table, v)) for v in _list_versions(table)),
                    default=0.0,
                ) * 1000
                fs_clock_age_ms = newest_log_ms - os.path.getmtime(full) * 1000
                reclaim = fs_clock_age_ms >= orphan_grace_ms and (
                    retention_ms == 0 or age_ms >= retention_ms
                )
            if reclaim:
                os.remove(full)
                deleted.append(rel)
    return sorted(set(deleted))


def table_history(table: str) -> list[dict]:
    """commitInfo per version, latest first — the audit trail."""
    out = []
    for v in reversed(_list_versions(table)):
        info = next((a["commitInfo"] for a in _read_log(table, v) if "commitInfo" in a), {})
        out.append({"version": v, **info})
    return out


def snapshot_summary(table: str, version: int | None = None) -> dict:
    """Planning metadata straight from the log: file/record/byte counts per
    snapshot without touching a data file."""
    active, meta, version = _replay(table, version)
    n_records = 0
    n_dv_deleted = 0
    for a in active.values():
        stats = json.loads(a.get("stats") or "{}")
        n_records += int(stats.get("numRecords") or 0)
        dv = a.get("deletionVector")
        if dv:
            n_dv_deleted += int(dv["cardinality"])
    return {
        "version": version,
        "n_files": len(active),
        "n_bytes": sum(a["size"] for a in active.values()),
        # LOGICAL row count: physical stats minus deletion-vector debt
        "n_records": n_records - n_dv_deleted,
        "n_dv_deleted": n_dv_deleted,
        "partition_columns": meta.get("partitionColumns", []),
    }


def snapshot_diff(
    spark: "SparkSession", table: str, from_version: int, to_version: int
) -> "DataFrame":
    """NET row-level changes between two snapshots (change data feed from
    snapshots): each output row carries ``_change_type`` ('insert' |
    'delete') plus the table columns — an UPDATE under copy-on-write
    surfaces as its old row deleted and its new row inserted.

    The computation is FILE-diff optimized: only files present in exactly
    one of the two snapshots are read (added set vs removed set), and the
    net change is the symmetric multiset difference between their rows —
    rows a rewrite merely copied into a new file cancel out. Rows in
    files common to both snapshots are untouched by definition and are
    never read, so at 100 TB the cost scales with the CHANGE volume, not
    the table: a delete that rewrote 3 of 10 000 files reads 3 old + 3
    new files. exceptAll (multiset) keeps duplicate-row multiplicity
    honest on tables without a unique key."""
    from pyspark.sql import functions as F  # noqa: PLC0415 — avoid cycle at import

    old_active, _meta_from, _ = _replay(table, from_version)
    new_active, meta, _ = _replay(table, to_version)
    # TO_version's schema on BOTH sides (review r5): a merge_schema
    # column-add between the versions must surface in the feed — reading
    # with from_version's schema would drop the new column and changes
    # touching only it would cancel as "no change". Old files null-fill
    # the added columns under the explicit schema, exactly like read_delta.
    removed = sorted(set(old_active) - set(new_active))
    added = sorted(set(new_active) - set(old_active))
    # a merge-on-read DELETE keeps the PATH active and only swaps its
    # deletion vector — those files are in neither set difference, so the
    # diff must read them on BOTH sides (old DV vs new DV applied; the
    # unchanged rows cancel in exceptAll, leaving exactly the newly
    # DV-deleted rows). Cost stays change-proportional: only DV-changed
    # files are read twice.
    dv_changed = sorted(
        p
        for p in set(old_active) & set(new_active)
        if old_active[p].get("deletionVector") != new_active[p].get("deletionVector")
    )
    old_rows = _read_adds(
        spark, table, meta, [old_active[p] for p in removed + dv_changed]
    )
    new_rows = _read_adds(
        spark, table, meta, [new_active[p] for p in added + dv_changed]
    )
    deletes = old_rows.exceptAll(new_rows).withColumn("_change_type", F.lit("delete"))
    inserts = new_rows.exceptAll(old_rows).withColumn("_change_type", F.lit("insert"))
    return deletes.unionByName(inserts)


def optimize_zorder(
    spark: SparkSession,
    table: str,
    cols: list[str],
    n_files: int = 8,
    bits: int = 8,
) -> int | None:
    """``OPTIMIZE ... ZORDER BY`` — rewrite each partition's active files
    in Morton-interleaved order over ``cols`` and commit the swap with
    ``dataChange: false``: the row set is untouched, so streaming/
    incremental readers skip the commit entirely (the same contract as
    ``compact_table``), while every listed column's per-file min/max
    stats tighten and ``range_filters`` / connector zone-map skipping
    starts pruning on ALL of them — the post-ingest re-cluster job every
    lakehouse schedules. Returns the committed version, or None for an
    empty table. Bounds are computed per partition (one 1-row aggregate
    each); clustering is WITHIN partitions, like real Delta's ZORDER.

    Scale shape per partition: one bounds aggregate, one range shuffle on
    the interleaved key, a per-file local sort — no global sort; old
    files stay until VACUUM so time travel keeps working."""
    from ..functions.layout import zorder_key_sql  # local: layout imports us

    active, meta, latest = _replay(table, None)
    _check_writer_protocol(table)
    if not active:
        return None
    partition_cols = meta.get("partitionColumns", [])
    by_part: dict[tuple, list[dict]] = {}
    for a in active.values():
        key = tuple(sorted(a.get("partitionValues", {}).items()))
        by_part.setdefault(key, []).append(a)

    now_ms = int(time.time() * 1000)
    actions: list[dict] = []
    from pyspark.sql import functions as F

    for adds in by_part.values():
        # _read_adds applies deletion vectors: the re-clustered files are
        # physically purged, like compact_table
        df = _read_adds(spark, table, meta, adds).drop(*partition_cols)
        row = df.agg(
            *[F.min(c).alias(f"lo_{c}") for c in cols],
            *[F.max(c).alias(f"hi_{c}") for c in cols],
        ).collect()[0]
        if any(row[f"lo_{c}"] is None for c in cols):
            continue  # empty partition or all-null key: nothing to cluster
        bounds = {c: (int(row[f"lo_{c}"]), int(row[f"hi_{c}"])) for c in cols}
        laid = (
            df.withColumn("_zorder", F.expr(zorder_key_sql(cols, bounds, bits)))
            .repartitionByRange(min(n_files, len(adds)), "_zorder")
            .sortWithinPartitions("_zorder")
            .drop("_zorder")
        )
        part_dir = os.path.dirname(adds[0]["path"])
        pvals = adds[0]["partitionValues"]
        actions += [
            _add(rel, size, stats, dict(pvals), now_ms, False)
            for rel, size, stats in tablefiles.stage(_to_physical(laid, meta), table, part_dir)
        ]
        for a in adds:
            actions.append(
                {
                    "remove": {
                        "path": a["path"],
                        "deletionTimestamp": now_ms,
                        "dataChange": False,
                    }
                }
            )
    if not actions:
        return None
    actions.append(
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "OPTIMIZE",
                "operationParameters": {"zOrderBy": json.dumps(cols)},
            }
        }
    )
    version = latest + 1
    _commit(table, version, actions)
    return version


def version_at_timestamp(table: str, ts_ms: int) -> int:
    """Time travel BY TIMESTAMP (Delta's ``timestampAsOf``): the newest
    version whose commitInfo.timestamp is at or before ``ts_ms``. Commit
    timestamps are monotone in practice but the scan tolerates clock
    wobble by taking the max matching version. Raises if the requested
    time predates the table's first commit (same contract as Delta)."""
    best = None
    for v in _list_versions(table):
        info = next(
            (a["commitInfo"] for a in _read_log(table, v) if "commitInfo" in a), {}
        )
        if info.get("timestamp", 0) <= ts_ms:
            best = v
    if best is None:
        raise ValueError(
            f"timestamp {ts_ms} predates the first commit of {table}"
        )
    return best


def restore_table(spark: SparkSession, table: str, version: int) -> int:
    """Delta ``RESTORE TABLE ... TO VERSION AS OF``: make snapshot
    ``version`` current again with ONE metadata-only commit — adds back
    the files the old snapshot referenced that are no longer active, and
    removes the currently-active files the old snapshot lacked. No data
    is copied or rewritten; the restored files must still exist (i.e.
    not vacuumed past), which is checked up front so a half-restorable
    table fails loudly instead of committing a snapshot with missing
    files. Returns the new version."""
    old_active, old_meta, _ = _replay(table, version)
    cur_active, cur_meta, latest = _replay(table, None)
    _check_writer_protocol(table)
    if old_meta.get("schemaString") != cur_meta.get("schemaString"):
        # re-commit the old metaData alongside so the restored snapshot
        # reads with its own schema (schema evolution between the two)
        remeta = [{"metaData": old_meta}]
    else:
        remeta = []
    missing = [
        rel
        for rel in set(old_active) - set(cur_active)
        if not os.path.exists(os.path.join(table, rel))
    ]
    if missing:
        raise FileNotFoundError(
            f"cannot RESTORE {table} to v{version}: {len(missing)} required "
            f"file(s) were vacuumed, e.g. {missing[0]!r}"
        )
    now_ms = int(time.time() * 1000)
    actions: list[dict] = list(remeta)
    for rel in sorted(set(old_active) - set(cur_active)):
        actions.append({"add": {**old_active[rel], "dataChange": True}})
    for rel in sorted(set(cur_active) - set(old_active)):
        actions.append(
            {
                "remove": {
                    "path": rel,
                    "deletionTimestamp": now_ms,
                    "dataChange": True,
                }
            }
        )
    # a path active in BOTH snapshots can still differ by deletion vector
    # (a merge-on-read DELETE between the versions): restore the OLD add
    # action — including its DV or absence thereof — via remove+re-add
    for rel in sorted(set(old_active) & set(cur_active)):
        if old_active[rel].get("deletionVector") != cur_active[rel].get("deletionVector"):
            actions.append(
                {"remove": {"path": rel, "deletionTimestamp": now_ms, "dataChange": True}}
            )
            actions.append({"add": {**old_active[rel], "dataChange": True}})
    actions.append(
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "RESTORE",
                "operationParameters": {"version": version},
            }
        }
    )
    new_version = latest + 1
    _commit(table, new_version, actions)
    return new_version
