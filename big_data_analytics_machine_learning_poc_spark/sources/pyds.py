"""Spark 4 Python Data Source connector for delta_lite tables.

The lakehouse lane (``sources/delta_lite.py``) exposes snapshot reads via
``read_delta(spark, table, ...)`` — a function call. This module exposes the
SAME log-as-scan-index semantics through Spark's first-class connector
surface (the Python Data Source API, SPARK-44076), so standard reader code
works unchanged::

    spark.dataSource.register(DeltaLiteDataSource)
    df = (spark.read.format("delta_lite")
          .option("versionAsOf", "1")       # optional time travel
          .load("/path/to/table"))

Scan planning is driver-side and log-driven — the data directory is never
LISTed:

- ``partitions()`` emits one input partition per ACTIVE data file from the
  replayed log, so parallelism = live file count and tombstoned/orphan
  files are invisible;
- ``pushFilters`` prunes files before planning: EqualTo/In on partition
  columns match ``add.partitionValues`` exactly, and comparison filters on
  data columns drop files whose logged per-file min/max can't overlap
  (reusing ``_file_may_match`` — the SAME zone-map test read_delta uses).
  Every filter is returned as unsupported, so Spark still applies it
  row-level: skipping is an optimization, never a correctness dependency.
- ``read()`` streams Arrow record batches from one parquet file
  (vectorized, no per-row Python), attaching partition-column constants
  typed from the logged schema.

At 100 TB this is the connector shape that matters: the log bounds the
planning cost (no object-store LIST), pruning happens before any task is
scheduled, and each task reads exactly one file.

WRITES go through the same surface (round 5)::

    df.write.format("delta_lite").mode("append" | "overwrite").save(table)
    df.writeStream.format("delta_lite").option("checkpointLocation", c).start(table)

Batch: each task stages a uniquely named parquet file (Arrow writer, no
row-Python) that stays INVISIBLE until the driver's one atomic log commit
— task failure/speculation can only leave vacuum-grace orphans, never
corrupt a snapshot; appends rebase past concurrent winners. Streaming:
exactly-once via the protocol's ``txn {appId, version=batchId}`` action
committed atomically with the batch's files — replayed batches are
detected and their re-staged files discarded.
"""

from __future__ import annotations

import json
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.types import (
    BooleanType,
    DateType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .delta_lite import (
    _bloom_may_contain,
    _dv_indices,
    _file_may_match,
    _phys_map,
    _replay,
)


class DeltaLiteInputPartition(InputPartition):
    def __init__(self, file_path: str, partition_values: dict, deleted_rows=None):
        self.file_path = file_path
        self.partition_values = partition_values
        # physical row indices masked by the file's deletion vector —
        # decoded driver-side (inline DVs are cardinality-capped) and
        # shipped with the partition, applied as an Arrow filter in read()
        self.deleted_rows = deleted_rows or []


class DeltaLiteDataSource(DataSource):
    """``spark.read.format("delta_lite")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "delta_lite"

    def _table_and_version(self) -> tuple[str, int | None]:
        path = self.options.get("path")
        if not path:
            raise ValueError("delta_lite datasource requires a path: .load(<table dir>)")
        v = self.options.get("versionasof")
        ts = self.options.get("timestampasof")
        if v is not None and ts is not None:
            raise ValueError("pass versionAsOf OR timestampAsOf, not both")
        if ts is not None:
            from .delta_lite import version_at_timestamp

            return path, version_at_timestamp(path, int(ts))
        return path, (int(v) if v is not None else None)

    def schema(self) -> StructType:
        table, version = self._table_and_version()
        _active, meta, _ = _replay(table, version)
        return StructType.fromJson(json.loads(meta["schemaString"]))

    def reader(self, schema: StructType) -> "DeltaLiteReader":
        table, version = self._table_and_version()
        return DeltaLiteReader(table, version, schema)

    def writer(self, schema: StructType, overwrite: bool) -> "DeltaLiteBatchWriter":
        path = self.options.get("path")
        if not path:
            raise ValueError("delta_lite writes require a path: .save(<table dir>)")
        return DeltaLiteBatchWriter(path, schema, overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool) -> "DeltaLiteStreamWriter":
        path = self.options.get("path")
        if not path:
            raise ValueError("delta_lite stream writes require a path option")
        return DeltaLiteStreamWriter(
            path, schema, self.options.get("appid", "delta_lite_stream_sink")
        )


def _encode_pv(value) -> str | None:
    """Encode a pushed filter value the way the log encodes partition
    values (hive text form): booleans are 'true'/'false' (str(True) is
    'True' and would silently prune EVERY matching file), dates ISO,
    None stays None (matches a null partition)."""
    import datetime

    if value is None:
        return None
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, (datetime.date, datetime.datetime)):
        return value.isoformat()
    return str(value)


def _partition_value(dt, raw: str | None):
    """Typed partition value from the log's string encoding (hive-style:
    None encodes SQL NULL)."""
    if raw is None:
        return None
    if isinstance(dt, (LongType, IntegerType)):
        return int(raw)
    if isinstance(dt, (DoubleType, FloatType)):
        return float(raw)
    if isinstance(dt, BooleanType):
        return raw.lower() == "true"
    if isinstance(dt, DateType):
        import datetime

        return datetime.date.fromisoformat(raw)
    if isinstance(dt, StringType):
        return raw
    raise NotImplementedError(f"partition column type {dt} not supported by delta_lite datasource")



def _arrow_cast_to_schema(tbl, want_fields):
    """Cast a pyarrow table's columns to the logged schema's Arrow types.
    Spark writes INT96 timestamps by default; pyarrow reads those as
    timestamp[ns], which Spark's Arrow ingest rejects (UNSUPPORTED_
    ARROWTYPE) — and other width drifts (int96/ns, int32-vs-int64) are
    possible across writers. Casting to ``to_arrow_type(logged type)``
    normalizes every batch to exactly what Spark expects."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_type

    arrays = []
    for name, dt in want_fields:
        col = tbl.column(name)
        target = to_arrow_type(dt)
        if col.type != target:
            col = col.cast(target)
        arrays.append(col)
    return pa.table(dict(zip([n for n, _ in want_fields], arrays)))



def _read_file_batches(
    file_path,
    want,
    partition_cols,
    partition_values,
    full_schema,
    deleted_rows=(),
    phys=None,
):
    """Read ONE data file as Arrow batches shaped exactly like ``want``
    (column subset + order): partition columns become typed constants,
    columns missing from the file footer (pre-schema-evolution files)
    are null-filled, and every column is cast to the logged schema's
    Arrow type (see _arrow_cast_to_schema). ``deleted_rows`` (the file's
    deletion-vector indices) are dropped with one vectorized Arrow filter
    before anything is yielded. Shared by the batch reader and the stream
    reader so evolution/INT96 handling cannot diverge."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import to_arrow_type

    phys = phys or {}  # logical -> physical column name (column mapping)
    by_name = {f.name: f for f in full_schema.fields}
    pf = pq.ParquetFile(file_path)
    have = set(pf.schema_arrow.names)  # PHYSICAL names as stored
    data_cols = [c for c in want if c not in partition_cols]
    tbl = pq.read_table(
        file_path, columns=[phys.get(c, c) for c in data_cols if phys.get(c, c) in have]
    )
    n = tbl.num_rows
    if deleted_rows:
        import numpy as np

        keep = np.ones(n, dtype=bool)
        keep[np.asarray(deleted_rows, dtype=np.int64)] = False
        n = int(keep.sum())
        if tbl.num_columns:  # a partition-cols-only projection has none
            tbl = tbl.filter(pa.array(keep))
    cols = {}
    for c in want:
        if c in partition_cols:
            val = _partition_value(by_name[c].dataType, partition_values.get(c))
            cols[c] = pa.array([val] * n)
        elif phys.get(c, c) not in have:
            cols[c] = pa.nulls(n, type=to_arrow_type(by_name[c].dataType))
        else:
            cols[c] = tbl.column(phys.get(c, c))
    out = _arrow_cast_to_schema(pa.table(cols), [(c, by_name[c].dataType) for c in want])
    yield from out.to_batches()


class DeltaLiteReader(DataSourceReader):
    def __init__(self, table: str, version: int | None, schema: StructType):
        self.table = table
        self.schema = schema  # Spark passes the PRUNED (required) schema
        active, meta, _ = _replay(table, version)
        self.adds = sorted(active.items())
        self.full_schema = StructType.fromJson(json.loads(meta["schemaString"]))
        self.partition_cols = meta.get("partitionColumns", [])
        self.phys = _phys_map(meta)  # logical -> physical (column mapping)
        self._eq: dict[str, set] = {}  # partition col -> allowed raw strings
        self._ranges: dict[str, list] = {}  # PHYSICAL data col -> [lo, hi]
        self._bloom_eqs: dict[str, list] = {}  # PHYSICAL data col -> eq literals

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Record prunable predicates, then hand EVERY filter back to Spark
        (yield = unsupported): file skipping must stay an optimization."""
        for f in filters:
            attr = getattr(f, "attribute", None)
            col = attr[0] if attr and len(attr) == 1 else None
            if col is None:
                yield f
                continue
            if col in self.partition_cols:
                if isinstance(f, EqualTo):
                    self._eq.setdefault(col, set()).add(_encode_pv(f.value))
                elif isinstance(f, In):
                    self._eq.setdefault(col, set()).update(_encode_pv(v) for v in f.value)
            else:
                # zone-map range narrowing on data columns; stats min/max
                # are JSON scalars, so only narrow for directly comparable
                # types (numbers / strings). Keys are the PHYSICAL names —
                # what footer stats and Bloom entries are logged under.
                pcol = self.phys.get(col, col)
                if isinstance(f, (EqualTo, GreaterThan, GreaterThanOrEqual)) and isinstance(
                    f.value, (int, float, str)
                ):
                    r = self._ranges.setdefault(pcol, [None, None])
                    r[0] = f.value if r[0] is None else max(r[0], f.value)
                if isinstance(f, (EqualTo, LessThan, LessThanOrEqual)) and isinstance(
                    f.value, (int, float, str)
                ):
                    r = self._ranges.setdefault(pcol, [None, None])
                    r[1] = f.value if r[1] is None else min(r[1], f.value)
                # Bloom definite-absence on equality literals — serves the
                # string/id columns zone maps can't (floats excluded: bloom
                # canonicalization is str/int only, see delta_lite)
                if isinstance(f, EqualTo) and isinstance(f.value, (int, str)):
                    self._bloom_eqs.setdefault(pcol, []).append(f.value)
            yield f

    def partitions(self) -> list[DeltaLiteInputPartition]:
        import os

        out = []
        for rel, add in self.adds:
            pv = add.get("partitionValues", {})
            if any(pv.get(c) not in allowed for c, allowed in self._eq.items()):
                continue
            if any(
                not _file_may_match(add, c, lo, hi) for c, (lo, hi) in self._ranges.items()
            ):
                continue
            if any(
                not _bloom_may_contain(add, c, v)
                for c, vs in self._bloom_eqs.items()
                for v in vs
            ):
                continue
            out.append(
                DeltaLiteInputPartition(
                    os.path.join(self.table, rel), dict(pv), _dv_indices(add)
                )
            )
        return out

    def read(self, partition: DeltaLiteInputPartition | None):
        if partition is None:
            # Spark reads one None partition when partitions() is empty:
            # no file survived pruning, or the snapshot has no files
            return
        yield from _read_file_batches(
            partition.file_path,
            self.schema.fieldNames(),  # the PRUNED column set
            self.partition_cols,
            partition.partition_values,
            self.full_schema,
            partition.deleted_rows,
            self.phys,
        )


# --------------------------------------------------------------- streaming
from pyspark.sql.datasource import DataSourceStreamReader  # noqa: E402


class DeltaLiteStreamReader(DataSourceStreamReader):
    """Structured Streaming FROM a delta_lite table: offsets are log
    versions, each micro-batch is the set of files ADDED by the commits in
    (start, end] — the same commit-granular semantics as Delta's streaming
    source. Append-only contract: a data-changing remove action in the
    range (overwrite/delete/merge) raises instead of silently replaying
    rewritten rows; compaction/OPTIMIZE commits (dataChange=false) are
    transparent — their adds AND removes are skipped, so a rewrite never
    re-emits data.

    Scale shape: this is the PARTITIONED stream reader (not the
    driver-side Simple variant): ``partitions`` plans one input partition
    per added file from the log alone, executors read the parquet as Arrow
    batches, and offset progression is O(new commits) — tailing a 100 TB
    table costs only its ingest rate."""

    def __init__(
        self,
        table: str,
        starting_version: int = 0,
        max_commits_per_trigger: int | None = None,
    ):
        self.table = table
        self.starting_version = starting_version
        self.max_commits = max_commits_per_trigger
        self._last_committed = starting_version - 1  # refined by commit()
        _active, meta, self._latest = _replay(table, None)
        self.partition_cols = meta.get("partitionColumns", [])
        self.full_schema = StructType.fromJson(json.loads(meta["schemaString"]))
        self.phys = _phys_map(meta)

    def initialOffset(self) -> dict:
        # start BEFORE startingVersion so that commit is the first batch
        # (default 0 = replay the whole log; a table whose history holds
        # overwrites/deletes BEFORE the tail begins needs
        # option("startingVersion", N) to skip them — the same contract as
        # Delta's streaming startingVersion)
        return {"version": self.starting_version - 1}

    def latestOffset(self) -> dict:
        from .delta_lite import _list_versions

        versions = _list_versions(self.table)
        latest = versions[-1] if versions else -1
        if self.max_commits is not None:
            # BACKPRESSURE (Delta's maxFilesPerTrigger analog at commit
            # granularity): after a burst — bulk backfill, compaction storm
            # — advance at most N commits per micro-batch instead of
            # planning one giant catch-up batch that blows executor memory
            # and checkpoint latency. commit() tells us where the last
            # batch ended; progress is monotone and nothing is skipped.
            latest = min(latest, self._last_committed + self.max_commits)
        return {"version": latest}

    def partitions(self, start: dict, end: dict):
        import os

        from .delta_lite import _read_log

        # floor the pacing state with the TRUE batch start (from the query
        # checkpoint): a restarted planning worker would otherwise reset
        # _last_committed and make latestOffset regress below the
        # checkpointed offset
        self._last_committed = max(self._last_committed, start["version"])
        out = []
        for v in range(start["version"] + 1, end["version"] + 1):
            for action in _read_log(self.table, v):
                if "remove" in action and action["remove"].get("dataChange", True):
                    raise RuntimeError(
                        f"delta_lite stream source is append-only: commit {v} "
                        f"removed data file {action['remove']['path']!r} "
                        f"(overwrite/delete/merge upstream of a streaming "
                        f"reader requires a CDF-aware consumer — see "
                        f"snapshot_diff)"
                    )
                if "add" in action and action["add"].get("dataChange", True):
                    out.append(
                        DeltaLiteInputPartition(
                            os.path.join(self.table, action["add"]["path"]),
                            dict(action["add"].get("partitionValues", {})),
                        )
                    )
        return out

    def read(self, partition: DeltaLiteInputPartition):
        yield from _read_file_batches(
            partition.file_path,
            self.full_schema.fieldNames(),
            self.partition_cols,
            partition.partition_values,
            self.full_schema,
            (),
            self.phys,
        )

    def commit(self, end: dict) -> None:
        # offsets are durable in the query checkpoint; remembered here only
        # to pace latestOffset when maxCommitsPerTrigger is set
        self._last_committed = end["version"]


class DeltaLiteStreamDataSource(DataSource):
    """``spark.readStream.format("delta_lite_stream").load(table)``.
    Options: ``startingVersion`` / ``startingTimestamp`` (exclusive) pick
    where the tail begins; ``maxCommitsPerTrigger`` bounds catch-up batch
    size (backpressure)."""

    @classmethod
    def name(cls) -> str:
        return "delta_lite_stream"

    def schema(self) -> StructType:
        path = self.options.get("path")
        if not path:
            raise ValueError("delta_lite_stream requires a path: .load(<table dir>)")
        _active, meta, _ = _replay(path, None)
        return StructType.fromJson(json.loads(meta["schemaString"]))

    def streamReader(self, schema) -> DeltaLiteStreamReader:
        sv = self.options.get("startingversion")
        ts = self.options.get("startingtimestamp")
        if sv is not None and ts is not None:
            raise ValueError("pass startingVersion OR startingTimestamp, not both")
        if ts is not None:
            from .delta_lite import version_at_timestamp

            start = version_at_timestamp(self.options["path"], int(ts))
        else:
            start = int(sv) if sv is not None else 0
        mc = self.options.get("maxcommitspertrigger")
        return DeltaLiteStreamReader(
            self.options["path"],
            starting_version=start,
            max_commits_per_trigger=int(mc) if mc is not None else None,
        )


# ----------------------------------------------------------------- writers
import os  # noqa: E402
import time  # noqa: E402
import uuid as _uuid  # noqa: E402
from dataclasses import dataclass  # noqa: E402

from pyspark.sql.datasource import (  # noqa: E402
    DataSourceArrowWriter,
    DataSourceStreamArrowWriter,
    WriterCommitMessage,
)


@dataclass
class DeltaLiteCommitMessage(WriterCommitMessage):
    """(relative path, size, footer stats) of ONE task's staged file —
    empty rel means the task saw no rows and staged nothing."""

    rel: str
    size: int
    stats: str


class _DeltaLiteWriterCore:
    """Shared task/driver logic for the batch and streaming writers.

    Write protocol = delta_lite's native one: each task stages a uniquely
    named parquet file directly in the table directory (invisible to every
    reader until a log entry references it — the log IS the index, so
    staged files are simply orphans until commit; vacuum's grace window
    already tolerates them), ships (path, size, stats) back as its commit
    message, and the DRIVER publishes one atomic log commit. Task failure/
    speculation is safe for the same reason: losers' files are never
    referenced and abort() unlinks what it can."""

    def __init__(self, table: str, schema: StructType, overwrite: bool):
        self.table = table
        self.overwrite = overwrite
        self.schema = schema
        try:
            _active, meta, _ = _replay(table, None)
        except FileNotFoundError:
            meta = None
        self.exists = meta is not None
        if self.exists:
            from .delta_lite import _check_writer_protocol

            _check_writer_protocol(table)
            if meta.get("partitionColumns"):
                raise NotImplementedError(
                    "delta_lite connector writes to partitioned tables are "
                    "not supported; use sources.delta_lite.write_delta"
                )
            from .delta_lite import _constraints

            cons = _constraints(meta)
            if cons:
                # refuse LOUDLY rather than silently bypassing enforcement
                # (the connector's commit hook has no SparkSession to
                # validate the batch with; write_delta enforces)
                raise NotImplementedError(
                    f"table has CHECK constraints {sorted(cons)}; the "
                    "connector writer does not enforce them — use "
                    "sources.delta_lite.write_delta"
                )
            table_schema = StructType.fromJson(json.loads(meta["schemaString"]))
            if [(f.name, f.dataType) for f in schema.fields] != [
                (f.name, f.dataType) for f in table_schema.fields
            ]:
                raise ValueError(
                    f"write schema {[f.name for f in schema.fields]} does not "
                    f"match table schema {[f.name for f in table_schema.fields]}"
                )
            self.phys = _phys_map(meta)
            self.base_schema_string = meta["schemaString"]
        else:
            if overwrite:
                raise ValueError(
                    "overwrite of a non-existent table: create it with "
                    "mode='append' (or write_delta) first"
                )
            self.phys = {f.name: f.name for f in schema.fields}
            self.base_schema_string = None

    # ---- task side (pickled to executors)
    def write_batches(self, iterator) -> DeltaLiteCommitMessage:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from .tablefiles import file_stats, put_if_absent

        batches = [b for b in iterator if b.num_rows]
        if not batches:
            return DeltaLiteCommitMessage(rel="", size=0, stats="")
        tbl = pa.Table.from_batches(batches)
        # logical -> stable physical names (column mapping); identity otherwise
        tbl = tbl.rename_columns([self.phys.get(n, n) for n in tbl.column_names])
        rel = f"part-{_uuid.uuid4().hex}.parquet"
        dest = os.path.join(self.table, rel)
        put_if_absent(dest, lambda f: pq.write_table(tbl, f))
        stats = file_stats(pq.ParquetFile(dest).metadata)
        return DeltaLiteCommitMessage(
            rel=rel, size=os.path.getsize(dest), stats=json.dumps(stats)
        )

    # ---- driver side
    def _add_actions(self, messages, now_ms: int) -> list[dict]:
        return [
            {
                "add": {
                    "path": m.rel,
                    "partitionValues": {},
                    "size": m.size,
                    "modificationTime": now_ms,
                    "dataChange": True,
                    "stats": m.stats,
                }
            }
            for m in messages
            if m is not None and m.rel
        ]

    def publish(self, messages, extra_actions=()) -> None:
        from .delta_lite import (
            _PROTOCOL,
            _commit,
            _commit_append_rebase,
            _list_versions,
        )

        now_ms = int(time.time() * 1000)
        adds = self._add_actions(messages, now_ms)
        if not self.exists:
            schema_clean = StructType(
                [StructField(f.name, f.dataType, f.nullable) for f in self.schema.fields]
            )
            actions = [
                dict(_PROTOCOL),
                {
                    "metaData": {
                        "id": _uuid.uuid4().hex,
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": schema_clean.json(),
                        "partitionColumns": [],
                        "configuration": {},
                        "createdTime": now_ms,
                    }
                },
                *adds,
                *extra_actions,
                {
                    "commitInfo": {
                        "timestamp": now_ms,
                        "operation": "WRITE",
                        "operationParameters": {"mode": "ErrorIfExists", "via": "datasource"},
                    }
                },
            ]
            _commit(self.table, 0, actions)
            return
        if self.overwrite:
            # removes computed at COMMIT time against the then-current
            # snapshot (not planning time), published with the adds in one
            # atomic commit: readers see old XOR new
            active, _meta, latest = _replay(self.table, None)
            actions = [
                {"remove": {"path": rel, "deletionTimestamp": now_ms, "dataChange": True}}
                for rel in active
            ]
            actions += adds
            actions += list(extra_actions)
            actions.append(
                {
                    "commitInfo": {
                        "timestamp": now_ms,
                        "operation": "WRITE",
                        "operationParameters": {"mode": "Overwrite", "via": "datasource"},
                    }
                }
            )
            _commit(self.table, latest + 1, actions)
            return
        actions = [
            *adds,
            *extra_actions,
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "WRITE",
                    "operationParameters": {"mode": "Append", "via": "datasource"},
                }
            },
        ]
        version = _list_versions(self.table)[-1] + 1
        # blind appends REBASE past concurrent winners (delta_lite's
        # protocol conflict rule) — N connector writers serialize cleanly
        _commit_append_rebase(
            self.table, version, actions, "append", [],
            base_schema_string=self.base_schema_string,
        )

    def discard(self, messages) -> None:
        from .tablefiles import unpublish

        unpublish(
            self.table, [(m.rel, m.size, m.stats) for m in messages if m is not None and m.rel]
        )


class DeltaLiteBatchWriter(DataSourceArrowWriter):
    """``df.write.format("delta_lite").mode("append"|"overwrite").save(t)``."""

    def __init__(self, table: str, schema: StructType, overwrite: bool):
        self.core = _DeltaLiteWriterCore(table, schema, overwrite)

    def write(self, iterator):
        return self.core.write_batches(iterator)

    def commit(self, messages):
        self.core.publish(messages)

    def abort(self, messages):
        self.core.discard(messages)


class DeltaLiteStreamWriter(DataSourceStreamArrowWriter):
    """``df.writeStream.format("delta_lite")`` — EXACTLY-ONCE via the log's
    transaction identifiers: every micro-batch commit carries a
    ``txn {appId, version=batchId}`` action atomically with its files, so
    a foreachBatch-style replay after a crash detects the already-applied
    batch (``last_txn_version``) and discards its re-staged files instead
    of double-appending. appId defaults to a checkpoint-stable constant;
    pass ``.option("appId", ...)`` when several independent streams append
    to one table."""

    def __init__(self, table: str, schema: StructType, app_id: str):
        self.core = _DeltaLiteWriterCore(table, schema, overwrite=False)
        self.app_id = app_id

    def write(self, iterator):
        return self.core.write_batches(iterator)

    def commit(self, messages, batchId: int):
        from .delta_lite import last_txn_version

        if self.core.exists:
            last = last_txn_version(self.core.table, self.app_id)
            if last is not None and last >= batchId:
                self.core.discard(messages)  # replayed batch: already in
                return
        self.core.publish(
            messages,
            extra_actions=[
                {"txn": {"appId": self.app_id, "version": int(batchId)}}
            ],
        )
        self.core.exists = True

    def abort(self, messages, batchId: int):
        self.core.discard(messages)


# ------------------------------------------------------- streaming CDF source
class DeltaLiteCDFPartition(InputPartition):
    def __init__(self, file_path, version, change_type, deleted_rows, is_cdc):
        self.file_path = file_path
        self.version = version
        self.change_type = change_type  # constant for data files; None for cdc
        self.deleted_rows = deleted_rows or []
        self.is_cdc = is_cdc


class DeltaLiteCDFStreamReader(DataSourceStreamReader):
    """``spark.readStream.format("delta_lite_cdf")`` — stream the CHANGE
    FEED instead of raw appends: each micro-batch emits the typed
    row-level changes of the commits in (start, end], so DELETE/UPDATE/
    MERGE upstream no longer break the consumer (the append-only
    ``delta_lite_stream`` source raises on them by design). Planning is
    log-only and session-free: cdc actions map to their change files,
    append adds to 'insert' partitions, and an overwrite's removed files
    re-emerge as 'delete' partitions read under their as-of deletion
    vectors (replayed driver-side). RESTORE or pre-CDF DML commits raise
    — their remove sets carry no row-level meaning without cross-file
    diffing (snapshot_diff is the batch answer there). dataChange=false
    commits (OPTIMIZE/ZORDER/PURGE) are transparent."""

    def __init__(self, table: str, starting_version: int = 0):
        self.table = table
        self.starting_version = starting_version
        _active, meta, self._latest = _replay(table, None)
        if meta.get("partitionColumns"):
            raise NotImplementedError(
                "delta_lite_cdf streaming from partitioned tables is not "
                "supported (use the unpartitioned CDF layout)"
            )
        self.schema = StructType.fromJson(json.loads(meta["schemaString"]))
        self.phys = _phys_map(meta)

    def initialOffset(self) -> dict:
        return {"version": self.starting_version - 1}

    def latestOffset(self) -> dict:
        from .delta_lite import _list_versions

        versions = _list_versions(self.table)
        return {"version": versions[-1] if versions else -1}

    def partitions(self, start: dict, end: dict):
        import os

        from .delta_lite import _dv_indices, _read_log

        out = []
        for v in range(start["version"] + 1, end["version"] + 1):
            actions = _read_log(self.table, v)
            cdcs = [a["cdc"] for a in actions if "cdc" in a]
            adds = [
                a["add"]
                for a in actions
                if "add" in a and a["add"].get("dataChange", True)
            ]
            removes = [
                a["remove"]
                for a in actions
                if "remove" in a and a["remove"].get("dataChange", True)
            ]
            if cdcs:
                for c in cdcs:
                    out.append(
                        DeltaLiteCDFPartition(
                            os.path.join(self.table, c["path"]), v, None, [], True
                        )
                    )
                continue
            info = next((a["commitInfo"] for a in actions if "commitInfo" in a), {})
            if removes:
                op = info.get("operation")
                params = info.get("operationParameters", {})
                if op == "WRITE" and str(params.get("mode", "")).lower() == "overwrite":
                    prior, _pm, _ = _replay(self.table, v - 1)
                    for r in removes:
                        add = prior.get(r["path"])
                        if add is None:
                            continue
                        out.append(
                            DeltaLiteCDFPartition(
                                os.path.join(self.table, add["path"]),
                                v,
                                "delete",
                                _dv_indices(add),
                                False,
                            )
                        )
                else:
                    raise RuntimeError(
                        f"delta_lite_cdf: commit {v} ({op}) removed data "
                        f"files without a change feed (pre-CDF DML or "
                        f"RESTORE) — start after it via startingVersion, or "
                        f"use snapshot_diff"
                    )
            for a in adds:
                out.append(
                    DeltaLiteCDFPartition(
                        os.path.join(self.table, a["path"]), v, "insert", [], False
                    )
                )
        return out

    def read(self, partition: DeltaLiteCDFPartition):
        import pyarrow as pa

        base_cols = [f.name for f in self.schema.fields]
        if partition.is_cdc:
            want = base_cols + ["_change_type"]
            full = StructType(
                list(self.schema.fields)
                + [StructField("_change_type", StringType(), True)]
            )
        else:
            want = base_cols
            full = self.schema
        for b in _read_file_batches(
            partition.file_path, want, [], {}, full, partition.deleted_rows, self.phys
        ):
            t = pa.Table.from_batches([b])
            n = t.num_rows
            if not partition.is_cdc:
                t = t.append_column(
                    "_change_type", pa.array([partition.change_type] * n, pa.string())
                )
            t = t.append_column(
                "_commit_version", pa.array([partition.version] * n, pa.int64())
            )
            yield from t.to_batches()

    def commit(self, end: dict) -> None:
        pass  # offsets live in the query checkpoint


class DeltaLiteCDFStreamDataSource(DataSource):
    """``spark.readStream.format("delta_lite_cdf").load(table)``."""

    @classmethod
    def name(cls) -> str:
        return "delta_lite_cdf"

    def schema(self) -> StructType:
        path = self.options.get("path")
        if not path:
            raise ValueError("delta_lite_cdf requires a path: .load(<table dir>)")
        _active, meta, _ = _replay(path, None)
        base = StructType.fromJson(json.loads(meta["schemaString"]))
        from pyspark.sql.types import LongType

        return StructType(
            [StructField(f.name, f.dataType, True) for f in base.fields]
            + [
                StructField("_change_type", StringType(), True),
                StructField("_commit_version", LongType(), True),
            ]
        )

    def streamReader(self, schema) -> DeltaLiteCDFStreamReader:
        sv = int(self.options.get("startingversion", 0))
        return DeltaLiteCDFStreamReader(self.options["path"], starting_version=sv)
