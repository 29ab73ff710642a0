"""dml — one planner for row-level DELETE, UPDATE and MERGE on both
lakehouse formats.

The Delta protocol and the Iceberg v2 spec describe row-level DML the same
way: one scan of the pinned snapshot finds the rows a statement touches,
then a format-specific commit removes or masks their old images and adds
the new ones. This module is that first half, written once.

Shared (here):

- the *lineage scan* contract: the format hands in its live rows plus each
  row's address, ``FILE`` (the data file's absolute local path) and
  ``POS`` (the row's physical index in that file). Both formats read it
  through ``tablefiles.scan``, so ``FILE`` has one form: the same string
  the format handed the scan for that file, which its commit step looks
  up (a Delta add action, an Iceberg position-delete record);
- the plan of each statement: which rows go (``Plan.hits``) and which rows
  come in (``Plan.new_rows``), both tagged with their change-feed type in
  ``CHANGE``;
- the MERGE clause language both formats accept::

      when_matched = [(condition | None, "delete" | {"update": {col: expr}}), ...]
      when_not_matched_insert = True | False | "<SQL over bare source columns>"

  with conditions and expressions over ``t.<col>`` (target) and
  ``s.<col>`` (source), the FIRST matching clause winning per row (ANSI
  MERGE clause order); matched rows that hit no clause stay in place;
- validation, with the messages both formats raise;
- checkpoint ownership: each statement is a ``functions.ckpt`` scope, so
  every frame its plan pins is released when its ``with`` block exits, by
  success or by exception.

Per format (``delta_lite`` / ``iceberg_lite``):

- the file list the lineage scan reads (``_read_adds(..., lineage=True)``
  / ``_scan``), with the format's own deletes applied;
- the MERGE key rule, passed in as ``null_safe``: Delta compares keys with
  plain equality (ANSI ``ON t.k = s.k``: a NULL key never matches, so a
  NULL-key source row inserts), Iceberg null-safely (identity keys: a NULL
  key matches a NULL key). The insert anti-join is null-safe in both, so
  it excludes exactly the source rows that matched;
- the commit step: Delta turns each touched file's hits into a deletion
  vector or a copy-on-write rewrite and logs add/remove/cdc actions;
  Iceberg stages hits as position-delete files and new rows as data files
  and writes their manifests. Each keeps its own conflict rule.

Cost shape: a plan runs one eager job per checkpoint — the hits of a
DELETE or UPDATE, or the source and the matched pairs of a MERGE. Hits and
new rows are projections, filters and a broadcast anti-join over those
checkpoints, so a commit step may read them several times (counts, index
lists, staging, constraints, change feed) without re-reading the table.
"""

from __future__ import annotations

import functools
import operator
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions.ckpt import pin, scope

# row address and change-feed columns a plan's frames carry
FILE, POS, CHANGE = "_dml_file", "_dml_pos", "_dml_change"
_CLAUSE = "_dml_clause"


@dataclass(frozen=True)
class Plan:
    """A planned statement over one pinned snapshot.

    ``hits``: ``FILE``, ``POS``, the table columns (pre-image) and
    ``CHANGE`` ('delete' | 'update_preimage') of every live row whose old
    image goes. ``new_rows``: the table columns and ``CHANGE`` ('insert' |
    'update_postimage') of every row the statement adds; None for DELETE.
    Both are valid only inside the ``with`` block that made the plan."""

    kind: str  # "delete" | "update" | "merge"
    hits: DataFrame
    new_rows: DataFrame | None


@contextmanager
def delete(scan: DataFrame, predicate: str) -> Iterator[Plan]:
    """``DELETE WHERE predicate``: rows where it is TRUE go; NULL keeps the
    row (SQL three-valued logic)."""
    with scope():
        hits = pin(scan.filter(F.expr(predicate)).withColumn(CHANGE, F.lit("delete")))
        yield Plan("delete", hits, None)


@contextmanager
def update(
    scan: DataFrame, schema: StructType, assignments: dict[str, str], predicate: str
) -> Iterator[Plan]:
    """``UPDATE SET col = expr WHERE predicate``. All assignments read the
    pre-update row (simultaneous SET: ``{"a": "b", "b": "a"}`` swaps) and
    are cast to the column's declared type; NULL-predicate rows stay."""
    unknown = sorted(set(assignments) - {f.name for f in schema.fields})
    if unknown:
        raise KeyError(f"UPDATE targets not in table schema: {unknown}")
    with scope():
        hits = pin(
            scan.filter(F.expr(predicate)).withColumn(CHANGE, F.lit("update_preimage"))
        )
        new_rows = hits.select(
            *[
                F.expr(assignments[f.name]).cast(f.dataType).alias(f.name)
                if f.name in assignments
                else F.col(f.name)
                for f in schema.fields
            ],
            F.lit("update_postimage").alias(CHANGE),
        )
        yield Plan("update", hits, new_rows)


def _validate_when_matched(when_matched: list, data_cols: list[str]) -> None:
    for _cond, action in when_matched:
        if action == "delete":
            continue
        if not (isinstance(action, dict) and set(action) == {"update"}):
            raise ValueError(
                f"when_matched action must be 'delete' or "
                f"{{'update': {{col: expr}}}}, got {action!r}"
            )
        unknown = sorted(set(action["update"]) - set(data_cols))
        if unknown:
            raise KeyError(f"MERGE update targets not in table schema: {unknown}")


def _clause_index(when_matched: list) -> Column:
    """Index of the first clause whose condition holds; NULL when none does
    (the row stays), which is every row of an insert-only MERGE."""
    if not when_matched:
        return F.lit(None).cast("int")
    clause = None
    for i, (cond, _action) in enumerate(when_matched):
        c = F.expr(cond) if cond is not None else F.lit(True)
        clause = F.when(c, F.lit(i)) if clause is None else clause.when(c, F.lit(i))
    return clause.otherwise(F.lit(None)).cast("int")


@contextmanager
def merge(
    scan: DataFrame,
    source: DataFrame,
    schema: StructType,
    key_cols: list[str],
    when_matched: list | None,
    when_not_matched_insert: bool | str,
    null_safe: bool,
) -> Iterator[Plan]:
    """``MERGE source ON keys``. ``when_matched=None`` means ``WHEN MATCHED
    UPDATE SET *``; see the module docstring for the clause language and
    for ``null_safe``. ``source`` must be unique per key: duplicate source
    keys are not detected (that would cost an aggregation per merge).

    Join shape: matched pairs come from an inner join with the source on
    the build side (broadcast-hash when it is small, so the target is never
    shuffled full-width; a source-preserving outer join would read the
    target once but cannot broadcast its preserved side). Every clause's
    new image is computed in that same projection, before its checkpoint.
    Inserts anti-join the source against the matched pairs' own keys:
    O(matches), broadcast, and consistent with the match by construction."""
    if [(f.name, f.dataType) for f in source.schema.fields] != [
        (f.name, f.dataType) for f in schema.fields
    ]:
        # nullability-insensitive: a source built from aggregations flips
        # nullability with identical storage semantics
        raise ValueError("merge source schema must match the table schema")
    data_cols = [f.name for f in schema.fields]
    if when_matched is None:
        when_matched = [(None, {"update": {c: f"s.{c}" for c in data_cols}})]
    _validate_when_matched(when_matched, data_cols)
    by_name = {f.name: f.dataType for f in schema.fields}
    keys = [f"_dml_key_{i}" for i in range(len(key_cols))]
    with scope():
        # the source is read twice (match, inserts): pinned so both reads
        # see the same rows
        src = pin(source.select(*data_cols)).alias("s")
        on = functools.reduce(
            operator.and_,
            [
                F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}"))
                if null_safe
                else F.col(f"t.{k}") == F.col(f"s.{k}")
                for k in key_cols
            ],
        )
        sel = [
            F.col(f"t.{FILE}").alias(FILE),
            F.col(f"t.{POS}").alias(POS),
            _clause_index(when_matched).alias(_CLAUSE),
            *[F.col(f"s.{k}").alias(m) for k, m in zip(key_cols, keys)],
            *[F.col(f"t.{c}").alias(c) for c in data_cols],
        ]
        images: list[tuple[int, list[Column]]] = []
        deletes: list[int] = []
        for i, (_cond, action) in enumerate(when_matched):
            if action == "delete":
                deletes.append(i)
                continue
            sel += [
                (
                    F.expr(action["update"][c]).cast(by_name[c])
                    if c in action["update"]
                    else F.col(f"t.{c}")
                ).alias(f"_dml_img{i}_{c}")
                for c in data_cols
            ]
            images.append((i, [F.col(f"_dml_img{i}_{c}").alias(c) for c in data_cols]))
        pairs = pin(scan.alias("t").join(src, on, "inner").select(*sel))
        hits = pairs.filter(F.col(_CLAUSE).isNotNull()).select(
            FILE,
            POS,
            *data_cols,
            F.when(F.col(_CLAUSE).isin(deletes), F.lit("delete"))
            .otherwise(F.lit("update_preimage"))
            .alias(CHANGE),
        )
        matched_keys = F.broadcast(pairs.select(*keys).distinct())
        anti_on = functools.reduce(
            operator.and_,
            [F.col(k).eqNullSafe(F.col(m)) for k, m in zip(key_cols, keys)],
        )
        inserts = src.join(matched_keys, anti_on, "left_anti").select(*data_cols)
        if when_not_matched_insert is not True:
            inserts = (
                inserts.filter(F.expr(when_not_matched_insert))
                if when_not_matched_insert
                else inserts.limit(0)
            )
        new_rows = functools.reduce(
            lambda a, b: a.unionByName(b),
            [
                pairs.filter(F.col(_CLAUSE) == i).select(
                    *cols, F.lit("update_postimage").alias(CHANGE)
                )
                for i, cols in images
            ],
            inserts.withColumn(CHANGE, F.lit("insert")),
        )
        yield Plan("merge", hits, new_rows)
