"""The one owner of a lane's storage.

``DataFrame.localCheckpoint`` persists the frame's partitions in executor
storage and never releases them: the blocks live until the session dies.
A long shared-JVM session (a 268-lane sweep, a notebook, a test harness)
that checkpoints without releasing accumulates hundreds of dead blocks;
r12 measured untouched lanes drifting 2-4x late in a sweep from exactly
this storage/GC pressure (VERDICT r12 what's-wrong #5). So every
checkpoint in the package is made, released and seen here, through three
parts:

- ``scope()``: a context manager that owns every RDD that becomes
  persistent while it is open. Closing it, by success or by exception,
  unpersists (blocking) each of them, so ``getPersistentRDDs()`` is left
  as the scope found it. That covers the pins made inside it and what
  MLlib persists on its own, such as the ALS factors. Scopes nest: an
  inner scope releases what was made inside it, the outer one the rest.
  ``fanout`` threads run in a copy of their caller's context, so a pin
  made in a branch belongs to the caller's scope. Ownership is by time,
  not by thread: two threads must not open unrelated scopes at once, or
  the first to close releases the other's storage.
- ``pin(df, eager=True)``: ``df.localCheckpoint(eager)``, the one call
  site (``tests/test_ckpt.py`` fails on any other ``localCheckpoint``,
  ``cache`` or ``persist`` in the package). The pre-barrier ``df`` is
  recorded with every open scope, which is how a plan gate sees the
  subtrees behind the barriers (``plans.barrier.capture_subtrees``).
- ``release(df)``: an early release of one pinned frame, only for a
  superseded round inside a loop (connected components' previous labels,
  and its edges once it converges; pagerank's previous ranks). Outside a
  scope these keep a loop from holding one frame per round for the
  session. A locally-checkpointed RDD cannot recompute, so release a
  frame only after every consumer of it has finished or been
  materialized into its own pin.

Outside any scope a pin behaves as a bare ``localCheckpoint``: it is held
until the session dies. The lane runner (``tools/lanerun.py``) runs every
lane inside a scope; ``__spark_entry__.queries()`` calls lanes outside
one: that wrapper cannot see its caller's collect, and a re-collect after
a release would fail.

``checkpointed_split(df, weights, seed, cols)`` pins the halves of a
seeded ``randomSplit``, each narrowed to the columns its consumers read.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark import SparkContext
from pyspark.sql import DataFrame


class _Scope:
    """An open ``scope()``: the RDDs persisted when it opened, the
    pre-barrier frame of every pin made inside it (its nested scopes'
    included), in pin order, and the scope it is nested in."""

    def __init__(self, parent: _Scope | None):
        self.parent = parent
        self.before = _ids(_persisted())
        self.subtrees: list[DataFrame] = []


_current: ContextVar[_Scope | None] = ContextVar("ckpt_scope", default=None)


def _persisted():
    """A snapshot of the session's persisted RDDs (Scala ``Map[Int, RDD]``)."""
    return SparkContext._active_spark_context._jsc.sc().getPersistentRDDs()


def _ids(held) -> set[int]:
    # one gateway call for all keys: a session can hold hundreds of RDDs
    return {int(k) for k in held.keys().mkString(",").split(",") if k}


@contextmanager
def scope() -> Iterator[_Scope]:
    """Own every RDD that becomes persistent while the block runs; release
    them all, blocking, when it exits."""
    s = _Scope(_current.get())
    token = _current.set(s)
    try:
        yield s
    finally:
        _current.reset(token)
        held = _persisted()
        for rid in _ids(held) - s.before:
            held.apply(rid).unpersist(True)


def pin(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)``, recorded with every open scope."""
    out = df.localCheckpoint(eager)
    s = _current.get()
    while s is not None:
        s.subtrees.append(df)
        s = s.parent
    return out


def release(df: DataFrame) -> bool:
    """Unpersist, blocking, the blocks behind a frame ``pin`` returned.
    Returns True when blocks were released; False (no-op) when the frame
    is not a direct checkpoint result."""
    plan = df._jdf.queryExecution().analyzed()
    # unwrap .alias(...) wrappers — same data, same blocks
    while plan.getClass().getSimpleName() == "SubqueryAlias":
        plan = plan.child()
    if plan.getClass().getSimpleName() != "LogicalRDD":
        return False
    plan.rdd().unpersist(True)
    return True


def checkpointed_split(
    df: DataFrame, weights: list[float], seed: int, cols: Sequence[str]
) -> list[DataFrame]:
    """``df.randomSplit(weights, seed)``, each half projected to ``cols``
    and pinned.

    The split runs on the unchanged ``df``, so each half holds the same
    rows, in the same partitions and order, as the plain split. What
    changes is the lineage later jobs ship: ``randomSplit`` sorts every
    partition by every orderable column of ``df`` before it samples, so an
    iterative fit over a plain half deserializes that whole sort in each
    task of each iteration. A checkpointed half ships a scan of its own
    blocks. Narrow after the split when ``df`` carries columns the
    consumers never read; the enclosing scope releases both halves."""
    return [pin(half.select(*cols)) for half in df.randomSplit(weights, seed)]
