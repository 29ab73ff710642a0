"""localCheckpoint storage hygiene (guide §5: unpersist when done).

``DataFrame.localCheckpoint`` persists the frame's partitions in executor
storage and — by design — never releases them: the blocks live until the
session dies. Iterative operators that checkpoint per round therefore
leak one superseded rank/label/vocabulary vector per round, and a long
shared-JVM session (a 268-lane sweep, a notebook, a driver harness)
accumulates hundreds of dead blocks; r12 measured untouched lanes
drifting 2-4× late in a sweep from exactly this storage/GC pressure
(VERDICT r12 what's-wrong #5).

One release, SAFE only at a specific point:

- ``release_local_checkpoint(df)``: drop the blocks behind ONE
  checkpointed frame. A locally-checkpointed RDD cannot recompute
  (lineage is truncated), so call it only when every consumer of ``df``
  has either finished or been materialized into its OWN checkpoint —
  e.g. the superseded previous checkpoint right after the next eager
  checkpoint lands.

A checkpoint a lane returns, or one its result still reads, outlives the
lane's own code. The lane runner (``tools/lanerun.py``) releases those
after the lane's rows are collected: every RDD that became persistent
during the run.

``checkpointed_split(df, weights, seed, cols)`` makes two of the frames
that release is for: the halves of a seeded ``randomSplit``, each
narrowed to the columns its consumers read and checkpointed once. The
caller owns both halves and passes each to ``release_local_checkpoint``
after every consumer of it (a fit, a transform, an evaluator) has joined.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def release_local_checkpoint(df: DataFrame) -> bool:
    """Unpersist the storage blocks behind a frame returned by
    ``localCheckpoint()``. Returns True when blocks were released; False
    (no-op) when the frame is not a direct checkpoint result. Async
    (non-blocking) — the executor frees blocks in the background."""
    plan = df._jdf.queryExecution().analyzed()
    # unwrap .alias(...) wrappers — same data, same blocks
    while plan.getClass().getSimpleName() == "SubqueryAlias":
        plan = plan.child()
    if plan.getClass().getSimpleName() != "LogicalRDD":
        return False
    plan.rdd().unpersist(False)
    return True


def checkpointed_split(
    df: DataFrame, weights: list[float], seed: int, cols: Sequence[str]
) -> list[DataFrame]:
    """``df.randomSplit(weights, seed)``, each half projected to ``cols``
    and materialized with ``localCheckpoint()``.

    The split runs on the unchanged ``df``, so each half holds the same
    rows, in the same partitions and order, as the plain split. What
    changes is the lineage later jobs ship: ``randomSplit`` sorts every
    partition by every orderable column of ``df`` before it samples, so an
    iterative fit over a plain half deserializes that whole sort in each
    task of each iteration. A checkpointed half ships a scan of its own
    blocks. Narrow after the split when ``df`` carries columns the
    consumers never read; release each half with
    ``release_local_checkpoint`` once they have joined."""
    return [half.select(*cols).localCheckpoint() for half in df.randomSplit(weights, seed)]
