"""localCheckpoint storage hygiene (guide §5: unpersist when done).

``DataFrame.localCheckpoint`` persists the frame's partitions in executor
storage and — by design — never releases them: the blocks live until the
session dies. Iterative operators that checkpoint per round therefore
leak one superseded rank/label/vocabulary vector per round, and a long
shared-JVM session (a 268-lane sweep, a notebook, a driver harness)
accumulates hundreds of dead blocks; r12 measured untouched lanes
drifting 2-4× late in a sweep from exactly this storage/GC pressure
(VERDICT r12 what's-wrong #5).

Two releases, both SAFE only at specific points:

- ``release_local_checkpoint(df)``: drop the blocks behind ONE
  checkpointed frame. A locally-checkpointed RDD cannot recompute
  (lineage is truncated), so call it only when every consumer of ``df``
  has either finished or been materialized into its OWN checkpoint —
  e.g. the superseded previous checkpoint right after the next eager
  checkpoint lands.
- ``unpersist_all(spark)``: drop every persistent RDD in the context.
  Only between independent units of work (a measurement harness between
  lane runs) — never while a returned lazy frame still depends on a
  checkpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


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


def unpersist_all(spark: SparkSession, blocking: bool = False) -> int:
    """Unpersist every persistent RDD in the SparkContext; returns how
    many were released. See module docstring for when this is safe."""
    n = 0
    it = spark.sparkContext._jsc.getPersistentRDDs().values().iterator()
    while it.hasNext():
        it.next().unpersist(blocking)
        n += 1
    return n
