"""The lane runner every registry tool measures through.

- ``session(app, profile)`` builds the repo's session at this box's core
  count; no tool picks its own.
- ``select(names)`` is the raw registry in registration order, cut to
  ``names``. The raw registry, not ``__spark_entry__.queries()``: that
  wrapper collects the driver-window lanes at the correctness SF first and
  rewrites their ``DIAG/fp_*.json`` pins. Registration order only changes
  when lanes are added, so timings taken in it stay comparable; a lane's
  time depends on its neighbours (checkpoint and GC tails, executor churn
  after a heavy MLlib fit).
- ``run(spark, name, fn, sf_dir)`` builds and collects one lane under its
  own job group and inside its own ``functions.ckpt`` scope, and returns
  its run record, read from Spark's own execution record through
  ``perfbench/sparkprobe.py``. Closing the scope releases every RDD the
  run made persistent, so a long sweep measures each lane without the
  storage its predecessors left.
"""

from __future__ import annotations

import sys
import time
import uuid

from big_data_analytics_machine_learning_poc_spark.functions.ckpt import scope
from perfbench.sparkprobe import SparkProbe, catalyst_phases, exchanges


def session(app: str, profile: str = "scale"):
    """The repo's session factory at this box's core count. Not a bare
    builder: numbers must reflect the tuned profile, and a bare builder's
    1 GB heap runs out on the heavy streaming lanes at sf0.1."""
    from big_data_analytics_machine_learning_poc_spark import session as sessionmod

    return sessionmod.get_session(app, cpus=sessionmod.default_cpus(), profile=profile)


def select(names=()):
    """The registry (``.queries``, ``.oracles``) in registration order, cut
    to ``names`` when given. Unknown names exit 2 and are listed: a
    misspelled lane must not read as an empty, green sweep."""
    import __spark_entry__ as entrymod

    reg = entrymod._registry(window_first=False)
    if names:
        unknown = [n for n in names if n not in reg.queries]
        if unknown:
            print(f"ERROR unknown lane names: {unknown}", file=sys.stderr)
            raise SystemExit(2)
        reg.queries = {n: fn for n, fn in reg.queries.items() if n in names}
        reg.oracles = {n: sql for n, sql in reg.oracles.items() if n in names}
    return reg


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def run(spark, name: str, fn, sf_dir: str) -> dict:
    """Build ``fn(spark, sf_dir)`` and collect it; the timed span is exactly
    that. Returns the run record:

    - ``build_s``, ``collect_s``;
    - ``columns`` and ``rows`` (the collected ``Row``s);
    - ``jobs``: ``JobStats`` over every job of the run, build-time actions
      and jobs of threads the lane starts included;
    - ``catalyst_phases`` (phase -> seconds) and ``exchanges`` of the
      returned frame's plan;
    - ``persisted_before``, ``persisted_after``: persisted RDDs before the
      run and after its scope closed.

    The scope releases, blocking, every RDD that became persistent during
    the run: the rows are collected, so nothing still reads them, and
    a blocking release cannot overlap the next timed run. It closes when
    the lane raises too."""
    probe = SparkProbe(spark)
    group = f"lanerun-{name}-{uuid.uuid4().hex[:12]}"
    before = _persisted(spark)
    probe.set_group(group)
    with scope():
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        rows = df.collect()
        t2 = time.perf_counter()
        record = {
            "build_s": t1 - t0,
            "collect_s": t2 - t1,
            "columns": df.columns,
            "rows": rows,
            "jobs": probe.jobs(group),
            "catalyst_phases": {k: end - start for k, (start, end) in catalyst_phases(df).items()},
            "exchanges": exchanges(df),
            "persisted_before": before,
        }
    record["persisted_after"] = _persisted(spark)
    return record
