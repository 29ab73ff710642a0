"""Per-lane Spark JOB profile — how many jobs a lane runs and where the
wall-clock goes (VERDICT r12 next-round #2 asks for before/after job
counts on the lakehouse DML lanes; guide §1.1 empirical loop).

For each lane: one untimed warm-up execution, then one profiled execution
whose jobs are read back from the driver's AppStatusStore (the same data
the UI's Jobs tab renders) — job id, duration, first line of the job
name/description. Output is one JSON object per lane on stdout:

    python tools/jobprof.py /root/testdata/sf0.1 iceberg_dml_audit ...

The store is append-only within a session, so the profiled window is
"jobs with id greater than the last id seen before the run".
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _jobs(spark):
    """All jobs in the status store: list of (id, name, duration_ms)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    seq = store.jobsList(None)
    out = []
    it = seq.iterator()
    while it.hasNext():
        j = it.next()
        sub = j.submissionTime()
        comp = j.completionTime()
        dur = None
        if sub.isDefined() and comp.isDefined():
            dur = comp.get().getTime() - sub.get().getTime()
        desc = j.description()
        name = desc.get() if desc.isDefined() else j.name()
        out.append(
            {
                "id": j.jobId(),
                "name": (name or "").splitlines()[0][:120],
                "ms": dur,
                "tasks": j.numTasks(),
            }
        )
    return out


def main() -> int:
    sf_dir = sys.argv[1]
    lanes = sys.argv[2:]
    from big_data_analytics_machine_learning_poc_spark.session import default_cpus, get_session
    import __spark_entry__ as entry

    cpus = default_cpus()
    spark = get_session("jobprof", cpus=cpus)
    queries = dict(entry._registry(window_first=False).queries)
    for lane in lanes:
        fn = queries[lane]
        fn(spark, sf_dir).collect()  # warm-up
        before = max((j["id"] for j in _jobs(spark)), default=-1)
        t0 = time.perf_counter()
        fn(spark, sf_dir).collect()
        wall = time.perf_counter() - t0
        jobs = [j for j in _jobs(spark) if j["id"] > before]
        print(
            json.dumps(
                {
                    "lane": lane,
                    "wall_s": round(wall, 3),
                    "n_jobs": len(jobs),
                    "jobs_ms_sum": sum(j["ms"] or 0 for j in jobs),
                    "jobs": jobs,
                },
                indent=1,
            )
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
