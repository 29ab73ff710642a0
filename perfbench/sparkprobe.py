"""Read Spark's layers from outside the engine, after an op has returned.

- Jobs and stages come from the driver's ``AppStatusStore`` (the data the
  Spark UI renders), scoped to one op by the job group the benchmark sets
  before the op runs. The listener bus is drained first, so the op's last
  job is in the store.
- Catalyst phase times come from a DataFrame's ``QueryExecution.tracker()``,
  read after its collect; the exchange count from its executed plan.
- Storage comes from the persistent-RDD table and the executors' storage
  memory.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

# a shuffle or broadcast exchange node; ``ReusedExchange`` runs nothing new
_EXCHANGE = re.compile(r"(?:^|[\s:+-])(?:Broadcast)?Exchange\s")


@dataclass
class JobStats:
    """Totals over the jobs of one op (stages each counted once per run)."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    intervals: list[tuple[float, float, int]] = field(default_factory=list)  # (start, end, job id)


class SparkProbe:
    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        gw = sc._gateway
        self._sc = sc
        self._ssc = sc._jsc.sc()
        self._store = self._ssc.statusStore()
        self._no_task_filter = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._counted_stages: set[int] = set()

    def set_group(self, group: str) -> None:
        self._sc.setJobGroup(group, group)

    def jobs(self, group: str) -> JobStats:
        """Jobs the op ran and the stages those jobs executed. A stage that
        a later job only skipped (its shuffle output reused) is not counted
        again."""
        self._ssc.listenerBus().waitUntilEmpty()
        out = JobStats()
        tracker = self._sc.statusTracker()
        for jid in sorted(tracker.getJobIdsForGroup(group)):
            job = self._store.job(jid)
            sub, comp = job.submissionTime(), job.completionTime()
            if sub.isDefined() and comp.isDefined():
                out.intervals.append((sub.get().getTime() / 1e3, comp.get().getTime() / 1e3, jid))
            out.jobs += 1
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in self._counted_stages:
                    continue
                attempts = self._store.stageData(sid, False, self._no_task_filter, False, self._no_quantiles)
                it = attempts.iterator()
                counted = False
                while it.hasNext():
                    st = it.next()
                    if st.status().toString() not in ("COMPLETE", "FAILED"):
                        continue
                    counted = True
                    out.stages += 1
                    out.tasks += st.numTasks()
                    out.failed_tasks += st.numFailedTasks()
                    out.executor_run_s += st.executorRunTime() / 1e3
                    out.executor_cpu_s += st.executorCpuTime() / 1e9
                    out.gc_s += st.jvmGcTime() / 1e3
                    out.shuffle_read_bytes += st.shuffleReadBytes()
                    out.shuffle_write_bytes += st.shuffleWriteBytes()
                    out.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    out.input_bytes += st.inputBytes()
                if counted:
                    self._counted_stages.add(sid)
        return out

    def storage(self) -> tuple[int, int]:
        """(persisted RDDs, storage memory in use in bytes)."""
        n = self._sc._jsc.getPersistentRDDs().size()
        used = 0
        it = self._store.executorList(True).iterator()
        while it.hasNext():
            used += it.next().memoryUsed()
        return n, used


def catalyst_phases(df) -> dict[str, tuple[float, float]]:
    """Catalyst phase name -> (start, end) epoch seconds, for the phases the
    DataFrame's query execution has run so far."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        ph = kv._2()
        out[kv._1()] = (ph.startTimeMs() / 1e3, ph.endTimeMs() / 1e3)
    return out


def exchanges(df) -> int:
    """Shuffle and broadcast exchanges in the executed (final adaptive)
    plan; the adaptive plan's printed initial plan is not counted."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    return sum(1 for line in plan.splitlines() if _EXCHANGE.search(line))
