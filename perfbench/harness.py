"""The benchmark's run loop: work directory, session set-up, one closed-loop
client, correctness checks, memory sampling and metric assembly.

A run is: make the workload's inputs; set the session up ``SETUPS`` times
(session start plus warm-up; the first also launches the JVM); prepare the
workload (untimed); then play whole passes of the workload's ops until
``--seconds`` have elapsed. Each op runs only after the previous one has
returned and been checked. With tracing on, each op's Spark jobs, Catalyst
phases and storage are read after it returns, outside its timing.
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field
from typing import Callable

from spans import Tracer, union_length

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUPS = 3


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Workdir:
    """Everything a run writes lives under ``<checkout>/.perfbench``: a
    per-run scratch tree (removed when the run ends) and ``out/`` for the
    result and span files."""

    def __init__(self, workload: str, seed: int) -> None:
        base = os.path.join(ROOT, ".perfbench")
        self.run = os.path.join(base, f"run-{workload}-{seed}-{os.getpid()}")
        self.out = os.path.join(base, "out")
        self.data = os.path.join(self.run, "data")
        self.tmp = os.path.join(self.run, "tmp")
        for d in (self.data, self.tmp, self.out):
            os.makedirs(d, exist_ok=True)

    def configure_process(self) -> None:
        """Point every temp, spill and warehouse directory of Python, the JVM
        and Spark into the run's scratch tree. Must run before pyspark
        launches its JVM."""
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.run, "spark-local")
        os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(self.run, "warehouse")
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
        os.environ["PYSPARK_PYTHON"] = sys.executable
        # every JVM of the launch (spark-submit's launcher too): temp files
        # into the scratch tree, and no /tmp/hsperfdata_<user> perf-data file
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData"
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR

    def remove(self) -> None:
        shutil.rmtree(self.run, ignore_errors=True)


@dataclass
class Op:
    """One timed operation of a workload.

    ``run`` is the timed part. ``check`` gets its result and returns a
    problem description, or None when the output is right. ``after`` (if
    any) runs untimed by the op, gets the result, and returns extra
    measurements plus a problem or None (the prepared re-collect of a SQL
    lane). A ``"df"`` key in the result names the DataFrame whose
    Catalyst phases the traced run reads."""

    label: str
    kind: str
    run: Callable[[], dict]
    check: Callable[[dict], str | None]
    after: Callable[[dict], tuple[dict, str | None]] | None = None
    attrs: dict = field(default_factory=dict)


@dataclass
class OpRecord:
    index: int
    label: str
    wall_s: float
    problem: str | None
    extra: dict
    layers: dict


class MemorySampler:
    """Peak resident memory of the driver: this Python process plus the JVM
    it launched, sampled every ``interval`` seconds. Python workers forked
    by the JVM are left out: how many of them are alive at a sample moves
    the sum by hundreds of MiB from run to run."""

    def __init__(self, jvm_pid: int, interval: float = 0.2) -> None:
        self._pids = {"python": os.getpid(), "jvm": jvm_pid}
        self._interval = interval
        self._stop = threading.Event()
        self.peak_bytes = 0
        self.parts_at_peak: dict[str, int] = {}
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        page = os.sysconf("SC_PAGE_SIZE")
        while True:
            parts = {name: _rss_pages(pid) * page for name, pid in self._pids.items()}
            total = sum(parts.values())
            if total > self.peak_bytes:
                self.peak_bytes, self.parts_at_peak = total, parts
            if self._stop.wait(self._interval):
                return


def _rss_pages(pid: int) -> int:
    with open(f"/proc/{pid}/statm") as f:
        return int(f.read().split()[1])


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed over
    CPUs: when it grows during a window, the window ran slow for reasons
    outside this machine."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def process_tree(roots) -> set[int]:
    """``roots`` and all their live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    seen: set[int] = set()
    todo = list(roots)
    while todo:
        p = todo.pop()
        if p not in seen:
            seen.add(p)
            todo.extend(children.get(p, ()))
    return seen


class Bench:
    """One run of one workload."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.cpus = nproc()
        self.wd = Workdir(workload, seed)
        self.tracer = Tracer(trace)
        self.spark = None
        self.probe = None
        self.setups: list[dict] = []
        self.ops: list[OpRecord] = []
        self.passes = 0
        self.window_s = 0.0
        self.peak_rss_bytes = 0
        self.peak_rss_parts: dict[str, int] = {}
        self.steal_s = 0.0

    def span(self, layer: str, name: str, **attrs):
        return self.tracer.span(layer, name, **attrs)

    # -- session ---------------------------------------------------------
    def _start_session(self) -> None:
        from big_data_analytics_machine_learning_poc_spark.session import get_session

        t0 = time.perf_counter()
        with self.span("session", "start"):
            self.spark = get_session("perfbench", cpus=self.cpus)
        t1 = time.perf_counter()
        with self.span("session", "warmup"):
            warm = self.spark.range(100_000).selectExpr("id % 97 AS k").groupBy("k").count().collect()
        t2 = time.perf_counter()
        if len(warm) != 97:
            raise RuntimeError(f"warm-up query returned {len(warm)} groups, expected 97")
        self.setups.append({"start_s": t1 - t0, "warmup_s": t2 - t1})

    def setup(self) -> None:
        """Start the session ``SETUPS`` times (stopping it in between); the
        first start also launches the JVM."""
        for k in range(SETUPS):
            if k:
                self.spark.stop()
            self._start_session()
        from sparkprobe import SparkProbe

        self.probe = SparkProbe(self.spark)

    def close(self) -> None:
        """Stop the session, then the JVM gateway and every process under
        it, and wait until they have ended."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        tree = process_tree([proc.pid]) if proc is not None else set()
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin pipe closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline and any(_alive(p) for p in tree):
            time.sleep(0.05)

    # -- ops -------------------------------------------------------------
    def play(self, passes: Callable[[int], list[Op]]) -> None:
        """Closed loop over whole passes until ``seconds`` have elapsed.
        A pass's inputs are made before the pass starts, so the measured
        window holds only ops and their checks."""
        jvm_pid = self.spark.sparkContext._gateway.proc.pid
        steal0 = cpu_steal_s()
        with MemorySampler(jvm_pid) as mem:
            start = time.perf_counter()
            while True:
                ops = passes(self.passes)
                t0 = time.perf_counter()
                for op in ops:
                    self._run_op(op)
                self.window_s += time.perf_counter() - t0
                self.passes += 1
                if time.perf_counter() - start >= self.seconds:
                    break
        self.steal_s = cpu_steal_s() - steal0
        self.peak_rss_bytes = mem.peak_bytes
        self.peak_rss_parts = mem.parts_at_peak

    def _run_op(self, op: Op) -> None:
        i = len(self.ops)
        group = f"perfbench-op-{i}"
        self.probe.set_group(group)
        self.tracer.begin_op(i)
        extra: dict = {}
        out: dict = {}
        problem = None
        root = None
        t0 = time.perf_counter()
        try:
            with self.span("op", op.label, kind=op.kind, **op.attrs) as root:
                out = op.run()
            wall = root.dur
            problem = op.check(out)
            if op.after is not None:
                extra, after_problem = op.after(out)
                problem = problem or after_problem
        except Exception:  # the loop must go on: a raising op is a failed op
            wall = root.dur if root is not None else time.perf_counter() - t0
            problem = "raised " + traceback.format_exc(limit=3).strip().splitlines()[-1]
        layers = {}
        if self.tracer.enabled:
            layers = self._read_layers(group, wall + extra.get("prepared_s", 0.0), out)
        self.ops.append(OpRecord(i, op.label, wall, problem, extra, layers))

    def _read_layers(self, group: str, busy_s: float, out: dict) -> dict:
        """Per-op layer readings, taken after the op and its check.
        ``busy_s`` is the time the op kept the engine busy (its wall time
        plus any prepared re-collect)."""
        from sparkprobe import catalyst_phases, exchanges

        tr = self.tracer
        js = self.probe.jobs(group)
        builds = [(s.start, s.end) for s in tr.op_spans() if s.layer == "operators"]
        for start, end, jid in js.intervals:
            tr.add("spark", f"job {jid}", start, end)
        job_wall = union_length((s, e) for s, e, _ in js.intervals)
        layers = {
            "operators.build_jobs": sum(1 for s, _, _ in js.intervals if any(a <= s < b for a, b in builds)),
            "spark.jobs": js.jobs,
            "spark.stages": js.stages,
            "spark.tasks": js.tasks,
            "spark.job_wall_s": job_wall,
            "spark.executor_run_s": js.executor_run_s,
            "spark.executor_cpu_s": js.executor_cpu_s,
            "spark.gc_s": js.gc_s,
            "spark.shuffle_read_bytes": js.shuffle_read_bytes,
            "spark.shuffle_write_bytes": js.shuffle_write_bytes,
            "spark.spill_bytes": js.spill_bytes,
            "spark.input_bytes": js.input_bytes,
            "spark.failed_tasks": js.failed_tasks,
            "busy_s": busy_s,
            "driver.gap_s": max(0.0, busy_s - job_wall),
        }
        df = out.get("df")
        if df is not None:
            phases = catalyst_phases(df)
            for name, (s, e) in phases.items():
                tr.add("catalyst", name, s, e)
            for name in ("analysis", "optimization", "planning"):
                s, e = phases.get(name, (0.0, 0.0))
                layers[f"catalyst.{name}_s"] = e - s
            layers["catalyst.exchanges"] = exchanges(df)
        n_rdds, mem = self.probe.storage()
        layers["storage.persisted_rdds"] = n_rdds
        layers["storage.memory_used_bytes"] = mem
        return layers

    # -- report ----------------------------------------------------------
    def environment(self, load_start) -> dict:
        import platform

        conf = self.spark.conf
        return {
            "seed": self.seed,
            "nproc": self.cpus,
            "default_parallelism": self.spark.sparkContext.defaultParallelism,
            "shuffle_partitions": int(conf.get("spark.sql.shuffle.partitions")),
            "aqe": conf.get("spark.sql.adaptive.enabled") == "true",
            "profile": "scale (session.get_session default)",
            "driver_memory": conf.get("spark.driver.memory"),
            "spark": self.spark.version,
            "java": self.spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
            "loadavg_start": [round(x, 2) for x in load_start],
        }

    def end_to_end(self) -> dict:
        walls = [r.wall_s for r in self.ops]
        setup = [s["start_s"] + s["warmup_s"] for s in self.setups]
        return {
            "setup_s": statistics.median(setup),
            "op_p50_s": statistics.median(walls),
            "ops_per_s": len(self.ops) / self.window_s,
        }

    def failures(self) -> list[dict]:
        return [{"op": r.index, "label": r.label, "problem": r.problem} for r in self.ops if r.problem]
