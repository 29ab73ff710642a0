"""SparkSession factory.

The reference hardcodes ``master("local")``/``local[*]`` per program
(TfIdfCalculator.java:29, DataCorrelator.java:27, RandomForest.java:28,
SpamClassification.java:34) and sets no tuning at all. Here the master and
parallelism come from the environment, and the scale-relevant knobs are set
once:

- AQE on (runtime partition coalescing, skew-join splitting) — at 100 TB the
  static shuffle-partition count is always wrong for some stage; AQE re-plans.
- ``spark.sql.shuffle.partitions`` sized to cores for local runs (the 200
  default over-parallelizes tiny local data; a real cluster submit would
  override it to ~2-3x total cores).
- UTC session timezone so timestamp semantics match the DuckDB oracle.
- Arrow enabled: every pandas_udf / toPandas crosses the JVM<->Python boundary
  as columnar Arrow batches instead of pickled rows.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))


def default_driver_memory(physical_bytes: int | None = None) -> str:
    """The driver heap a session asks for unless ``SPARK_GRAFT_DRIVER_MEM``
    says otherwise: a third of physical memory in whole GiB, at least 1g
    and at most 24g. Two sessions side by side then still leave a third of
    the machine to their Python processes and the OS."""
    if physical_bytes is None:
        physical_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(24, max(1, physical_bytes // (3 * 2**30)))}g"


def get_session(
    app_name: str = "bdaml-poc-spark",
    cpus: int | None = None,
    profile: str = "scale",
) -> SparkSession:
    """Build (or reuse) a local SparkSession tuned for this machine.

    Engine code never assumes it owns the session: every operator takes the
    session (or a DataFrame) as an argument, so a cluster deployment can pass
    its own properly-configured session.

    Profiles:
    - ``scale`` (default): AQE on with partition coalescing + skew-join —
      the configuration a 100 TB cluster run wants; adaptive re-planning is
      amortized over multi-second stages.
    - ``micro``: AQE off, few shuffle partitions — for sub-second local
      datasets where AQE's per-stage query-stage materialization costs more
      than it saves (measured: ~0.15s/query at sf0.1). bench.py uses this;
      results are identical, only the physical plan differs.
    """
    cpus = cpus or default_cpus()
    micro = profile == "micro"
    # Belt-and-braces determinism for WORKER/SUBPROCESS code only: pin
    # Python's string-hash seed for processes launched after this point
    # (PySpark itself also defaults worker PYTHONHASHSEED to 0). This
    # CANNOT deterministify the already-running driver interpreter — a
    # driver process launched without the variable keeps randomized
    # hashing regardless — and the executorEnv config below is ignored if
    # getOrCreate reuses an existing SparkContext. Nothing in the engine
    # depends on hash() — all sampling/bucketing uses md5/xxhash64 — this
    # guards future worker-side code and third-party libs.
    os.environ.setdefault("PYTHONHASHSEED", "0")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.executorEnv.PYTHONHASHSEED", os.environ["PYTHONHASHSEED"])
        .config("spark.sql.shuffle.partitions", "4" if micro else str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "false" if micro else "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # Python Data Source filter pushdown (sources/pyds.py): off by
        # default in Spark 4.1; a reader implementing pushFilters() FAILS
        # at plan time unless enabled (runtime-settable — lanes also set
        # it defensively for driver-provided sessions)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # managed tables (bucketed-join surface) land under /tmp, never cwd
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"
            ),
        )
        # some testdata generations store events.ts as TIMESTAMP(NANOS),
        # which Spark 4 rejects unless read as raw longs; harmless for the
        # MICROS generations (catalog.normalize_events_ts branches on the
        # probed footer type). Set once, engine-wide (batch + stream).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    ensure_session_defaults(spark)  # getOrCreate may reuse a pre-existing session
    # getOrCreate silently IGNORES every config above when it reuses an
    # existing SparkContext — a bench run inheriting a 'scale' session would
    # measure under the wrong profile with no sign of it. Make that loud.
    got = spark.conf.get("spark.sql.shuffle.partitions")
    want = "4" if micro else str(cpus)
    if got != want:
        import warnings

        warnings.warn(
            f"get_session(profile={'micro' if micro else 'scale'!r}) reused an "
            f"existing SparkContext: shuffle.partitions={got} (wanted {want}); "
            f"profile configs were not applied",
            RuntimeWarning,
            stacklevel=2,
        )
    spark.sparkContext.setLogLevel("ERROR")  # mirrors reference log suppression
    return spark


def ensure_session_defaults(spark: SparkSession) -> None:
    """Idempotently pin the two confs every loader depends on, on an
    externally-provided session (the driver harness builds its own
    SparkSession, bypassing this factory):

    - ``nanosAsLong``: events.parquet generations that store TIMESTAMP(NANOS)
      are rejected by Spark 4's vectorized reader unless read as raw longs;
    - ``session.timeZone=UTC``: the NTZ→timestamp cast in catalog.load_table
      and every epoch-second comparison against the DuckDB oracle (which
      treats naive timestamps as UTC) are only identities under UTC. A
      driver session inheriting a non-UTC JVM default would silently shift
      every event-time epoch by the zone offset (round-2 postmortem).

    Loaders call this instead of mutating conf unconditionally per read."""
    for key, want in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
    ):
        # NB: conf.get(key, default) type-checks the DEFAULT on boolean confs
        # (Spark 4), so probe with no fallback — get(key) resolves the conf's
        # own default when unset.
        if spark.conf.get(key) != want:
            spark.conf.set(key, want)


def enable_runtime_bloom_filters(
    spark: SparkSession,
    creation_side_max: str = "100MB",
    application_side_min: str = "10GB",
) -> None:
    """Turn on Catalyst's runtime bloom-filter join pruning (InjectRuntimeFilter).

    For a shuffle join where one side carries a selective filter, the
    optimizer aggregates a bloom filter over the filtered side's join keys
    (``bloom_filter_agg``) and pushes a membership probe into the other
    side's scan — rows that can't match are dropped BEFORE the shuffle. At
    100 TB this is the difference between shuffling the whole fact table
    and shuffling only the ~matching fraction when joining against a
    filtered dimension too big to broadcast.

    Semantics of the thresholds (easy to invert, so named explicitly):
    - ``creation_side_max``: build the filter only if the FILTERED side is
      estimated SMALLER than this (cost of building/shipping the bloom),
    - ``application_side_min``: apply it only if the probe-side scan is
      LARGER than this (below that, the probe costs more than it saves;
    the 10GB default means sf0.1-scale tests must lower it to observe
    injection — see tests/test_plans.py).
    """
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        creation_side_max,
    )
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        application_side_min,
    )
