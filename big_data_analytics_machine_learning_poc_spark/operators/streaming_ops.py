"""Driver-facing streaming queries + the batch sessionization oracle twin.

The tumbling/sliding streaming queries genuinely run Structured Streaming
(memory sink, availableNow trigger) and are oracle-checked against batch SQL:
a tumbling window is floor(epoch/width) integer arithmetic, a 2:1 sliding
window is the union of two shifted tumblings — both timezone-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions.ckpt import pin
from ..functions.exact import cents
from ..registry import QueryRegistry
from ..streaming import events as sev
from ..sources import delta_lite as _delta_lite  # noqa: F401 — module-level so
# tools/rotation.py's import-closure hash flags these lanes when delta_lite changes


REG = QueryRegistry()


@REG.add(
    "stream_tumbling_counts",
    sql="""
    SELECT CAST(FLOOR(EPOCH(ts) / 300) * 300 AS BIGINT) AS window_start_epoch,
           event_type, COUNT(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-minute tumbling windows via an actual streaming query. The oracle is
    the batch equivalence: window.start == floor(epoch/300)*300 — event-time
    semantics with a closed watermark equal batch aggregation."""
    return sev.tumbling_counts(spark, sf_dir, "5 minutes", output_mode="complete")


@REG.add(
    "stream_distinct_users_tumbling",
    sql="""
    SELECT CAST(FLOOR(EPOCH(ts) / 300) * 300 AS BIGINT) AS window_start_epoch,
           event_type, COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY 1, 2
    """,
)
def stream_distinct_users_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct users per 5-minute window per event type, computed by
    an actual streaming query whose state is per-bucket bitmaps (≤ 4 KiB
    per (window, type, 32 768-id bucket) — bounded by the id space and the
    watermark, not by event volume; see
    streaming/events.tumbling_distinct_user_bitmaps). The stream emits
    per-bucket COUNTS (a stateless bitmap_count projection after the
    stateful agg — the sink carries ints, not 4 KiB blobs), and a batch
    rollup sums buckets per window; production keeps the bitmap emission
    (as_counts=False) to re-aggregate across windows with bitmap_or_agg
    instead of reprocessing events. The
    oracle is plain batch COUNT(DISTINCT): event-time windows with a closed
    watermark equal batch aggregation, and the bitmap lane is exact."""
    bm = sev.tumbling_distinct_user_bitmaps(
        spark, sf_dir, "5 minutes", output_mode="complete", as_counts=True
    )
    return (
        bm.groupBy("window_start_epoch", "event_type")
        .agg(F.sum("bucket_users").alias("n_users"))
    )


@REG.add(
    "stream_sliding_counts",
    sql="""
    WITH cents AS (
      SELECT ts, CAST(ROUND(value * 100) AS BIGINT) AS vc FROM events
    ), two AS (
      SELECT CAST(FLOOR(EPOCH(ts) / 300) * 300 AS BIGINT) AS window_start_epoch, vc FROM cents
      UNION ALL
      SELECT CAST((FLOOR(EPOCH(ts) / 300) - 1) * 300 AS BIGINT) AS window_start_epoch, vc FROM cents
    )
    SELECT window_start_epoch, COUNT(*) AS n,
           CAST(SUM(vc) AS BIGINT) AS value_cents
    FROM two GROUP BY 1
    """,
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding by 5: every event belongs to exactly two
    windows (starts at bucket·300 and (bucket−1)·300) — the oracle builds
    them by UNION ALL, the stream by F.window(ts, 10m, 5m)."""
    return sev.sliding_counts(
        spark, sf_dir, "10 minutes", "5 minutes", output_mode="complete"
    )


@REG.add(
    "stream_session_windows",
    sql="""
    WITH ordered AS (
      SELECT user_id, EPOCH(ts) AS es,
             LAG(EPOCH(ts)) OVER (PARTITION BY user_id ORDER BY EPOCH(ts)) AS prev_es
      FROM events WHERE user_id < 50
    ), flagged AS (
      SELECT user_id, es,
             CASE WHEN prev_es IS NULL OR es - prev_es > 1800 THEN 1 ELSE 0 END AS new_session
      FROM ordered
    ), sessions AS (
      SELECT user_id, es,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY es
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    )
    SELECT user_id, CAST(FLOOR(MIN(es)) AS BIGINT) AS session_start_epoch,
           COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, session_id
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming session_window (30-min gap), oracle-checked against
    the batch islands formulation — the stream's merge-on-arrival sessions
    must equal the batch gap-partitioned ones on bounded input."""
    return sev.session_windows(spark, sf_dir, "30 minutes", output_mode="complete")


@REG.add(
    "sessionize_events",
    sql="""
    WITH ordered AS (
      SELECT user_id, event_id, EPOCH(ts) AS es,
             LAG(EPOCH(ts)) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_es
      FROM events WHERE user_id < 50
    ), flagged AS (
      SELECT user_id, event_id, es,
             CASE WHEN prev_es IS NULL OR es - prev_es > 1800 THEN 1 ELSE 0 END AS new_session
      FROM ordered
    ), sessions AS (
      SELECT user_id, event_id, es,
             CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id, COUNT(*) AS n_events,
           CAST(FLOOR(MIN(es)) AS BIGINT) AS session_start_epoch
    FROM sessions GROUP BY user_id, session_id
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (30-min gap) via lag + cumulative flag sum — the
    deterministic twin of session_window, and the classic islands pattern:
    one shuffle on user_id, everything else window functions."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    es = F.col("ts").cast("double")  # epoch seconds w/ fraction (ts is us-precision)
    w = Window.partitionBy("user_id").orderBy("event_id")
    flagged = ev.select(
        "user_id",
        "event_id",
        es.alias("es"),
        F.when(
            F.lag(es).over(w).isNull() | ((es - F.lag(es).over(w)) > 1800), 1
        ).otherwise(0).alias("new_session"),
    )
    wsum = Window.partitionBy("user_id").orderBy("event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sessions = flagged.select(
        "user_id", "event_id", "es", F.sum("new_session").over(wsum).alias("session_id")
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.floor(F.min("es")).cast("bigint").alias("session_start_epoch"),
    )


@REG.add(
    "stream_stateful_user_totals",
    sql="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events WHERE user_id < 100
    GROUP BY user_id
    """,
)
def stream_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user running
    totals in explicit state, exact-cents accumulation. On bounded input the
    final update per user equals the batch aggregation — which is the oracle.
    (With a multi-file source each micro-batch emits an update row per
    touched user; running_user_totals reduces those to the final state per
    user via a struct-max over (n_events, total_cents), so the comparison
    is layout-independent.)"""
    from ..streaming.stateful import running_user_totals

    return running_user_totals(spark, sf_dir, max_user=100)


@REG.add(
    "stream_stream_join",
    sql="""
    SELECT p.event_id AS purchase_id,
           c.event_id AS click_id,
           p.user_id,
           (epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS gap_sec
    FROM events p
    JOIN events c
      ON c.user_id = p.user_id
     AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL 1 HOUR
     AND c.ts <= p.ts
    WHERE p.event_type = 'purchase' AND p.user_id < 50
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream event-time interval join (purchases ⋈ preceding-hour
    clicks per user) with watermarked state on both sides — oracle = the
    batch interval join over the same bounded input."""
    return sev.purchase_click_join(spark, sf_dir, max_user=50)


@REG.add(
    "stream_static_join",
    sql="""
    SELECT c.c_mktsegment, e.event_type, COUNT(*) AS n
    FROM events e JOIN customer c ON e.user_id + 1 = c.c_custkey
    GROUP BY c.c_mktsegment, e.event_type
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment: the stream side joins the static
    customer table (stateless — the dim is broadcast per micro-batch), then
    aggregates; oracle = the equivalent batch join."""
    return sev.enriched_event_counts(spark, sf_dir)


@REG.add(
    "stream_dedup_events",
    sql="""
    SELECT DISTINCT user_id, event_type FROM events WHERE user_id < 50
    """,
)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup via dropDuplicatesWithinWatermark on (user_id,
    event_type): first occurrence emits, later duplicates are dropped while
    the key is in (watermark-bounded) state. Oracle = batch DISTINCT over
    the same bounded input (single micro-batch → no mid-stream eviction).
    At 100 TB this is the exactly-once event dedup stage in front of every
    streaming aggregation; state size is #distinct live keys, not #events."""
    return sev.dedup_within_watermark(spark, sf_dir, max_user=50)


@REG.add(
    "timeseries_gap_fill",
    sql="""
    WITH base AS (
      SELECT user_id, epoch_us(ts) // 3600000000 AS hr,
             MAX(CAST(ROUND(value * 100) AS BIGINT)) AS v_cents
      FROM events WHERE user_id < 20 GROUP BY user_id, hr
    ), rng AS (
      SELECT user_id, MIN(hr) AS mn, MAX(hr) AS mx FROM base GROUP BY user_id
    ), spine AS (
      SELECT user_id, unnest(range(mn, mx + 1)) AS hr FROM rng
    ), joined AS (
      SELECT s.user_id, s.hr, b.v_cents,
             CASE WHEN b.v_cents IS NULL THEN 1 ELSE 0 END AS was_gap
      FROM spine s LEFT JOIN base b ON s.user_id = b.user_id AND s.hr = b.hr
    )
    SELECT user_id, hr,
           last_value(v_cents IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY hr
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled,
           was_gap
    FROM joined
    """,
)
def timeseries_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + gap-fill: roll events to an hourly grid per
    user (exact-cents MAX as the hour's value), densify with a generated
    hour spine (sequence + explode — no driver-side loop), and forward-fill
    missing hours with the classic last-ignoring-nulls window. The standard
    sensor/metrics regularization every feature pipeline needs.

    Scale shape: ONE shuffle on user_id covers the rollup, the spine join
    and the fill window (co-partitioned throughout); the spine explodes
    from per-user (min, max) bounds so dense ranges never materialize on
    the driver. Hour ids are integer microsecond division — engine-exact.
    """
    from ..functions.windows import ranked

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    base = (
        ev.select(
            "user_id",
            F.expr("unix_micros(ts) div 3600000000").alias("hr"),
            cents("value").alias("v_cents"),
        )
        .groupBy("user_id", "hr")
        .agg(F.max("v_cents").alias("v_cents"))
    )
    spine = (
        base.groupBy("user_id")
        .agg(F.min("hr").alias("mn"), F.max("hr").alias("mx"))
        .select("user_id", F.explode(F.sequence("mn", "mx")).alias("hr"))
    )
    joined = spine.join(base, ["user_id", "hr"], "left").select(
        "user_id",
        "hr",
        "v_cents",
        F.when(F.col("v_cents").isNull(), 1).otherwise(0).alias("was_gap"),
    )
    w = ranked("hr", partition_by="user_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return joined.select(
        "user_id",
        "hr",
        F.last("v_cents", ignorenulls=True).over(w).alias("v_filled"),
        "was_gap",
    )


@REG.add(
    "scd2_user_state",
    sql="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), runs AS (
      SELECT user_id, event_type, ts,
             SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS run_id
      FROM ordered
    ), intervals AS (
      SELECT user_id, event_type, run_id,
             MIN(ts) AS valid_from,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM runs GROUP BY user_id, event_type, run_id
    )
    SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER w2 AS valid_to,
           CASE WHEN lead(valid_from) OVER w2 IS NULL THEN 1 ELSE 0 END
             AS is_current,
           n_events
    FROM intervals
    WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from, run_id)
    ORDER BY user_id, valid_from
    """,
)
def scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history build: collapse each user's event stream into
    [valid_from, valid_to) state intervals — one row per run of equal
    event_type, closed by the next run's start, open (is_current=1) for
    the latest. This is how a dimension table gains bitemporal history
    from a change feed, and the batch twin of the stateful streaming
    operators above.

    Scale shape: every step — change detection (lag), run numbering
    (running sum), interval collapse (groupBy run), closing (lead) — is
    partitioned by user_id, so ONE shuffle co-partitions the whole plan;
    no global window anywhere (plan-linted). Ties inside a user break on
    event_id, which makes run boundaries — and the oracle hash — exact.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = F.when(
        ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
    ).otherwise(0)
    runs = ev.withColumn(
        "run_id",
        F.sum(chg).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    intervals = runs.groupBy("user_id", "event_type", "run_id").agg(
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    # run_id tiebreak (both sides): two runs of one user can share a
    # valid_from when distinct event_types carry the same timestamp —
    # ordering by valid_from alone would let Spark and DuckDB pick lead()
    # order independently and swap valid_to/is_current nondeterministically
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "run_id")
    nxt = F.lead("valid_from").over(w2)
    # No trailing global orderBy: the oracle compare is order-insensitive,
    # and at scale a consumer wanting sorted history sorts WITHIN its write
    # partitions (sortWithinPartitions(user_id, valid_from)) — a global sort
    # of the whole history table is a needless range-shuffle stage (the SQL
    # oracle keeps ORDER BY only for human readability).
    return intervals.select(
        "user_id",
        "event_type",
        # emit NTZ: collect() localizes TimestampType to the Python
        # process TZ, silently shifting wall-clocks on a non-UTC driver;
        # NTZ round-trips as the UTC wall-clock DuckDB's naive ts holds
        F.col("valid_from").cast("timestamp_ntz").alias("valid_from"),
        nxt.cast("timestamp_ntz").alias("valid_to"),
        F.when(nxt.isNull(), 1).otherwise(0).alias("is_current"),
        "n_events",
    )


def _cdc_latest_per_user(df: DataFrame) -> DataFrame:
    """Reduce a change batch to the latest row per user — ``max_by`` keyed
    on a (ts, event_id) struct, matching the oracle's ROW_NUMBER ordering
    EXACTLY: payload columns (event_type, value_cents) ride along but can
    never decide a winner (ADVICE r4: a struct-max over all four columns
    would silently tie-break on payload if event_id uniqueness were ever
    violated upstream, diverging from the oracle). Used both inside each
    micro-batch and when reconciling a batch against already-applied
    state, so one definition decides 'newer' everywhere."""
    return (
        df.groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("ts", "event_id", "event_type", "value_cents"),
                F.struct("ts", "event_id"),
            ).alias("s")
        )
        .select(
            "user_id", "s.ts", "s.event_id", "s.event_type", "s.value_cents"
        )
    )


@REG.add(
    "stream_cdc_user_state",
    sql="""
    WITH ranked AS (
      SELECT user_id, event_id, event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS value_cents,
             epoch_us(ts) AS ts_us,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, ts_us, event_id,
           event_type AS last_event_type,
           value_cents AS last_value_cents
    FROM ranked WHERE rn = 1
    ORDER BY user_id
    """,
)
def stream_cdc_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply into the lakehouse: each micro-batch of the
    event stream is reduced to its latest change per user and MERGEd into
    a delta_lite table keyed on user_id — the "current state" table every
    CDC pipeline maintains next to the append-only log.

    Out-of-order batches are handled by reconciling against the already-
    applied state BEFORE merging (read the matched keys, keep the newer row
    per the same struct-max order), so the result is independent of batch
    arrival order — asserted by the multi-batch shuffled-file test
    (tests/test_streaming.py::test_cdc_upsert_order_independent). At scale
    the merge's match probe is a broadcast semi join of a micro-batch's
    keys into a years-deep table, and only matched files rewrite
    (delta_lite.merge_delta's copy-on-write contract). The oracle is the
    batch equivalence: the final table equals last-event-per-user over the
    whole log."""
    import shutil
    import tempfile

    table = tempfile.mkdtemp(prefix="cdc_user_state_")
    try:
        run_cdc_into_delta(spark, sf_dir, table)
        from ..sources.delta_lite import read_delta

        out = (
            read_delta(spark, table)
            .select(
                "user_id",
                F.unix_micros("ts").alias("ts_us"),
                "event_id",
                F.col("event_type").alias("last_event_type"),
                F.col("value_cents").alias("last_value_cents"),
            )
            .orderBy("user_id")
        )
        # Spill to session-temp parquet BEFORE deleting the scratch table
        # and return the lazy read (bounded-or-spill contract, VERDICT r4
        # ask #3 / ADVICE r4): the |users|-sized state table is copied
        # executor-side, never materialized on the driver.
        return sev.spill_to_session_parquet(out, "cdc_user_state")
    finally:
        shutil.rmtree(table, ignore_errors=True)


def run_cdc_into_delta(spark: SparkSession, sf_dir: str, table: str) -> None:
    """Drive the event stream to completion, applying each micro-batch to
    ``table`` with the reconcile-then-merge CDC step."""
    ev = sev.read_event_stream(spark, sf_dir).select(
        "user_id", "ts", "event_id", "event_type", cents("value").alias("value_cents")
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_cdc_batch(batch_df, table)

    import shutil
    import tempfile

    from ..streaming.events import stream_state_partitions

    ckpt = tempfile.mkdtemp(prefix="ckpt_cdc_")
    with stream_state_partitions(spark):
        q = (
            ev.writeStream.foreachBatch(apply_batch)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)


def apply_cdc_batch(batch_df: DataFrame, table: str) -> None:
    """One CDC apply: reduce the batch to latest-per-user, reconcile
    against current table state for those keys (newer row wins under the
    same struct-max order), merge in one transaction."""
    import os

    from ..sources.delta_lite import merge_delta, read_delta, write_delta

    spark = batch_df.sparkSession
    latest = _cdc_latest_per_user(batch_df)
    if not os.path.exists(os.path.join(table, "_delta_log")):
        write_delta(latest, table)
        return
    current = read_delta(spark, table).join(
        latest.select("user_id"), "user_id", "semi"
    )
    reconciled = _cdc_latest_per_user(latest.unionByName(current))
    merge_delta(spark, table, reconciled, ["user_id"])


_EWMA_ALPHA = 0.25  # binary-exact (2^-2) — the fold multiplies by exactly
# representable constants, so both engines' IEEE folds agree bitwise


@REG.add(
    "events_user_ewma",
    sql=f"""
    WITH ordered AS (
      SELECT user_id,
             list(CAST(ROUND(value * 100) AS DOUBLE)
                  ORDER BY ts, event_id) AS vs
      FROM events WHERE user_id < 50 AND value IS NOT NULL
      GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(vs) AS BIGINT) AS n_events,
           ROUND(list_reduce(vs,
                 (acc, x) -> {_EWMA_ALPHA} * x + {1.0 - _EWMA_ALPHA} * acc),
                 6) AS ewma_cents
    FROM ordered ORDER BY user_id
    """,
)
def events_user_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average of event value — the
    time-series smoothing recurrence s_i = α·v_i + (1−α)·s_{i−1} (s_1 =
    v_1), evaluated as a JVM ``aggregate`` fold over each user's
    time-ordered series. Both engines fold left-to-right with the same
    binary-exact α, so the doubles agree bitwise (6-dp round is
    defensive).

    Scale shape: ONE shuffle on user_id; each user's series is collected
    and folded inside its task — state is bounded by events-per-entity
    (~10³ here; fine for per-user/per-device series). An UNBOUNDED series
    would instead use the linear-recurrence scan: EWMA composes
    associatively as (m, b) pairs (s' = m·s + b), so partition-local folds
    combine in a log-depth tree — the promotion path, not needed at this
    per-key cardinality. Ordering inside the fold is (ts, event_id) — the
    same deterministic tie-break as the CDC lane. NULL values are EXCLUDED
    from the series on both engines (filtered before the fold) — without
    the filter Spark's null-init fold would skip a NULL while DuckDB's
    list_reduce propagates it, a silent cross-engine fork."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter((F.col("user_id") < 50) & F.col("value").isNotNull())
        .select(
            "user_id", "ts", "event_id", cents("value").cast("double").alias("vc")
        )
    )
    return user_ewma(ev).orderBy("user_id")


def user_ewma(
    df: DataFrame,
    order_cols: tuple[str, ...] = ("ts", "event_id"),
    alpha: float = _EWMA_ALPHA,
) -> DataFrame:
    """Factored EWMA core over (user_id, *order_cols, vc) — the SHIPPED fold
    the unit tests exercise directly (no inline copies). Input must be
    NULL-free in ``vc`` (the registered lane filters; see its docstring)."""
    series = (
        df.select("user_id", F.struct(*order_cols, F.col("vc")).alias("e"))
        .groupBy("user_id")
        .agg(F.array_sort(F.collect_list("e")).alias("es"))
    )
    ewma = F.aggregate(
        F.col("es"),
        F.lit(None).cast("double"),
        lambda acc, x: F.when(acc.isNull(), x["vc"]).otherwise(
            F.lit(alpha) * x["vc"] + F.lit(1.0 - alpha) * acc
        ),
    )
    return series.select(
        "user_id",
        F.size("es").cast("long").alias("n_events"),
        F.round(ewma, 6).alias("ewma_cents"),
    )


_Z_WIN = 20  # trailing window (current row + 19 predecessors)
_Z_THRESH_SQ = 9  # |z| > 3


@REG.add(
    "events_user_zscore_anomalies",
    sql=f"""
    WITH c AS (
      SELECT user_id, ts, event_id,
             CAST(ROUND(value * 100) AS BIGINT) AS vc
      FROM events WHERE user_id < 100
    ), w AS (
      SELECT user_id, vc,
             SUM(vc) OVER win AS s,
             SUM(vc * vc) OVER win AS sq,
             COUNT(*) OVER win AS n
      FROM c
      WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN {_Z_WIN - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT user_id,
           COUNT(*) FILTER (WHERE n = {_Z_WIN}) AS n_checked,
           CAST(COALESCE(SUM(CASE WHEN n = {_Z_WIN}
                 AND (n - 1) * (n * vc - s) * (n * vc - s)
                     > {_Z_THRESH_SQ} * n * (n * sq - s * s)
                 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_anomalies
    FROM w GROUP BY user_id ORDER BY user_id
    """,
)
def events_user_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly counts per user: a value is anomalous when
    it sits more than 3 sample standard deviations from its own trailing
    20-event (_Z_WIN) window's mean — the streaming-telemetry outlier gate.

    The threshold test is INTEGER-EXACT: with cents values, windowed sum s,
    windowed sum-of-squares sq and n, ``z² > 9`` is equivalent to
    ``(n−1)·(n·v−s)² > 9·n·(n·sq−s²)`` — pure int64 algebra. Exactness
    bound: with n = _Z_WIN = 20, the largest term (n−1)·(n·v−s)² stays inside
    int64 for |cents| ≤ 3·10⁷ ($300k — testdata max is 56 021); beyond
    that Spark's long arithmetic raises under ANSI while DuckDB widens to
    HUGEINT, so larger money domains must downscale or use DECIMAL (see
    functions/exact.py). Within the bound no float stddev formulation
    (Welford vs two-pass, engine-dependent in the last ulp) can flip a
    boundary case, and the oracle matches hash-exactly.

    Scale shape: one shuffle on user_id, trailing ROWS frames computed in a
    single pass per partition (bounded frame, no re-sort per row); warm-up
    rows (n < _Z_WIN) are excluded from both the checked and anomaly
    counts on both engines."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    c = ev.select("user_id", "ts", "event_id", cents("value").alias("vc"))
    return user_zscore_anomalies(c).orderBy("user_id")


def user_zscore_anomalies(
    df: DataFrame, order_cols: tuple[str, ...] = ("ts", "event_id")
) -> DataFrame:
    """Factored z-score core over (user_id, *order_cols, vc) — the SHIPPED
    window + integer flag the unit tests exercise directly."""
    win = (
        Window.partitionBy("user_id")
        .orderBy(*order_cols)
        .rowsBetween(-(_Z_WIN - 1), 0)
    )
    w = df.select(
        "user_id",
        "vc",
        F.sum("vc").over(win).alias("s"),
        F.sum(F.col("vc") * F.col("vc")).over(win).alias("sq"),
        F.count(F.lit(1)).over(win).alias("n"),
    )
    full = F.col("n") == _Z_WIN
    dev = F.col("n") * F.col("vc") - F.col("s")
    var_n = F.col("n") * F.col("sq") - F.col("s") * F.col("s")
    flag = full & (
        (F.col("n") - 1) * dev * dev > _Z_THRESH_SQ * F.col("n") * var_n
    )
    return w.groupBy("user_id").agg(
        F.sum(F.when(full, 1).otherwise(0)).cast("long").alias("n_checked"),
        F.sum(F.when(flag, 1).otherwise(0)).cast("long").alias("n_anomalies"),
    )


# CUSUM reference and decision interval, in cents. The reference is the
# a-priori process target (production: the calibrated process mean); the
# decision interval H is ~5 sigma-equivalents. Both are committed constants
# so the lane is a pure function of the data.
_CUSUM_K = 6000
_CUSUM_H = 50_000


@REG.add(
    "events_user_cusum_alarms",
    sql=f"""
    WITH c AS (
      SELECT user_id, ts, event_id,
             CAST(ROUND(value * 100) AS BIGINT) - {_CUSUM_K} AS d
      FROM events WHERE user_id < 100 AND value IS NOT NULL
    ), p AS (
      SELECT user_id, ts, event_id,
             SUM(d) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS pfx
      FROM c
    ), s AS (
      SELECT user_id,
             -- the running minimum must include the EMPTY prefix (P = 0):
             -- S_i = P_i - min(0, min_j<=i P_j); without the 0 the first
             -- row's own prefix cancels itself (caught by
             -- tests/test_streaming.py::test_cusum_window_form_equals_recurrence)
             GREATEST(pfx - LEAST(MIN(pfx) OVER (PARTITION BY user_id
                                                 ORDER BY ts, event_id
                                                 ROWS UNBOUNDED PRECEDING),
                                  0),
                      0) AS cusum
      FROM p
    )
    SELECT user_id,
           CAST(SUM(CASE WHEN cusum > {_CUSUM_H} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_alarm_rows,
           CAST(MAX(cusum) AS BIGINT) AS max_cusum
    FROM s GROUP BY user_id ORDER BY user_id
    """,
)
def events_user_cusum_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM change detection per user: the control-chart statistic
    S_i = max(0, S_{i-1} + (v_i − k)) with reference k and decision interval
    H — upward level-shift detection for telemetry streams.

    The recurrence LOOKS sequential, but has an exact window form:
    S_i = P_i − min(0, min_{j ≤ i} P_j), where P is the running prefix sum of
    (v − k) — so the whole lane is two trailing window passes per user
    (prefix sum, running minimum of it), never a fold; the per-key series
    does NOT need to fit in memory, unlike fold-evaluated recurrences
    (contrast user_ewma's bounded-series fold and its documented scan
    promotion path — CUSUM's max(0, ·) structure collapses to windows
    outright). All arithmetic is int64 cents (|cents| ≤ 3·10⁷ over ≤ 10⁶
    rows per key stays in range), so the oracle matches hash-exactly.
    Output: per user, the count of rows in alarm state (S > H) and the
    high-water mark of S."""
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("user_id") < 100) & F.col("value").isNotNull()
    )
    c = ev.select(
        "user_id", "ts", "event_id", (cents("value") - _CUSUM_K).alias("d")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    p = c.select("user_id", F.sum("d").over(w).alias("pfx"), "ts", "event_id")
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # least(..., 0): the running minimum must include the empty prefix
    # (P = 0) or the first row's own prefix cancels itself — see the oracle
    # comment and the window-vs-recurrence identity test
    s = p.select(
        "user_id",
        F.greatest(
            F.col("pfx") - F.least(F.min("pfx").over(w2), F.lit(0)), F.lit(0)
        ).alias("cusum"),
    )
    return (
        s.groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("cusum") > _CUSUM_H, 1).otherwise(0))
            .cast("long")
            .alias("n_alarm_rows"),
            F.max("cusum").cast("long").alias("max_cusum"),
        )
        .orderBy("user_id")
    )


@REG.add(
    "events_daily_peak_concurrency",
    sql="""
    WITH pts AS (
      SELECT CAST(ts AS DATE) AS day, epoch_us(ts) AS t, 1 AS d
      FROM events WHERE user_id < 100
      UNION ALL
      SELECT CAST(ts AS DATE), epoch_us(ts) + 300000000, -1
      FROM events WHERE user_id < 100
    ), run AS (
      SELECT day, d,
             SUM(d) OVER (PARTITION BY day ORDER BY t, d
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      FROM pts
    )
    SELECT day,
           CAST(MAX(c) AS BIGINT) AS peak_concurrency,
           CAST(SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_events
    FROM run GROUP BY day ORDER BY day
    """,
)
def events_daily_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per day by sweep-line: each event occupies
    [ts, ts+5min); emit +1 at start and -1 at end, running-sum the deltas
    in time order, take the per-day max. The interval is attributed to its
    START day so each day's sweep is self-contained.

    This is THE scale shape for interval-overlap questions: a self-join
    ("count rows whose interval overlaps mine") is O(n·k) candidates and
    quadratic in dense regions, while the sweep is one union (map-only),
    one partitioned window, one small agg. The window partitions by DAY —
    never a global sort; at 100 TB the day key fans the sweep across
    executors and each partition holds one day's boundary points. Ties at
    the same instant order ends (-1) before starts (+1), so back-to-back
    intervals don't double-count; within equal (t, d) the running sum's
    intermediate order is engine-dependent but every intermediate value
    the MAX can observe is identical (all ties carry the same delta).

    Exactness: integer microseconds end-to-end — no float time math."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    t = F.unix_micros("ts")
    starts = ev.select(F.to_date("ts").alias("day"), t.alias("t"), F.lit(1).alias("d"))
    ends = ev.select(
        F.to_date("ts").alias("day"),
        (t + F.lit(300_000_000)).alias("t"),
        F.lit(-1).alias("d"),
    )
    w = (
        Window.partitionBy("day")
        .orderBy("t", "d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = starts.unionByName(ends).select("day", "d", F.sum("d").over(w).alias("c"))
    return (
        run.groupBy("day")
        .agg(
            F.max("c").cast("long").alias("peak_concurrency"),
            F.sum(F.when(F.col("d") == 1, 1).otherwise(0)).cast("long").alias("n_events"),
        )
        .orderBy("day")
    )


@REG.add(
    "events_cumulative_distinct_users",
    sql="""
    WITH firstday AS (
      SELECT event_type, user_id, MIN(CAST(ts AS DATE)) AS day
      FROM events GROUP BY event_type, user_id
    ), newbyday AS (
      SELECT event_type, day, COUNT(*) AS n_new
      FROM firstday GROUP BY event_type, day
    )
    SELECT event_type, day,
           CAST(n_new AS BIGINT) AS n_new_users,
           CAST(SUM(n_new) OVER (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_distinct_users
    FROM newbyday ORDER BY event_type, day
    """,
)
def events_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running distinct-user count per event type, reported at each day a
    new user first appears — the growth-curve query behind every DAU/
    cumulative-reach dashboard.

    A naive COUNT(DISTINCT) OVER (ORDER BY day) is unsupported in Spark
    (and where supported it re-deduplicates the full prefix per row —
    O(days · users)). The exact decomposition here does the distinct work
    ONCE: min-day per (type, user) — an ordinary partial-agg groupBy on
    the high-cardinality key — then a count per (type, day), then a
    cumulative sum over the day-grain rows. The only window runs over
    ≤ |days| rows per type, so the 100 TB cost is the one (type, user)
    shuffle; state never exceeds the day grid."""
    ev = load_table(spark, sf_dir, "events")
    firstday = ev.groupBy("event_type", "user_id").agg(
        F.min(F.to_date("ts")).alias("day")
    )
    newbyday = firstday.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("n_new")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return newbyday.select(
        "event_type",
        "day",
        F.col("n_new").cast("long").alias("n_new_users"),
        F.sum("n_new").over(w).cast("long").alias("cum_distinct_users"),
    ).orderBy("event_type", "day")


@REG.add(
    "stream_from_delta_counts",
    sql="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events WHERE user_id < 100
    GROUP BY event_type
    """,
)
def stream_from_delta_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming FROM the lakehouse: land the (bounded) event
    slice into a delta_lite table across three append commits, then run a
    real streaming aggregation over ``format("delta_lite_stream")`` (the
    Python Data Source stream reader tailing the commit log — offsets are
    log versions, one input partition per added file) and prove
    exactly-once delivery against the batch aggregate of the same rows.

    This closes the lakehouse streaming loop: stream INTO delta
    (delta_foreach_batch_sink, exactly-once txn) and now stream OUT of it
    — the table-as-a-queue pattern every medallion architecture chains
    bronze->silver with. At scale the reader's offset progression is
    O(new commits) and each micro-batch reads only the files those
    commits added; the aggregation state is |event_type|-sized."""
    import shutil
    import tempfile

    from ..sources.pyds import DeltaLiteStreamDataSource

    spark.dataSource.register(DeltaLiteStreamDataSource)
    ev = pin(
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 100)
        .select("event_id", "event_type", cents("value").alias("value_cents"))
        # three append commits below each filter this slice; checkpointed,
        # the events scan + nanos conversion runs once, not three times (r12)
    )
    table = tempfile.mkdtemp(prefix="delta_stream_src_")
    try:
        for i in range(3):
            _delta_lite.write_delta(
                ev.filter(F.col("event_id") % 3 == i),
                table,
                mode="append" if i else "overwrite",
            )
        stream = spark.readStream.format("delta_lite_stream").load(table)
        agg = stream.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value_cents").alias("value_cents"),
        )
        return sev.run_to_completion(agg, "complete")
    finally:
        shutil.rmtree(table, ignore_errors=True)
