"""Physical-plan assertions (the 100 TB design gate).

Correctness says the query returns the right rows; these tests pin the
*plan shape* we need at scale: filters pushed into the parquet scan, column
pruning reaching the reader, broadcast joins for dimension tables, and
whole-stage codegen covering the hot path.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_analytics_machine_learning_poc_spark.catalog import load_table
from big_data_analytics_machine_learning_poc_spark.operators import relational
from big_data_analytics_machine_learning_poc_spark.plans import (
    executed_plan as _physical,
    formatted_plan as _formatted,
    pushed_filters,
    read_schema_line,
)

from .conftest import SF_DIR


def test_filter_pushdown_reaches_scan(spark):
    df = relational.filter_pred(spark, SF_DIR)
    pushed = pushed_filters(df)
    assert pushed, _formatted(df)
    # the equality + range predicates must appear in the pushed set
    assert "l_returnflag" in pushed[0] and "l_quantity" in pushed[0]


def test_column_pruning_reaches_scan(spark):
    df = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    line = read_schema_line(df)
    assert line, _formatted(df)
    assert "l_extendedprice" not in line, "scan reads unprojected columns"


def test_broadcast_join_for_dimension(spark):
    df = relational.join_broadcast_dim(spark, SF_DIR)
    assert "BroadcastHashJoin" in _physical(df)


def test_star_join_broadcasts_all_dims(spark):
    df = relational.flagship_regional_revenue(spark, SF_DIR)
    plan = _physical(df)
    assert plan.count("BroadcastHashJoin") >= 3, "dimension joins should broadcast"
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or plan.count("BroadcastHashJoin") >= 4


def test_partial_aggregation_before_shuffle(spark):
    """groupBy must plan partial (map-side) + final hash aggregation."""
    df = relational.agg_avg_max(spark, SF_DIR)
    plan = _physical(df)
    assert plan.count("HashAggregate") >= 2


def test_wholestage_codegen_covers_agg(spark):
    df = relational.group_count(spark, SF_DIR)
    df.collect()  # materialize so AQE finalizes the adaptive plan
    # formatted explain marks codegen stages as "[codegen id : N]"
    assert "codegen id" in _formatted(df)


def test_minhash_pairs_avoids_cartesian(spark):
    """The LSH band join must be an equi-join on bucket keys, never a
    cartesian/nested-loop product — THE scale property of minhash dedup."""
    from big_data_analytics_machine_learning_poc_spark.operators.dedup import dedup_minhash_pairs

    plan = _physical(dedup_minhash_pairs(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_cosine_avoids_all_pairs(spark):
    """Embedding near-dup must get candidates from the sign-bucket equi-join,
    never an all-pairs nested loop (O(n²) at corpus scale)."""
    from big_data_analytics_machine_learning_poc_spark.operators.dedup import (
        dedup_embedding_cosine,
    )

    plan = _physical(dedup_embedding_cosine(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_join_single_key_shuffle(spark):
    """The union+window as-of join shuffles once on the key — no range
    cross-join, no nested loop."""
    from big_data_analytics_machine_learning_poc_spark.operators.asof import (
        asof_purchase_last_click,
    )

    plan = _physical(asof_purchase_last_click(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan


def test_knn_broadcasts_single_query_row(spark):
    """Brute-force kNN crossJoin is against a broadcast single-row query —
    a BroadcastNestedLoopJoin over 1 row is a map-side pass, not a shuffle."""
    from big_data_analytics_machine_learning_poc_spark.operators.similarity import knn_brute_cosine

    plan = _physical(knn_brute_cosine(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # top-k, not global sort


def test_salted_agg_has_two_aggregation_levels(spark):
    from big_data_analytics_machine_learning_poc_spark.operators.skew import skew_salted_agg

    plan = _physical(skew_salted_agg(spark, SF_DIR))
    # partial+final for the salted phase AND for the combine phase
    assert plan.count("HashAggregate") >= 4


def test_pack_sequences_partitions_by_shard(spark):
    """Sequence packing must run its running sum inside lang partitions —
    exactly one exchange on the shard key, never a global sort/window."""
    from big_data_analytics_machine_learning_poc_spark.operators.corpus import (
        corpus_pack_sequences,
    )

    plan = _physical(corpus_pack_sequences(spark, SF_DIR))
    assert "Window" in plan
    # a global (unpartitioned) window would plan Exchange SinglePartition
    assert "SinglePartition" not in plan.split("Window")[0]


def test_ngram_topk_partial_agg(spark):
    from big_data_analytics_machine_learning_poc_spark.operators.corpus import (
        corpus_ngram_topk,
    )

    plan = _physical(corpus_ngram_topk(spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2  # partial+final on (lang, bigram)
    assert "CartesianProduct" not in plan


def test_sql_exists_rewrites_to_semi_join(spark):
    """Catalyst must compile EXISTS/NOT EXISTS subqueries to semi/anti
    joins — no per-row subquery execution."""
    from big_data_analytics_machine_learning_poc_spark.operators.sqlfront import (
        sql_exists_subquery,
        sql_not_exists_subquery,
    )

    assert "LeftSemi" in _physical(sql_exists_subquery(spark, SF_DIR))
    assert "LeftAnti" in _physical(sql_not_exists_subquery(spark, SF_DIR))


def test_sql_q6_filters_pushed(spark):
    from big_data_analytics_machine_learning_poc_spark.operators.sqlfront import (
        sql_tpch_q6_revenue,
    )

    df = sql_tpch_q6_revenue(spark, SF_DIR)
    pushed = pushed_filters(df)
    assert pushed and "l_shipdate" in pushed[0] and "l_discount" in pushed[0], _formatted(df)


def test_no_raw_unpartitioned_windows():
    """Engine code must build windows via functions.windows.ranked(), which
    forces either a partition key or a written bounded-input justification —
    a bare Window.orderBy is a single-reducer bottleneck at scale."""
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "big_data_analytics_machine_learning_poc_spark"
    offenders = [
        str(p)
        for p in pkg.rglob("*.py")
        if p.name != "windows.py" and "Window.orderBy(" in p.read_text()
    ]
    assert not offenders, f"raw unpartitioned Window.orderBy in: {offenders}"


def test_ranked_requires_partition_or_justification():
    import pytest as _pytest

    from big_data_analytics_machine_learning_poc_spark.functions.windows import ranked

    with _pytest.raises(ValueError):
        ranked("c")
    assert ranked("c", partition_by="k") is not None
    assert ranked("c", bounded_input="post-agg domain of 5 values") is not None


def test_cache_produces_inmemory_scan(spark):
    """cache() + action must plan InMemoryTableScan on reuse — the fit-
    boundary caching convention (ml/ modules cache before multi-pass fits;
    the reference re-executed its upstream plan per action, SURVEY §3.3)."""
    df = load_table(spark, SF_DIR, "orders").filter("o_totalprice > 1000").cache()
    try:
        df.count()  # materialize
        plan = _physical(df.groupBy("o_orderstatus").count())
        assert "InMemoryTableScan" in plan
    finally:
        df.unpersist()


def test_tpch_q5_pushdown_and_no_cartesian(spark):
    """Q5's 6-way join must stay all-equi-join (the c_nationkey=s_nationkey
    residual rides the supplier join) with the region/date filters pushed."""
    df = relational.tpch_q5_local_supplier_volume(spark, SF_DIR)
    plan = _physical(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    pushed = " ".join(pushed_filters(df))
    assert "r_name" in pushed and "o_orderdate" in pushed


def test_tpch_q10_topk_not_global_sort(spark):
    df = relational.tpch_q10_returned_items(spark, SF_DIR)
    plan = _physical(df)
    assert "TakeOrderedAndProject" in plan
    pushed = " ".join(pushed_filters(df))
    assert "l_returnflag" in pushed


def test_tpch_q18_semi_join_then_topk(spark):
    df = relational.tpch_q18_large_volume_customer(spark, SF_DIR)
    plan = _physical(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_contamination_check_is_equi_join(spark):
    """The train-membership test must be a shingle-hash equi-join — never a
    quadratic candidate stage (same discipline as the LSH dedup family)."""
    from big_data_analytics_machine_learning_poc_spark.operators.corpus import (
        corpus_contamination_check,
    )

    plan = _physical(corpus_contamination_check(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_emb_centroid_scoring_join_broadcasts(spark):
    """Centroids (one row per label) must broadcast to the scoring scan."""
    from big_data_analytics_machine_learning_poc_spark.operators.similarity import (
        emb_centroid_outliers,
    )

    assert "BroadcastHashJoin" in _physical(emb_centroid_outliers(spark, SF_DIR))


def test_tpch_q2_partitioned_window_no_nlj(spark):
    """Q2's =MIN correlation must decorrelate to a Window keyed on
    l_partkey (never a global window or a nested-loop rejoin)."""
    from big_data_analytics_machine_learning_poc_spark.operators.tpch import (
        tpch_q2_min_cost_supplier,
    )

    df = tpch_q2_min_cost_supplier(spark, SF_DIR)
    plan = _physical(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    window_lines = [ln for ln in plan.splitlines() if "Window" in ln]
    assert window_lines and all("l_partkey" in ln for ln in window_lines), plan


def test_tpch_q20_semi_join(spark):
    """Q20's IN-subquery must plan as a semi join, not distinct+inner."""
    from big_data_analytics_machine_learning_poc_spark.operators.tpch import (
        tpch_q20_potential_promotion,
    )

    plan = _physical(tpch_q20_potential_promotion(spark, SF_DIR))
    assert "LeftSemi" in plan, plan


def test_tpch_q21_single_fact_join_broadcast_dims(spark):
    """Q21's double-EXISTS decorrelation must keep exactly one
    lineitem⋈orders sort-merge/shuffled join (the stats agg and the late-
    lines branch reuse it) and broadcast the supplier dim."""
    from big_data_analytics_machine_learning_poc_spark.operators.tpch import (
        tpch_q21_suppliers_who_kept_waiting,
    )

    df = tpch_q21_suppliers_who_kept_waiting(spark, SF_DIR)
    plan = _physical(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan  # supplier/nation/region dims


def test_registry_plan_lint_cheap_modules(spark):
    """Mechanical anti-pattern lint over every query whose plan is cheap to
    construct (no stream/model execution at build time): no cartesian, no
    unjustified nested-loop join, no row-at-a-time Python UDF, no
    unjustified global window. tools/planlint.py covers the full registry."""
    from big_data_analytics_machine_learning_poc_spark.operators import (
        corpus,
        dedup,
        encoding,
        bpe,
        relational,
        similarity,
        sketches,
        sqlfront,
        text,
        tpch,
    )
    from big_data_analytics_machine_learning_poc_spark.plans.barrier import capture_subtrees
    from big_data_analytics_machine_learning_poc_spark.plans.lint import lint_query

    bad = {}
    for reg in (
        relational.REG,
        tpch.REG,
        dedup.REG,
        similarity.REG,
        text.REG,
        corpus.REG,
        encoding.REG,
        sqlfront.REG,
        sketches.REG,
        bpe.REG,
    ):
        for name, fn in reg.queries.items():
            with capture_subtrees() as subtrees:
                df = fn(spark, SF_DIR)
            violations, _ = lint_query(name, df, subtrees)
            if violations:
                bad[name] = sorted(violations)
    assert not bad, bad


def test_runtime_bloom_filter_injection(spark):
    """With runtime bloom filters on, a selective filter on the non-broadcast
    side of a fact-fact join must inject bloom_filter_agg + a probe into the
    other side's scan — pre-shuffle row pruning, the 100 TB lever for joins
    against filtered-but-unbroadcastable sides."""
    from big_data_analytics_machine_learning_poc_spark.session import (
        enable_runtime_bloom_filters,
    )

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        enable_runtime_bloom_filters(spark, application_side_min="1KB")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = load_table(spark, SF_DIR, "lineitem")
        o = load_table(spark, SF_DIR, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("o_orderstatus").count()
        plan = _physical(j)
        assert "bloom_filter_agg" in plan, plan
        assert "might_contain" in plan.lower() or "BloomFilter" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bucketed_join_eliminates_shuffle(spark):
    """Two tables bucketed on the join key with equal bucket counts must
    sort-merge join with NO shuffle exchange — the 'we join on this key
    every day' layout that amortizes one write-time shuffle across every
    future join."""
    from big_data_analytics_machine_learning_poc_spark.sources.sinks import (
        write_bucketed_table,
    )

    o = load_table(spark, SF_DIR, "orders")
    li = load_table(spark, SF_DIR, "lineitem")
    spark.sql("DROP TABLE IF EXISTS bt_orders")
    spark.sql("DROP TABLE IF EXISTS bt_lineitem")
    saved_abt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # sf0.001 tables broadcast otherwise, hiding the bucketed-scan path
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        write_bucketed_table(o, "bt_orders", "o_orderkey", n_buckets=8)
        write_bucketed_table(li, "bt_lineitem", "l_orderkey", n_buckets=8)
        j = (
            spark.table("bt_lineitem")
            .join(
                spark.table("bt_orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = _physical(j)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        assert "Exchange hashpartitioning(l_orderkey" not in plan, plan
        assert "Exchange hashpartitioning(o_orderkey" not in plan, plan
        assert "SelectedBucketsCount" in plan, plan  # bucketed scan active
        assert j.collect()  # and it actually runs
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved_abt)
        spark.sql("DROP TABLE IF EXISTS bt_orders")
        spark.sql("DROP TABLE IF EXISTS bt_lineitem")


# --------------------------------------------------------------------------
# Shuffle budget (plans/budget.py + tools/shufflebudget.py)
# --------------------------------------------------------------------------


def test_exchange_counts_classifies_shuffle_vs_broadcast(spark):
    """The counter must separate data shuffles from broadcast replication:
    a groupBy plans exactly one hash Exchange; a small-side join plans a
    BroadcastExchange that must NOT be counted as a shuffle."""
    from big_data_analytics_machine_learning_poc_spark.plans.budget import exchange_counts

    agg = spark.range(100).groupBy((F.col("id") % 3).alias("k")).count()
    c = exchange_counts(agg)
    assert c["shuffle"] == 1 and c["broadcast"] == 0, c

    dim = spark.range(3).withColumnRenamed("id", "k")
    joined = agg.join(F.broadcast(dim), "k")
    c = exchange_counts(joined)
    assert c["broadcast"] == 1 and c["shuffle"] == 1, c


def test_exchange_counts_sees_single_partition_and_range(spark):
    """Global aggregates (Exchange SinglePartition) and global sorts
    (Exchange rangepartitioning) are both real shuffles."""
    from big_data_analytics_machine_learning_poc_spark.plans.budget import exchange_counts

    glob = spark.range(100).agg(F.sum("id"))
    assert exchange_counts(glob)["shuffle"] == 1

    ranked = spark.range(100).withColumn("v", F.col("id") % 7).orderBy("v")
    assert exchange_counts(ranked)["shuffle"] == 1


def test_exchange_counts_invariant_to_execution(spark):
    """An executed AdaptiveSparkPlan's toString carries BOTH '== Final
    Plan ==' and '== Initial Plan ==' sections; counting the raw string
    doubled every Exchange for any frame collected before measurement
    (the entry module's fingerprint wrapper does exactly that at sf0.01).
    The count must be identical before and after an action. (r6 fix)"""
    from big_data_analytics_machine_learning_poc_spark.plans.budget import exchange_counts

    df = spark.range(100).withColumn("v", F.col("id") % 7).orderBy("v")
    before = exchange_counts(df)
    df.collect()
    from big_data_analytics_machine_learning_poc_spark.plans.explain import executed_plan

    assert "== Initial Plan ==" in executed_plan(df), (
        "precondition: collect() should finalize the adaptive plan"
    )
    assert exchange_counts(df) == before


def test_headline_lane_shuffle_budgets(spark):
    """Pin the headline lanes' shuffle budgets: a regression that adds an
    Exchange to these plans is a scale bug even while correctness stays
    green. (Full-registry growth is gated by tools/shufflebudget.py
    against tools/shuffle_budget.json.)"""
    from big_data_analytics_machine_learning_poc_spark.plans.budget import exchange_counts

    budgets = {
        # lane -> max shuffles: agg + presentation sort
        "group_count": 2,
        "agg_avg_max": 2,
        "group_filter": 2,
        # star join: dims broadcast, fact aggregated then sorted
        "join3_agg": 2,
        # flagship adds an exact COUNT(DISTINCT o_orderkey): Spark plans it
        # as two agg shuffles (re-key on (r_name, o_orderkey), then r_name)
        # + the presentation sort — 3 is the floor for exact distinct.
        "flagship_regional_revenue": 3,
    }
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    for lane, cap in budgets.items():
        c = exchange_counts(qs[lane](spark, SF_DIR))
        assert c["shuffle"] <= cap, (lane, c)


def test_barrier_capture_sees_through_local_checkpoint(spark):
    """ADVICE r6 (medium): a localCheckpoint truncates lineage, so gates
    walking only the returned plan are blind to pre-barrier work. The
    capture must (a) record the pre-barrier frame of each pin, (b) let
    lane_exchange_counts restore the full-lane shuffle count, and (c) let
    lint_query flag a disallowed pattern hidden behind the barrier."""
    import pyspark.sql.functions as SF

    from big_data_analytics_machine_learning_poc_spark.functions.ckpt import pin
    from big_data_analytics_machine_learning_poc_spark.plans.barrier import capture_subtrees
    from big_data_analytics_machine_learning_poc_spark.plans.budget import (
        exchange_counts,
        lane_exchange_counts,
    )
    from big_data_analytics_machine_learning_poc_spark.plans.lint import lint_query

    base = spark.range(100).withColumn("k", SF.col("id") % 7)
    with capture_subtrees() as subtrees:
        pinned = pin(base.groupBy("k").count())  # 1 hidden shuffle
    out = pinned.groupBy((SF.col("k") % 2).alias("b")).agg(SF.sum("count"))
    assert len(subtrees) == 1
    # blind count: only the post-barrier agg shuffle
    assert exchange_counts(out)["shuffle"] == 1
    # full-lane count: pre-barrier agg shuffle + post-barrier agg shuffle
    assert lane_exchange_counts(out, subtrees)["shuffle"] == 2
    # a global window hidden behind a barrier must still lint
    from pyspark.sql.window import Window

    with capture_subtrees() as subtrees2:
        hidden = pin(base.withColumn("rk", SF.row_number().over(Window.orderBy("id"))))
    clean_tail = hidden.groupBy("k").count()
    assert lint_query("no_such_lane", clean_tail)[0] == set()  # blind: passes
    violations, _ = lint_query("no_such_lane", clean_tail, subtrees2)
    assert "global_window" in violations  # captured: flagged
    # the capture patches nothing: the method is Spark's own
    from pyspark.sql import DataFrame

    assert DataFrame.localCheckpoint.__qualname__ == "DataFrame.localCheckpoint"


def test_barrier_nested_captures_do_not_cross_capture(spark):
    """A capture sees the pins made inside it and no others: an inner one
    sees only its own, the outer one sees all of them in pin order, and a
    capture in another thread sees none of this thread's."""
    import threading

    import pyspark.sql.functions as SF

    from big_data_analytics_machine_learning_poc_spark.functions.ckpt import pin
    from big_data_analytics_machine_learning_poc_spark.plans.barrier import capture_subtrees

    base = spark.range(10).withColumn("k", SF.col("id") % 2)
    frames = [base.groupBy("k").count(), base.filter("k = 0"), base.filter("k = 1")]
    other: list = []

    def capture_in_another_thread():
        with capture_subtrees() as seen:
            pin(base.select("id"))
        other.extend(seen)

    with capture_subtrees() as outer:
        pin(frames[0])
        with capture_subtrees() as inner:
            pin(frames[1])
            t = threading.Thread(target=capture_in_another_thread)
            t.start()
            t.join()
        pin(frames[2])
    assert [id(f) for f in inner] == [id(frames[1])]
    assert [id(f) for f in outer] == [id(f) for f in frames]
    assert len(other) == 1 and not any(other[0] is f for f in frames)


def test_r7_pinned_lanes_scan_shapes(spark):
    """Ratchet the r7 multi-consumer checkpoint fixes: each pinned lane's
    worst same-table plan-occurrence count (across the returned plan plus
    captured pre-barrier subtrees, AQE Final sections stripped) must not
    regress — a dropped pin re-inflates the count and fails here, not just
    in the advisory tools/scanaudit.py sweep."""
    import __spark_entry__ as entrymod

    from big_data_analytics_machine_learning_poc_spark.plans.barrier import capture_subtrees
    from big_data_analytics_machine_learning_poc_spark.plans.budget import table_scan_counts

    # lane -> (table, max plan occurrences after the pin)
    pins = {
        "basket_association_rules": ("lineitem", 1),
        "customer_rfm_segments": ("orders", 1),
        "dedup_minhash_pairs": ("documents", 1),
        "dedup_embedding_cosine": ("embeddings", 3),
        "dedup_prefix_filter_pairs": ("documents", 3),
    }
    qs = entrymod._registry().queries
    for lane, (table, cap) in pins.items():
        with capture_subtrees() as subtrees:
            df = qs[lane](spark, SF_DIR)
        tabs = table_scan_counts(df, subtrees)
        assert tabs.get(table, 0) <= cap, (lane, tabs)


def test_shuffle_budget_ledger_in_sync_with_registry():
    """Every registry lane appears in the committed ledger (regenerate via
    tools/shufflebudget.py --baseline after adding lanes)."""
    import json
    from pathlib import Path

    import __spark_entry__ as entrymod

    ledger = json.loads(
        (Path(__file__).resolve().parent.parent / "tools" / "shuffle_budget.json").read_text()
    )["lanes"]
    missing = sorted(set(entrymod.queries()) - set(ledger))
    assert not missing, f"lanes missing from shuffle_budget.json: {missing}"


def test_perfsweep_subset_write_baseline_merges(tmp_path, monkeypatch):
    """perfsweep --write-baseline with a lane SUBSET must merge into the
    existing baseline, not truncate it to the subset (the dropped-lanes
    hazard class from ADVICE r5 #4)."""
    import json
    import sys

    from tools import perfsweep

    base = tmp_path / "perf_baseline.json"
    base.write_text(
        json.dumps(
            {
                "cpus": 4,
                "runs": 3,
                "sf_dir": "sfX",
                "loadavg_start": [0.5],
                "lanes": {
                    "kept_lane": {"median_s": 1.0, "oneshot_s": 2.0, "rows": 1},
                    "swept_lane": {"median_s": 9.0, "oneshot_s": 9.0, "rows": 1},
                },
            }
        )
    )
    fake_report = {
        "cpus": 4,
        "runs": 3,
        "sf_dir": "sfX",
        "loadavg_start": [0.7],
        "lanes": {
            "swept_lane": {
                "median_s": 1.5,
                "oneshot_s": 2.5,
                "rows": 1,
                "record": {"persisted_before": 0, "persisted_after": 0},
            }
        },
    }
    monkeypatch.setattr(perfsweep, "sweep", lambda *a, **k: fake_report)
    monkeypatch.setattr(
        sys,
        "argv",
        ["perfsweep.py", "sfX", "swept_lane", "--write-baseline", str(base)],
    )
    assert perfsweep.main() == 0
    merged = json.loads(base.read_text())
    assert set(merged["lanes"]) == {"kept_lane", "swept_lane"}
    assert merged["lanes"]["swept_lane"]["median_s"] == 1.5
    assert merged["lanes"]["swept_lane"]["record"]["persisted_after"] == 0
    assert merged["lanes"]["kept_lane"]["median_s"] == 1.0
    assert merged["loadavg_start"] == [0.7]


def test_benchfloor_gate_logic(monkeypatch, capsys):
    """benchfloor must (a) SKIP (exit 0) when bench measured under load,
    (b) pass when all prepared medians are under 2x their quiet pins,
    (c) fail listing the breaching lane otherwise. bench.py itself is
    monkeypatched out — this pins the gate logic, not the measurement."""
    import json
    import subprocess
    import types

    from tools import benchfloor

    def fake_bench(queries, load):
        payload = {
            "metric": "bench_total_6q",
            "value": round(sum(queries.values()), 4),
            "queries": queries,
            "loadavg_start": [load],
        }
        return types.SimpleNamespace(
            returncode=0, stdout=json.dumps(payload) + "\n", stderr=""
        )

    quiet = dict(benchfloor._QUIET_MEDIANS_S)

    # (a) loud machine -> skip
    monkeypatch.setattr(
        subprocess, "run", lambda *a, **k: fake_bench(quiet, 7.5)
    )
    assert benchfloor.main() == 0
    assert "SKIP" in capsys.readouterr().out

    # (b) quiet + at-pin medians -> pass
    monkeypatch.setattr(subprocess, "run", lambda *a, **k: fake_bench(quiet, 0.4))
    assert benchfloor.main() == 0
    assert "within 2x quiet floor" in capsys.readouterr().out

    # (c) quiet + one lane at 2.5x its pin -> fail, named
    slow = dict(quiet)
    slow["group_count"] = quiet["group_count"] * 2.5
    monkeypatch.setattr(subprocess, "run", lambda *a, **k: fake_bench(slow, 0.4))
    assert benchfloor.main() == 1
    out = capsys.readouterr().out
    assert "BREACH" in out and "group_count" in out
