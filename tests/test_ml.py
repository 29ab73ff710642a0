"""Golden-metric tests for the four reference-program pipelines (SURVEY §5
strategy #2) + invariants for hash/vector transforms the oracle can't check."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_analytics_machine_learning_poc_spark.ml import (
    correlator,
    fixtures,
    random_forest,
    spam,
    tfidf_regression,
)

from .conftest import SF_DIR, persistent_rdd_ids


@pytest.fixture(scope="module")
def medical(spark):
    return fixtures.medical_charges(spark)


@pytest.mark.parametrize(
    "build",
    [fixtures.medical_charges, fixtures.user_know, fixtures.spam, fixtures.hotel_reviews],
    ids=lambda f: f.__name__,
)
def test_fixture_plan_has_no_python_rdd_scan(spark, build):
    """The fixtures reach the JVM as a local relation: no job that reads one
    starts a Python worker to unpickle its rows."""
    qe = build(spark)._jdf.queryExecution()
    assert "Scan ExistingRDD" not in qe.executedPlan().toString()
    assert "PythonRDD" not in qe.toRdd().toDebugString()


def test_correlator_clean_drops_exactly_13(spark, medical):
    """FIXTURES.md A1 invariant: 1338 raw → 1325 clean (13 dirty cells on
    distinct rows, replicating medical_charges.csv)."""
    assert medical.count() == 1338
    assert correlator.clean(medical).count() == 1325


def test_correlator_run(spark, medical):
    out = correlator.run(medical)
    assert out["clean_count"] == 1325
    # 5 age buckets present (18-64 spans all Bucketizer splits)
    assert len(out["agg_by_age_bucket"]) == 5
    # filter on grouping col: only smoker='yes' groups, one per region
    assert all(r.smoker == "yes" for r in out["min_by_region_smoker"])
    assert len(out["min_by_region_smoker"]) == 4
    # charges built as 200*age + 300*bmi + smoker effect; the smoker term
    # dominates variance (as in the real dataset), so age/bmi corr is
    # positive but moderate (FIXTURES.md A1: corr(charges, ·) > 0)
    assert out["correlations"]["age"] > 0.15
    assert out["correlations"]["bmi"] > 0.15
    assert "ind_smoker" in out["correlations"]
    assert out["features_schema"].startswith("struct<label:double,features:")


def test_random_forest_golden(spark):
    data = fixtures.user_know(spark)
    out = random_forest.run(data)
    assert out["f1"] > 0.6, f"f1 regressed: {out['f1']}"
    # confusion matrix covers string labels, not indices
    labels = {r.labelStr for r in out["confusion"]}
    assert labels <= {"very_low", "Low", "Middle", "High"}
    assert len(out["feature_importances"]) == 5
    # label audit is a bijection value<->index (SURVEY §7 known-hard #3)
    audit = {(r.SKL, r.label) for r in out["label_audit"]}
    assert len({a for a, _ in audit}) == len({b for _, b in audit}) == len(audit)
    # RandomForest.java:72 parity: the model dump is surfaced, with the
    # configured forest size and a real (multi-node) tree structure
    assert out["num_trees"] == 20
    assert out["model_debug"].count("Tree 19") == 1
    assert out["total_num_nodes"] >= 20  # at least a root per tree
    assert "RandomForestClassificationModel" in out["model_debug"]


def test_spam_pipeline_golden(spark):
    data = fixtures.spam(spark)
    assert data.count() == 5434
    out = spam.run(data)
    # null labels dropped before split
    assert out["n_train"] + out["n_test"] < 5434
    # RF with default numTrees=20 underfits the word-soup features a bit;
    # DT nails it — golden floors reflect that
    assert out["rf_accuracy"] > 0.8, out
    assert out["dt_accuracy"] > 0.9, out
    assert abs(out["rf_test_error"] - (1 - out["rf_accuracy"])) < 1e-12


def test_tfidf_regression_golden(spark):
    reviews = fixtures.hotel_reviews(spark)
    out = tfidf_regression.run(reviews)
    # score = 5 + .12*n_pos - .08*n_neg + N(0,.8): informative features ⇒
    # RMSE well under label stddev (~1.5)
    assert out["rmse"] < 1.3, out
    assert -1.0 <= out["nationality_corr"] <= 1.0
    assert out["n_test"] > 0


@pytest.mark.parametrize(
    "program, build",
    [(tfidf_regression, fixtures.hotel_reviews), (random_forest, fixtures.user_know)],
    ids=["tfidf_regression", "random_forest"],
)
def test_split_programs_release_their_storage(spark, program, build):
    """The cached inputs, the featurized checkpoint and both checkpointed
    split halves are all released by the time ``run`` returns."""
    data = build(spark)
    before = persistent_rdd_ids(spark)
    program.run(data)
    assert persistent_rdd_ids(spark) - before == set()


def test_hashingtf_idf_invariants(spark):
    """SURVEY §7 known-hard #4: murmur3 bucket ids are engine-specific →
    check invariants instead: nnz ≤ numFeatures, norms non-negative,
    identical docs get identical vectors."""
    from big_data_analytics_machine_learning_poc_spark.operators.encoding import hashingtf_idf_stats

    out = hashingtf_idf_stats(spark, SF_DIR).collect()
    assert all(0 <= r.nnz <= 1000 for r in out)
    assert all(r.l2_norm >= 0 for r in out)


def test_ml_queries_run(spark):
    from big_data_analytics_machine_learning_poc_spark.operators import mlops

    conf = mlops.ml_rf_confusion(spark, SF_DIR).collect()
    assert sum(r.n for r in conf) > 0
    # embeddings.label domain is 0..9; predictions live in the same domain
    assert all(0 <= r.label <= 9 and 0 <= r.prediction <= 9 for r in conf)
    rmse = mlops.ml_lr_rmse(spark, SF_DIR).collect()[0].rmse
    assert rmse > 0
    clusters = mlops.ml_kmeans_clusters(spark, SF_DIR).collect()
    assert len(clusters) == 4


def test_ml_confusion_deterministic(spark):
    """Seeded RF on identical partitioning must reproduce exactly."""
    from big_data_analytics_machine_learning_poc_spark.operators import mlops

    a = sorted(map(tuple, mlops.ml_rf_confusion(spark, SF_DIR).collect()))
    b = sorted(map(tuple, mlops.ml_rf_confusion(spark, SF_DIR).collect()))
    assert a == b


def test_auc_rank_sum_planted(spark, tmp_path):
    """Exact AUC identity on hand-computable cases: perfect separation -> 1,
    perfect inversion -> 0, and an all-tied score -> exactly 0.5."""
    from big_data_analytics_machine_learning_poc_spark.operators.mlops import REG as MREG

    def run(rows):
        spark.createDataFrame(
            [(i, "x", lang, "src0", n) for i, (n, lang) in enumerate(rows)],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
        [r] = MREG.queries["ml_auc_rank_sum"](spark, str(tmp_path)).collect()
        return r

    # positives (en) all score higher -> AUC 1
    r = run([(10, "de"), (20, "de"), (30, "en"), (40, "en")])
    assert (r.p_count, r.n_count, r.auc) == (2, 2, 1.0)
    # positives all score lower -> AUC 0
    r = run([(30, "en"), (40, "en"), (50, "de"), (60, "de")])
    assert r.auc == 0.0
    # every score tied -> midranks make AUC exactly 0.5
    r = run([(7, "en"), (7, "de"), (7, "en"), (7, "de")])
    # auc_num2 = 2*P*N*AUC, so 0.5 -> exactly P*N
    assert r.auc == 0.5 and r.auc_num2 == r.p_count * r.n_count


def test_pagerank_matches_pure_python_reference(spark):
    """PageRank on a planted 4-node graph vs an independent pure-Python
    implementation (uniform dangling-mass redistribution), to 1e-9."""
    from big_data_analytics_machine_learning_poc_spark.operators.graph import pagerank

    edge_list = [("a", "b"), ("a", "c"), ("b", "c"), ("d", "a")]  # c dangles
    edges = spark.createDataFrame(edge_list, "src string, dst string")
    got = {r.node: r.rank for r in pagerank(edges, iterations=10).collect()}

    nodes = sorted({n for e in edge_list for n in e})
    out = {}
    for s, _ in edge_list:
        out[s] = out.get(s, 0) + 1
    ranks = {n: 1.0 / len(nodes) for n in nodes}
    for _ in range(10):
        dangling = sum(r for n, r in ranks.items() if n not in out)
        base = 0.15 / len(nodes) + 0.85 * dangling / len(nodes)
        nxt = {n: base for n in nodes}
        for s, d in edge_list:
            nxt[d] += 0.85 * ranks[s] / out[s]
        ranks = nxt
    assert abs(sum(got.values()) - 1.0) < 1e-9  # mass conserved
    for n in nodes:
        assert abs(got[n] - ranks[n]) < 1e-9, (n, got[n], ranks[n])


def test_pagerank_lane_integer_ids_match_string_build(spark):
    """graph_pagerank_procurement packs node ids into BIGINTs for the
    iteration loop (r12: narrower shuffle keys, guide §2.3) and
    reconstructs the "c:"/"s:" labels after. The declared output must
    equal the original string-keyed construction at 6 dp."""
    from pyspark.sql import functions as F

    from big_data_analytics_machine_learning_poc_spark.catalog import load_table
    from big_data_analytics_machine_learning_poc_spark.operators.graph import (
        REG,
        pagerank,
    )

    sf_dir = "/root/testdata/sf0.001"
    got = [
        (r.node, r.rank)
        for r in REG.queries["graph_pagerank_procurement"](spark, sf_dir).collect()
    ]
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    want = [
        (r.node, r.rank)
        for r in pagerank(edges, iterations=10)
        .select("node", F.round("rank", 6).alias("rank"))
        .orderBy(F.col("rank").desc(), "node")
        .limit(20)
        .collect()
    ]
    # tolerance compare, not exact equality (ADVICE r12): the two builds
    # shuffle on different key types (long vs string), so float partial
    # sums can differ in the last bits — a rank at a 0.5e-6 rounding
    # boundary may flip a 6th-dp digit without being wrong, so a node within
    # 1e-6 of the #20 rank may swap places with #21. Membership is compared
    # only for nodes more than 1e-6 from the #20 rank (the ranks are
    # rounded to 6 dp, so 1.5e-6 separates "one unit" from "two units"
    # without float ambiguity); every shared node's rank must agree.
    cutoff = want[-1][1]
    got_by_node, want_by_node = dict(got), dict(want)
    assert {n for n, r in want if abs(r - cutoff) > 1.5e-6} <= got_by_node.keys()
    assert {n for n, r in got if abs(r - cutoff) > 1.5e-6} <= want_by_node.keys()
    for n in got_by_node.keys() & want_by_node.keys():
        assert abs(got_by_node[n] - want_by_node[n]) <= 1e-6, (n, got_by_node[n], want_by_node[n])
