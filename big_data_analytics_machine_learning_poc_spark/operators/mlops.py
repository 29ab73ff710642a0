"""Driver-runnable ML queries over the sf testdata (rows-only checks: model
outputs are not SQL-expressible — the driver records the documented weaker
check, SURVEY §5).

Each is seeded and partition-stable so repeated runs agree; golden-metric
assertions live in tests/test_ml.py against the FIXTURES.md corpora.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.ckpt import pin
from ..functions.localrows import local_rows_df
from ..registry import QueryRegistry

REG = QueryRegistry()


@REG.add("ml_rf_confusion")  # rows-only: model predictions not SQL-expressible
def ml_rf_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RandomForest on embeddings (label ← embedding vector), confusion
    matrix as a relational op (mirrors RandomForest.java:86-87)."""
    from pyspark.ml.classification import RandomForestClassifier
    from pyspark.ml.functions import array_to_vector

    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("label").cast("double").alias("label"),
        array_to_vector(F.col("embedding")).alias("features"),
    )
    train, test = emb.randomSplit([0.7, 0.3], seed=42)
    model = RandomForestClassifier(
        labelCol="label", featuresCol="features", numTrees=20, seed=42
    ).fit(train)
    preds = model.transform(test)
    return (
        preds.groupBy(
            F.col("label").cast("int").alias("label"),
            F.col("prediction").cast("int").alias("prediction"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("label", "prediction")
    )


@REG.add("ml_lr_rmse")  # rows-only
def ml_lr_rmse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LinearRegression: l_extendedprice ~ quantity + discount + tax
    (mirrors TfIdfCalculator.java:131-148's fit→transform→RMSE shape)."""
    from pyspark.ml.evaluation import RegressionEvaluator
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import LinearRegression

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("label"), "l_quantity", "l_discount", "l_tax"
    )
    # fit + evaluate otherwise each replay the lineitem scan + assembler;
    # checkpoint preserves partitioning so the seeded split draws identical
    # rows (r12)
    assembled = pin(
        VectorAssembler(
            inputCols=["l_quantity", "l_discount", "l_tax"], outputCol="features"
        ).transform(li),
        eager=False,
    )
    train, test = assembled.randomSplit([0.7, 0.3], seed=42)
    model = LinearRegression(featuresCol="features", labelCol="label").fit(train)
    rmse = RegressionEvaluator(
        labelCol="label", predictionCol="prediction", metricName="rmse"
    ).evaluate(model.transform(test))
    return local_rows_df(spark, [(float(rmse),)], "rmse double")


@REG.add("ml_kmeans_clusters")  # rows-only
def ml_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded KMeans over embeddings → cluster size distribution (extension
    beyond the reference surface; the unsupervised counterpart of the
    similarity bucketing in operators/similarity.py)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", array_to_vector(F.col("embedding")).alias("features")
    )
    model = KMeans(k=4, seed=42, featuresCol="features").fit(emb)
    return (
        model.transform(emb)
        .groupBy(F.col("prediction").alias("cluster"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("cluster")
    )


@REG.add(
    "grouped_zscore_applyinpandas",
    sql="""
    WITH g AS (
      SELECT event_type,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS sum_cents,
             COUNT(*) AS n
      FROM events GROUP BY event_type
    ), dev AS (
      SELECT e.event_id, e.event_type,
             CAST(ROUND(e.value * 100) AS BIGINT) * g.n - g.sum_cents AS d,
             g.n AS n
      FROM events e JOIN g USING (event_type)
    ), ss AS (
      SELECT event_type, SUM(d * d) AS ssq, ANY_VALUE(n) AS n FROM dev GROUP BY event_type
    )
    SELECT dev.event_id,
           ROUND(CAST(dev.d AS DOUBLE) * sqrt(CAST(dev.n AS DOUBLE))
                 / NULLIF(sqrt(CAST(ss.ssq AS DOUBLE)), 0), 6) AS zscore
    FROM dev JOIN ss USING (event_type)
    WHERE dev.event_id < 2000
    """,
)
def grouped_zscore_applyinpandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas (the remaining Arrow UDF lane next to the
    scalar pandas_udf, mapInPandas, and applyInPandasWithState): per-group
    population z-score of value.

    Exactness across engines without trusting float summation order:
    deviations are computed in scaled integers, d = v_cents·n − Σcents
    (exact); with Σd² = n³σ²_cents the population z-score is
    z = (v−μ)/σ = d·√n / √(Σd²). Σd² is summed as arbitrary-precision ints
    in pandas and HUGEINT in DuckDB, so the doubles fed to sqrt are
    bit-identical, and the final expression multiplies/divides in the same
    order on both sides.
    """
    import math

    import pandas as pd

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        cents = (pdf["value"] * 100).round().astype("int64")
        n = len(pdf)
        total = int(cents.sum())
        d = cents.astype(object) * n - total  # python ints: exact
        ssq = sum(int(x) * int(x) for x in d)
        sqrt_ssq = math.sqrt(float(ssq))
        sqrt_n = math.sqrt(float(n))
        z = [
            round(float(x) * sqrt_n / sqrt_ssq, 6) if ssq != 0 else None for x in d
        ]
        return pd.DataFrame({"event_id": pdf["event_id"], "zscore": z})

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    out = ev.groupBy("event_type").applyInPandas(zscore, schema="event_id long, zscore double")
    return out.filter(F.col("event_id") < 2000)


# --------------------------------------------------------------------------
# The four reference programs, driver-visible end-to-end (rows-only: model
# metrics are not SQL-expressible; golden floors asserted in tests/test_ml.py).
# Each runs on the deterministic FIXTURES.md corpus (seeded, in-memory) —
# the reference's own CSVs are not shippable (SURVEY §1.4).
# --------------------------------------------------------------------------


@REG.add("ml_reference_correlator")  # rows-only
def ml_reference_correlator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataCorrelator.java end-to-end: clean → bucket → agg → corr loop."""
    from ..ml import correlator, fixtures

    out = correlator.run(fixtures.medical_charges(spark))
    rows = [("clean_count", float(out["clean_count"]))] + [
        (f"corr_{k}", round(v, 6)) for k, v in sorted(out["correlations"].items())
    ]
    return local_rows_df(spark, rows, "metric string, value double")


@REG.add("ml_reference_random_forest")  # rows-only
def ml_reference_random_forest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RandomForest.java end-to-end: index → assemble → RF → confusion + f1."""
    from ..ml import fixtures, random_forest

    out = random_forest.run(fixtures.user_know(spark))
    rows = [("f1", round(out["f1"], 6)), ("n_test", float(out["n_test"]))]
    return local_rows_df(spark, rows, "metric string, value double")


@REG.add("ml_reference_spam")  # rows-only
def ml_reference_spam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SpamClassification.java end-to-end: 7-stage pipeline, RF + DT."""
    from ..ml import fixtures, spam

    out = spam.run(fixtures.spam(spark, n=2000))
    rows = [
        ("rf_accuracy", round(out["rf_accuracy"], 6)),
        ("dt_accuracy", round(out["dt_accuracy"], 6)),
        ("n_train", float(out["n_train"])),
        ("n_test", float(out["n_test"])),
    ]
    return local_rows_df(spark, rows, "metric string, value double")


@REG.add("ml_reference_tfidf")  # rows-only
def ml_reference_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TfIdfCalculator.java end-to-end: dual TF-IDF → LR → RMSE."""
    from ..ml import fixtures, tfidf_regression

    out = tfidf_regression.run(fixtures.hotel_reviews(spark, n=1000))
    rows = [
        ("rmse", round(out["rmse"], 6)),
        ("nationality_corr", round(out["nationality_corr"], 6)),
        ("n_test", float(out["n_test"])),
    ]
    return local_rows_df(spark, rows, "metric string, value double")


@REG.add(
    "agg_udaf_geomean",
    sql="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(EXP(AVG(LN(CAST(n_chars AS DOUBLE)))), 6) AS geomean_chars
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def agg_udaf_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized UDAF lane (GROUPED_AGG pandas_udf): a custom aggregate —
    geometric mean of document length — running as an Arrow-batched
    series→scalar reduction inside a regular ``groupBy().agg()``, next to
    built-in aggregates. This is the sanctioned custom-aggregation path
    (SURVEY §2.11 "UDF / UDAF / UDTF"): per-group vectorized NumPy, never
    row-at-a-time Python. Scale note: GROUPED_AGG materializes each
    group's column in one worker — fine for bounded groups like the 5-lang
    domain; an unbounded-group custom agg promotes to the two-phase
    log-sum decomposition in plain SQL (EXP(AVG(LN(x))), which is also the
    oracle here, ROUND-snapped against summation-order ulps)."""
    from ..functions.udafs import geomean, n_rows

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            n_rows(F.col("n_chars")).alias("n_docs"),
            F.round(geomean(F.col("n_chars")), 6).alias("geomean_chars"),
        )
        .orderBy("lang")
    )


@REG.add(
    "grouped_ols_applyinpandas",
    sql="""
    WITH s AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x*x) AS sxx, SUM(x*y) AS sxy, SUM(y*y) AS syy
      FROM (SELECT l_returnflag,
                   CAST(ROUND(l_quantity) AS BIGINT) AS x,
                   CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
            FROM lineitem)
      GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n_rows,
           CAST(n*sxy - sx*sy AS DOUBLE)
             / CAST(n*sxx - sx*sx AS DOUBLE) / 100.0 AS slope,
           CAST(sy*sxx - sx*sxy AS DOUBLE)
             / CAST(n*sxx - sx*sx AS DOUBLE) / 100.0 AS intercept,
           CAST((n*sxy - sx*sy) * (n*sxy - sx*sy) AS DOUBLE)
             / CAST((n*sxx - sx*sx) * (n*syy - sy*sy) AS DOUBLE) AS r2
    FROM s ORDER BY l_returnflag
    """,
)
def grouped_ols_applyinpandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Many-small-models training via grouped-map applyInPandas: one
    closed-form OLS fit (price ~ quantity) per return-flag group — the
    per-entity-model pattern (per-customer forecasters, per-SKU demand
    curves) where 100k tiny models beat one global one. Each group's fit
    runs in a Python worker on its own Arrow batch; groups train in
    parallel across executors with no driver involvement.

    Exactness: all five sufficient statistics (Σx, Σy, Σx², Σxy, Σy²) are
    integer sums (quantities are integral, prices go through cents), and
    slope/intercept/r² are ratios of integer-valued closed forms —
    python's unbounded ints on the Spark side, HUGEINT sums in DuckDB —
    so the final doubles are bit-identical with no rounding snap. The
    int64→unbounded promotion happens in Python (``int()``), mirroring
    DuckDB's BIGINT→HUGEINT SUM promotion."""
    import pandas as pd

    def ols(pdf: pd.DataFrame) -> pd.DataFrame:
        x = (pdf["l_quantity"]).round().astype("int64")
        y = (pdf["l_extendedprice"] * 100).round().astype("int64")
        n = len(pdf)
        sx, sy = int(x.sum()), int(y.sum())
        sxx = int((x * x).sum())
        sxy = sum(int(a) * int(b) for a, b in zip(x, y))  # unbounded ints
        syy = sum(int(b) * int(b) for b in y)
        den = n * sxx - sx * sx
        num = n * sxy - sx * sy
        icnum = sy * sxx - sx * sxy
        r2den = den * (n * syy - sy * sy)
        return pd.DataFrame(
            {
                "l_returnflag": [pdf["l_returnflag"].iloc[0]],
                "n_rows": [n],
                "slope": [float(num) / float(den) / 100.0],
                "intercept": [float(icnum) / float(den) / 100.0],
                "r2": [float(num * num) / float(r2den)],
            }
        )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    return (
        li.groupBy("l_returnflag")
        .applyInPandas(
            ols,
            schema="l_returnflag string, n_rows long, slope double, "
            "intercept double, r2 double",
        )
        .orderBy("l_returnflag")
    )


@REG.add(
    "ml_auc_rank_sum",
    sql="""
    WITH scored AS (
      SELECT n_chars AS score,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      FROM documents
    ), ranked AS (
      SELECT pos,
             2 * RANK() OVER (ORDER BY score)
               + COUNT(*) OVER (PARTITION BY score) - 1 AS mid2
      FROM scored
    ), tot AS (
      SELECT CAST(SUM(pos) AS BIGINT) AS p,
             CAST(COUNT(*) - SUM(pos) AS BIGINT) AS n
      FROM scored
    )
    SELECT tot.p AS p_count, tot.n AS n_count,
           CAST(SUM(CASE WHEN pos = 1 THEN mid2 ELSE 0 END)
                - tot.p * (tot.p + 1) AS BIGINT) AS auc_num2,
           ROUND(CAST(SUM(CASE WHEN pos = 1 THEN mid2 ELSE 0 END)
                      - tot.p * (tot.p + 1) AS DOUBLE)
                 / (2.0 * tot.p * tot.n), 6) AS auc
    FROM ranked, tot GROUP BY tot.p, tot.n
    """,
)
def ml_auc_rank_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distributed ROC-AUC by the tie-corrected Mann-Whitney
    rank-sum identity: AUC = (sum of positive midranks − P(P+1)/2)/(P·N).
    Naive AUC sweeps a sorted score list on one machine; this form is one
    per-score aggregation plus a prefix sum over the DISTINCT-score frame,
    so the full-row sort never happens and ties are handled exactly —
    doubled midranks (2·mid = 2·rows_before + ties + 1) keep every
    intermediate an int64, so the oracle comparison is hash-exact, not
    tolerance-based. The evaluator-side twin (MLlib's
    BinaryClassificationEvaluator) approximates via thresholds; this lane
    is the exact reference a model-eval pipeline certifies against.

    The audited predictor here is deterministic (n_chars scoring
    lang='en', AUC ≈ 0.5 by construction) so the DuckDB oracle can
    reproduce the numbers exactly; plug a model's score column into the
    same shape for real evaluation. The oracle deliberately uses the
    per-ROW midrank window formulation while Spark aggregates per
    DISTINCT score first — independently-derived plans, identical
    integers. Scale: the rows-before count uses the range-partitioned
    two-phase prefix sum (functions/prefix.py) — NO global window
    anywhere in the plan, so the lane needs no lint exception and holds
    even when the distinct-score frame is data-sized."""
    from ..functions.prefix import partitioned_prefix_sum

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    per_score = docs.groupBy("score").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("pos").alias("npos")
    )
    pref = partitioned_prefix_sum(
        per_score, "score", "cnt", "_rows_before", exclusive=True
    )
    contrib = pref.select(
        "cnt",
        "npos",
        (
            F.col("npos") * (2 * F.col("_rows_before") + F.col("cnt") + 1)
        ).alias("pos_mid2"),
    )
    return contrib.agg(
        F.sum("npos").cast("long").alias("p_count"),
        (F.sum("cnt") - F.sum("npos")).cast("long").alias("n_count"),
        (
            F.sum("pos_mid2") - F.sum("npos") * (F.sum("npos") + 1)
        ).cast("long").alias("auc_num2"),
        F.round(
            (F.sum("pos_mid2") - F.sum("npos") * (F.sum("npos") + 1)).cast("double")
            / (2.0 * F.sum("npos") * (F.sum("cnt") - F.sum("npos"))),
            6,
        ).alias("auc"),
    )
