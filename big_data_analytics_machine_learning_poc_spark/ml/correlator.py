"""DataCorrelator re-expressed (reference: DataCorrelator.java:22-83).

Pipeline shape preserved at the operator level — cast-to-null cleaning (:34-36),
na.drop (:40), Bucketizer on age (:41-49), groupBy aggregates (:51,53),
StringIndexer on sex/smoker (:56-63), schema-driven per-column correlation
(:66-72), VectorAssembler (:78-82) — with engine upgrades: try_cast under
ANSI mode, a pin before the multi-pass correlation loop (the reference
re-executes the whole upstream plan per corr call, SURVEY §3.3), and the
correlation loop expressed as ONE aggregate job over all numeric columns
instead of one job per column.

``run`` overlaps its three reads of the cleaned frame (the age-bucket
aggregate, the region/smoker minimum, and the indexer fits plus the
correlation job) with ``functions.fanout``, once ``count()`` has filled the
pin they share. None of them reads another's output, and each is a
deterministic aggregate of the same pinned rows, so the results do not
depend on how their jobs interleave.
"""

from __future__ import annotations

from pyspark.ml.feature import Bucketizer, StringIndexer, VectorAssembler
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, LongType

from ..functions.ckpt import pin, scope
from ..functions.fanout import fanout

AGE_SPLITS = [float("-inf"), 25.0, 35.0, 45.0, 55.0, float("inf")]


def clean(raw: DataFrame) -> DataFrame:
    """Cast-to-null + drop (DataCorrelator.java:34-40): dirty numeric strings
    become null via try_cast (ANSI-safe), then rows with any null drop."""
    return raw.select(
        F.col("age").try_cast("double").alias("age"),
        "sex",
        F.col("bmi").try_cast("double").alias("bmi"),
        F.col("children").try_cast("int").alias("children"),
        "smoker",
        "region",
        F.col("charges").try_cast("double").alias("charges"),
    ).na.drop()


def bucketize_age(df: DataFrame) -> DataFrame:
    return Bucketizer(splits=AGE_SPLITS, inputCol="age", outputCol="bucketed_age").transform(df)


def agg_by_age_bucket(df: DataFrame) -> DataFrame:
    """DataCorrelator.java:51: groupBy bucket → avg(charges), max(bmi)."""
    return (
        bucketize_age(df)
        .groupBy("bucketed_age")
        .agg(F.avg("charges").alias("avg_charges"), F.max("bmi").alias("max_bmi"))
        .orderBy("bucketed_age")
    )


def min_charges_by_region_smoker(df: DataFrame) -> DataFrame:
    """DataCorrelator.java:53 incl. the post-agg filter on a grouping col."""
    return (
        df.groupBy("region", "smoker")
        .agg(F.min("charges").alias("min_charges"))
        .filter(F.col("smoker") == "yes")
        .orderBy("region")
    )


def index_categoricals(df: DataFrame) -> DataFrame:
    """DataCorrelator.java:56-63: StringIndexer on sex and smoker."""
    for col in ("sex", "smoker"):
        df = StringIndexer(inputCol=col, outputCol=f"ind_{col}", handleInvalid="keep").fit(df).transform(df)
    return df


def numeric_correlations(df: DataFrame, target: str = "charges") -> dict[str, float]:
    """DataCorrelator.java:66-72: schema-driven corr(target, c) for every
    non-string column — as ONE aggregate job, not one per column."""
    numeric = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (DoubleType, IntegerType, LongType)) and f.name != target
    ]
    row = df.agg(
        *[F.corr(target, c).alias(c) for c in numeric]
    ).collect()[0]
    return {c: row[c] for c in numeric}


def assemble_features(df: DataFrame) -> DataFrame:
    """DataCorrelator.java:76-82: label + assembled feature vector."""
    assembled = VectorAssembler(
        inputCols=["age", "bmi", "children"], outputCol="features"
    ).transform(df)
    return assembled.select(F.col("charges").alias("label"), "features")


def run(raw: DataFrame) -> dict:
    with scope():
        df = pin(clean(raw), eager=False)
        clean_count = df.count()  # materializes the pin the branches share
        by_age, by_region, corrs = fanout(
            lambda: agg_by_age_bucket(df).collect(),
            lambda: min_charges_by_region_smoker(df).collect(),
            lambda: numeric_correlations(index_categoricals(df)),
        )
        out = {
            "clean_count": clean_count,
            "agg_by_age_bucket": by_age,
            "min_by_region_smoker": by_region,
            "correlations": corrs,
            "features_schema": assemble_features(df).schema.simpleString(),
        }
    return out
