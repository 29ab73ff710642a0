"""SpamClassification re-expressed (reference: SpamClassification.java:29-131).

The 7-stage Pipeline preserved (:96-99): StringIndexer(v1→label) (:60-62),
Tokenizer(v2→words) (:65-67), StopWordsRemover (:70-72), HashingTF(1000)
(:75-78), IDF (:81-83), classifier (RF :86 / DecisionTree :89), and
IndexToString(prediction→predictedLabel) (:91-93). Both model variants are
fit and evaluated with accuracy + test error (:117-130).

Deliberate fix (SURVEY §7 known-hard #5): the reference splits *before*
selecting/cleaning and fits its indexer on pre-clean train data
(SpamClassification.java:42-62), so empty labels can reach transform. Here:
select → na.drop → seeded split → fit.

``run`` overlaps the two split counts and the two model branches (fit,
transform, evaluate) with ``functions.fanout``. Each branch builds its own
pipeline and evaluator, and all of them read the same pinned frame through
the same seeded split, so every branch sees the rows it saw when the
branches ran one after the other and the results are unchanged.
"""

from __future__ import annotations

from pyspark.ml import Pipeline
from pyspark.ml.classification import DecisionTreeClassifier, RandomForestClassifier
from pyspark.ml.evaluation import MulticlassClassificationEvaluator
from pyspark.ml.feature import IDF, HashingTF, IndexToString, StopWordsRemover, StringIndexer, Tokenizer
from pyspark.sql import DataFrame

from ..functions.ckpt import pin, scope
from ..functions.fanout import fanout
from ..operators.encoding import ENGLISH_STOPWORDS


def build_pipeline(classifier) -> Pipeline:
    indexer = StringIndexer(inputCol="v1", outputCol="label")
    tokenizer = Tokenizer(inputCol="v2", outputCol="words")
    remover = StopWordsRemover(
        inputCol="words", outputCol="kept", stopWords=list(ENGLISH_STOPWORDS)
    )
    tf = HashingTF(inputCol="kept", outputCol="tf", numFeatures=1000)
    idf = IDF(inputCol="tf", outputCol="features")
    return Pipeline(stages=[indexer, tokenizer, remover, tf, idf, classifier])


def _accuracy(clf, train: DataFrame, test: DataFrame) -> float:
    """Fit the 7-stage pipeline around ``clf`` on ``train``; its accuracy
    on ``test``."""
    model = build_pipeline(clf).fit(train)
    predictions = model.transform(test)
    # stage 7 (SpamClassification.java:91-93): labels come from the
    # fitted indexer model, exactly as the reference passes them
    labels = model.stages[0].labels
    predictions = IndexToString(
        inputCol="prediction", outputCol="predictedLabel", labels=labels
    ).transform(predictions)
    return MulticlassClassificationEvaluator(
        labelCol="label", predictionCol="prediction", metricName="accuracy"
    ).evaluate(predictions)


def run(raw: DataFrame, seed: int = 42) -> dict:
    with scope():
        clean = pin(raw.select("v1", "v2").na.drop(), eager=False)
        train, test = clean.randomSplit([0.7, 0.3], seed=seed)
        n_train, n_test, rf_acc, dt_acc = fanout(
            train.count,
            test.count,
            lambda: _accuracy(
                RandomForestClassifier(labelCol="label", featuresCol="features", seed=seed),
                train, test,
            ),
            lambda: _accuracy(
                DecisionTreeClassifier(labelCol="label", featuresCol="features", seed=seed),
                train, test,
            ),
        )
        return {
            "n_train": n_train,
            "n_test": n_test,
            "rf_accuracy": rf_acc,
            "rf_test_error": 1.0 - rf_acc,  # SpamClassification.java:126,130
            "dt_accuracy": dt_acc,
            "dt_test_error": 1.0 - dt_acc,
        }
