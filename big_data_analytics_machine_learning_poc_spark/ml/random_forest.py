"""RandomForest re-expressed (reference: RandomForest.java:23-93).

Chain preserved: describe() (:37) → StringIndexer SKL→IND_SKL (:40-42) +
label↔index audit groupBy (:43) → label alias + feature select (:47-54) →
VectorAssembler over the 5 study features (:57-61) → seeded 70/30 split
(:65-67; unseeded there) → RandomForestClassifier (:69-71, defaults,
numTrees=20) → IndexToString on label and prediction (:75-78) → confusion
matrix as groupBy(label, prediction).count() (:86-87) → f1 (the evaluator's
default metric — the reference sets none, :90-92).

The split halves are narrowed to ``(label, features)`` and checkpointed
(``functions.ckpt.checkpointed_split``): the forest's per-level jobs and
the scoring read nothing else, and a plain half would make each of their
tasks deserialize the split's sort over all of the assembled frame's
columns. The halves hold the same rows in the same order as the plain
split, so the forest, its importances and the metrics are unchanged.

``run`` overlaps independent actions with ``functions.fanout``: the label
audit runs beside the forest fit, and the confusion matrix, the f1
evaluation and the test count run together on the fitted predictions.
Each branch has its own estimator or evaluator, and each reads only
deterministic inputs (the pinned indexed frame and the checkpointed
halves of its seeded split), so the results do not depend on how the
branches' jobs interleave. The program's scope releases them after the
last join.
"""

from __future__ import annotations

from pyspark.ml.classification import RandomForestClassifier
from pyspark.ml.evaluation import MulticlassClassificationEvaluator
from pyspark.ml.feature import IndexToString, StringIndexer, VectorAssembler
from pyspark.sql import DataFrame

from ..functions.ckpt import checkpointed_split, pin, scope
from ..functions.fanout import fanout

FEATURES = ["SST", "SRT", "SAT", "SAP", "SEP"]


def run(data: DataFrame, seed: int = 42, num_trees: int = 20) -> dict:
    indexer_model = StringIndexer(inputCol="SKL", outputCol="label").fit(data)
    with scope():
        indexed = pin(indexer_model.transform(data), eager=False)
        assembled = VectorAssembler(inputCols=FEATURES, outputCol="features").transform(indexed)
        train, test = checkpointed_split(assembled, [0.7, 0.3], seed, ("label", "features"))

        rf = RandomForestClassifier(
            labelCol="label", featuresCol="features", numTrees=num_trees, seed=seed
        )
        audit, model = fanout(
            lambda: indexed.groupBy("SKL", "label").count().collect(),  # RandomForest.java:43
            lambda: rf.fit(train),
        )
        predictions = model.transform(test)

        labels = indexer_model.labels
        predictions = IndexToString(
            inputCol="label", outputCol="labelStr", labels=labels
        ).transform(predictions)
        predictions = IndexToString(
            inputCol="prediction", outputCol="predictionStr", labels=labels
        ).transform(predictions)

        confusion, f1, n_test = fanout(
            # RandomForest.java:86-87
            lambda: predictions.groupBy("labelStr", "predictionStr").count().collect(),
            # default metric = f1, RandomForest.java:90-92
            lambda: MulticlassClassificationEvaluator(
                labelCol="label", predictionCol="prediction"
            ).evaluate(predictions),
            predictions.count,
        )
        return {
            "label_audit": audit,
            "confusion": confusion,
            "f1": f1,
            "n_test": n_test,
            "feature_importances": model.featureImportances.toArray().tolist(),
            # RandomForest.java:72 prints the fitted model dump; surfaced here
            # with its structural stats so callers (and tests) can audit it.
            "model_debug": model.toDebugString,
            "num_trees": model.getNumTrees,
            "total_num_nodes": model.totalNumNodes,
        }
