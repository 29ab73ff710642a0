"""The reference's four programs re-expressed as seeded PySpark pipelines
(SURVEY.md §2.7–§2.9, §7 M3):

- correlator        ← DataCorrelator.java (clean/bucket/agg/corr/assemble)
- tfidf_regression  ← TfIdfCalculator.java (TF-IDF + LinearRegression)
- random_forest     ← RandomForest.java (indexer/assembler/RF/confusion)
- spam              ← SpamClassification.java (7-stage Pipeline, RF + DT)

Deliberate deviations from the reference (SURVEY §7 known-hard #5):
seeded randomSplit everywhere; clean → split → fit ordering (the reference
fits its StringIndexer on pre-clean data, SpamClassification.java:60-62);
parameterized data paths.

Narrowing rule at fit boundaries: when a split frame carries columns that
the fit and the scoring never read, its halves are narrowed to the read
columns and checkpointed (``functions.ckpt.checkpointed_split``), so the
estimator's iteration tasks do not ship the split's sort over every
column. ``tfidf_regression`` and ``random_forest`` qualify; ``spam``
already splits a pinned two-column frame, and ``correlator`` has no split.
"""
