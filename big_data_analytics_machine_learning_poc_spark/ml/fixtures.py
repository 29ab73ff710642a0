"""Deterministic reference-shaped fixtures (FIXTURES.md A1–A4).

Generated in-memory with a fixed seed: the reference's CSV datasets (one a
missing blob) can't be shipped, but their schemas + data quirks — dirty
numeric cells, empty labels, spacey column names, label-correlated features —
are what the pipelines' behavior depends on, so we synthesize them.

Each frame is built with ``functions.localrows.local_rows_df`` under an
explicit schema (the one ``createDataFrame`` would infer from the rows), so
the rows reach the JVM as one Arrow batch and no job that reads a fixture
starts a Python worker. ``_pin_layout`` makes the downstream splits
independent of how the rows arrive.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession

from ..functions.localrows import local_rows_df

_DIRTY = ["*x#", "##", "cfxgvhk", " ", "", "NULL", "###x%", "Y&$%"]


def _pin_layout(df: DataFrame, *cols: str) -> DataFrame:
    """Environment-independent physical layout for the fixtures.

    Seeded ``randomSplit`` is deterministic only up to PARTITIONING: split
    membership is per-partition Bernoulli, and how the local rows are
    sliced into partitions depends on how the frame was built and on
    ``defaultParallelism`` — so a driver session with a different cpu
    count or build path produces a (slightly) different train/test split
    and every downstream rows-only ML fingerprint drifts (the
    accuracy-in-tolerance churn on DIAG/fp_ml_gbt_spam.json flagged in
    VERDICT r6 #3). Hash-repartitioning on value columns to a FIXED
    partition count makes membership a pure function of each row's own
    values (rows tying on the hash columns land in the SAME partition, so
    collisions cannot perturb membership), and randomSplit sorts every
    partition by all orderable columns internally before sampling, making
    arrival order irrelevant. The explicit sort spans ALL columns —
    belt-and-braces so the determinism stays structural even if that
    internal sort ever changes (review r7: a column-subset sort would
    leave tie-groups arrival-ordered); it costs nothing at fixture
    scale."""
    return df.repartition(8, *cols).sortWithinPartitions(*df.columns)


def medical_charges(spark: SparkSession, n: int = 1338, seed: int = 42) -> DataFrame:
    """A1: age,sex,bmi,children,smoker,region,charges — all strings (CSV-ish),
    13 dirty numeric cells → exactly 13 rows lost to cast+drop; charges
    positively correlated with age and bmi (drives DataCorrelator.java:75-76)."""
    rnd = random.Random(seed)
    rows = []
    for i in range(n):
        age = rnd.randint(18, 64)
        bmi = round(rnd.uniform(15.96, 53.13), 2)
        smoker = "yes" if rnd.random() < 0.2 else "no"
        charges = round(
            200 * age + 300 * bmi + (25_000 if smoker == "yes" else 0) + rnd.uniform(0, 8_000),
            2,
        )
        rows.append(
            [
                str(age),
                rnd.choice(["female", "male"]),
                str(bmi),
                str(rnd.randint(0, 5)),
                smoker,
                rnd.choice(["northeast", "northwest", "southeast", "southwest"]),
                str(charges),
            ]
        )
    # exactly 13 dirty cells on distinct rows: 4 age, 4 bmi, 5 charges
    dirty_rows = rnd.sample(range(n), 13)
    for k, ri in enumerate(dirty_rows):
        col = 0 if k < 4 else (2 if k < 8 else 6)
        rows[ri][col] = _DIRTY[k % len(_DIRTY)]
    return _pin_layout(
        local_rows_df(
            spark,
            [tuple(r) for r in rows],
            "age string, sex string, bmi string, children string, smoker string, "
            "region string, charges string",
        ),
        "age", "bmi", "charges",
    )


def user_know(spark: SparkSession, n: int = 402, seed: int = 42) -> DataFrame:
    """A2: five [0,1] study features, SKL label = thresholded noisy linear
    combo (learnable, keeps RF f1 above a golden floor). Keeps the
    reference's inconsistent label casing verbatim."""
    rnd = random.Random(seed)
    rows = []
    for _ in range(n):
        f = [round(rnd.random(), 3) for _ in range(5)]
        score = 0.15 * f[0] + 0.15 * f[1] + 0.2 * f[2] + 0.2 * f[3] + 0.3 * f[4]
        score += rnd.gauss(0, 0.03)
        label = (
            "very_low" if score < 0.3 else "Low" if score < 0.45 else "Middle" if score < 0.6 else "High"
        )
        rows.append((*f, label))
    return _pin_layout(
        local_rows_df(
            spark, rows, "SST double, SRT double, SAT double, SAP double, SEP double, SKL string"
        ),
        "SST", "SRT", "SAT", "SAP", "SEP",
    )


_HAM_WORDS = "ok see you later lol home dinner call me tomorrow thanks good night sure whats up going out now".split()
_SPAM_WORDS = "win free prize cash urgent claim text stop reply winner guaranteed award bonus mobile offer".split()


def spam(spark: SparkSession, n: int = 5434, seed: int = 42) -> DataFrame:
    """A3: v1 ∈ {ham, spam, null}, v2 SMS text, plus the three unnamed empty
    columns from the literal 'v1,v2,,,' header; ~41 null labels force the
    na.drop path (SpamClassification.java:49,54). Includes latin-1-ish
    non-ASCII (£, curly quote) in some texts."""
    rnd = random.Random(seed)
    rows = []
    for i in range(n):
        r = rnd.random()
        if r < 0.0075:
            label, words = None, _HAM_WORDS
        elif r < 0.14:
            label, words = "spam", _SPAM_WORDS
        else:
            label, words = "ham", _HAM_WORDS
        text = " ".join(rnd.choice(words) for _ in range(rnd.randint(4, 18)))
        if label == "spam" and rnd.random() < 0.3:
            text += " £1000 now"
        elif label == "ham" and rnd.random() < 0.1:
            text += " don’t forget"
        rows.append((label, text, None, None, None))
    # _c2.._c4 are all-null (the unnamed empty columns), typed string
    return _pin_layout(
        local_rows_df(spark, rows, "v1 string, v2 string, _c2 string, _c3 string, _c4 string"),
        "v2",
    )


_POS_WORDS = "great lovely clean friendly excellent perfect comfortable amazing helpful spotless wonderful quiet".split()
_NEG_WORDS = "dirty noisy rude small cold broken smelly expensive cramped awful terrible slow".split()
_NATIONALITIES = [
    "United Kingdom", "France", "Germany", "Spain", "Italy", "Netherlands",
    "Belgium", "Ireland", "Portugal", "Austria", "Poland", "Sweden",
    "Norway", "Denmark", "Switzerland", "Greece", "Turkey", "Brazil",
    "Australia", "United States",
]


def hotel_reviews(spark: SparkSession, n: int = 2000, seed: int = 42) -> DataFrame:
    """A4: reconstructs the missing-blob hotel_review.csv schema
    (TfIdfCalculator.java:38-45) — spacey column names kept; Reviewer Score
    correlates with positive-review word count so LR learns signal."""
    rnd = random.Random(seed)
    hotels = [(f"Hotel {chr(65 + i // 2)}{i}", round(rnd.uniform(5.0, 9.5), 1)) for i in range(50)]
    rows = []
    for _ in range(n):
        hotel, avg = rnd.choice(hotels)
        n_pos = rnd.randint(0, 30)
        n_neg = rnd.randint(0, 30)
        pos = " ".join(rnd.choice(_POS_WORDS) for _ in range(n_pos)) if n_pos else "No Positive"
        neg = " ".join(rnd.choice(_NEG_WORDS) for _ in range(n_neg)) if n_neg else "No Negative"
        score = max(2.5, min(10.0, round(5.0 + 0.12 * n_pos - 0.08 * n_neg + rnd.gauss(0, 0.8), 1)))
        rows.append((pos, hotel, neg, rnd.choice(_NATIONALITIES), score, avg))
    return _pin_layout(
        local_rows_df(
            spark,
            rows,
            "`Positive Review` string, `Hotel Name` string, `Negative Review` string, "
            "Nationality string, `Reviewer Score` double, `Average Score` double",
        ),
        "Positive Review", "Negative Review", "Reviewer Score",
    )
