"""BPE trainer tests: oracle parity for the pair-count pass, and a golden
cross-check of the iterative merge learner against an independent pure-Python
BPE reference (same tie-break and greedy-left merge semantics, implemented
from the published algorithm, not from the Spark code's structure).
"""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from big_data_analytics_machine_learning_poc_spark.operators import bpe

from .conftest import SF_DIR


@pytest.mark.parametrize("name", sorted(bpe.REG.oracles))
def test_bpe_oracle_parity(spark, duck, name):
    from big_data_analytics_machine_learning_poc_spark.oracle import compare_query

    df = bpe.REG.queries[name](spark, SF_DIR)
    problems = compare_query(df.columns, df.collect(), duck, bpe.REG.oracles[name])
    assert not problems, f"{name}: {problems}"


# --------------------------------------------------------------------------
# Pure-Python reference BPE (Sennrich et al. 2016, algorithm 1): operates on
# a {word: count} dict; each iteration counts adjacent symbol pairs weighted
# by word count, merges the argmax (count desc, then lexicographic pair)
# greedily left-to-right in every word.
# --------------------------------------------------------------------------


def _ref_bpe(word_counts: dict[str, int], n_merges: int):
    vocab = {tuple(w): c for w, c in word_counts.items()}
    merges = []
    for rank in range(1, n_merges + 1):
        pairs: Counter = Counter()
        for syms, c in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += c
        if not pairs:
            break
        (lhs, rhs), cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, lhs, rhs, lhs + rhs, cnt))
        new_vocab = {}
        for syms, c in vocab.items():
            out = []
            for s in syms:
                if out and out[-1] == lhs and s == rhs:
                    out[-1] = lhs + rhs
                else:
                    out.append(s)
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return merges


def _corpus_word_counts(spark) -> dict[str, int]:
    rows = bpe._word_counts(spark, SF_DIR).collect()
    return {r["word"]: r["wc"] for r in rows}


def test_learn_merges_golden(spark):
    got = bpe.learn_bpe_merges(spark, SF_DIR)
    want = _ref_bpe(_corpus_word_counts(spark), bpe.N_MERGES)
    assert got == want


def test_greedy_left_merge_on_overlaps(spark):
    """'aaa' under merge ('a','a') must become ['aa','a'] (greedy-left), and
    repeated application must converge the same way as the reference."""
    df = spark.createDataFrame([(["a", "a", "a"],), (["a", "a", "a", "a"],)], "symbols: array<string>")
    out = df.select(
        bpe._merge_pair_fold(df.symbols, "a", "a").alias("m")
    ).collect()
    assert [r["m"] for r in out] == [["aa", "a"], ["aa", "aa"]]


def test_learn_merges_dataframe_schema(spark):
    df = bpe.bpe_learn_merges(spark, SF_DIR)
    assert df.columns == ["merge_rank", "lhs", "rhs", "merged", "pair_count"]
    rows = df.collect()
    assert len(rows) == bpe.N_MERGES
    # ranks are 1..N and counts are non-increasing only within equal vocab
    # states is NOT guaranteed (a merge can create a more frequent pair),
    # but every count must be positive and merged == lhs+rhs
    for r in rows:
        assert r["pair_count"] > 0
        assert r["merged"] == r["lhs"] + r["rhs"]


def test_encode_stats_golden(spark):
    """Cross-check the Spark fold-chain encoder against a pure-Python
    encoder applying the same learned merge table in merge order."""
    from big_data_analytics_machine_learning_poc_spark.catalog import load_table
    from big_data_analytics_machine_learning_poc_spark.operators.text import tokens_col
    from pyspark.sql import functions as F

    merges = bpe.learn_bpe_merges(spark, SF_DIR)

    def encode(word: str) -> list[str]:
        syms = list(word)
        for _, lhs, rhs, merged, _ in merges:
            out = []
            for s in syms:
                if out and out[-1] == lhs and s == rhs:
                    out[-1] = merged
                else:
                    out.append(s)
            syms = out
        return syms

    docs = (
        load_table(spark, SF_DIR, "documents")
        .select("lang", "doc_id", F.explode(tokens_col()).alias("word"))
        .collect()
    )
    from collections import defaultdict

    agg = defaultdict(lambda: [0, 0, set()])  # lang -> [tokens, chars, docs]
    for r in docs:
        a = agg[r["lang"]]
        a[0] += len(encode(r["word"]))
        a[1] += len(r["word"])
        a[2].add(r["doc_id"])
    got = {r["lang"]: r for r in bpe.bpe_encode_stats(spark, SF_DIR).collect()}
    assert set(got) == set(agg)
    for lang, (toks, chars, dids) in agg.items():
        g = got[lang]
        assert g["n_tokens"] == toks, lang
        assert g["n_docs"] == len(dids)
        assert abs(g["tokens_per_doc"] - round(toks / len(dids), 3)) < 1e-9
        assert abs(g["chars_per_token"] - round(chars / toks, 3)) < 1e-9


def test_merge_pair_fold_property(spark):
    """Hypothesis-style property over random small-alphabet symbol arrays:
    the JVM fold must equal the greedy-left Python merge for every input,
    including runs of the merged pair and interleavings."""
    import itertools
    import random as _random

    rng = _random.Random(3)
    cases = [
        list(word)
        for word in (
            "".join(rng.choice("ab") for _ in range(rng.randrange(0, 9)))
            for _ in range(60)
        )
    ] + [list(w) for w in ("", "a", "b", "aa", "ab", "aab", "abab", "aaaa", "baaa")]

    def ref(syms, lhs, rhs):
        out = []
        for s in syms:
            if out and out[-1] == lhs and s == rhs:
                out[-1] = lhs + rhs
            else:
                out.append(s)
        return out

    df = spark.createDataFrame([(c,) for c in cases], "symbols: array<string>")
    for lhs, rhs in itertools.product("ab", repeat=2):
        got = [
            r["m"]
            for r in df.select(
                bpe._merge_pair_fold(F.col("symbols"), lhs, rhs).alias("m")
            ).collect()
        ]
        want = [ref(c, lhs, rhs) for c in cases]
        assert got == want, (lhs, rhs)
