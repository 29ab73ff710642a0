"""Behavioral tests for text/dedup/similarity operators.

The driver testdata has no true near-duplicates, so oracle parity alone
can't show the detectors *detect*. These tests feed crafted corpora through
the same expressions and assert the semantics: dups found, non-dups not,
ANN recall vs the brute-force baseline.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_analytics_machine_learning_poc_spark.functions.hashing import (
    MERSENNE_P,
    MINHASH_PERMS,
    md5_hash32,
)
from big_data_analytics_machine_learning_poc_spark.operators import dedup, similarity, text

from .conftest import SF_DIR


@pytest.mark.parametrize(
    "name",
    sorted(set(text.REG.oracles) | set(dedup.REG.oracles) | set(similarity.REG.oracles)),
)
def test_extension_oracle_parity(spark, duck, name):
    merged = {}
    for reg in (text.REG, dedup.REG, similarity.REG):
        merged.update(reg.queries)
    oracles = {}
    for reg in (text.REG, dedup.REG, similarity.REG):
        oracles.update(reg.oracles)
    from big_data_analytics_machine_learning_poc_spark.oracle import compare_query

    df = merged[name](spark, SF_DIR)
    problems = compare_query(df.columns, df.collect(), duck, oracles[name])
    assert not problems, f"{name}: {problems}"


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


@pytest.fixture(scope="module")
def dup_corpus(spark):
    """Three exact/near dup groups + unrelated docs."""
    base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    near = "the quick brown fox jumps over the lazy dog near the old river bank yesterday"
    other = "completely different content about database engines and vectorized execution plans"
    return _docs(
        spark,
        [
            (0, base),
            (1, base),  # exact dup of 0
            (2, near),  # near dup of 0 (1 token differs)
            (3, other),
            (4, "tiny doc"),
        ],
    )


def _minhash_sig(df):
    th = (
        df.select("doc_id", F.explode(text.tokens_col()).alias("tok"))
        .select("doc_id", md5_hash32(F.col("tok")).alias("h"))
        .distinct()
    )
    aggs = [
        F.min((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(MERSENNE_P)).alias(f"mh{i}")
        for i, (a, b) in enumerate(MINHASH_PERMS)
    ]
    return th.groupBy("doc_id").agg(*aggs)


def test_minhash_identical_docs_have_identical_signatures(dup_corpus):
    sig = {r.doc_id: tuple(r)[1:] for r in _minhash_sig(dup_corpus).collect()}
    assert sig[0] == sig[1]
    # near-dup shares most minhashes; unrelated shares few
    near_matches = sum(a == b for a, b in zip(sig[0], sig[2]))
    far_matches = sum(a == b for a, b in zip(sig[0], sig[3]))
    assert near_matches >= 6
    assert far_matches <= 2


def test_simhash_near_dup_small_hamming(spark, dup_corpus):
    dup_corpus.createOrReplaceTempView("documents_fixture")
    th = dup_corpus.select("doc_id", F.explode(text.tokens_col()).alias("tok")).select(
        "doc_id", md5_hash32(F.col("tok")).alias("h")
    )
    bit_sums = [
        F.sum(F.when(F.col("h").bitwiseAND(F.lit(1 << j)) != 0, 1).otherwise(-1)).alias(f"s{j}")
        for j in range(16)
    ]
    per_doc = th.groupBy("doc_id").agg(*bit_sums)
    simhash = sum(F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0)) for j in range(16))
    sh = {r.doc_id: r.sh for r in per_doc.select("doc_id", simhash.alias("sh")).collect()}
    assert sh[0] == sh[1]
    ham_near = bin(sh[0] ^ sh[2]).count("1")
    ham_far = bin(sh[0] ^ sh[3]).count("1")
    assert ham_near < ham_far


def test_bigram_jaccard_math(spark, dup_corpus):
    sh = dup_corpus.select(
        "doc_id", F.explode(dedup.bigram_shingles()).alias("shingle")
    ).distinct()
    sizes = {r.doc_id: r.n for r in sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    # base has 15 tokens → 14 distinct bigrams; near differs in the final
    # token → 13 shared
    assert sizes[0] == 14
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") == 0) & (F.col("b.doc_id") == 2))
        .count()
    )
    assert inter == 13
    jac = inter / (sizes[0] + sizes[2] - inter)
    assert jac > 0.8


def test_single_token_doc_has_no_bigrams(spark):
    df = _docs(spark, [(0, "single")])
    assert df.select(F.size(dedup.bigram_shingles()).alias("n")).collect()[0].n == 0


def test_ann_bucket_recall_vs_brute(spark):
    """ANN candidates from the query bucket must contain the true nearest
    neighbour reasonably often. With 256 sign buckets over random vectors,
    the query's top-1 lands in the same bucket when it is truly close; we
    assert recall on a corpus with planted near-neighbours."""
    import random

    rnd = random.Random(7)
    base = [rnd.uniform(-1, 1) for _ in range(64)]
    rows = [(0, [float(x) for x in base])]
    # planted: tiny perturbations of the query → same sign pattern w.h.p.
    for i in range(1, 6):
        rows.append((i, [float(x + rnd.uniform(-0.01, 0.01)) for x in base]))
    # noise vectors
    for i in range(6, 106):
        rows.append((i, [float(rnd.uniform(-1, 1)) for _ in range(64)]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    emb = emb.select("vec_id", F.col("embedding").cast("array<float>").alias("embedding"))

    bucketed = emb.select(
        "vec_id", "embedding", similarity.bucket_col(F.col("embedding")).alias("bucket")
    )
    buckets = {r.vec_id: r.bucket for r in bucketed.collect()}
    planted_in_bucket = sum(buckets[i] == buckets[0] for i in range(1, 6))
    assert planted_in_bucket >= 4  # sign-stable perturbations land together


def test_lang_id_detects_real_language_text(spark):
    df = _docs(
        spark,
        [
            (0, "the cat and the dog sat on a mat of straw"),
            (1, "le chat et la souris sont dans les jardins des villes"),
            (2, "el perro y los gatos viven en las casas que vemos"),
            (3, "der hund und die katze sind ein gutes team nicht wahr"),
            (4, "你好 世界"),
            (5, "zzz qqq xxx"),
        ],
    )
    h = {lang: text._hits(lex) for lang, lex in text.LANG_LEXICONS.items()}
    pred = (
        F.when(F.col("text").rlike("[一-鿿]"), "zh")
        .when((h["en"] == 0) & (h["fr"] == 0) & (h["es"] == 0) & (h["de"] == 0), "unknown")
        .when((h["en"] >= h["fr"]) & (h["en"] >= h["es"]) & (h["en"] >= h["de"]), "en")
        .when((h["fr"] >= h["es"]) & (h["fr"] >= h["de"]), "fr")
        .when(h["es"] >= h["de"], "es")
        .otherwise("de")
    )
    out = {r.doc_id: r.p for r in df.select("doc_id", pred.alias("p")).collect()}
    assert out == {0: "en", 1: "fr", 2: "es", 3: "de", 4: "zh", 5: "unknown"}


def test_ann_ivf_recall_vs_brute(spark):
    """IVF with nprobe=2/8 must recover most of the true top-5."""
    from big_data_analytics_machine_learning_poc_spark.operators.similarity import (
        ann_ivf_cosine,
        knn_brute_cosine,
    )

    brute = [r.vec_id for r in knn_brute_cosine(spark, SF_DIR).collect()[:5]]
    ivf = [r.vec_id for r in ann_ivf_cosine(spark, SF_DIR).collect()]
    recall = len(set(brute) & set(ivf)) / 5
    assert recall >= 0.4, (brute, ivf)


def test_approx_stats_within_tolerance(spark, duck):
    from big_data_analytics_machine_learning_poc_spark.operators.similarity import (
        similarity_approx_stats,
    )

    row = similarity_approx_stats(spark, SF_DIR).collect()[0]
    exact_users, p50 = duck.execute(
        "SELECT COUNT(DISTINCT user_id), quantile_cont(value, 0.5) FROM events"
    ).fetchone()
    assert abs(row.approx_users - exact_users) / exact_users < 0.1
    assert abs(row.p50 - p50) / max(p50, 1) < 0.25


def test_mllib_minhash_lsh_finds_planted_dups(spark, dup_corpus):
    """MLlib MinHashLSH must surface the exact and near dup pairs from the
    planted corpus (docs 0,1 identical; 2 near; 3,4 unrelated)."""
    from pyspark.ml.feature import HashingTF, MinHashLSH, Tokenizer
    from pyspark.sql import functions as F

    toks = Tokenizer(inputCol="text", outputCol="tokens").transform(dup_corpus)
    tf = HashingTF(
        inputCol="tokens", outputCol="features", numFeatures=1 << 14, binary=True
    ).transform(toks)
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=5, seed=42
    ).fit(tf)
    pairs = (
        model.approxSimilarityJoin(tf, tf, 0.6, distCol="d")
        .filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("a"), F.col("datasetB.doc_id").alias("b")
        )
        .collect()
    )
    found = {(r.a, r.b) for r in pairs}
    assert (0, 1) in found  # exact dup
    assert (0, 2) in found and (1, 2) in found  # near dup
    assert all(p[1] != 3 or p[0] == 3 for p in found if 3 in p) or (3 not in {x for p in found for x in p})


def test_mllib_lane_tolerates_short_docs(spark, dup_corpus):
    """Docs with <2 tokens shingle to an empty array → all-zero HashingTF
    vector, which MinHashLSHModel rejects at runtime ('Must have at least 1
    non zero entry'). The lane must drop them up front — an empty shingle
    set trivially has no near-dup pairs — instead of crashing the whole
    query (the corpus quality gates contemplate short/empty docs even
    though the synthetic testdata's minimum hides them)."""
    short = _docs(spark, [(100, ""), (101, "one"), (102, "   ")])
    corpus = dup_corpus.unionByName(short)
    found = {(r.doc_a, r.doc_b) for r in dedup.mllib_lsh_pairs(corpus).collect()}
    assert (0, 1) in found, "planted exact dup must still surface"
    assert all(d < 100 for pair in found for d in pair), (
        "sub-2-token docs must pair with nothing"
    )


def test_mllib_lane_agrees_with_brute_shingle_jaccard(spark):
    """The registered MLlib lane (MinHashLSH signatures → AND-banded
    candidates → exact verify) against a brute-force all-pairs exact
    shingle-Jaccard at sf0.001 (50 docs, 1 225 pairs):

    - precision is exact: every emitted pair must appear in the brute
      J ≥ 0.5 set with the identical distance (the verify stage computes
      the same measure, so a mismatch = broken banding/verify wiring);
    - recall at high similarity: every brute pair with J ≥ 0.8 must be
      emitted (P[miss one 2-row band] = 1-J² ≤ 0.36 per band,
      ^8 ≤ 0.03% — a miss here means signatures or band keys regressed).
    """
    brute_rows = (
        dedup.doc_shingle_hashes(spark, SF_DIR)
        .alias("a")
        .join(
            dedup.doc_shingle_hashes(spark, SF_DIR).alias("b"),
            F.col("a.doc_id") < F.col("b.doc_id"),
        )
        .filter(F.col("a.h") == F.col("b.h"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("ni"))
        .collect()
    )
    sizes = {
        r.doc_id: r.n
        for r in dedup.doc_shingle_hashes(spark, SF_DIR)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    brute = {}
    for r in brute_rows:
        j = r.ni / (sizes[r.doc_a] + sizes[r.doc_b] - r.ni)
        if j >= 0.5:
            brute[(r.doc_a, r.doc_b)] = round(1 - j, 6)

    emitted = {
        (r.doc_a, r.doc_b): r.jaccard_dist
        for r in dedup.dedup_mllib_minhash_lsh(spark, SF_DIR).collect()
    }
    assert set(emitted) <= set(brute), "emitted pair not in brute J>=0.5 set"
    for pair, d in emitted.items():
        assert abs(d - brute[pair]) < 1e-6, f"distance mismatch at {pair}"
    high = {p for p, d in brute.items() if d <= 0.2}  # J >= 0.8
    assert high <= set(emitted), f"missed high-similarity pairs: {high - set(emitted)}"


def test_rolling_hash_matches_hand_computation(spark):
    """Guard against agree-on-wrong-formula: compare to an independent
    python implementation of h = Σ c·31^i mod M31."""
    from big_data_analytics_machine_learning_poc_spark.operators import text as text_ops

    samples = ["abc", "héllo 中", "a b  c"]
    df = _docs(spark, list(enumerate(samples)))
    chars = F.split(F.col("text"), "")
    roll = F.aggregate(
        F.transform(chars, F.ascii), F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + c) % F.lit(2_147_483_647),
    )
    got = {r.doc_id: r.h for r in df.select("doc_id", roll.alias("h")).collect()}
    for i, s in enumerate(samples):
        h = 0
        for ch in s:
            h = (h * 31 + ord(ch)) % 2_147_483_647
        assert got[i] == h, s


def test_quality_and_readability_hand_computed(spark):
    """Independent recomputation of text_quality / readability for one doc."""
    from big_data_analytics_machine_learning_poc_spark.operators import text as text_ops

    doc = "the cat is on a mat"
    df = _docs(spark, [(0, doc)])
    df.createOrReplaceTempView("documents")  # operators read the table name via load_table; bypass
    toks = doc.split()
    n_tokens = len(toks)
    avg_len = round(sum(map(len, toks)) / n_tokens, 6)
    stop_hits = sum(t in text_ops.STOPWORDS for t in toks)

    n_tok_col = F.size(text_ops.tokens_col())
    out = df.select(
        n_tok_col.alias("n"),
        F.round(
            F.aggregate(F.transform(text_ops.tokens_col(), F.length), F.lit(0), lambda a, x: a + x)
            .cast("double") / n_tok_col, 6,
        ).alias("avg_len"),
        text_ops._hits(text_ops.STOPWORDS).alias("hits"),
    ).collect()[0]
    assert (out.n, out.avg_len, out.hits) == (n_tokens, avg_len, stop_hits)

    # readability proxy: mean_len / (1 + type-token ratio)
    udf = text_ops._make_readability_udf()
    got = df.select(udf(F.col("text")).alias("r")).collect()[0].r
    expect = round((sum(map(len, toks)) / n_tokens) / (1 + len(set(toks)) / n_tokens), 6)
    assert got == expect


def test_tokenizer_cross_engine_parity(spark, duck):
    """The shared tokenizer (explicit whitespace class + empty-token
    filter) must behave IDENTICALLY in Spark (Java regex) and DuckDB
    (RE2) on the texts where \\s-based tokenizers diverge: \\x0B (in Java
    \\s, not RE2's), \\x1c (Python-only whitespace), empty and
    whitespace-only documents."""
    from big_data_analytics_machine_learning_poc_spark.operators.text import TOKENS_SQL, tokens_col

    cases = ["a\x0bb", "", "   ", "a  b\tc", "a\x1cb", "x \f y \r\n z", None]
    sdf = spark.createDataFrame([(c,) for c in cases], "text string")
    got_spark = [r.toks for r in sdf.select(tokens_col().alias("toks")).collect()]
    # DuckDB: evaluate TOKENS_SQL per case via a VALUES table
    values = ", ".join("(" + ("NULL" if c is None else "'" + c.replace("'", "''") + "'") + ")" for c in cases)
    got_duck = [
        row[0]
        for row in duck.execute(
            f"SELECT {TOKENS_SQL} FROM (VALUES {values}) AS t(text)"
        ).fetchall()
    ]
    assert got_spark == got_duck
    # and the semantics are the intended ones
    assert got_spark[0] == ["a", "b"]          # \x0B splits in BOTH engines
    assert got_spark[1] == [] and got_spark[2] == []  # no phantom '' token
    assert got_spark[4] == ["a\x1cb"]          # \x1c is NOT whitespace here
    assert got_spark[6] is None                # NULL text stays NULL


def test_embedding_guards_zero_norm_and_ragged(spark):
    """ANSI-mode hazards from review: a zero-norm embedding must yield a
    NULL (dropped) cosine, not DIVIDE_BY_ZERO; a ragged/short embedding
    must bucket via try_element_at's NULL (bit 0), not crash with
    INVALID_ARRAY_INDEX."""
    from pyspark.sql import functions as F

    from big_data_analytics_machine_learning_poc_spark.functions.vector import cosine
    from big_data_analytics_machine_learning_poc_spark.operators.similarity import bucket_col

    df = spark.createDataFrame(
        [
            (1, [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0]),
            (2, [0.0] * 8),          # zero norm
            (3, [1.0, -2.0]),        # ragged: shorter than the 8 bucket dims
        ],
        "vec_id long, embedding array<float>",
    )
    got = {
        r.vec_id: (r.b, r.c)
        for r in df.select(
            "vec_id",
            bucket_col(F.col("embedding")).alias("b"),
            cosine(F.col("embedding"), F.col("embedding")).alias("c"),
        ).collect()
    }
    assert got[1][0] == 255 and abs(got[1][1] - 1.0) < 1e-9
    assert got[2][0] == 255 and got[2][1] is None  # zero vector: NULL cosine
    assert got[3][0] == 0b00000001  # dim2 negative, dims 3..8 NULL -> 0 bits


def test_incremental_dedup_reports_only_batch_touching_pairs(spark):
    """Planted ingest: the batch-vs-corpus lane must surface new-old and
    new-new near-dups with the right pair_kind, and must EXCLUDE
    corpus-internal duplicates by construction (that's the whole point —
    an ingest never re-pays the corpus x corpus sweep)."""
    from pyspark.sql import functions as F

    from big_data_analytics_machine_learning_poc_spark.operators.dedup import (
        incremental_minhash_pairs,
    )

    boiler = "the quick brown fox jumps over the lazy dog every sunny morning"
    other = "completely different prose about distributed query planning engines"
    docs = spark.createDataFrame(
        [
            (1, boiler, "old"),   # old dup pair (1,2): must NOT be reported
            (2, boiler, "old"),
            (3, "unrelated corpus text mentioning neither animals nor engines at all", "old"),
            (10, boiler, "new"),  # duplicates old 1 and 2 -> two new_old pairs
            (11, other, "new"),   # duplicates fellow batch doc 12 -> new_new
            (12, other, "new"),
            (13, "a singleton arrival with no duplicate anywhere in sight today", "new"),
        ],
        "doc_id long, text string, source string",
    )
    got = {
        (r.doc_a, r.doc_b): (r.pair_kind, r.est_jaccard)
        for r in incremental_minhash_pairs(docs, F.col("source") == "new").collect()
    }
    assert got[(1, 10)] == ("new_old", 1.0)
    assert got[(2, 10)] == ("new_old", 1.0)
    assert got[(11, 12)] == ("new_new", 1.0)
    assert (1, 2) not in got, "corpus-internal pair leaked into the ingest result"
    assert all(10 <= a or 10 <= b for a, b in got), got


def test_minhash_index_ingest_roundtrip(spark, tmp_path):
    """Persisted band index: ingest-vs-index must equal the one-shot
    incremental lane on the combined frame, and a SECOND ingest must see
    the first batch as corpus (its dups become new_old) — the property
    that makes the index incremental rather than a cached batch job."""
    from pyspark.sql import functions as F

    from big_data_analytics_machine_learning_poc_spark.operators.dedup import (
        build_minhash_index,
        incremental_minhash_pairs,
        ingest_batch,
    )

    boiler = "the quick brown fox jumps over the lazy dog every sunny morning"
    other = "completely different prose about distributed query planning engines"
    schema = "doc_id long, text string, source string"
    old = spark.createDataFrame(
        [(1, boiler, "old"), (2, boiler, "old"),
         (3, "unrelated corpus text mentioning neither animals nor engines at all", "old")],
        schema,
    )
    batch1 = spark.createDataFrame(
        [(10, boiler, "new"), (11, other, "new"), (12, other, "new")], schema
    )
    root = str(tmp_path / "mhidx")
    build_minhash_index(old, root)
    got1 = {
        (r.doc_a, r.doc_b): (r.pair_kind, r.est_jaccard)
        for r in ingest_batch(spark, batch1, root).collect()
    }
    want1 = {
        (r.doc_a, r.doc_b): (r.pair_kind, r.est_jaccard)
        for r in incremental_minhash_pairs(
            old.unionByName(batch1), F.col("source") == "new"
        ).collect()
    }
    assert got1 == want1 and (11, 12) in got1 and got1[(11, 12)][0] == "new_new"

    # batch2 duplicates batch1's doc 11 -> now a new_OLD pair (11 is corpus)
    batch2 = spark.createDataFrame([(20, other, "new")], schema)
    got2 = {
        (r.doc_a, r.doc_b): r.pair_kind
        for r in ingest_batch(spark, batch2, root).collect()
    }
    assert got2[(11, 20)] == "new_old" and got2[(12, 20)] == "new_old"
    assert all(20 in p for p in got2), got2


def test_minhash_index_ingest_replay_is_exactly_once(spark, tmp_path):
    """A crash-replayed ingest with the same txn marker must not duplicate
    index rows, and must return the same pair frame."""
    from big_data_analytics_machine_learning_poc_spark.operators.dedup import (
        build_minhash_index,
        ingest_batch,
    )
    from big_data_analytics_machine_learning_poc_spark.sources.delta_lite import read_delta

    boiler = "the quick brown fox jumps over the lazy dog every sunny morning"
    schema = "doc_id long, text string, source string"
    old = spark.createDataFrame([(1, boiler, "old")], schema)
    batch = spark.createDataFrame([(10, boiler, "new")], schema)
    root = str(tmp_path / "mhidx")
    build_minhash_index(old, root)
    p1 = {(r.doc_a, r.doc_b) for r in ingest_batch(spark, batch, root, txn=("ing", 1)).collect()}
    n_sigs = read_delta(spark, f"{root}/sigs").count()
    n_bands = read_delta(spark, f"{root}/bands").count()
    # replay the same batch number: no new rows, same pairs
    p2 = {(r.doc_a, r.doc_b) for r in ingest_batch(spark, batch, root, txn=("ing", 1)).collect()}
    assert p1 == p2 == {(1, 10)}
    assert read_delta(spark, f"{root}/sigs").count() == n_sigs == 2
    assert read_delta(spark, f"{root}/bands").count() == n_bands


def test_round_half_up_matches_both_engines_on_exact_half(duck):
    """The rounding-MODE fork that broke text_readability at sf0.1:
    3.2265625 (= 413/128, exactly representable) must round to 3.226563
    like Spark/DuckDB ROUND — Python's banker's round() gives ...562."""
    from big_data_analytics_machine_learning_poc_spark.functions.exact import round_half_up

    x = 413.0 / 128.0  # 3.2265625
    assert round(x, 6) == 3.226562  # the trap, pinned
    assert round_half_up(x, 6) == 3.226563
    assert duck.execute("SELECT ROUND(413.0/128.0, 6)").fetchone()[0] == 3.226563
    assert round_half_up(-x, 6) == -3.226563  # away from zero both signs
    assert round_half_up(None) is None


def test_readability_udf_agrees_with_oracle_on_exact_half_score(spark, duck):
    """End-to-end: a planted doc whose readability lands EXACTLY on a
    rounding half must hash-match the oracle. 'aaaa bbbb aaaa bbbb' →
    mean_len 4, ttr 1/2 → 4/1.5 = 2.6666...; use a crafted doc instead:
    tokens of length 3 and 4... simplest: reuse the known-bad shape by
    asserting Spark vs DuckDB equality over a small random-ish corpus
    including repeated-token docs (the fork, when it exists, shows up as
    inequality — doc values need not be halves for the test to guard)."""
    import pandas as pd

    texts = [
        (0, "aaaa bbbb aaaa bbbb"),          # ttr 0.5, mean 4 -> 8/3
        (1, "abc abc abc abc abc abc ab"),   # near-half ratios
        (2, "aaaaaaa bb aaaaaaa bb x"),
        (3, None),
        (4, "   "),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    # the registered lane reads from sf_dir; test the UDF directly instead
    from big_data_analytics_machine_learning_poc_spark.operators.text import (
        _make_readability_udf,
    )
    from pyspark.sql import functions as F

    udf = _make_readability_udf()
    got = {r.doc_id: r.r for r in docs.select("doc_id", udf(F.col("text")).alias("r")).collect()}
    duck.register("documents_tmp_pd", pd.DataFrame(texts, columns=["doc_id", "text"]))
    want = dict(
        duck.execute("""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(trim(text), '[ \t\n\r\f\x0B]+'), t -> t <> '') AS tk
          FROM documents_tmp_pd
        )
        SELECT doc_id,
               CASE WHEN len(tk) = 0 THEN 0.0 ELSE ROUND(
                 (CAST(list_sum(list_transform(tk, t -> LENGTH(t))) AS DOUBLE) / len(tk))
                 / (1.0 + CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk)), 6) END AS r
        FROM toks
        """).fetchall()
    )
    # NULL text: DuckDB trim(NULL)->NULL -> len NULL -> NULL branch gives NULL too
    assert got == want, (got, want)


# ---------------------------------------------------------------------------
# CDF -> incremental dedup index composition (VERDICT r5 ask #5)
# ---------------------------------------------------------------------------

_CDF_BOILER = "the quick brown fox jumps over the lazy dog every sunny morning"
_CDF_OTHER = "completely different prose about distributed query planning engines"
_CDF_LONER = "unrelated corpus text mentioning neither animals nor engines at all"
_CDF_SCHEMA = "doc_id long, text string, source string"


def _full_sweep_pairs(docs):
    """All near-dup pairs over ``docs`` at the oracle geometry — the
    full-rebuild twin the maintained index must reproduce."""
    from big_data_analytics_machine_learning_poc_spark.operators.dedup import (
        incremental_minhash_pairs,
    )

    return {
        (r.doc_a, r.doc_b)
        for r in incremental_minhash_pairs(docs, F.lit(True)).collect()
    }


def _index_rows(spark, root):
    from big_data_analytics_machine_learning_poc_spark.sources.delta_lite import read_delta

    sigs = sorted(tuple(r) for r in read_delta(spark, f"{root}/sigs").collect())
    bands = sorted(tuple(r) for r in read_delta(spark, f"{root}/bands").collect())
    return sigs, bands


def test_cdf_update_reclassifies_dedup_pair(spark, tmp_path):
    """An upstream UPDATE must re-classify dedup pairs through the CDF ->
    apply_changes_to_index composition: doc 2 starts as doc 1's duplicate,
    its text is UPDATEd to duplicate doc 3 instead; the maintained index
    must equal a full rebuild of the current upstream, the maintained pair
    store (retract removed ids, add returned pairs) must equal the full
    sweep, and a crash REPLAY of the same change batch must be a no-op."""
    from big_data_analytics_machine_learning_poc_spark.operators.dedup import (
        apply_changes_to_index,
        build_minhash_index,
    )
    from big_data_analytics_machine_learning_poc_spark.sources.delta_lite import (
        enable_change_data_feed,
        read_delta,
        table_changes,
        update_where,
        write_delta,
    )

    upstream = str(tmp_path / "docs")
    v0 = spark.createDataFrame(
        [(1, _CDF_BOILER, "s0"), (2, _CDF_BOILER, "s0"), (3, _CDF_LONER, "s0")],
        _CDF_SCHEMA,
    )
    write_delta(v0, upstream)            # v0
    cdf_v = enable_change_data_feed(upstream)  # v1 (metadata-only)

    root = str(tmp_path / "mhidx")
    build_minhash_index(read_delta(spark, upstream), root)
    pair_store = _full_sweep_pairs(read_delta(spark, upstream))
    assert pair_store == {(1, 2)}, "planted premise: (1,2) duplicate at v0"

    # upstream UPDATE: doc 2 now duplicates doc 3, not doc 1
    upd_v = update_where(
        spark, upstream, {"text": f"'{_CDF_LONER}'"}, "doc_id = 2"
    )
    assert upd_v is not None and upd_v > cdf_v

    changes = table_changes(spark, upstream, from_version=cdf_v)
    got = apply_changes_to_index(spark, changes, root, txn=("cdf", 1))
    new_pairs = {(r.doc_a, r.doc_b) for r in got.collect()}
    assert new_pairs == {(2, 3)}, new_pairs

    # pair-store reconciliation: retract pairs touching removed ids, add new
    removed_ids = {
        r.doc_id
        for r in changes.filter(
            F.col("_change_type").isin("delete", "update_preimage")
        )
        .select("doc_id")
        .collect()
    }
    assert removed_ids == {2}
    pair_store = {
        p for p in pair_store if not (p[0] in removed_ids or p[1] in removed_ids)
    } | new_pairs
    assert pair_store == _full_sweep_pairs(read_delta(spark, upstream)) == {(2, 3)}

    # maintained index == full rebuild of the current upstream
    root2 = str(tmp_path / "mhidx_rebuild")
    build_minhash_index(read_delta(spark, upstream), root2)
    assert _index_rows(spark, root) == _index_rows(spark, root2)

    # crash replay with the same txn: same pairs, index byte-identical —
    # in particular the preimage delete must NOT eat the committed
    # postimage rows (they share doc_id 2)
    before = _index_rows(spark, root)
    replay = apply_changes_to_index(spark, changes, root, txn=("cdf", 1))
    assert {(r.doc_a, r.doc_b) for r in replay.collect()} == {(2, 3)}
    assert _index_rows(spark, root) == before


def test_cdf_stream_maintains_dedup_index_e2e(spark, tmp_path):
    """End-to-end: a delta_lite_cdf STREAM over a DML'd upstream table
    drives apply_changes_to_index from foreachBatch (txn = batch id, the
    exactly-once handshake). After the stream drains: the index equals a
    full rebuild, and the reconciled pair store equals the full sweep."""
    from big_data_analytics_machine_learning_poc_spark.operators.dedup import (
        apply_changes_to_index,
        build_minhash_index,
    )
    from big_data_analytics_machine_learning_poc_spark.sources.delta_lite import (
        delete_where,
        enable_change_data_feed,
        read_delta,
        update_where,
        write_delta,
    )
    from big_data_analytics_machine_learning_poc_spark.sources.pyds import (
        DeltaLiteCDFStreamDataSource,
    )

    spark.dataSource.register(DeltaLiteCDFStreamDataSource)
    upstream = str(tmp_path / "docs")
    write_delta(
        spark.createDataFrame(
            [(1, _CDF_BOILER, "s0"), (2, _CDF_OTHER, "s0"), (3, _CDF_LONER, "s0")],
            _CDF_SCHEMA,
        ),
        upstream,
    )  # v0
    cdf_v = enable_change_data_feed(upstream)  # v1
    root = str(tmp_path / "mhidx")
    build_minhash_index(read_delta(spark, upstream), root)
    pair_store = _full_sweep_pairs(read_delta(spark, upstream))
    assert pair_store == set()

    # upstream DML after the index was built: an append that duplicates
    # doc 1, an update re-texting doc 2 into doc 10's duplicate, and a
    # delete of doc 3
    write_delta(
        spark.createDataFrame([(10, _CDF_BOILER, "s1")], _CDF_SCHEMA),
        upstream,
        mode="append",
    )  # v2: (1,10) appears
    update_where(spark, upstream, {"text": f"'{_CDF_BOILER}'"}, "doc_id = 2")  # v3
    delete_where(spark, upstream, "doc_id = 3")  # v4

    seen: list[tuple] = []  # (batch_id, removed_ids, new_pairs)

    def fb(batch_df, bid):
        removed = {
            r.doc_id
            for r in batch_df.filter(
                F.col("_change_type").isin("delete", "update_preimage")
            )
            .select("doc_id")
            .collect()
        }
        pairs = apply_changes_to_index(
            spark, batch_df, root, txn=("cdf_stream", bid)
        )
        seen.append((bid, removed, {(r.doc_a, r.doc_b) for r in pairs.collect()}))

    q = (
        spark.readStream.format("delta_lite_cdf")
        .option("startingversion", cdf_v + 1)
        .load(upstream)
        .writeStream.foreachBatch(fb)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert seen, "stream produced no batches"
    for _bid, removed, new_pairs in seen:
        pair_store = {
            p for p in pair_store if not (p[0] in removed or p[1] in removed)
        } | new_pairs

    current = read_delta(spark, upstream)
    assert {r.doc_id for r in current.select("doc_id").collect()} == {1, 2, 10}
    assert pair_store == _full_sweep_pairs(current) == {(1, 2), (1, 10), (2, 10)}

    root2 = str(tmp_path / "mhidx_rebuild")
    build_minhash_index(current, root2)
    assert _index_rows(spark, root) == _index_rows(spark, root2)


def test_cdf_index_maintenance_model_based(spark, tmp_path):
    """Model check for apply_changes_to_index: an arbitrary upstream DML
    history (append / update / delete in random order), fed through
    table_changes in two batches, must leave the maintained index equal to
    a full rebuild of the final upstream snapshot and the reconciled pair
    store equal to the full sweep — and replaying the last batch must
    change nothing. Deterministic op table below (not Hypothesis) so the
    delta-table setup cost stays bounded; the RANDOMIZED coverage of the
    underlying incremental-vs-full property lives in the existing
    Hypothesis test over incremental_minhash_pairs."""
    from big_data_analytics_machine_learning_poc_spark.operators.dedup import (
        apply_changes_to_index,
        build_minhash_index,
    )
    from big_data_analytics_machine_learning_poc_spark.sources.delta_lite import (
        delete_where,
        enable_change_data_feed,
        read_delta,
        table_changes,
        update_where,
        write_delta,
    )

    texts = [
        _CDF_BOILER,
        _CDF_OTHER,
        _CDF_LONER,
        "yet another body of prose concerning lakehouse transaction protocols",
    ]
    histories = [
        # (ops…) with op = ("append", new_id, text_idx) | ("update", id,
        # text_idx) | ("delete", id); split point for the two CDF batches
        (
            [("append", 10, 0), ("update", 2, 0), ("delete", 3)],
            [("append", 11, 2), ("update", 10, 2), ("delete", 1)],
        ),
        (
            [("update", 1, 1), ("update", 2, 3), ("append", 10, 1)],
            [("delete", 2), ("append", 11, 3), ("update", 11, 1), ("delete", 11)],
        ),
    ]
    for hidx, (batch_a, batch_b) in enumerate(histories):
        upstream = str(tmp_path / f"docs{hidx}")
        root = str(tmp_path / f"mhidx{hidx}")
        write_delta(
            spark.createDataFrame(
                [(1, texts[0], "s0"), (2, texts[1], "s0"), (3, texts[2], "s0")],
                _CDF_SCHEMA,
            ),
            upstream,
        )
        last_v = enable_change_data_feed(upstream)
        build_minhash_index(read_delta(spark, upstream), root)
        pair_store = _full_sweep_pairs(read_delta(spark, upstream))

        for bno, ops in enumerate((batch_a, batch_b)):
            for op in ops:
                if op[0] == "append":
                    write_delta(
                        spark.createDataFrame(
                            [(op[1], texts[op[2]], f"b{bno}")], _CDF_SCHEMA
                        ),
                        upstream,
                        mode="append",
                    )
                elif op[0] == "update":
                    update_where(
                        spark, upstream,
                        {"text": f"'{texts[op[2]]}'"}, f"doc_id = {op[1]}",
                    )
                else:
                    delete_where(spark, upstream, f"doc_id = {op[1]}")
            changes = table_changes(spark, upstream, from_version=last_v)
            last_v = max(
                r._commit_version for r in changes.select("_commit_version").collect()
            )
            removed = {
                r.doc_id
                for r in changes.filter(
                    F.col("_change_type").isin("delete", "update_preimage")
                ).select("doc_id").collect()
            }
            pairs = apply_changes_to_index(
                spark, changes, root, txn=(f"h{hidx}", bno)
            )
            new_pairs = {(r.doc_a, r.doc_b) for r in pairs.collect()}
            pair_store = {
                p for p in pair_store if not (p[0] in removed or p[1] in removed)
            } | new_pairs

        current = read_delta(spark, upstream)
        assert pair_store == _full_sweep_pairs(current), (hidx, pair_store)
        root2 = str(tmp_path / f"mhidx{hidx}_rebuild")
        build_minhash_index(current, root2)
        assert _index_rows(spark, root) == _index_rows(spark, root2), hidx
        # replay of the final batch: byte-identical index, same pair frame
        before = _index_rows(spark, root)
        changes = table_changes(spark, upstream, from_version=0)
        # restrict to the last batch's commits: re-read from the version
        # BEFORE batch_b began is awkward to reconstruct here, so replay
        # with the same txn marker and the same final-batch frame instead
        replay_changes = table_changes(spark, upstream, from_version=0).filter(
            F.col("_commit_version") > 0
        )
        # the txn handshake must skip the appends/deletes wholesale
        apply_changes_to_index(spark, replay_changes, root, txn=(f"h{hidx}", 1))
        assert _index_rows(spark, root) == before, hidx
