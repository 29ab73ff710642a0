"""End-to-end semantic tests on a planted mini sf-dir.

Several operators return EMPTY results on the driver testdata (no customers
without orders, no exact-dup texts, no ≥0.9-cosine embedding pairs), so
their oracle parity is vacuous there. This module writes a small parquet
sf-dir with planted positives and runs the REAL operator functions against
it, proving the non-trivial branches.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from big_data_analytics_machine_learning_poc_spark.operators import dedup, relational


@pytest.fixture(scope="module")
def planted_sf(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("planted_sf"))

    customers = spark.createDataFrame(
        [(i, f"Customer#{i}", i % 3, float(100 * i), "SEG" + str(i % 2)) for i in range(1, 7)],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    )
    # orders only for customers 1..3 → 4,5,6 are anti-join hits
    orders = spark.createDataFrame(
        [(10 * i, i, "O", 100.0 + i, None, "1-URGENT") for i in (1, 2, 3)],
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta", "en", "s", 22),
            (1, "alpha beta gamma delta", "en", "s", 22),  # exact dup of 0
            (2, "alpha beta gamma delta", "en", "s", 22),  # exact dup of 0
            (3, "something else entirely here", "en", "s", 28),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    base = [0.5] * 16
    near = [0.5] * 15 + [0.52]
    far = [(-1.0) ** i * 0.5 for i in range(16)]
    emb = spark.createDataFrame(
        [(0, base, 0), (1, near, 0), (2, far, 1)],
        "vec_id long, embedding array<float>, label int",
    )

    for name, df in [("customer", customers), ("orders", orders), ("documents", docs), ("embeddings", emb)]:
        df.write.mode("overwrite").parquet(os.path.join(root, f"{name}.parquet"))
    return root


def test_anti_join_finds_orderless_customers(spark, planted_sf):
    out = relational.join_anti(spark, planted_sf).collect()
    # customers 4,5,6 have no orders; nationkeys 4%3=1, 5%3=2, 6%3=0
    got = {(r.c_nationkey, r.n) for r in out}
    assert got == {(0, 1), (1, 1), (2, 1)}


def test_semi_join_excludes_orderless(spark, planted_sf):
    out = relational.join_semi(spark, planted_sf).collect()
    assert sum(r.n for r in out) == 3  # only customers 1..3


def test_exact_dedup_groups_found(spark, planted_sf):
    stats = dedup.dedup_exact_stats(spark, planted_sf).collect()[0]
    assert (stats.n_docs, stats.n_distinct_texts, stats.n_exact_dups) == (4, 2, 2)
    groups = dedup.dedup_exact_groups(spark, planted_sf).collect()
    assert len(groups) == 1
    assert groups[0].rep_id == 0 and groups[0].group_size == 3


def test_embedding_cosine_near_dup_found(spark, planted_sf):
    pairs = {(r.vec_a, r.vec_b): r.sim for r in dedup.dedup_embedding_cosine(spark, planted_sf).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.99
    assert all(2 not in p for p in pairs)  # alternating-sign vector is not a near-dup


def test_minhash_pairs_on_planted(spark, planted_sf):
    pairs = {(r.doc_a, r.doc_b) for r in dedup.dedup_minhash_pairs(spark, planted_sf).collect()}
    assert {(0, 1), (0, 2), (1, 2)} <= pairs  # all exact-dup pairs surface
    assert all(3 not in p for p in pairs)


def test_minhash_production_geometry_recall(spark, tmp_path_factory):
    """Production LSH geometry (128 perms, 32 bands × 4) must surface a
    J≈0.82 near-dup pair — the recall the 8-perm oracle geometry can't
    guarantee (P(candidate) at J=0.6 is only ~0.79 there; ~0.999 here)."""
    import os

    root = str(tmp_path_factory.mktemp("prod_lsh"))
    base = [f"tok{i}" for i in range(20)]
    variant = list(base)
    variant[5], variant[15] = "changedfive", "changedfifteen"  # J = 18/22 ≈ 0.82
    unrelated = [f"zzz{i}" for i in range(20)]
    docs = spark.createDataFrame(
        [
            (0, " ".join(base), "en", "s", 0),
            (1, " ".join(variant), "en", "s", 0),
            (2, " ".join(unrelated), "en", "s", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.mode("overwrite").parquet(os.path.join(root, "documents.parquet"))

    out = dedup.minhash_near_dup_pairs(spark, root, threshold=0.5)
    pairs = {(r.doc_a, r.doc_b): r.est_jaccard for r in out.collect()}
    assert (0, 1) in pairs, f"near-dup pair missed at production geometry: {pairs}"
    assert pairs[(0, 1)] > 0.6  # 128-perm estimate concentrates near true J≈0.82
    assert all(2 not in p for p in pairs)  # unrelated doc stays out


def test_ngram_jaccard_on_planted(spark, planted_sf):
    """Exact-dup docs score J=1.0; the stop-shingle cap (df ≤ 64) must not
    drop pairs on a small corpus where no shingle is ubiquitous."""
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.dedup_ngram_jaccard(spark, planted_sf).collect()
    }
    assert pairs.get((0, 1)) == 1.0 and pairs.get((0, 2)) == 1.0 and pairs.get((1, 2)) == 1.0
    assert all(3 not in p for p in pairs)


def test_connected_components_chain(spark):
    """A chain 0–1–2 (no 0–2 edge) must collapse into ONE component labeled
    0 — the case greedy per-edge removal can't express — and disconnected
    pairs stay separate."""
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6), (8, 6)], ["doc_a", "doc_b"]
    )
    out = {r.doc_id: r.component for r in dedup.connected_components(edges).collect()}
    assert out == {0: 0, 1: 0, 2: 0, 5: 5, 6: 5, 8: 5}


def test_connected_components_match_union_find(spark):
    """A seeded graph: one 20-edge chain over random ids (so the chain's
    minimum needs up to 20 rounds to reach its far end) plus stars and short
    paths. Every label must equal a union-find's component minimum."""
    import random

    rnd = random.Random(11)
    ids = rnd.sample(range(1, 100_000), 300)
    chain, rest = ids[:21], ids[21:]
    edges = list(zip(chain, chain[1:]))
    while len(rest) >= 4:
        k = rnd.randint(2, 4)
        comp, rest = rest[:k], rest[k:]
        if rnd.random() < 0.5:
            edges += [(comp[0], v) for v in comp[1:]]
        else:
            edges += list(zip(comp, comp[1:]))
    rnd.shuffle(edges)

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)  # the root stays the component minimum
    want = {n: find(n) for n in parent}

    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r.doc_id: r.component for r in dedup.connected_components(df).collect()}
    assert got == want


def test_connected_components_on_planted(spark, planted_sf):
    """3 exact dups form one component labeled by the min doc_id."""
    out = {
        r.doc_id: r.component
        for r in dedup.dedup_connected_components(spark, planted_sf).collect()
    }
    assert out == {0: 0, 1: 0, 2: 0}  # doc 3 has no edges → not in the graph


def test_band_slices_rejects_ragged_geometry():
    import pytest as _pytest

    with _pytest.raises(ValueError):
        dedup._band_slices(10, 4)


def test_dedup_pipeline_on_planted(spark, planted_sf):
    """3 exact dups + 1 unrelated doc: pipeline must remove docs 1 and 2
    (higher ids of every verified pair) leaving 2 survivors."""
    row = dedup.dedup_pipeline_survivors(spark, planted_sf).collect()[0]
    assert row.n_docs == 4
    assert row.n_verified_pairs == 3  # (0,1), (0,2), (1,2) all at J=1.0
    assert row.n_removed == 2 and row.n_survivors == 2


def test_setop_except_nonempty_on_planted(spark, planted_sf):
    """nation keys of customers minus suppliers: no supplier table here, so
    use the relational op on the real testdata for shape and a direct
    exceptAll check for semantics."""
    a = spark.createDataFrame([(1,), (1,), (2,), (3,)], ["k"])
    b = spark.createDataFrame([(2,), (9,)], ["k"])
    assert sorted(r.k for r in a.exceptAll(b).distinct().collect()) == [1, 3]
    assert sorted(r.k for r in a.exceptAll(b).collect()) == [1, 1, 3]  # multiset semantics


def test_cms_estimate_upper_bounds_exact_count(spark):
    """Count-min property: the sketch estimate can only OVERcount (bucket
    collisions add, never subtract), so est ≥ exact for every probe, and
    a probe absent from the corpus can still estimate ≥ 0 but never
    negative. Also deterministic run-to-run (md5 hashing, no rand)."""
    from big_data_analytics_machine_learning_poc_spark.operators.corpus import (
        corpus_cms_heavy_hitters,
    )

    sf = "/root/testdata/sf0.01"
    rows = corpus_cms_heavy_hitters(spark, sf).collect()
    assert len(rows) == 6
    for r in rows:
        assert r.cms_estimate >= r.exact_count >= 0, r
        assert r.overcount == r.cms_estimate - r.exact_count
    assert any(r.exact_count > 0 for r in rows), "probe list matches no tokens?"
    absent = [r for r in rows if r.token == "quantile"]
    assert absent and absent[0].exact_count == 0
    again = corpus_cms_heavy_hitters(spark, sf).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]


def test_vocab_coverage_rates_are_consistent(spark):
    """OOV accounting must be internally consistent per source
    (0 ≤ covered ≤ total, rate = 1 − covered/total) and the top-N vocab
    must cover the majority of occurrences on the small-vocab testdata."""
    from big_data_analytics_machine_learning_poc_spark.operators.corpus import (
        corpus_vocab_coverage,
    )

    rows = corpus_vocab_coverage(spark, "/root/testdata/sf0.01").collect()
    assert rows, "no sources?"
    for r in rows:
        assert 0 <= r.n_covered <= r.n_tokens
        assert abs(r.oov_rate - round(1.0 - r.n_covered / r.n_tokens, 6)) < 1e-9
        assert 0.0 <= r.oov_rate < 0.8  # 25-token vocab over a ~40-token corpus


def test_weighted_sample_skews_toward_weight(spark):
    """E-S sampling must overrepresent heavy (long) docs relative to a
    uniform draw, and be reproducible run-to-run."""
    from big_data_analytics_machine_learning_poc_spark.operators.corpus import (
        corpus_weighted_sample,
    )

    sf = "/root/testdata/sf0.01"
    a = corpus_weighted_sample(spark, sf).collect()
    b = corpus_weighted_sample(spark, sf).collect()
    assert [r.doc_id for r in a] == [r.doc_id for r in b]  # deterministic

    from big_data_analytics_machine_learning_poc_spark.catalog import load_table
    from pyspark.sql import functions as F

    pop_avg = (
        load_table(spark, sf, "documents")
        .agg(F.avg("n_chars").alias("m"))
        .collect()[0]
        .m
    )
    sample_avg = sum(r.n_chars for r in a) / len(a)
    assert sample_avg > pop_avg  # length-weighted ⇒ longer on average


def test_semdedup_planted_clusters(spark):
    """SemDeDup on planted geometry: two well-separated clusters, one
    holding three near-identical vectors (cos ≈ 1) plus one distinct
    member. With k=2 and a realistic tau=0.9 the triple must collapse to
    ONE survivor — specifically the member FARTHEST from its centroid
    (the paper's diversity-keeping rule) — and nothing else may drop."""
    import numpy as np

    from big_data_analytics_machine_learning_poc_spark.operators.curation import semdedup

    rng = np.random.default_rng(7)
    axis_a = np.array([1.0] + [0.0] * 15)
    axis_b = np.array([0.0] * 15 + [1.0])
    rows = []
    # cluster around axis_a: triple of near-dups (ids 0,1,2) + distinct (3)
    for i, eps in [(0, 0.000), (1, 0.001), (2, 0.002)]:
        v = axis_a + eps * rng.normal(size=16)
        rows.append((i, [float(x) for x in v]))
    rows.append((3, [float(x) for x in (axis_a + 0.45 * rng.normal(size=16))]))
    # cluster around axis_b: two distinct members (4, 5)
    for i in (4, 5):
        rows.append((i, [float(x) for x in (axis_b + 0.3 * rng.normal(size=16))]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    members, losers = semdedup(emb, k=2, tau=0.9)
    mem = {r.vec_id: r for r in members.collect()}
    dropped = {r.vec_id for r in losers.collect()}

    # the triple shares a cluster; exactly two of the three drop
    assert len({mem[i].cluster for i in (0, 1, 2)}) == 1
    assert dropped <= {0, 1, 2} and len(dropped) == 2
    # the survivor is the triple's member with the LOWEST centroid sim
    survivor = ({0, 1, 2} - dropped).pop()
    assert mem[survivor].csim == min(mem[i].csim for i in (0, 1, 2))
    # distinct members (3, 4, 5) are untouched
    assert not dropped & {3, 4, 5}
