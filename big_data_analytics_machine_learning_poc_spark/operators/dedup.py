"""Deduplication operators over ``documents`` / ``embeddings``
(BASELINE.json north-star; no reference counterpart — the reference has no
distinct/dropDuplicates call sites at all, SURVEY.md §2.11).

Five families, each shaped for 100 TB:

- exact: hash-groupBy on the full text (one shuffle on a 60-bit fingerprint
  in production, so the shuffle key is 8 bytes, not the document).
- minhash + LSH banding over BIGRAM SHINGLES: per-doc signature (map-only)
  → band-bucket equi-join (shuffle on small band keys) → candidate pairs →
  signature-similarity filter. This is the scalable near-dup path: no
  quadratic step, and the signature estimates the same shingle-Jaccard
  measure the exact verifier checks (token-set signatures admit ~200× more
  candidates on template-heavy corpora — see the note at _SHINGLE_HASH_CTE).
- simhash: 16-bit sign-of-weighted-sums fingerprint, map-only per doc.
- n-gram (bigram-shingle) Jaccard: the exact quadratic verifier — used on
  LSH candidates in production; exposed standalone for oracle checking.
- embedding cosine near-dup: pairwise cosine ≥ τ (brute force here; the
  bucketed variant lives in operators/similarity.py).

All hashes are md5-derived (functions/hashing.py) so every stage — including
the banded self-join — has an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions.ckpt import pin, release
from ..functions.hashing import (
    MERSENNE_P,
    MINHASH_PERMS,
    make_minhash_perms,
    md5_hash32,
    md5_hash32_sql,
)
from ..functions.vector import cosine, l2_norm
from ..registry import QueryRegistry
from .text import TOKENS_SQL, tokens_col

REG = QueryRegistry()

# Oracle geometry: the committed 8 perms → 4 bands of 2 rows. Small enough
# for a readable SQL oracle; statistically weak for production recall.
ORACLE_PERMS = MINHASH_PERMS
ORACLE_ROWS_PER_BAND = 2
N_PERMS = len(ORACLE_PERMS)

# Production geometry: 128 perms → 32 bands of 4 rows.
# P(candidate | J) = 1 - (1 - J^4)^32: ≈0.999 at J=0.7, ≈0.98 at J=0.6,
# ≈0.20 at J=0.3 — the S-curve a real near-dup sweep needs (the 8-perm
# oracle config catches J=0.6 pairs only ~79% of the time).
PROD_N_PERMS = 128
PROD_ROWS_PER_BAND = 4


def _band_slices(n_perms: int, rows_per_band: int) -> tuple[tuple[int, ...], ...]:
    if n_perms % rows_per_band:
        raise ValueError(f"{n_perms} perms not divisible into bands of {rows_per_band}")
    return tuple(
        tuple(range(i, i + rows_per_band)) for i in range(0, n_perms, rows_per_band)
    )


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------


@REG.add(
    "dedup_exact_stats",
    sql="""
    SELECT COUNT(*) AS n_docs,
           COUNT(DISTINCT text) AS n_distinct_texts,
           COUNT(*) - COUNT(DISTINCT text) AS n_exact_dups
    FROM documents
    """,
)
def dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("text").alias("n_distinct_texts"),
        (F.count(F.lit(1)) - F.countDistinct("text")).alias("n_exact_dups"),
    )


@REG.add(
    "dedup_exact_groups",
    sql="""
    SELECT MIN(doc_id) AS rep_id, COUNT(*) AS group_size
    FROM documents GROUP BY text HAVING COUNT(*) > 1
    """,
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate groups with a deterministic representative (min doc_id) —
    the keep-one-drop-rest primitive. At 100 TB, group on the 60-bit
    fingerprint first and verify text equality only within fingerprint
    buckets (8-byte shuffle keys instead of full documents)."""
    return (
        load_table(spark, sf_dir, "documents")
        .groupBy("text")
        .agg(F.min("doc_id").alias("rep_id"), F.count(F.lit(1)).alias("group_size"))
        .filter(F.col("group_size") > 1)
        .select("rep_id", "group_size")
    )


# --------------------------------------------------------------------------
# MinHash signatures + LSH banding
# --------------------------------------------------------------------------


# Bigram shingles: the unit of near-dup similarity engine-wide. The minhash
# family hashes SHINGLES (not tokens) so its signatures estimate the same
# Jaccard measure the exact verifier computes — on template-heavy corpora
# (high shared vocabulary, little shared word order) token-set signatures
# mark most pairs as candidates regardless of band geometry. Measured at
# sf0.01: 104,772 token-based candidates vs 510 shingle-based for the same
# 25 verified pairs; at sf0.1 the token-based pair query took 105 s vs
# seconds shingle-based. For set-valued inputs that ARE bags of unordered
# features, hash the feature directly and feed minhash_signatures_from —
# the signature machinery is input-agnostic.

_BIGRAMS_SQL = (
    f"list_transform(range(1, len({TOKENS_SQL})), i -> "
    f"{TOKENS_SQL}[i] || ' ' || {TOKENS_SQL}[i+1])"
)


def bigram_shingles(toks: Column | None = None) -> Column:
    """Bigram-shingle array of a token array.

    PERF: pass a PRE-STAGED tokens column (one projected with
    ``tokens_col().alias(...)`` in an earlier select) wherever the shingles
    feed real work. Inlining ``tokens_col()`` here embeds the split-regex
    expression inside the transform lambda, and codegen re-evaluates it per
    element — measured 9× on the shingle pass at sf0.1 (4.6 s inline vs
    0.51 s staged); ``doc_shingles`` below is the staged helper."""
    if toks is None:
        toks = tokens_col()
    return F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.concat(F.element_at(toks, i + 1), F.lit(" "), F.element_at(toks, i + 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def doc_shingles(docs: DataFrame, *keys: str) -> DataFrame:
    """(keys..., shingle): exploded bigram shingles with the tokenization
    staged behind a projection boundary (see bigram_shingles PERF note)."""
    staged = docs.select(*keys, tokens_col().alias("__toks"))
    return staged.select(
        *keys, F.explode(bigram_shingles(F.col("__toks"))).alias("shingle")
    )


_SHINGLE_HASH_CTE = f"""
    WITH shp AS (
      SELECT DISTINCT doc_id, unnest({_BIGRAMS_SQL}) AS shingle FROM documents
    ), th AS (
      SELECT doc_id, {md5_hash32_sql("shingle")} AS h FROM shp
    )
"""


def _shingle_intersections(cand: DataFrame, sh0: DataFrame):
    """(inter, sizes) for an exact shingle-Jaccard verify over candidate
    pairs: ``inter`` = (doc_a, doc_b, ni) intersection sizes, ``sizes`` =
    per-doc distinct-shingle counts. THE shared core of every verify lane
    (mllib_lsh_pairs, verified_near_dup_edges, dedup_pipeline_survivors) —
    one definition so a threshold or join-shape fix cannot desynchronize
    them. Joins run on the 32-bit shingle HASHES: 8-byte keys, and md5 is
    identical in both engines so any (vanishingly rare) collision affects
    Spark and the oracle alike."""
    sizes = sh0.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh0.alias("a"), sh0.alias("b")
    inter = (
        cand.join(a, F.col("a.doc_id") == F.col("doc_a"))
        .join(
            b,
            (F.col("b.doc_id") == F.col("doc_b")) & (F.col("b.h") == F.col("a.h")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    return inter, sizes


def doc_shingle_hashes_from(docs: DataFrame) -> DataFrame:
    """(doc_id, h): distinct md5-derived 32-bit bigram-shingle hashes —
    the ONE definition of the verify lane's shingle hashing (mirrored by
    the oracle-side ``_SHINGLE_HASH_CTE`` above); every consumer must go
    through here so candidate and verify hashing can't diverge."""
    return (
        doc_shingles(docs, "doc_id")
        .distinct()
        .select("doc_id", md5_hash32(F.col("shingle")).alias("h"))
    )


def doc_shingle_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`doc_shingle_hashes_from` over the sf_dir documents table."""
    return doc_shingle_hashes_from(load_table(spark, sf_dir, "documents"))


def _sig_select_sql(perms: tuple[tuple[int, int], ...] = ORACLE_PERMS) -> str:
    mins = ",\n           ".join(
        f"MIN((h * {a} + {b}) % {MERSENNE_P}) AS mh{i}" for i, (a, b) in enumerate(perms)
    )
    return f"SELECT doc_id,\n           {mins}\n    FROM th GROUP BY doc_id"


def minhash_signatures_from(
    th: DataFrame, perms: tuple[tuple[int, int], ...] = ORACLE_PERMS
) -> DataFrame:
    """Minhash signature per doc_id from any (doc_id, h) hash-set frame —
    token hashes for token-set Jaccard, shingle hashes for shingle Jaccard."""
    aggs = [
        F.min((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(MERSENNE_P)).alias(f"mh{i}")
        for i, (a, b) in enumerate(perms)
    ]
    return th.groupBy("doc_id").agg(*aggs)


def minhash_signatures_df(
    spark: SparkSession, sf_dir: str, perms: tuple[tuple[int, int], ...] = ORACLE_PERMS
) -> DataFrame:
    """Shingle-minhash signature per document (see _SHINGLE_HASH_CTE note)."""
    return minhash_signatures_from(doc_shingle_hashes(spark, sf_dir), perms)


REG.add("dedup_minhash_signatures", sql=f"{_SHINGLE_HASH_CTE}\n    {_sig_select_sql()}")(
    minhash_signatures_df
)


def _band_key_sql(slice_: tuple[int, ...]) -> str:
    concat = " || ',' || ".join(f"CAST(mh{i} AS VARCHAR)" for i in slice_)
    return md5_hash32_sql(concat)


def _band_pairs_sql(
    threshold: float,
    perms: tuple[tuple[int, int], ...] = ORACLE_PERMS,
    rows_per_band: int = ORACLE_ROWS_PER_BAND,
) -> str:
    n = len(perms)
    band_selects = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {bi} AS band, {_band_key_sql(sl)} AS bkey FROM sig"
        for bi, sl in enumerate(_band_slices(n, rows_per_band))
    )
    sim = " + ".join(f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END" for i in range(n))
    return f"""{_SHINGLE_HASH_CTE}, sig AS (
      {_sig_select_sql(perms)}
    ), bands AS (
      {band_selects}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(({sim}) AS DOUBLE) / {n}, 6) AS est_jaccard
    FROM cand
    JOIN sig sa ON sa.doc_id = doc_a
    JOIN sig sb ON sb.doc_id = doc_b
    WHERE CAST(({sim}) AS DOUBLE) / {n} >= {threshold}
    """


def minhash_candidate_pairs(
    sig: DataFrame, n_perms: int, rows_per_band: int
) -> DataFrame:
    """LSH banding over a signature frame → distinct candidate (doc_a, doc_b).
    The band key is an md5-derived 32-bit hash of the band's minhash values,
    so the self-join shuffles on an 8-byte (band, bkey) key regardless of band
    width — the shape that holds at 128 perms on a 100 TB corpus.

    The bands are emitted by ONE posexplode over an array of per-band keys,
    not a per-band union: a union of N map-only branches has no exchange for
    ReuseExchange to dedup, so Catalyst re-planned the signature subtree —
    scan included — once per band per join side (measured at sf0.1: 66 scans
    of documents.parquet in the 32-band production plan and 12.5 s fresh vs
    4 scans / 5.9 s with posexplode; the remaining scans are the self-join's
    two sides plus the signature-verify joins — at warehouse scale the
    signature frame would be checkpointed once instead)."""
    keys = F.array(
        *[
            md5_hash32(F.concat_ws(",", *[F.col(f"mh{i}").cast("string") for i in sl]))
            for sl in _band_slices(n_perms, rows_per_band)
        ]
    )
    bands = sig.select("doc_id", F.posexplode(keys).alias("band", "bkey"))
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_near_dup_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.5,
    n_perms: int = PROD_N_PERMS,
    rows_per_band: int = PROD_ROWS_PER_BAND,
) -> DataFrame:
    """Near-dup pairs at arbitrary geometry: signatures (map-only) → banded
    candidates (equi-join) → signature-similarity filter. Defaults are the
    production 128/32×4 geometry; the registered ``dedup_minhash_pairs``
    query pins the 8-perm oracle geometry instead."""
    perms = ORACLE_PERMS if n_perms == len(ORACLE_PERMS) else make_minhash_perms(n_perms)
    # the signature frame is one compact row per doc and FOUR plan
    # consumers sit on it (both band-join sides + both verify sides);
    # unpinned, each replays shingle→hash→min-agg from the docs scan
    # (r7 scan audit: 4 documents scans → 1, A/B-measured — the
    # "checkpointed once at warehouse scale" note above, now done)
    sig = pin(minhash_signatures_df(spark, sf_dir, perms))
    cand = minhash_candidate_pairs(sig, len(perms), rows_per_band)
    sa, sb = sig.alias("sa"), sig.alias("sb")
    matches = sum(
        F.when(F.col(f"sa.mh{i}") == F.col(f"sb.mh{i}"), 1).otherwise(0)
        for i in range(len(perms))
    )
    est = matches.cast("double") / F.lit(len(perms))
    return (
        cand.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .filter(est >= threshold)
        .select("doc_a", "doc_b", F.round(est, 6).alias("est_jaccard"))
    )


@REG.add("dedup_minhash_pairs", sql=_band_pairs_sql(0.5))
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-banded near-dup candidates with signature-estimated shingle-set
    Jaccard ≥ 0.5 at the 8-perm oracle geometry (production geometry: same
    code path via ``minhash_near_dup_pairs`` defaults, recall-tested on
    planted near-dups).

    Scale shape: signatures are map-only; banding is a narrow unpivot; the
    candidate join is an equi-join on (band, bkey) bucket keys — skew-safe
    under AQE; the verifier join touches only candidate pairs. No stage is
    quadratic in corpus size.
    """
    return minhash_near_dup_pairs(
        spark,
        sf_dir,
        threshold=0.5,
        n_perms=len(ORACLE_PERMS),
        rows_per_band=ORACLE_ROWS_PER_BAND,
    )


# --------------------------------------------------------------------------
# Incremental dedup: an arriving batch vs the already-indexed corpus
# --------------------------------------------------------------------------

# The lane's "arriving batch" at the driver's sf-dirs: the two newest
# sources (~10% of docs). Production passes any predicate/frame instead.
_INCR_NEW_SOURCES = ("src18", "src19")


def _band_rows(sig: DataFrame, n_perms: int, rows_per_band: int) -> DataFrame:
    """(doc_id, band, bkey) band-bucket rows from a signature frame — ONE
    posexplode emission (see minhash_candidate_pairs for why not a union)."""
    keys = F.array(
        *[
            md5_hash32(F.concat_ws(",", *[F.col(f"mh{i}").cast("string") for i in sl]))
            for sl in _band_slices(n_perms, rows_per_band)
        ]
    )
    return sig.select("doc_id", F.posexplode(keys).alias("band", "bkey"))


def _batch_touching_pairs(
    batch_bands: DataFrame,
    all_bands: DataFrame,
    sig: DataFrame,
    newdocs: DataFrame,
    n: int,
    threshold: float,
) -> DataFrame:
    """Shared pair core of the incremental lane and the persisted index:
    candidates = batch-bands ⋈ all-bands (equi-join, batch-sized left),
    est = signature agreement, pair_kind from membership in ``newdocs``."""
    a, b = batch_bands.alias("a"), all_bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
        )
        .distinct()
    )
    sa, sb = sig.alias("sa"), sig.alias("sb")
    matches = sum(
        F.when(F.col(f"sa.mh{i}") == F.col(f"sb.mh{i}"), 1).otherwise(0)
        for i in range(n)
    )
    est = matches.cast("double") / F.lit(n)
    na, nb = newdocs.alias("na"), newdocs.alias("nb")
    return (
        cand.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .filter(est >= threshold)
        .join(na, F.col("na.doc_id") == F.col("doc_a"), "left")
        .join(nb, F.col("nb.doc_id") == F.col("doc_b"), "left")
        .select(
            "doc_a",
            "doc_b",
            F.round(est, 6).alias("est_jaccard"),
            F.when(
                F.col("na.doc_id").isNotNull() & F.col("nb.doc_id").isNotNull(),
                F.lit("new_new"),
            )
            .otherwise(F.lit("new_old"))
            .alias("pair_kind"),
        )
    )


def incremental_minhash_pairs(
    docs: DataFrame,
    is_new: Column,
    threshold: float = 0.5,
    perms: tuple[tuple[int, int], ...] = ORACLE_PERMS,
    rows_per_band: int = ORACLE_ROWS_PER_BAND,
) -> DataFrame:
    """Near-dup pairs TOUCHING an arriving batch — the production ingest
    shape: when a new crawl lands on an already-deduped 100 TB corpus, the
    question is never "all pairs in corpus∪batch" (that re-pays the full
    corpus×corpus sweep per ingest) but "which new docs duplicate anything
    (old or new)". Candidate generation is batch-bands ⋈ all-bands — an
    equi-join whose left side is |batch|-sized, so per-ingest cost scales
    with the BATCH, and the corpus side is exactly the persisted signature/
    band index a warehouse maintains incrementally (signatures are map-only
    per doc, so indexing the batch never touches old rows).

    Returns (doc_a, doc_b, est_jaccard, pair_kind) with doc_a < doc_b and
    pair_kind ∈ {'new_new', 'new_old'}; corpus-internal pairs are excluded
    by construction, not by filtering.
    """
    sig = minhash_signatures_from(doc_shingle_hashes_from(docs), perms)
    newdocs = docs.filter(is_new).select("doc_id")
    bands = _band_rows(sig, len(perms), rows_per_band)
    new_bands = bands.join(newdocs, "doc_id", "left_semi")
    return _batch_touching_pairs(
        new_bands, bands, sig, newdocs, len(perms), threshold
    )


def _incr_pairs_sql(
    threshold: float = 0.5,
    perms: tuple[tuple[int, int], ...] = ORACLE_PERMS,
    rows_per_band: int = ORACLE_ROWS_PER_BAND,
) -> str:
    n = len(perms)
    band_selects = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {bi} AS band, {_band_key_sql(sl)} AS bkey FROM sig"
        for bi, sl in enumerate(_band_slices(n, rows_per_band))
    )
    sim = " + ".join(f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END" for i in range(n))
    srcs = ", ".join(f"'{s}'" for s in _INCR_NEW_SOURCES)
    return f"""{_SHINGLE_HASH_CTE}, sig AS (
      {_sig_select_sql(perms)}
    ), newdocs AS (
      SELECT doc_id FROM documents WHERE source IN ({srcs})
    ), bands AS (
      {band_selects}
    ), cand AS (
      SELECT DISTINCT LEAST(a.doc_id, b.doc_id) AS doc_a,
                      GREATEST(a.doc_id, b.doc_id) AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id <> b.doc_id
      WHERE a.doc_id IN (SELECT doc_id FROM newdocs)
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(({sim}) AS DOUBLE) / {n}, 6) AS est_jaccard,
           CASE WHEN doc_a IN (SELECT doc_id FROM newdocs)
                 AND doc_b IN (SELECT doc_id FROM newdocs)
                THEN 'new_new' ELSE 'new_old' END AS pair_kind
    FROM cand
    JOIN sig sa ON sa.doc_id = doc_a
    JOIN sig sb ON sb.doc_id = doc_b
    WHERE CAST(({sim}) AS DOUBLE) / {n} >= {threshold}
    """


def build_minhash_index(
    docs: DataFrame,
    root: str,
    perms: tuple[tuple[int, int], ...] = ORACLE_PERMS,
    rows_per_band: int = ORACLE_ROWS_PER_BAND,
) -> None:
    """Persist the corpus' minhash dedup index as two delta_lite tables —
    ``<root>/sigs`` (doc_id, mh*) and ``<root>/bands`` (doc_id, band, bkey)
    — making the "the warehouse maintains the band index incrementally"
    story EXECUTABLE: later ``ingest_batch`` calls join arriving docs
    against these tables and append to them, so no ingest ever recomputes
    corpus signatures (map-only per doc, written once). Normalized two-table
    layout on purpose: at the production 128-perm geometry a denormalized
    band row would carry 128 mh values × 32 band copies per doc."""
    from ..sources.delta_lite import write_delta

    sig = minhash_signatures_from(doc_shingle_hashes_from(docs), perms)
    write_delta(sig, f"{root}/sigs", mode="overwrite")
    write_delta(
        _band_rows(sig, len(perms), rows_per_band), f"{root}/bands", mode="overwrite"
    )


def ingest_batch(
    spark: SparkSession,
    batch_docs: DataFrame,
    root: str,
    threshold: float = 0.5,
    perms: tuple[tuple[int, int], ...] = ORACLE_PERMS,
    rows_per_band: int = ORACLE_ROWS_PER_BAND,
    txn: tuple[str, int] | None = None,
) -> DataFrame:
    """Ingest an arriving batch against a ``build_minhash_index`` root:
    computes batch signatures/bands (map-only over the BATCH), finds
    near-dup pairs touching the batch (vs index ∪ batch, so intra-batch
    dups surface too), appends the batch to the index tables, and returns
    the MATERIALIZED pair frame (computed against the pre-append snapshot —
    delta_lite reads pin a version, so the append cannot double-count).

    Per-ingest distributed cost: |batch| signature maps + a batch-sized
    equi-join against the persisted bands — never |corpus|² and never a
    corpus rescan. pair_kind marks 'new_new' (both in this batch) vs
    'new_old'; a previous ingest's docs are corpus ('old') by then, which
    the round-trip test pins.

    Contract: doc_ids must be globally unique across all ingests (the
    index has no primary key — re-ingesting an id duplicates its rows).
    For crash-replayed drivers pass ``txn=(app_id, batch_no)``: an ingest
    whose batch_no was already committed to the sigs table skips the
    appends (delta_lite's exactly-once transaction-identifier handshake)
    and only re-returns the pair frame."""
    from ..sources.delta_lite import last_txn_version, read_delta, write_delta

    n = len(perms)

    def committed(table: str) -> bool:
        return (
            txn is not None and (last_txn_version(table, txn[0]) or -1) >= txn[1]
        )

    # per-TABLE replay detection: a crash between the two appends leaves
    # one table with the batch and one without; each side independently
    # decides "already in my snapshot" (skip union + skip append) so every
    # interleaving converges to exactly-once rows in both tables
    sigs_t, bands_t = f"{root}/sigs", f"{root}/bands"
    sigs_done, bands_done = committed(sigs_t), committed(bands_t)
    batch_sig = pin(minhash_signatures_from(doc_shingle_hashes_from(batch_docs), perms))
    batch_bands = pin(_band_rows(batch_sig, n, rows_per_band))
    idx_sigs = read_delta(spark, sigs_t)
    idx_bands = read_delta(spark, bands_t)
    newdocs = batch_sig.select("doc_id")
    pairs = pin(  # materialize BEFORE the index grows
        _batch_touching_pairs(
            batch_bands,
            idx_bands if bands_done else idx_bands.unionByName(batch_bands),
            idx_sigs if sigs_done else idx_sigs.unionByName(batch_sig),
            newdocs,
            n,
            threshold,
        )
    )
    if not sigs_done:
        write_delta(batch_sig, sigs_t, mode="append", txn=txn)
    if not bands_done:
        write_delta(batch_bands, bands_t, mode="append", txn=txn)
    return pairs


_CDF_REMOVED_TYPES = ("delete", "update_preimage")
_CDF_ADDED_TYPES = ("insert", "update_postimage")


def apply_changes_to_index(
    spark: SparkSession,
    changes: DataFrame,
    root: str,
    threshold: float = 0.5,
    perms: tuple[tuple[int, int], ...] = ORACLE_PERMS,
    rows_per_band: int = ORACLE_ROWS_PER_BAND,
    txn: tuple[str, int] | None = None,
) -> DataFrame:
    """Maintain a ``build_minhash_index`` root from a CHANGE-FEED
    micro-batch — the composition that keeps the dedup index correct when
    the upstream corpus is a DML'd lakehouse table rather than an
    append-only firehose (VERDICT r5 ask #5). ``changes`` is the typed
    CDF shape (document columns + ``_change_type`` + ``_commit_version``)
    from either ``delta_lite.table_changes`` or a
    ``spark.readStream.format("delta_lite_cdf")`` foreachBatch frame:

    1. doc_ids carrying a 'delete'/'update_preimage' row have their
       stale signature/band rows removed from the index (delta_lite
       ``delete_where`` — a targeted row-level delete, never a rebuild);
    2. the FINAL state of each added doc ('insert'/'update_postimage',
       compacted by (_commit_version, postimage-over-preimage) so a doc
       touched by several upstream commits in one micro-batch lands
       once) is ingested via ``ingest_batch`` against the post-delete
       snapshot.

    An upstream UPDATE therefore re-classifies dedup pairs: the returned
    frame reports pairs touching the new text (the pairs the update
    CREATES); pairs involving the preimage are stale by construction and
    the consumer retracts them by doc_id (the removed ids are exactly the
    changes rows with a removed-type ``_change_type``).

    Exactly-once under crash replay (``txn=(app_id, batch_no)``, e.g.
    foreachBatch's (query_id, batch_id)): each index table's DELETE is
    gated on the same per-table transaction-identifier handshake as its
    append — critical because an UPDATE keeps its doc_id, so replaying
    the preimage delete AFTER the postimage append already committed
    would eat the new rows. Every crash interleaving converges: neither
    committed → delete (no-op on re-replay) then append; one committed →
    only the other side runs; both committed → pure read-back of pairs.

    Scale shape: change-volume-proportional — deletes touch only files
    holding changed ids, signatures are map-only over the batch, and the
    candidate join is batch-bands ⋈ stored-bands (never a corpus
    rescan). The removed-ids set is collected to build the delete
    predicate: bounded by the micro-batch's DML width, the same
    driver-side footprint foreachBatch already implies."""
    from ..sources.delta_lite import delete_where, last_txn_version

    sigs_t, bands_t = f"{root}/sigs", f"{root}/bands"

    def committed(table: str) -> bool:
        return txn is not None and (last_txn_version(table, txn[0]) or -1) >= txn[1]

    removed = (
        changes.filter(F.col("_change_type").isin(*_CDF_REMOVED_TYPES))
        .select("doc_id")
        .distinct()
        .collect()
    )
    if removed:
        pred = f"doc_id IN ({', '.join(str(r['doc_id']) for r in removed)})"
        if not committed(sigs_t):
            delete_where(spark, sigs_t, pred)
        if not committed(bands_t):
            delete_where(spark, bands_t, pred)
    # final state per doc: latest commit wins; within a commit the
    # postimage outranks its preimage (insert/delete never share a commit
    # with another change-type for the same row)
    w = Window.partitionBy("doc_id").orderBy(
        F.col("_commit_version").desc(),
        F.when(F.col("_change_type") == "update_postimage", 2)
        .when(F.col("_change_type") == "insert", 1)
        .otherwise(0)
        .desc(),
    )
    added = (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & F.col("_change_type").isin(*_CDF_ADDED_TYPES))
        .drop("__rn", "_change_type", "_commit_version")
    )
    return ingest_batch(spark, added, root, threshold, perms, rows_per_band, txn)


@REG.add("dedup_incremental_pairs", sql=_incr_pairs_sql())
def dedup_incremental_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``incremental_minhash_pairs`` with sources {src18, src19} as the
    arriving batch at the 8-perm oracle geometry (production geometry runs
    the same code path via the ``perms``/``rows_per_band`` parameters)."""
    docs = load_table(spark, sf_dir, "documents")
    return incremental_minhash_pairs(
        docs, F.col("source").isin(*_INCR_NEW_SOURCES)
    )


# --------------------------------------------------------------------------
# SimHash (16-bit)
# --------------------------------------------------------------------------


def _simhash_sql() -> str:
    bits = " + ".join(
        f"CASE WHEN SUM(CASE WHEN (h & {1 << j}) != 0 THEN 1 ELSE -1 END) > 0 THEN {1 << j} ELSE 0 END"
        for j in range(16)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest({TOKENS_SQL}) AS tok FROM documents
    ), th AS (
      SELECT doc_id, {md5_hash32_sql("tok")} AS h FROM toks
    )
    SELECT doc_id, ({bits}) AS simhash16 FROM th GROUP BY doc_id
    """


@REG.add("dedup_simhash", sql=_simhash_sql())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit simhash: per bit, sign of Σ(±1) over all token occurrences
    (repeats weight naturally). Map + one groupBy; near-dups differ in ≤k
    bits, findable by hamming-ball probing over 2^16 buckets at scale."""
    docs = load_table(spark, sf_dir, "documents")
    th = docs.select("doc_id", F.explode(tokens_col()).alias("tok")).select(
        "doc_id", md5_hash32(F.col("tok")).alias("h")
    )
    bit_sums = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.lit(1 << j)) != 0, 1).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(16)
    ]
    per_doc = th.groupBy("doc_id").agg(*bit_sums)
    simhash = sum(
        F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0)) for j in range(16)
    )
    return per_doc.select("doc_id", simhash.cast("long").alias("simhash16"))


# --------------------------------------------------------------------------
# N-gram (bigram shingle) Jaccard — exact verifier
# (shingle builders live next to the minhash section above)
# --------------------------------------------------------------------------

# Stop-shingle cap: shingles present in more than DF_CAP documents do not
# GENERATE candidate pairs (boilerplate/template shingles have posting lists
# of millions at corpus scale — the quadratic blow-up of naive all-pairs
# shingle joins). Exact Jaccard is still computed over the FULL shingle sets
# of every candidate pair, so scores are unchanged; only pairs whose every
# common shingle is ubiquitous (> DF_CAP docs) are skipped — such pairs are
# boilerplate overlap, not near-duplicates. Bounded work: ≤ DF_CAP² per
# shingle bucket.
NGRAM_DF_CAP = 64


@REG.add(
    "dedup_ngram_jaccard",
    sql=f"""
    WITH sh0 AS (
      SELECT DISTINCT doc_id, unnest({_BIGRAMS_SQL}) AS shingle FROM documents
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM sh0 GROUP BY doc_id
    ), rare AS (
      SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= {NGRAM_DF_CAP}
    ), shr AS (
      SELECT sh0.doc_id, sh0.shingle, sizes.n
      FROM sh0 JOIN rare USING (shingle) JOIN sizes USING (doc_id)
    ), cand AS (
      -- size-ratio pruning: J >= 1/2 requires max(|A|,|B|) <= 2*min(|A|,|B|)
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM shr a JOIN shr b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                           AND a.n <= 2 * b.n AND b.n <= 2 * a.n
    ), inter AS (
      SELECT cand.doc_a, cand.doc_b, COUNT(*) AS ni
      FROM cand
      JOIN sh0 a ON a.doc_id = cand.doc_a
      JOIN sh0 b ON b.doc_id = cand.doc_b AND b.shingle = a.shingle
      GROUP BY cand.doc_a, cand.doc_b
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(ni AS DOUBLE) / (na.n + nb.n - ni), 6) AS jaccard
    FROM inter
    JOIN sizes na ON na.doc_id = doc_a
    JOIN sizes nb ON nb.doc_id = doc_b
    WHERE CAST(ni AS DOUBLE) / (na.n + nb.n - ni) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact bigram-shingle-set Jaccard ≥ 0.5 between document pairs, with
    stop-shingle-capped candidate generation (NGRAM_DF_CAP).

    Scale shape: candidate generation joins only posting lists of ≤ DF_CAP
    docs (quadratic within a capped list, linear overall); exact Jaccard is
    then computed over the full shingle sets of candidate pairs only. A
    size-ratio prefilter (J ≥ τ ⇒ max(|A|,|B|) ≤ (1/τ)·min at τ=0.5 ⇒ ≤
    2·min) drops hopeless pairs before the counting aggregation. Contract:
    pairs sharing ONLY >DF_CAP-frequency shingles are not reported — at
    corpus scale those are boilerplate collisions, not near-dups.

    The distinct shingle frame is materialized once (localCheckpoint) for
    its SEVEN plan consumers (doc-size agg ×2 via na/nb, DF posting-list
    agg, capped self-join ×2, intersection ×2): uncheckpointed, the
    executed plan scanned documents.parquet 10× with 0 ReusedExchange —
    the multi-consumer doctrine of verified_near_dup_edges, and at 100 TB
    the difference between one corpus scan and ten.
    """
    docs = load_table(spark, sf_dir, "documents")
    sh0 = pin(doc_shingles(docs, "doc_id").distinct())
    sizes = sh0.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    rare = (
        sh0.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= NGRAM_DF_CAP)
        .select("shingle")
    )
    # no broadcast hints: both sides are corpus-sized at 100 TB; AQE picks
    # broadcast automatically when a side is actually small
    shr = sh0.join(rare, "shingle").join(sizes, "doc_id")
    a, b = shr.alias("a"), shr.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.n") <= 2 * F.col("b.n"))
            & (F.col("b.n") <= 2 * F.col("a.n")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    fa, fb = sh0.alias("fa"), sh0.alias("fb")
    inter = (
        cand.join(fa, F.col("fa.doc_id") == F.col("doc_a"))
        .join(
            fb,
            (F.col("fb.doc_id") == F.col("doc_b")) & (F.col("fb.shingle") == F.col("fa.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    na, nb = sizes.alias("na"), sizes.alias("nb")
    jac = F.col("ni").cast("double") / (F.col("na.n") + F.col("nb.n") - F.col("ni"))
    return (
        inter.join(na, F.col("na.doc_id") == F.col("doc_a"))
        .join(nb, F.col("nb.doc_id") == F.col("doc_b"))
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# Embedding cosine near-dup — sign-bucket LSH candidates + exact verify
# --------------------------------------------------------------------------

# Two independent sign-bit hash tables (dims 1-8 and 9-16). A candidate pair
# must collide in at least ONE table — the banding trick: near-identical
# vectors agree on nearly all sign bits, so P(miss in both 8-bit tables) is
# tiny at cos >= 0.9, while random pairs collide in a table with p ~ 2^-8.
_EMB_TABLES: tuple[tuple[int, int], ...] = ((0, 8), (8, 8))  # (start, ndims)


def _emb_bucket_cte() -> str:
    from .similarity import bucket_sql

    cols = ", ".join(
        f"{bucket_sql('embedding', start, nd)} AS bk{t}"
        for t, (start, nd) in enumerate(_EMB_TABLES)
    )
    unions = "\n      UNION ALL\n      ".join(
        f"SELECT {t} AS tbl, bk{t} AS bk, vec_id FROM bucketed"
        for t in range(len(_EMB_TABLES))
    )
    return f"""normed AS (
      SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
                  i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
      FROM embeddings
    ), bucketed AS (
      SELECT vec_id, {cols} FROM embeddings
    ), tables AS (
      {unions}
    ), cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM tables a JOIN tables b
        ON a.tbl = b.tbl AND a.bk = b.bk AND a.vec_id < b.vec_id
    )"""


def _emb_verified_cte_sql() -> str:
    """_emb_bucket_cte() extended through the exact-cosine verifier: adds an
    ``everified(vec_a, vec_b, sim)`` CTE (cos ≥ 0.9, zero-norm guarded).
    ONE definition of the embedding verify predicate — used by
    dedup_embedding_cosine AND dedup_modality_agreement so the audit lane
    can never measure a different edge set than the lane it audits."""
    dot = (
        "list_sum(list_transform(range(1, len(a.embedding) + 1), "
        "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))"
    )
    return f"""{_emb_bucket_cte()}, everified AS (
      SELECT cand.vec_a, cand.vec_b,
             ROUND({dot} / (a.nrm * b.nrm), 5) AS sim
      FROM cand
      JOIN normed a ON a.vec_id = cand.vec_a
      JOIN normed b ON b.vec_id = cand.vec_b
      WHERE a.nrm * b.nrm != 0
        AND {dot} / (a.nrm * b.nrm) >= 0.9
    )"""


@REG.add(
    "dedup_embedding_cosine",
    sql=f"""
    WITH {_emb_verified_cte_sql()}
    SELECT vec_a, vec_b, sim FROM everified
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup (cosine ≥ 0.9): candidates from two sign-bit LSH
    hash tables (equi-join on bucket id — same generator as
    similarity.ann_bucket_cosine), exact cosine as the in-bucket verifier.

    Scale shape: bucket assignment is map-only; each hash table's self-join
    shuffles on the (table, bucket) key, so work is quadratic only within a
    bucket (expected n/256 per table), never across the corpus — no
    BroadcastNestedLoopJoin / CartesianProduct (plan-asserted in
    tests/test_plans.py). Recall: a cos ≥ 0.9 pair must flip a sign in BOTH
    8-dim tables to be missed; add more tables/dims for higher recall."""
    from .similarity import bucket_col

    emb = load_table(spark, sf_dir, "embeddings")
    normed = emb.select("vec_id", "embedding", l2_norm(F.col("embedding")).alias("nrm"))
    bucketed = emb.select(
        "vec_id",
        *[
            bucket_col(F.col("embedding"), start, nd).alias(f"bk{t}")
            for t, (start, nd) in enumerate(_EMB_TABLES)
        ],
    )
    # ONE posexplode pass, not a per-table union: the subtree below is a
    # map-only embeddings scan (no exchange for ReuseExchange to dedup), so
    # a union would re-scan the corpus once per hash table at 100 TB
    # |tables| rows per vector of three small ints — cheap to pin, and the
    # candidate self-join consumes it on BOTH sides (unpinned, each side
    # replays the bucket math from its own embeddings scan; the two exact-
    # cosine verify joins still scan the corpus — they need the raw
    # vectors, and pinning full embeddings would materialize the corpus).
    # r7 scan audit: 4 embeddings scans → 3, A/B-measured.
    tables = pin(
        bucketed.select(
            "vec_id",
            F.posexplode(
                F.array(*[F.col(f"bk{t}") for t in range(len(_EMB_TABLES))])
            ).alias("tbl", "bk"),
        )
    )
    a, b = tables.alias("a"), tables.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bk") == F.col("b.bk"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    from ..functions.vector import dot

    na, nb = normed.alias("na"), normed.alias("nb")
    denom = F.col("na.nrm") * F.col("nb.nrm")
    # guarded like functions/vector.cosine: zero-norm vectors have no
    # direction — NULL sim, dropped by the threshold filter on BOTH engines
    # (unguarded, ANSI Spark throws DIVIDE_BY_ZERO on the first 0/0)
    sim = F.when(denom != 0.0, dot(F.col("na.embedding"), F.col("nb.embedding")) / denom)
    return (
        cand.join(na, F.col("na.vec_id") == F.col("vec_a"))
        .join(nb, F.col("nb.vec_id") == F.col("vec_b"))
        .filter(sim >= 0.9)
        .select("vec_a", "vec_b", F.round(sim, 5).alias("sim"))
    )


_MLLIB_LSH_BANDS = 8
_MLLIB_LSH_ROWS = 2  # numHashTables = bands × rows = 16


@REG.add("dedup_mllib_minhash_lsh")  # rows-only: MLlib's minhash coefficients
# are seeded internally — not reproducible in SQL; semantics tested in
# tests/test_text_dedup.py on planted near-dups + md5-lane parity
def dedup_mllib_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MLlib-native fuzzy-dedup path (SURVEY §4: MinHashLSH is public
    DataFrame-native API): bigram shingles → binary HashingTF vector →
    MinHashLSH signatures → AND-banded candidate equi-join → exact
    shingle-set Jaccard verify at distance ≤ 0.5.

    Two deliberate departures from the naive
    ``model.approxSimilarityJoin(tf, tf, d)`` one-liner, both scale-driven
    (measured at sf0.1, 5 000 docs, local[32]):

    - **Shingles, not unigrams.** Unigram-set similarity is degenerate on
      template-generated corpora — 31% of ALL pairs exceed J ≥ 0.75
      (3.87 M "near-dup" pairs here), so any unigram config is quadratic in
      its own OUTPUT. Bigram shingles match the engine-wide near-dup
      measure (see bigram_shingles): 256 true pairs on the same corpus.
    - **AND-banding over the signature array, not approxSimilarityJoin.**
      MLlib's join is OR-of-k single-hash tables: P(candidate) = 1-(1-J)^k,
      ~5·J for small J — 1.5 M candidates for those 256 pairs (0.017%
      precision), each carried as a full-row struct through a distinct and
      a per-pair vector-UDF distance: ~30 s. Grouping the same 16 MLlib
      hash values into 8 bands × 2 rows (P = 1-(1-J²)^8: 0.90 at the
      J = 0.5 bar, 2% at J = 0.05) cuts candidates to ~108 k, and the
      exact-Jaccard verify runs on 8-byte shingle-hash keys
      (doc_shingle_hashes) instead of 2^18-dim sparse vectors: ~3 s, same
      256 result pairs. The banded join shuffles on an 8-byte
      (band, xxhash64-key) — the shape that survives 100 TB.
    """
    return mllib_lsh_pairs(load_table(spark, sf_dir, "documents"))


def mllib_lsh_pairs(docs: DataFrame) -> DataFrame:
    """MLlib MinHashLSH near-dup pairs over any ``(doc_id, text)`` frame —
    the body of ``dedup_mllib_minhash_lsh``, factored so tests can feed
    planted corpora (including sub-2-token docs that would otherwise hit
    MinHashLSH's zero-vector restriction)."""
    from pyspark.ml.feature import HashingTF, MinHashLSH
    from pyspark.ml.functions import vector_to_array

    from .text import tokens_col

    # Docs with <2 tokens shingle to an empty array → all-zero TF vector,
    # and MinHashLSHModel throws on zero vectors ("Must have at least 1 non
    # zero entry"). Such docs trivially have no near-dup pairs, so drop them
    # before the model; testdata minimums hide this, short real docs don't.
    #
    # The drop is phrased as ``size(__toks) >= 2`` on the TOKEN column, not
    # ``size(shingles) > 0`` on the shingle column (equivalent: shingles
    # are non-empty iff the doc has ≥2 tokens). Filtering on the shingle
    # column pushed the predicate below the projection, substituting the
    # FULL shingle expression into the condition — including the transform
    # lambda, whose element_at(toks, ·) then re-evaluated the whole
    # split-regex tokenization PER BIGRAM (plan-verified; the shingle pass
    # cost 7.3 s vs 0.5 s at sf0.1, r12). On the token column the pushed
    # condition is one size(filter(split(...))) per row.
    staged = docs.select("doc_id", tokens_col().alias("__toks")).filter(
        F.size(F.col("__toks")) >= 2
    )
    sh = staged.select("doc_id", bigram_shingles(F.col("__toks")).alias("shingles"))
    # localCheckpoint: FIVE consumers sit downstream of this map-only
    # subtree (LSH fit, both band-join sides, and the verify's shingle
    # hashes + sizes) — uncheckpointed, Spark re-ran tokenize→shingle per
    # consumer (measured r5-tail: lane 14.4 s → 8.5 s with the shingle
    # frame materialized once; it is |docs| rows of shingle arrays).
    sh = pin(sh)
    # binary=True → set semantics (presence, not counts), matching Jaccard
    tf = (
        HashingTF(
            inputCol="shingles", outputCol="features", numFeatures=1 << 18, binary=True
        )
        .transform(sh)
        .select("doc_id", "features")  # slim before the wide stages
    )
    n_tables = _MLLIB_LSH_BANDS * _MLLIB_LSH_ROWS
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=n_tables, seed=42
    ).fit(tf)
    # hashes = array of n_tables 1-dim vectors; flatten to array<long> once
    sigs = model.transform(tf).select(
        "doc_id",
        F.transform("hashes", lambda v: vector_to_array(v)[0].cast("long")).alias("hv"),
    )
    # ONE posexplode pass, not a per-band union: the subtree below here is
    # map-only (no exchange for ReuseExchange to dedup), so an 8-way union
    # would re-run tokenize→HashingTF→minhash once per band
    band_keys = F.array(
        *[
            F.xxhash64(
                *[
                    F.col("hv")[_MLLIB_LSH_ROWS * bi + r]
                    for r in range(_MLLIB_LSH_ROWS)
                ],
                F.lit(bi),
            )
            for bi in range(_MLLIB_LSH_BANDS)
        ]
    )
    bands = sigs.select("doc_id", F.posexplode(band_keys).alias("band", "bkey"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # exact shingle-set Jaccard verify, candidates only (same machinery as
    # verified_near_dup_edges; reports distance like MLlib's keyDistance)
    # derive the verify hashes from the SAME checkpointed shingle frame
    # (identical content to doc_shingle_hashes_from(docs): explode →
    # distinct → md5; short docs it drops have no shingles to hash anyway)
    sh0 = (
        sh.select("doc_id", F.explode("shingles").alias("shingle"))
        .distinct()
        .select("doc_id", md5_hash32(F.col("shingle")).alias("h"))
    )
    inter, sizes = _shingle_intersections(cand, sh0)
    na, nb = sizes.alias("na"), sizes.alias("nb")
    dist = 1 - F.col("ni").cast("double") / (F.col("na.n") + F.col("nb.n") - F.col("ni"))
    return (
        inter.join(na, F.col("na.doc_id") == F.col("doc_a"))
        .join(nb, F.col("nb.doc_id") == F.col("doc_b"))
        .filter(dist <= 0.5)
        .select("doc_a", "doc_b", F.round(dist, 6).alias("jaccard_dist"))
    )


# --------------------------------------------------------------------------
# End-to-end dedup pipeline: LSH candidates → exact verify → survivors
# --------------------------------------------------------------------------


def _cand_cte_sql() -> str:
    """CTEs through shingle-minhash LSH candidate pairs at the oracle
    geometry (no est filter — the exact Jaccard verifier replaces the
    signature estimate)."""
    band_selects = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {bi} AS band, {_band_key_sql(sl)} AS bkey FROM sig"
        for bi, sl in enumerate(_band_slices(N_PERMS, ORACLE_ROWS_PER_BAND))
    )
    return f"""{_SHINGLE_HASH_CTE}, sig AS (
      {_sig_select_sql()}
    ), bands AS (
      {band_selects}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    )"""


def _verified_cte_sql() -> str:
    """_cand_cte_sql() extended through the exact-Jaccard verifier: adds
    sh0/sizes/inter and a ``verified(doc_a, doc_b)`` CTE (J ≥ 0.5)."""
    return f"""{_cand_cte_sql()},
    sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM th GROUP BY doc_id
    ), inter AS (
      SELECT cand.doc_a, cand.doc_b, COUNT(*) AS ni
      FROM cand
      JOIN th a ON a.doc_id = cand.doc_a
      JOIN th b ON b.doc_id = cand.doc_b AND b.h = a.h
      GROUP BY cand.doc_a, cand.doc_b
    ), verified AS (
      SELECT doc_a, doc_b
      FROM inter
      JOIN sizes na ON na.doc_id = doc_a
      JOIN sizes nb ON nb.doc_id = doc_b
      WHERE CAST(ni AS DOUBLE) / (na.n + nb.n - ni) >= 0.5
    )"""


def verified_near_dup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b) pairs that are LSH candidates AND pass exact
    bigram-shingle Jaccard ≥ 0.5 — the verified near-dup edge set the
    pipeline/connected-components queries consume. Candidates come from
    SHINGLE-minhash signatures so candidacy estimates the verifier's own
    measure (see _SHINGLE_HASH_CTE).

    The shingle-hash frame is materialized ONCE (localCheckpoint): six
    consumers sit downstream — the signature agg, both band-join sides
    through it, both intersection sides, and the size agg — and Catalyst
    re-planned the scan→tokenize→shingle→explode→distinct subtree for
    each (measured at sf0.1: 6 scans of documents.parquet, 0
    ReusedExchange; 2.43 s → 2.13 s median with the checkpoint, and the
    downstream lanes — connected components, cluster histogram, corpus
    prep — inherit the saving). Same doctrine as mllib_lsh_pairs. At
    100 TB the frame is |docs|·|shingles| 12-byte rows — the thing you
    materialize precisely so the corpus scan happens once."""
    sh0 = pin(doc_shingle_hashes(spark, sf_dir))
    sig = minhash_signatures_from(sh0)
    cand = minhash_candidate_pairs(sig, N_PERMS, ORACLE_ROWS_PER_BAND)
    inter, sizes = _shingle_intersections(cand, sh0)
    na, nb = sizes.alias("na"), sizes.alias("nb")
    jac = F.col("ni").cast("double") / (F.col("na.n") + F.col("nb.n") - F.col("ni"))
    return (
        inter.join(na, F.col("na.doc_id") == F.col("doc_a"))
        .join(nb, F.col("nb.doc_id") == F.col("doc_b"))
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b")
    )


_CC_MAX_ITERS = 50


@REG.add(
    "dedup_connected_components",
    # _verified_cte_sql() opens with "WITH ..." (via _SHINGLE_HASH_CTE
    # inside _cand_cte_sql); the
    # recursive form needs the CTE list under a single "WITH RECURSIVE"
    sql=f"""
    WITH RECURSIVE {_verified_cte_sql().replace("WITH", "", 1)},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM verified
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM verified
    ), nodes AS (
      SELECT DISTINCT src AS doc FROM edges
    ),
    reach(doc, lab) AS (
      SELECT doc, doc FROM nodes
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.doc
    )
    SELECT doc AS doc_id, MIN(lab) AS component FROM reach GROUP BY doc
    """,
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the verified near-dup graph: every doc in a
    duplicate cluster is labeled with the cluster's minimum doc_id — the
    canonical-representative upgrade over per-edge greedy removal (a chain
    0–1, 1–2 keeps exactly doc 0 here).

    Iterative min-label propagation (the Pregel pattern on DataFrames):
    each round a node takes the min of its own and its neighbors' labels;
    converges in ≤ graph-diameter rounds (near-dup clusters are shallow).
    Each round joins only the labels that changed last round against the
    edges and folds them in with one groupBy — all shuffles on doc_id — and
    lineage is truncated per round with localCheckpoint so round N's plan
    does not replay rounds 1..N-1. The oracle is a recursive CTE computing
    min-reachable-label, which is the same fixpoint.
    """
    return connected_components(verified_near_dup_edges(spark, sf_dir))


def connected_components(edges: DataFrame) -> DataFrame:
    """Min-label propagation over an undirected edge list (doc_a, doc_b) →
    (doc_id, component) where component = min doc_id in the node's component.
    See dedup_connected_components for the scale argument."""
    # symmetrize with one explode pass (a unionByName of two selects over
    # `edges` would evaluate the whole upstream verify pipeline twice —
    # ReuseExchange does not dedup map-only union branches)
    sym = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
                F.struct(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    # LAZY checkpoints: the job that first reads a frame materializes it
    # (Spark backfills any partition that job skipped), so no round pays a
    # separate pass just to fill its checkpoint. `sym` is computed once, by
    # round 1, and reused every round.
    sym = pin(sym, eager=False)
    # Semi-naive rounds over (doc, lab, old): `old` is the node's label
    # before the round, so a round's changed nodes are `lab < old` on its
    # own checkpoint and no second join is needed to find them. Only the
    # changed nodes send their label on: a neighbour's unchanged label was
    # already sent when it last changed, so every round computes the same
    # labels as full propagation. Round 1 needs no join at all: every node
    # starts as its own label, so it takes the min of itself and its
    # neighbours.
    labels = pin(
        sym.groupBy(F.col("src").alias("doc"))
        .agg(F.min("dst").alias("nb"))
        .select("doc", F.least("doc", "nb").alias("lab"), F.col("doc").alias("old")),
        eager=False,
    )
    lab_type = labels.schema["lab"].dataType
    prev = None
    for _ in range(_CC_MAX_ITERS):
        changed = labels.filter(F.col("lab") < F.col("old"))
        converged = changed.isEmpty()
        # that check materialized `labels`, so nothing reads the previous
        # round's labels any more: release their blocks instead of leaking
        # one vector per round for the session's lifetime
        if prev is not None:
            release(prev)
        if converged:
            break
        prop = sym.join(changed, sym.src == changed.doc).select(
            F.col("dst").alias("doc"), "lab", F.lit(None).cast(lab_type).alias("old")
        )
        prev, labels = labels, pin(
            labels.select("doc", "lab", F.col("lab").alias("old"))
            .unionByName(prop)
            .groupBy("doc")
            .agg(F.min("lab").alias("lab"), F.min("old").alias("old")),
            eager=False,
        )
    else:
        raise RuntimeError(f"label propagation did not converge in {_CC_MAX_ITERS} rounds")
    release(sym)
    return labels.select(F.col("doc").alias("doc_id"), F.col("lab").alias("component"))


@REG.add(
    "dedup_pipeline_survivors",
    sql=f"""
    {_cand_cte_sql()},
    sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM th GROUP BY doc_id
    ), inter AS (
      SELECT cand.doc_a, cand.doc_b, COUNT(*) AS ni
      FROM cand
      JOIN th a ON a.doc_id = cand.doc_a
      JOIN th b ON b.doc_id = cand.doc_b AND b.h = a.h
      GROUP BY cand.doc_a, cand.doc_b
    ), flags AS (
      SELECT cand.doc_b,
             COALESCE(CAST(inter.ni AS DOUBLE) / (na.n + nb.n - inter.ni) >= 0.5,
                      FALSE) AS verified
      FROM cand
      LEFT JOIN inter ON inter.doc_a = cand.doc_a AND inter.doc_b = cand.doc_b
      LEFT JOIN sizes na ON na.doc_id = cand.doc_a
      LEFT JOIN sizes nb ON nb.doc_id = cand.doc_b
    ), agg AS (
      SELECT COUNT(*) AS n_candidates,
             CAST(COALESCE(SUM(CASE WHEN verified THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS n_verified_pairs,
             COUNT(DISTINCT CASE WHEN verified THEN doc_b END) AS n_removed
      FROM flags
    )
    SELECT d.n_docs, agg.n_candidates, agg.n_verified_pairs, agg.n_removed,
           d.n_docs - agg.n_removed AS n_survivors
    FROM (SELECT COUNT(*) AS n_docs FROM documents) d, agg
    """,
)
def dedup_pipeline_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE 100 TB dedup workflow as one query: SHINGLE-minhash LSH candidate
    pairs (equi-join on band buckets — never quadratic; the signature
    estimates the verifier's own shingle-Jaccard measure, so candidacy stays
    proportional to true near-dups even on template-heavy corpora — see
    _SHINGLE_HASH_CTE) → exact bigram-shingle
    Jaccard ≥ 0.5 computed ONLY on candidate pairs → drop the higher doc_id
    of every verified pair (deterministic greedy keep-min; full
    connected-components would need iteration — at scale run this greedy
    pass per LSH round, which removes ≥ the CC survivors' duplicates since
    every verified edge loses its higher endpoint).

    Exact duplicates fall out for free: identical texts share all bands and
    verify at J=1.0. All three pair-level counts come from ONE aggregation
    over the candidate frame (left-join the intersection counts, flag, agg),
    so the candidate DAG is computed once, not once per count.

    The shingle-hash frame is materialized once (localCheckpoint), same
    doctrine as verified_near_dup_edges: uncheckpointed, this plan scanned
    documents.parquet NINE times (sig→band self-join ×2, intersections
    ×2, two size aggs, plus re-plans) with 0 ReusedExchange at sf0.1 —
    at 100 TB that is nine corpus scans for one dedup report. NOT applied
    to dedup_edit_distance_verify: there the banded-DP dominates and the
    extra eager job measured net-negative (3.61 s → 3.82 s).
    """
    docs = load_table(spark, sf_dir, "documents")
    sh0 = pin(doc_shingle_hashes(spark, sf_dir))
    sig = minhash_signatures_from(sh0)
    cand = minhash_candidate_pairs(sig, N_PERMS, ORACLE_ROWS_PER_BAND)

    inter, sizes = _shingle_intersections(cand, sh0)
    na, nb = sizes.alias("na"), sizes.alias("nb")
    jac = F.col("ni").cast("double") / (F.col("na.n") + F.col("nb.n") - F.col("ni"))
    flags = (
        cand.join(inter.alias("i"), ["doc_a", "doc_b"], "left")
        .join(na, F.col("na.doc_id") == F.col("doc_a"), "left")
        .join(nb, F.col("nb.doc_id") == F.col("doc_b"), "left")
        .select("doc_b", F.coalesce(jac >= 0.5, F.lit(False)).alias("verified"))
    )
    agg = flags.agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.coalesce(
            F.sum(F.when(F.col("verified"), 1).otherwise(0)), F.lit(0)
        ).alias("n_verified_pairs"),
        F.countDistinct(F.when(F.col("verified"), F.col("doc_b"))).alias("n_removed"),
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return n_docs.crossJoin(agg).select(
        "n_docs",
        "n_candidates",
        "n_verified_pairs",
        "n_removed",
        (F.col("n_docs") - F.col("n_removed")).alias("n_survivors"),
    )


@REG.add(
    "dedup_keep_first",
    sql="""
    SELECT l_orderkey, l_linenumber, l_quantity FROM (
      SELECT l_orderkey, l_linenumber, l_quantity,
             ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                ORDER BY l_linenumber) AS rn
      FROM lineitem WHERE l_orderkey < 2000
    ) WHERE rn = 1
    """,
)
def dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic keep-one-per-key: window row_number over an explicit
    order, rn=1. This is the engine's canonical subset-dedup —
    ``dropDuplicates(subset)`` keeps an ARBITRARY row (first encountered per
    partition order, nondeterministic on a cluster), so it is banned for
    anything result-bearing; the window form costs the same single shuffle
    and is reproducible."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 2000)
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    return (
        li.select("l_orderkey", "l_linenumber", "l_quantity", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# Edit-similarity verification bar for LSH candidates (1 − lev/maxlen).
EDIT_SIM_MIN = 0.5


@REG.add(
    "dedup_edit_distance_verify",
    sql=f"""
    {_cand_cte_sql()},
    scored AS (
      SELECT c.doc_a, c.doc_b,
             1.0 - CAST(levenshtein(da.text, db.text) AS DOUBLE)
                   / GREATEST(length(da.text), length(db.text)) AS sim
      FROM cand c
      JOIN documents da ON da.doc_id = c.doc_a
      JOIN documents db ON db.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, ROUND(sim, 6) AS edit_sim
    FROM scored WHERE sim >= {EDIT_SIM_MIN}
    """,
)
def dedup_edit_distance_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level verification of LSH candidates: normalized edit
    similarity (1 − levenshtein/maxlen) over the shingle-minhash candidate
    pairs, keeping pairs above the bar. The alternative verifier to exact
    shingle Jaccard when ordering inside the document matters (Jaccard is
    order-blind; edit distance is not).

    Scale shape: levenshtein is O(len²) per pair, which is exactly why it
    only ever runs on the LSH candidate set, never the corpus cross product
    — candidates come from the same banded equi-join as the Jaccard
    pipeline. Two further EXACT pruning layers keep the per-pair cost down
    (result-identical; measured 13.8 s → see SCALE.md at sf0.1 under the
    deliberately-noisy 8-perm oracle geometry):

    - length-gap prefilter: edit distance ≥ |len_a − len_b|, so any pair
      whose length gap alone forces sim below the bar is dropped BEFORE
      the DP — no text comparison at all;
    - banded levenshtein: the surviving pairs run the threshold form
      ``levenshtein(a, b, k)`` with k = floor((1−bar)·maxlen) — the DP
      explores a 2k+1 diagonal band (O(n·k), early-abandon) and returns −1
      iff the true distance exceeds k, which by construction means
      sim < bar, so dropping −1 rows is exact.

    Both engines compute the identical integer distance and divide by the
    identical integer length, so the threshold compare is engine-exact
    (the oracle runs the unbanded form; same result set)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sig = minhash_signatures_from(doc_shingle_hashes(spark, sf_dir))
    cand = minhash_candidate_pairs(sig, N_PERMS, ORACLE_ROWS_PER_BAND)
    da, db = docs.alias("da"), docs.alias("db")
    maxl = F.greatest(F.length("da.text"), F.length("db.text"))
    minl = F.least(F.length("da.text"), F.length("db.text"))
    # ONE exact threshold expression k = floor((1−bar)·maxlen), parsed by
    # Spark SQL as exact decimal arithmetic, feeds BOTH the length-gap
    # prefilter and the banded DP. Deriving the prefilter bound separately
    # via Python float (1.0 - EDIT_SIM_MIN) silently diverges from the SQL
    # decimal for non-binary-exact bars (e.g. 0.8 → 0.19999999999999996)
    # and could drop a boundary pair the unbanded oracle keeps.
    _k_sql = (
        f"CAST(FLOOR((1.0 - {EDIT_SIM_MIN}) * "
        "GREATEST(LENGTH(da.text), LENGTH(db.text))) AS INT)"
    )
    k = F.expr(_k_sql)
    banded = F.expr(f"levenshtein(da.text, db.text, {_k_sql})")
    scored = pin(
        cand.join(da, F.col("da.doc_id") == F.col("doc_a"))
        .join(db, F.col("db.doc_id") == F.col("doc_b"))
        # exact prefilter: lev >= maxl - minl, so a gap > k already forces
        # sim < bar; gap is an integer, so gap <= (1-bar)*maxl ⟺ gap <= k
        .filter((maxl - minl) <= k)
        # spread the DP across the cluster: the joined pairs otherwise
        # inherit the scan's partitioning (1 task on a single-row-group
        # file) and the whole O(n·k) pass runs serially — measured 22 s →
        # 3.6 s at sf0.1 on 32 cores
        .repartition(spark.sparkContext.defaultParallelism, "doc_a", "doc_b")
        .select("doc_a", "doc_b", banded.alias("lev"), maxl.alias("maxl"))
        # Materialize the DP scores: without this barrier Catalyst inlines
        # the levenshtein expression into the downstream filter AND the
        # join condition AND the projection — 3 evaluations per pair
        # (measured 3×: 9.3 s → 3.1 s at sf0.1). The scored pair list is a
        # production artifact anyway (it feeds removal + audit).
    )
    sim = F.lit(1.0) - F.col("lev").cast("double") / F.col("maxl")
    return (
        scored.filter(F.col("lev") >= 0)
        .select("doc_a", "doc_b", sim.alias("sim"))
        .filter(F.col("sim") >= EDIT_SIM_MIN)
        .select("doc_a", "doc_b", F.round("sim", 6).alias("edit_sim"))
    )


@REG.add(
    "dedup_cluster_size_histogram",
    sql=f"""
    WITH RECURSIVE {_verified_cte_sql().replace("WITH", "", 1)},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM verified
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM verified
    ), nodes AS (
      SELECT DISTINCT src AS doc FROM edges
    ),
    reach(doc, lab) AS (
      SELECT doc, doc FROM nodes
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.doc
    ), comp AS (
      SELECT doc, MIN(lab) AS component FROM reach GROUP BY doc
    ), csizes AS (
      SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY component
    )
    SELECT cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(cluster_size) AS BIGINT) AS n_docs,
           CAST(SUM(cluster_size) - COUNT(*) AS BIGINT) AS n_removable
    FROM csizes GROUP BY cluster_size ORDER BY cluster_size
    """,
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size distribution — the triage report a dedup run
    produces before deleting anything: how many clusters of each size, how
    many docs they hold, and how many rows dedup will actually remove
    (size − 1 per cluster, summed). At 100 TB this is the sanity gate that
    catches a too-aggressive threshold (one giant cluster) before the
    destructive pass. Scale shape: two tiny re-aggregations over the CC
    labeling (bounded by dup-cluster count, ≪ corpus)."""
    comp = dedup_connected_components(spark, sf_dir)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("cluster_size").alias("n_docs"),
            (F.sum("cluster_size") - F.count(F.lit(1))).alias("n_removable"),
        )
        .orderBy("cluster_size")
    )


@REG.add(
    "dedup_modality_agreement",
    sql=f"""
    WITH text_edges AS (
      {_verified_cte_sql()}
      SELECT doc_a, doc_b FROM verified
    ), emb_edges AS (
      WITH {_emb_verified_cte_sql()}
      SELECT vec_a AS doc_a, vec_b AS doc_b FROM everified
    ), both_e AS (
      SELECT doc_a, doc_b FROM text_edges
      INTERSECT
      SELECT doc_a, doc_b FROM emb_edges
    )
    SELECT
      CAST((SELECT COUNT(*) FROM text_edges) AS BIGINT) AS n_text_pairs,
      CAST((SELECT COUNT(*) FROM emb_edges) AS BIGINT) AS n_emb_pairs,
      CAST((SELECT COUNT(*) FROM both_e) AS BIGINT) AS n_both,
      ROUND(CAST((SELECT COUNT(*) FROM both_e) AS DOUBLE)
            / NULLIF((SELECT COUNT(*) FROM text_edges)
                     + (SELECT COUNT(*) FROM emb_edges)
                     - (SELECT COUNT(*) FROM both_e), 0), 6)
        AS pair_set_jaccard
    """,
)
def dedup_modality_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modality dedup audit: how far do the TEXT near-dup detector
    (shingle-minhash LSH → exact Jaccard ≥ 0.5) and the EMBEDDING near-dup
    detector (sign-bucket LSH → exact cosine ≥ 0.9, the SHARED
    _emb_verified_cte_sql definition) agree on which pairs are duplicates?
    Output: each modality's verified pair count, the intersection, and the
    Jaccard of the two pair SETS — the one-row health metric a multi-modal
    dedup pipeline tracks per corpus snapshot (textual dups with unrelated
    embeddings point at a broken encoder; embedding dups with unrelated
    text point at templated/boilerplate docs). Doc ids and vec ids are
    aligned in the testdata (row i ↔ row i); on its random embeddings the
    intersection is honestly near-empty — the audit's value is the
    MEASUREMENT, as with ann_recall_at_k.

    Scale shape: both edge generators are the registered lanes' own
    bucketed equi-joins (nothing quadratic); the counts come from ONE
    full-outer join of the two edge sets + one aggregation — each edge set
    evaluated once, no broadcast-nested-loop singleton cross-joins."""
    text_edges = (
        verified_near_dup_edges(spark, sf_dir)
        .select("doc_a", "doc_b")
        .withColumn("t", F.lit(1))
    )
    emb_edges = dedup_embedding_cosine(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    ).withColumn("e", F.lit(1))
    j = text_edges.join(emb_edges, ["doc_a", "doc_b"], "full_outer")
    n_text = F.coalesce(F.sum("t"), F.lit(0)).cast("long")
    n_emb = F.coalesce(F.sum("e"), F.lit(0)).cast("long")
    n_both = F.coalesce(
        F.sum(F.when(F.col("t").isNotNull() & F.col("e").isNotNull(), 1)), F.lit(0)
    ).cast("long")
    return j.agg(
        n_text.alias("n_text_pairs"),
        n_emb.alias("n_emb_pairs"),
        n_both.alias("n_both"),
        F.round(
            n_both.cast("double")
            / F.nullif(n_text + n_emb - n_both, F.lit(0)),
            6,
        ).alias("pair_set_jaccard"),
    )


@REG.add(
    "er_customer_blocking",
    sql="""
    SELECT a.c_custkey AS a_key, b.c_custkey AS b_key,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
    FROM customer a JOIN customer b
      ON a.c_nationkey = b.c_nationkey
     AND a.c_mktsegment = b.c_mktsegment
     AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 2
    ORDER BY a_key, b_key
    """,
)
def er_customer_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution / record linkage over a structured table —
    blocking then verify, the same candidates-not-all-pairs discipline as
    the document dedup family but on entity attributes: candidate pairs
    come from an EQUI-join on the blocking key (nationkey, mktsegment),
    and only candidates pay the O(len^2) levenshtein verify (<= 2 edits).
    A direct all-pairs name comparison is |customer|^2; blocking divides
    the quadratic term by the number of blocks, and at 100 TB the
    blocking key is the shuffle key, so each block's pair generation is
    partition-local. Production tightens blocks further (phonetic keys,
    name prefixes, sorted-neighbourhood windows) — the plan shape is
    identical, only the key changes; pairs emit a < b once.

    Verify cost discipline: the THRESHOLDED levenshtein(a, b, 2) (Spark
    3.5 banded variant, returns -1 past the bound) runs O(len·k) per
    pair with early exit instead of the full O(len²) DP — on candidate
    sets where almost every pair misses (the normal ER regime; the
    classic length-difference prefilter is useless here because every
    TPC-H name has identical length) the verify is where the time goes,
    measured ~2× on this lane."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment"
    )
    a = cust.select(
        F.col("c_custkey").alias("a_key"),
        F.col("c_name").alias("a_name"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_mktsegment").alias("seg"),
    )
    b = cust.select(
        F.col("c_custkey").alias("b_key"),
        F.col("c_name").alias("b_name"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_mktsegment").alias("seg"),
    )
    # Spread the verify across the cluster (the dedup_edit_distance_verify
    # discipline, r12): the broadcast block-join's probe side otherwise
    # inherits the scan's partitioning — ONE task on a single-row-group
    # file — and every candidate pair's levenshtein runs serially (the
    # banded DP sits in the JOIN CONDITION, so it executes on the probe
    # task; plan-verified). Repartitioning the 4-column probe is one tiny
    # exchange; at 100 TB the scan is many-partition anyway and this is a
    # no-op cost. Block-key hash keeps pair generation partition-local.
    a = a.repartition(spark.sparkContext.defaultParallelism, "nk", "seg")
    return (
        a.join(b, ["nk", "seg"])
        .filter(F.col("a_key") < F.col("b_key"))
        # banded edit distance with early exit: -1 encodes "past the bound"
        .withColumn(
            "dist", F.levenshtein("a_name", "b_name", threshold=2).cast("long")
        )
        .filter(F.col("dist") >= 0)
        .select("a_key", "b_key", "dist")
        .orderBy("a_key", "b_key")
    )
