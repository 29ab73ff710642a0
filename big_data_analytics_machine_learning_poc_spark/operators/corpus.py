"""Corpus-preparation operators: the steps between "raw documents" and
"training shards" in a 100 TB text pipeline (no reference counterpart —
extension surface next to operators/text.py and operators/dedup.py).

- quality filtering (C4-style keep/drop with per-language accounting),
- sequence packing (assign documents to fixed-token-budget context windows),
- leakage-safe deterministic splits (content-hash bucketing — identical
  texts, and therefore exact dups, always land in the same split; unlike
  seeded randomSplit this is reproducible across partitionings),
- n-gram statistics (top bigrams per language with deterministic ties).

Everything is JVM-side column algebra over `documents` — no Python in the
hot path; every query has an exact DuckDB oracle (md5-derived hashing from
functions/hashing.py where hashing is involved).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.ckpt import pin
from ..functions.hashing import (
    md5_hash32,
    md5_hash32_sql,
    md5_hash60,
    md5_hash60_sql,
)
from ..functions.windows import ranked
from ..functions.localrows import local_rows_df
from ..registry import QueryRegistry
from .dedup import bigram_shingles, _BIGRAMS_SQL
from .text import (
    QUALITY_MAX_STOPWORD_RATIO,
    QUALITY_MAX_TOKENS,
    QUALITY_MIN_TOKENS,
    STOPWORDS,
    TOKENS_SQL,
    _hits,
    _hits_sql,
    tokens_col,
)

REG = QueryRegistry()

# Content-hash 80/10/10 split — ONE definition (SQL + column form) used by
# corpus_split_by_fingerprint, corpus_contamination_check, and
# corpus_e2e_prep alike. The leakage-safety guarantee is that all three see
# the IDENTICAL assignment; retuning ratios or the hash input here retunes
# every consumer at once instead of silently forking the partition.
_SPLIT_TRAIN_PCT, _SPLIT_VALID_PCT = 80, 90  # <80 train, <90 valid, else test


def _split_sql() -> str:
    h = md5_hash32_sql("text")
    return f"""CASE WHEN {h} % 100 < {_SPLIT_TRAIN_PCT} THEN 'train'
                      WHEN {h} % 100 < {_SPLIT_VALID_PCT} THEN 'valid'
                      ELSE 'test' END"""


def _split_col() -> F.Column:
    bucket = md5_hash32(F.col("text")) % 100
    return (
        F.when(bucket < _SPLIT_TRAIN_PCT, "train")
        .when(bucket < _SPLIT_VALID_PCT, "valid")
        .otherwise("test")
    )

# C4-style keep predicate — thresholds imported from text.py so the keep
# gate and text_quality's per-doc flag are one definition, by construction.
_MIN_TOKENS, _MAX_TOKENS, _MAX_STOPWORD_RATIO = (
    QUALITY_MIN_TOKENS,
    QUALITY_MAX_TOKENS,
    QUALITY_MAX_STOPWORD_RATIO,
)

_KEEP_SQL = f"""(len({TOKENS_SQL}) BETWEEN {_MIN_TOKENS} AND {_MAX_TOKENS}
                 AND CAST({_hits_sql(STOPWORDS)} AS DOUBLE)
                     / NULLIF(len({TOKENS_SQL}), 0) < {_MAX_STOPWORD_RATIO})"""


def _keep_col(toks: F.Column | None = None) -> F.Column:
    """C4-style keep predicate. Pass a staged token column — inline
    tokens_col() re-runs the split regex inside the stopword filter lambda
    per element (dedup.bigram_shingles PERF note)."""
    if toks is None:
        toks = tokens_col()
    n_tokens = F.size(toks)
    stop_ratio = _hits(STOPWORDS, toks).cast("double") / F.nullif(n_tokens, F.lit(0))
    return n_tokens.between(_MIN_TOKENS, _MAX_TOKENS) & (
        stop_ratio < F.lit(_MAX_STOPWORD_RATIO)
    )


@REG.add(
    "corpus_quality_filter",
    sql=f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN {_KEEP_SQL} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(COUNT(*) - SUM(CASE WHEN {_KEEP_SQL} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped,
           ROUND(CAST(SUM(CASE WHEN {_KEEP_SQL} THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS kept_ratio
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def corpus_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language keep/drop accounting for the standard quality gate
    (length bounds + stopword-density cap). Scale shape: one codegen'd map
    pass + one groupBy on a tiny key domain — the filter itself never
    shuffles documents, only per-language counters."""
    docs = load_table(spark, sf_dir, "documents").select(
        "lang", tokens_col().alias("__toks")  # staged (PERF note)
    )
    kept = F.sum(F.when(_keep_col(F.col("__toks")), 1).otherwise(0))
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            kept.alias("n_kept"),
            (F.count(F.lit(1)) - kept).alias("n_dropped"),
            F.round(kept.cast("double") / F.count(F.lit(1)), 6).alias("kept_ratio"),
        )
        .orderBy("lang")
    )


# Context-window budget for packing (tokens per training sequence).
_SEQ_TOKENS = 256


@REG.add(
    "corpus_pack_sequences",
    sql=f"""
    WITH toks AS (
      SELECT lang, doc_id, len({TOKENS_SQL}) AS n_tokens FROM documents
    ), packed AS (
      SELECT lang, doc_id, n_tokens,
             CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                             ROWS UNBOUNDED PRECEDING) - n_tokens)
                        / {_SEQ_TOKENS}.0) AS BIGINT) AS seq_id
      FROM toks
    )
    SELECT lang, seq_id, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM packed GROUP BY lang, seq_id
    """,
)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: within each language shard, documents are
    assigned (in doc_id order) to fixed-token-budget context windows by
    their running token offset — the standard "pack short documents into
    one training sequence" step.

    Scale shape: ONE shuffle on the shard key (lang here; a production
    pipeline uses (shard_id) with thousands of values) and an ordered
    running sum inside each partition — no global ordering anywhere.
    Division by a power of two is FP-exact, so the oracle matches bitwise.
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("lang", "doc_id", F.size(tokens_col()).cast("long").alias("n_tokens"))
    w = ranked("doc_id", partition_by="lang").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # running token count up to and including this doc; offset = cum - own
    cum = F.sum("n_tokens").over(w)
    seq_id = F.floor((cum - F.col("n_tokens")) / F.lit(_SEQ_TOKENS)).cast("long")
    return (
        toks.select("lang", "n_tokens", seq_id.alias("seq_id"))
        .groupBy("lang", "seq_id")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("n_tokens"))
    )


@REG.add(
    "corpus_split_by_fingerprint",
    sql=f"""
    WITH assigned AS (
      SELECT lang, {_split_sql()} AS split
      FROM documents
    )
    SELECT lang, split, COUNT(*) AS n_docs
    FROM assigned GROUP BY lang, split
    """,
)
def corpus_split_by_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe 80/10/10 split: bucket on a content hash, not a random
    draw. Identical texts (exact dups) always land in the same split, and
    assignment is reproducible regardless of partitioning or cluster size —
    the two properties seeded randomSplit cannot give (SURVEY §7 #1). Pure
    map + small-key groupBy; at 100 TB the split column is written as a
    partition column so downstream readers prune."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", _split_col().alias("split"))
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# Source-mixing weights (percent kept). A training mix up-/down-samples
# sources deterministically; unlisted sources get the default rate.
_MIX_HIGH = ("src0", "src1", "src2", "src3", "src4")  # quality sources: keep all
_MIX_HIGH_PCT, _MIX_DEFAULT_PCT = 100, 40

# COALESCE on both sides: with a NULL source, `||` yields NULL (DuckDB)
# while Spark's concat_ws SKIPS nulls — the keep decision for a
# NULL-source row would diverge between engine and oracle
_MIX_HASH_SQL = md5_hash32_sql(
    "COALESCE(source, '') || ':' || CAST(doc_id AS VARCHAR)"
)
_MIX_HIGH_INLIST = ", ".join(f"'{s}'" for s in _MIX_HIGH)


@REG.add(
    "corpus_mix_sources",
    sql=f"""
    WITH flagged AS (
      SELECT source,
             CASE WHEN {_MIX_HASH_SQL} % 100 <
                       CASE WHEN source IN ({_MIX_HIGH_INLIST})
                            THEN {_MIX_HIGH_PCT} ELSE {_MIX_DEFAULT_PCT} END
                  THEN 1 ELSE 0 END AS kept
      FROM documents
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(kept) AS BIGINT) AS n_sampled,
           ROUND(CAST(SUM(kept) AS DOUBLE) / COUNT(*), 6) AS sampled_ratio
    FROM flagged GROUP BY source
    """,
)
def corpus_mix_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic source mixing: per-source sampling rates applied by
    hashing (source, doc_id) — the training-mix step. Unlike ``sample()``
    the decision is a pure function of the row, so reruns, retries, and
    different partitionings keep the exact same subset (and the oracle can
    reproduce it). Map-only + small-key groupBy; at scale the kept flag
    becomes a filter pushed into the shard-writing job."""
    docs = load_table(spark, sf_dir, "documents")
    rate = F.when(
        F.col("source").isin(*_MIX_HIGH), F.lit(_MIX_HIGH_PCT)
    ).otherwise(F.lit(_MIX_DEFAULT_PCT))
    h = md5_hash32(
        F.concat(
            F.coalesce(F.col("source"), F.lit("")),
            F.lit(":"),
            F.col("doc_id").cast("string"),
        )
    )
    kept = F.when((h % 100) < rate, 1).otherwise(0)
    return (
        docs.select("source", kept.alias("kept"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("kept").alias("n_sampled"),
            F.round(F.sum("kept").cast("double") / F.count(F.lit(1)), 6).alias("sampled_ratio"),
        )
    )


@REG.add(
    "corpus_ngram_topk",
    sql=f"""
    WITH grams AS (
      SELECT lang, unnest({_BIGRAMS_SQL}) AS bigram FROM documents
    ), counts AS (
      SELECT lang, bigram, COUNT(*) AS n FROM grams GROUP BY lang, bigram
    ), rnk AS (
      SELECT lang, bigram, n,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS rn
      FROM counts
    )
    SELECT lang, bigram, n, rn FROM rnk WHERE rn <= 3
    """,
)
def corpus_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 bigrams per language (deterministic ties: count desc, bigram
    asc) — the n-gram LM statistics pass. Scale shape: explode is narrow,
    the count is partial+final agg on (lang, bigram), and the top-k window
    partitions by lang — quadratic nowhere, ordered only within groups."""
    docs = load_table(spark, sf_dir, "documents")
    # tokenization staged behind a projection (bigram_shingles PERF note)
    staged = docs.select("lang", tokens_col().alias("__toks"))
    grams = staged.select(
        "lang", F.explode(bigram_shingles(F.col("__toks"))).alias("bigram")
    )
    counts = grams.groupBy("lang", "bigram").agg(F.count(F.lit(1)).alias("n"))
    w = ranked(F.col("n").desc(), "bigram", partition_by="lang")
    return counts.select(
        "lang", "bigram", "n", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= 3)


@REG.add(
    "corpus_repetition_filter",
    sql=f"""
    WITH r AS (
      SELECT lang,
             len({TOKENS_SQL}) AS n_tokens,
             len(list_distinct({TOKENS_SQL})) AS n_distinct,
             len({_BIGRAMS_SQL}) AS n_bigrams,
             len(list_distinct({_BIGRAMS_SQL})) AS n_dist_bigrams
      FROM documents
    ), m AS (
      SELECT lang,
             1.0 - CAST(n_distinct AS DOUBLE) / NULLIF(n_tokens, 0) AS rep_token,
             1.0 - CAST(n_dist_bigrams AS DOUBLE) / NULLIF(n_bigrams, 0) AS rep_bigram
      FROM r
    )
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN rep_token > 0.5 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged,
           ROUND(AVG(rep_token), 6) AS avg_rep_token,
           ROUND(AVG(rep_bigram), 6) AS avg_rep_bigram
    FROM m GROUP BY lang ORDER BY lang
    """,
)
def corpus_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition accounting: the fraction of
    duplicated tokens (1 − distinct/total) and duplicated bigrams per doc,
    flagged against a 0.5 duplicate-token threshold, rolled up per language.
    Highly repetitive docs are boilerplate/spam in a pretraining corpus.
    Scale shape: pure per-row array algebra inside codegen (no explode — the
    distinct runs inside each row's array), then a tiny per-language agg;
    the per-doc flag is a deterministic ratio of ints so the threshold
    compare is engine-exact, and only AVG needs the ROUND(…,6) guard."""
    # tokenization AND shingles staged behind projections (bigram_shingles
    # PERF note) — referencing bigram_shingles(...) in two expressions of
    # one select would build the shingle array twice per row
    toks, grams = F.col("__toks"), F.col("__grams")
    n_tokens = F.size(toks)
    rep_token = F.lit(1.0) - F.size(F.array_distinct(toks)).cast("double") / F.nullif(
        n_tokens, F.lit(0)
    )
    rep_bigram = F.lit(1.0) - F.size(F.array_distinct(grams)).cast("double") / F.nullif(
        F.size(grams), F.lit(0)
    )
    m = (
        load_table(spark, sf_dir, "documents")
        .select("lang", tokens_col().alias("__toks"))
        .select("lang", "__toks", bigram_shingles(F.col("__toks")).alias("__grams"))
        .select("lang", rep_token.alias("rep_token"), rep_bigram.alias("rep_bigram"))
    )
    return (
        m.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("rep_token") > 0.5, 1).otherwise(0)).alias("n_flagged"),
            F.round(F.avg("rep_token"), 6).alias("avg_rep_token"),
            F.round(F.avg("rep_bigram"), 6).alias("avg_rep_bigram"),
        )
        .orderBy("lang")
    )


# Contamination: a test doc is contaminated when ≥80% of its distinct
# shingles also occur somewhere in the train split.
_CONTAM_OVERLAP = 0.8

_SPLIT_SQL = f"""{_split_sql()}"""


@REG.add(
    "corpus_contamination_check",
    sql=f"""
    WITH sp AS (
      SELECT doc_id, lang, {_SPLIT_SQL} AS split FROM documents
    ), shp AS (
      SELECT DISTINCT doc_id, unnest({_BIGRAMS_SQL}) AS shingle FROM documents
    ), sh AS (
      SELECT doc_id, {md5_hash32_sql("shingle")} AS h FROM shp
    ), train_sh AS (
      SELECT DISTINCT h FROM sh JOIN sp USING (doc_id) WHERE sp.split = 'train'
    ), test_sh AS (
      SELECT sh.doc_id, sh.h FROM sh JOIN sp USING (doc_id) WHERE sp.split = 'test'
    ), per_doc AS (
      SELECT t.doc_id, COUNT(*) AS n_sh,
             SUM(CASE WHEN tr.h IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
      FROM test_sh t LEFT JOIN train_sh tr ON t.h = tr.h
      GROUP BY t.doc_id
    )
    SELECT lang, COUNT(*) AS n_test_docs,
           CAST(SUM(CASE WHEN CAST(n_hit AS DOUBLE) / n_sh >= {_CONTAM_OVERLAP}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
           ROUND(AVG(CAST(n_hit AS DOUBLE) / n_sh), 6) AS avg_overlap
    FROM per_doc JOIN sp USING (doc_id)
    GROUP BY lang ORDER BY lang
    """,
)
def corpus_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train→test contamination scan: for every test-split document, the
    fraction of its distinct bigram shingles that also appear in ANY
    train-split document; per-language counts of docs above the 80% overlap
    bar. This is the eval-decontamination pass a training pipeline runs
    before publishing a split. Scale shape: shingles travel as 32-bit
    md5-derived ints (never strings), the train set is one distinct on the
    hash, and the membership test is a shingle-hash equi-join — the same
    no-quadratic-stage discipline as the LSH dedup family. Docs with <2
    tokens have no shingles and drop out of the accounting (both engines).
    The shingle-hash frame is materialized once (localCheckpoint) for its
    two consumers (train membership set, test probe side) — the dedup
    family's multi-consumer doctrine: one shingle pipeline over the
    corpus, not two. The three remaining scans are the (doc_id, lang,
    split) projection — column-pruned, no tokenization.
    """
    from .dedup import doc_shingle_hashes

    docs = load_table(spark, sf_dir, "documents")
    sp = docs.select("doc_id", "lang", _split_col().alias("split"))
    sh = pin(doc_shingle_hashes(spark, sf_dir))
    train_sh = (
        sh.join(sp.filter(F.col("split") == "train"), "doc_id")
        .select("h")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    test_sh = sh.join(sp.filter(F.col("split") == "test"), "doc_id").select("doc_id", "h")
    per_doc = (
        test_sh.join(train_sh, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hit"),
        )
    )
    overlap = F.col("n_hit").cast("double") / F.col("n_sh")
    return (
        per_doc.join(sp, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_test_docs"),
            F.sum(
                F.when(overlap >= _CONTAM_OVERLAP, 1).otherwise(0)
            ).alias("n_contaminated"),
            F.round(F.avg(overlap), 6).alias("avg_overlap"),
        )
        .orderBy("lang")
    )


def _e2e_sql() -> str:
    from .dedup import _verified_cte_sql

    return f"""
    {_verified_cte_sql()},
    removed AS (
      SELECT DISTINCT doc_b AS doc_id FROM verified
    ), survivors AS (
      SELECT d.* FROM documents d WHERE d.doc_id NOT IN (SELECT doc_id FROM removed)
    ), kept AS (
      SELECT *, len({TOKENS_SQL}) AS n_tokens FROM survivors WHERE {_KEEP_SQL}
    ), assigned AS (
      SELECT {_split_sql()} AS split,
             n_tokens
      FROM kept
    )
    SELECT split, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM assigned GROUP BY split
    """


@REG.add("corpus_e2e_prep", sql=_e2e_sql())
def corpus_e2e_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE training-data prep as one declarative plan: near-dup
    removal (shingle-minhash LSH candidates → exact Jaccard verify → drop
    higher doc_id) → quality gate → leakage-safe content-hash split →
    per-split document/token accounting. This is the query a 100 TB corpus
    run submits once per snapshot; every stage is the scale shape proven
    individually (equi-join candidates, candidate-only verify, map-only
    filter/split, small-key final agg), and Catalyst pipelines them without
    materialization barriers. write_training_shards is its terminal sink."""
    from .dedup import verified_near_dup_edges

    docs = load_table(spark, sf_dir, "documents")
    removed = (
        verified_near_dup_edges(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    survivors = docs.join(removed, "doc_id", "left_anti").select(
        "text", tokens_col().alias("__toks")  # staged (PERF note)
    )
    kept = survivors.filter(_keep_col(F.col("__toks"))).select(
        "text", F.size("__toks").cast("long").alias("n_tokens")
    )
    return (
        kept.select(_split_col().alias("split"), "n_tokens")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("n_tokens"))
    )


# ------------------------------------------------------- deterministic sample
_SAMPLE_PERMILLE = 100  # keep hash(doc) mod 1000 < 100 → 10% sample


@REG.add(
    "corpus_hash_sample",
    sql=f"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN {md5_hash32_sql("CAST(doc_id AS VARCHAR)")}
                              % 1000 < {_SAMPLE_PERMILLE}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
    FROM documents GROUP BY source ORDER BY source
    """,
)
def corpus_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based sampling — the production substitute for
    `df.sample()` when a 100 TB corpus must be sampled REPRODUCIBLY: the
    keep decision depends only on the row's key (md5(doc_id) mod 1000 <
    100 → 10%), never on partitioning, executor count, or rerun order, so
    the same sample comes back on every cluster and the sample composes
    with itself at different rates (a 1% sample is a subset of the 10%
    one). Scale shape: pure map-side predicate + partial+final agg on the
    tiny source key; zero shuffles beyond the final 20-group agg."""
    docs = load_table(spark, sf_dir, "documents")
    keep = (md5_hash32(F.col("doc_id").cast("string")) % 1000) < _SAMPLE_PERMILLE
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(keep, 1).otherwise(0)).alias("n_sampled"),
        )
        .orderBy("source")
    )


# ----------------------------------------------------------- dup-rate screen
@REG.add(
    "corpus_dup_rate_by_source",
    sql=f"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT {md5_hash60_sql("text")}) AS BIGINT)
             AS n_unique,
           ROUND(1.0 - CAST(COUNT(DISTINCT {md5_hash60_sql("text")})
                            AS DOUBLE) / COUNT(*), 6) AS dup_rate
    FROM documents GROUP BY source ORDER BY dup_rate DESC, source
    """,
)
def corpus_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplication rate — the triage step that decides
    WHICH sources are worth running the (much more expensive) near-dup
    pipeline on. Scale shape: the 60-bit fingerprint replaces the full
    document as the distinct key, so the COUNT(DISTINCT) two-phase agg
    shuffles 8-byte keys instead of documents; output is one row per
    source."""
    docs = load_table(spark, sf_dir, "documents")
    fp = md5_hash60(F.col("text"))
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct(fp).alias("n_unique"),
            F.round(
                1.0 - F.count_distinct(fp).cast("double") / F.count(F.lit(1)), 6
            ).alias("dup_rate"),
        )
        .orderBy(F.col("dup_rate").desc(), "source")
    )


# -------------------------------------------------------- length histogram
# Threshold CASE ladder (not floor(log2)) so bucket edges are integer
# comparisons — exact in both engines, immune to libm log rounding.
_LEN_EDGES = (64, 128, 256, 512)


def _len_bucket_col() -> F.Column:
    c = F.col("n_chars")
    expr = F.when(c < _LEN_EDGES[0], f"0000-{_LEN_EDGES[0] - 1:04d}")
    lo = _LEN_EDGES[0]
    for hi in _LEN_EDGES[1:]:
        expr = expr.when(c < hi, f"{lo:04d}-{hi - 1:04d}")
        lo = hi
    return expr.otherwise(f"{lo:04d}+").alias("len_bucket")


def _len_bucket_sql() -> str:
    arms = [f"WHEN n_chars < {_LEN_EDGES[0]} THEN '0000-{_LEN_EDGES[0] - 1:04d}'"]
    lo = _LEN_EDGES[0]
    for hi in _LEN_EDGES[1:]:
        arms.append(f"WHEN n_chars < {hi} THEN '{lo:04d}-{hi - 1:04d}'")
        lo = hi
    return "CASE " + " ".join(arms) + f" ELSE '{lo:04d}+' END"


@REG.add(
    "corpus_length_histogram",
    sql=f"""
    SELECT lang, {_len_bucket_sql()} AS len_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY lang, len_bucket ORDER BY lang, len_bucket
    """,
)
def corpus_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram per language — the standard first look at
    a new corpus (truncation risk, boilerplate spikes, tokenizer budget
    planning). Buckets are a threshold CASE ladder rather than
    floor(log2(n)) so the bucketing is integer-exact in both engines.
    Scale shape: map-side classification + partial+final agg over
    (5 langs × 5 buckets); nothing wide ever shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang", _len_bucket_col())
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang", "len_bucket")
    )


# ------------------------------------------------------ incremental ingest
# Sources are split lexicographically: src0-src9 + src1x = "corpus" (already
# ingested), the rest = "incoming" batch. Stand-in for the daily-ingest
# boundary a production pipeline takes as a parameter.
_CORPUS_SOURCES_PRED = "source < 'src2'"


def _corpus_sources_col() -> F.Column:
    return F.col("source") < "src2"


@REG.add(
    "corpus_incremental_dedup",
    sql=f"""
    WITH corpus AS (
      SELECT DISTINCT {md5_hash60_sql("text")} AS fp
      FROM documents WHERE {_CORPUS_SOURCES_PRED}
    ), incoming AS (
      SELECT source, doc_id, {md5_hash60_sql("text")} AS fp
      FROM documents WHERE NOT ({_CORPUS_SOURCES_PRED})
    )
    SELECT i.source,
           CAST(COUNT(*) AS BIGINT) AS n_incoming,
           CAST(SUM(CASE WHEN c.fp IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_new,
           CAST(SUM(CASE WHEN c.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_already_seen
    FROM incoming i LEFT JOIN corpus c ON i.fp = c.fp
    GROUP BY i.source ORDER BY i.source
    """,
)
def corpus_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: which incoming-batch documents already
    exist in the ingested corpus — the every-day shape of production dedup
    (a new crawl vs. 100 TB of history), where re-deduplicating the whole
    corpus per batch is unaffordable. Scale shape: both sides reduce to
    60-bit fingerprints BEFORE the join, so the anti-join-style probe
    shuffles 8-byte keys; the corpus side is pre-distinct (one fingerprint
    per unique text ever seen — exactly what a production fingerprint
    store holds). Per-source accounting comes free from the same pass."""
    docs = load_table(spark, sf_dir, "documents")
    fp = md5_hash60(F.col("text"))
    corpus = (
        docs.filter(_corpus_sources_col()).select(fp.alias("fp")).distinct()
    )
    incoming = docs.filter(~_corpus_sources_col()).select(
        "source", "doc_id", fp.alias("fp")
    )
    seen = F.col("c_fp").isNotNull()
    return (
        incoming.join(
            corpus.select(F.col("fp").alias("c_fp")),
            incoming.fp == F.col("c_fp"),
            "left",
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_incoming"),
            F.sum(F.when(~seen, 1).otherwise(0)).alias("n_new"),
            F.sum(F.when(seen, 1).otherwise(0)).alias("n_already_seen"),
        )
        .orderBy("source")
    )


# -------------------------------------------------------- balanced sample
_BALANCED_K = 5  # docs kept per source


@REG.add(
    "corpus_balanced_sample",
    sql=f"""
    SELECT source, doc_id, lang
    FROM (
      SELECT source, doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY {md5_hash32_sql("CAST(doc_id AS VARCHAR)")}, doc_id
             ) AS rn
      FROM documents
    ) ranked
    WHERE rn <= {_BALANCED_K}
    ORDER BY source, doc_id
    """,
)
def corpus_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced per-source subset: exactly K documents from every source,
    chosen by hash order — deterministic across partitionings AND stable
    under corpus growth for the docs that keep their hash rank (unlike
    `ORDER BY random()` or per-source `LIMIT`, which reshuffle entirely).
    The shape behind eval-set construction and per-domain inspection
    samples. Scale shape: one window over partition key `source` (each
    source's rows hash-shuffle to one reducer group — fine while every
    source is ≪ one executor's memory; a skewed mega-source would switch
    to the two-phase top-K in operators/skew.py); doc_id tie-break makes
    rank ties impossible."""
    docs = load_table(spark, sf_dir, "documents")
    w = ranked(
        md5_hash32(F.col("doc_id").cast("string")),
        F.col("doc_id"),
        partition_by="source",
    )
    return (
        docs.select("source", "doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= _BALANCED_K)
        .select("source", "doc_id", "lang")
        .orderBy("source", "doc_id")
    )


# --------------------------------------------------------------- PII redaction
# RE2-safe patterns (no lookaround/backrefs) so Spark's Java regex and
# DuckDB's RE2 match identically.
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\b555-[0-9]{4}\b"

# The synthetic corpus contains no PII-like strings (word-salad text), so the
# scrub would be a degenerate no-op on raw `text`. To exercise the operator
# end-to-end we append deterministic doc_id-derived PII to each document
# inside the query, then redact it — the redaction expressions themselves are
# exactly what a real corpus scrub would run.
_AUG_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com "
    "or call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
)


def _aug_col() -> F.Column:
    return F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )


@REG.add(
    "corpus_pii_redaction",
    sql=f"""
    WITH red AS (
      SELECT source,
             len(regexp_extract_all({_AUG_SQL}, '{_EMAIL_RE}')) AS n_emails,
             len(regexp_extract_all({_AUG_SQL}, '{_PHONE_RE}')) AS n_phones,
             regexp_replace(regexp_replace({_AUG_SQL}, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                            '{_PHONE_RE}', '<PHONE>', 'g') AS redacted
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_emails) AS BIGINT) AS emails_redacted,
           CAST(SUM(n_phones) AS BIGINT) AS phones_redacted,
           CAST(SUM(CASE WHEN regexp_matches(redacted, '{_EMAIL_RE}')
                           OR regexp_matches(redacted, '{_PHONE_RE}')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_residual,
           CAST(SUM({md5_hash32_sql("redacted")}) AS BIGINT) AS redacted_checksum
    FROM red GROUP BY source ORDER BY source
    """,
)
def corpus_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub for training corpora: redact email addresses and phone
    numbers, with per-source accounting and a residual-hit audit (must be
    0 after the scrub — the operator verifies its own completeness). The
    redacted text is checksummed (md5-derived) so the oracle proves the
    actual output strings match, not just the counts. Scale shape: pure
    JVM codegen map work (regexp_extract_all/regexp_replace) + one
    partial+final agg on the tiny source key — zero Python, zero extra
    shuffle; on a real corpus this runs at scan speed."""
    docs = load_table(spark, sf_dir, "documents")
    aug = _aug_col()
    redacted = F.regexp_replace(
        F.regexp_replace(aug, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    residual = F.col("redacted").rlike(_EMAIL_RE) | F.col("redacted").rlike(
        _PHONE_RE
    )
    return (
        docs.select(
            "source",
            F.size(F.regexp_extract_all(aug, F.lit(_EMAIL_RE), F.lit(0))).alias(
                "n_emails"
            ),
            F.size(F.regexp_extract_all(aug, F.lit(_PHONE_RE), F.lit(0))).alias(
                "n_phones"
            ),
            redacted.alias("redacted"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_emails").alias("emails_redacted"),
            F.sum("n_phones").alias("phones_redacted"),
            F.sum(F.when(residual, 1).otherwise(0)).alias("n_residual"),
            F.sum(md5_hash32(F.col("redacted"))).alias("redacted_checksum"),
        )
        .orderBy("source")
    )


@REG.add(
    "corpus_weighted_sample",
    sql=f"""
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
             ROUND(-ln((CAST({md5_hash32_sql("CAST(doc_id AS VARCHAR) || ':ws'")}
                        AS DOUBLE) + 0.5) / 4294967296.0)
                   / n_chars, 6) AS es_key
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, source, n_chars, es_key
    FROM keyed ORDER BY es_key, doc_id LIMIT 100
    """,
)
def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, deterministically (Efraimidis-
    Spirakis): each doc draws u from an md5-derived uniform and competes on
    key = −ln(u)/weight; the k smallest keys are an exact weighted sample.
    Unlike rand()-based sampling this is reproducible across retries,
    partitionings, and engines — the property every corpus-mixing decision
    needs to be auditable. Weight here = n_chars (longer docs
    proportionally likelier).

    Scale shape: key assignment is a map; selection is TakeOrderedAndProject
    (top-k, never a global sort). The uniform is (hash32 + 0.5)/2^32 —
    hash and division are engine-exact; ln is libm-dependent in its last
    ulp, so keys snap to 6 dp with doc_id as the total-order tiebreak."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (
        md5_hash32(F.concat(F.col("doc_id").cast("string"), F.lit(":ws"))).cast(
            "double"
        )
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    key = F.round(-F.log(u) / F.col("n_chars"), 6)
    return (
        docs.select("doc_id", "source", "n_chars", key.alias("es_key"))
        .orderBy("es_key", "doc_id")
        .limit(100)
    )


# --------------------------------------------------------------------------
# Count-min sketch: estimate token counts for a watchlist without a
# vocab-wide aggregation
# --------------------------------------------------------------------------

_CMS_D, _CMS_W = 4, 512  # 4 hash rows × 512 buckets = 2 048 counters total
# The watchlist whose frequencies we want (production: blocklist terms,
# contamination markers, PII trigger words). Includes one token absent from
# the corpus: its estimate shows the sketch's collision overcount (≥ 0).
_CMS_PROBES = ("scan", "join", "window", "stream", "merge", "quantile")


def _cms_bucket_sql(tok_expr: str, d_expr: str) -> str:
    return (
        f"{md5_hash32_sql(f'CAST({d_expr} AS VARCHAR) || {chr(39)}:{chr(39)} || {tok_expr}')}"
        f" % {_CMS_W}"
    )


def _cms_buckets_col(tok: F.Column) -> F.Column:
    """array<long> of the _CMS_D bucket ids for one token value."""
    return F.array(
        *[
            md5_hash32(F.concat(F.lit(f"{d}:"), tok)) % _CMS_W
            for d in range(_CMS_D)
        ]
    )


@REG.add(
    "corpus_cms_heavy_hitters",
    sql=f"""
    WITH toks AS (
      SELECT unnest({TOKENS_SQL}) AS tok FROM documents
    ), ds AS (
      SELECT unnest(range(0, {_CMS_D})) AS d
    ), occ AS (
      SELECT d, {_cms_bucket_sql("tok", "d")} AS w FROM toks, ds
    ), sketch AS (
      SELECT d, w, COUNT(*) AS c FROM occ GROUP BY d, w
    ), probes AS (
      SELECT unnest([{", ".join(f"'{t}'" for t in _CMS_PROBES)}]) AS token
    ), pb AS (
      SELECT token, d, {_cms_bucket_sql("token", "d")} AS w FROM probes, ds
    ), est AS (
      SELECT token, MIN(COALESCE(s.c, 0)) AS cms_estimate
      FROM pb LEFT JOIN sketch s ON s.d = pb.d AND s.w = pb.w
      GROUP BY token
    ), exact AS (
      SELECT tok AS token, COUNT(*) AS exact_count FROM toks
      WHERE tok IN ({", ".join(f"'{t}'" for t in _CMS_PROBES)})
      GROUP BY tok
    )
    SELECT p.token,
           CAST(COALESCE(e.exact_count, 0) AS BIGINT) AS exact_count,
           CAST(est.cms_estimate AS BIGINT) AS cms_estimate,
           CAST(est.cms_estimate - COALESCE(e.exact_count, 0) AS BIGINT)
             AS overcount
    FROM probes p
    JOIN est ON est.token = p.token
    LEFT JOIN exact e ON e.token = p.token
    ORDER BY p.token
    """,
)
def corpus_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation for a token watchlist —
    the sketch answer to "how often do these terms occur in 100 TB"
    WITHOUT a vocabulary-wide aggregation.

    The sketch is D×W = 4×512 counters: each token occurrence increments
    one bucket per hash row; a probe's estimate is the MIN over its D
    buckets, an upper bound on the true count (overcount comes only from
    collisions, bounded by ε = e/W of total mass with probability
    1 − e^−D). The probe set includes a token absent from the corpus so
    the overcount column exhibits the bound. Hashing is md5-derived
    (functions/hashing.py) so both engines build the IDENTICAL sketch —
    the estimate, not just the true count, is oracle-checked.

    Scale shape: the build is one map pass (posexplode ×D — weight D per
    occurrence) into a groupBy with AT MOST D·W = 2 048 groups — partial
    aggregation collapses each task's contribution to ≤ 2 048 rows before
    the shuffle regardless of corpus size or vocabulary size (a vocab
    groupBy shuffles |vocab| keys; the sketch shuffles a CONSTANT). The
    probe lookup is a broadcast of 24 (probe, d) rows against the 2 048-row
    sketch; the exact-count audit column filters to the 6 probe tokens
    BEFORE its groupBy (predicate pushdown), so it too is bounded at any
    scale."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(tokens_col().alias("__toks")).select(
        F.explode("__toks").alias("tok")
    )
    occ = toks.select(F.posexplode(_cms_buckets_col(F.col("tok"))).alias("d", "w"))
    sketch = occ.groupBy("d", "w").agg(F.count(F.lit(1)).alias("c"))
    probes = local_rows_df(spark, [(t,) for t in _CMS_PROBES], "token string")
    pb = probes.select(
        "token", F.posexplode(_cms_buckets_col(F.col("token"))).alias("d", "w")
    )
    # broadcast the RIGHT side: a hint on the outer (left) side of a left
    # join is unusable — the 2 048-row sketch is the broadcastable one
    est = (
        pb.join(F.broadcast(sketch), ["d", "w"], "left")
        .groupBy("token")
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("cms_estimate"))
    )
    exact = (
        toks.filter(F.col("tok").isin(*_CMS_PROBES))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .withColumnRenamed("tok", "token")
    )
    # est already carries every probe token (pb is probes × d and the join
    # is outer), so no re-join against probes is needed
    return (
        est.join(F.broadcast(exact), "token", "left")
        .select(
            "token",
            F.coalesce(F.col("exact_count"), F.lit(0)).alias("exact_count"),
            "cms_estimate",
            (F.col("cms_estimate") - F.coalesce(F.col("exact_count"), F.lit(0))).alias(
                "overcount"
            ),
        )
        .orderBy("token")
    )


# --------------------------------------------------------------------------
# Vocabulary coverage / OOV-rate audit
# --------------------------------------------------------------------------

_VOCAB_SIZE = 25  # testdata vocabulary is ~40 tokens; production: 50k-250k


@REG.add(
    "corpus_vocab_coverage",
    sql=f"""
    WITH toks AS (
      SELECT source, unnest({TOKENS_SQL}) AS tok FROM documents
    ), vc AS (
      SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
    ), vocab AS (
      SELECT tok FROM vc ORDER BY c DESC, tok LIMIT {_VOCAB_SIZE}
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_covered,
           ROUND(1.0 - CAST(SUM(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END)
                            AS DOUBLE) / COUNT(*), 6) AS oov_rate
    FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
    GROUP BY source ORDER BY source
    """,
)
def corpus_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage audit: build the top-N token vocab
    (deterministic ties: count desc, token asc), then measure per source
    what fraction of token OCCURRENCES fall outside it — the out-of-
    vocabulary rate that decides whether a tokenizer/vocab is adequate
    for a new data source before training on it.

    Scale shape: the vocab is one |vocab|-key groupBy followed by
    TakeOrderedAndProject (top-N, never a global sort); coverage is the
    token stream LEFT-joined against the BROADCAST N-row vocab (N ≤ 250k
    comfortably broadcasts) into a per-source conditional agg — one
    corpus-wide shuffle on the tiny source key domain."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", tokens_col().alias("__toks")).select(
        "source", F.explode("__toks").alias("tok")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "tok")
        .limit(_VOCAB_SIZE)
        .select("tok")
    )
    hit = F.when(F.col("v_tok").isNotNull(), 1).otherwise(0)
    return (
        toks.join(
            F.broadcast(vocab.withColumnRenamed("tok", "v_tok")),
            F.col("tok") == F.col("v_tok"),
            "left",
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(hit).alias("n_covered"),
            F.round(
                F.lit(1.0) - F.sum(hit).cast("double") / F.count(F.lit(1)), 6
            ).alias("oov_rate"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Exact stratified sampling (fixed per-stratum quotas)
# --------------------------------------------------------------------------

_STRAT_K = 15  # docs per language stratum (production: e.g. 10k eval docs
# per language — small relative to each stratum, large enough to matter)
_STRAT_SALTS = 16
_STRAT_HASH_SQL = md5_hash32_sql("'strat:' || CAST(doc_id AS VARCHAR)")


@REG.add(
    "corpus_stratified_sample_exact",
    sql=f"""
    WITH h AS (
      SELECT lang, doc_id, {_STRAT_HASH_SQL} AS hv FROM documents
    ), rnk AS (
      SELECT lang, doc_id, hv,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS rn
      FROM h
    )
    SELECT lang, doc_id, rn FROM rnk WHERE rn <= {_STRAT_K}
    ORDER BY lang, rn
    """,
)
def corpus_stratified_sample_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly ``_STRAT_K`` documents per language, deterministically — the
    eval-set carve-out. ``sampleBy`` gives BINOMIAL stratum sizes (the quota
    is only hit in expectation) and depends on partitioning; this lane takes
    the bottom-K by a content-independent md5 of ``doc_id``, so the sample
    is an exact-size, rerun-stable, partitioning-independent function of the
    data, and the oracle reproduces it bit-for-bit.

    Scale shape: bottom-K per stratum is computed in TWO phases so no single
    reducer ever sees a whole stratum (5 language strata at 100 TB = 5
    reducers streaming terabytes through a naive per-lang window). Phase 1
    ranks within (lang, hv % {_STRAT_SALTS}) — {_STRAT_SALTS}× the
    parallelism, each partition keeps ≤ K rows. Phase 2 re-ranks the ≤
    {_STRAT_SALTS}·K survivors per lang — a bounded input. Bottom-K of a
    union of per-salt bottom-Ks equals the global bottom-K (every global
    winner is a winner within its salt), so the result is identical to the
    oracle's single-window form."""
    return stratified_bottom_k(load_table(spark, sf_dir, "documents"))


def stratified_bottom_k(
    docs: DataFrame, k: int = _STRAT_K, salts: int = _STRAT_SALTS
) -> DataFrame:
    """Core of corpus_stratified_sample_exact over any (lang, doc_id)
    DataFrame — factored out so tests exercise the SHIPPED two-phase lane
    under alternative partitionings (not an inline copy of it)."""
    hv = md5_hash32(F.concat(F.lit("strat:"), F.col("doc_id").cast("string")))
    h = docs.select("lang", "doc_id", hv.alias("hv"))
    w1 = ranked("hv", "doc_id", partition_by=["lang", "salt"])
    phase1 = (
        h.withColumn("salt", F.col("hv") % salts)
        .withColumn("rn1", F.row_number().over(w1))
        .filter(F.col("rn1") <= k)
    )
    w2 = ranked("hv", "doc_id", partition_by="lang")
    return (
        phase1.select("lang", "doc_id", "hv")
        .withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= k)
        .select("lang", "doc_id", "rn")
        .orderBy("lang", "rn")
    )


# --------------------------------------------------------------------------
# Temperature-scaled source mixing (exact integer quota allocation)
# --------------------------------------------------------------------------

# tau = 0.5: quota_s proportional to n_s^tau — upsamples small sources
# relative to proportional sampling, the standard multilingual/multi-source
# rebalancing knob. Implemented as integer isqrt so BOTH engines compute the
# identical weights with no cross-engine float-rounding risk. Weights are
# scaled by 10^3 (isqrt of n·10^6) to keep 3 decimal digits of precision;
# exactness of the guarded isqrt needs n_s·10^6 < 2^52 ⇒ n_s < 4.5e9 docs
# per source (far beyond 100 TB corpora; lift the scale factor if not).
_MIXT_SCALE = 1_000_000
_MIXT_TARGET_DIV = 2  # sample half the corpus overall


def _isqrt_sql(x: str) -> str:
    """Exact integer sqrt in DuckDB SQL: floor of the IEEE sqrt, corrected
    down by one when rounding pushed it over (k*k > x) — exact for x < 2^52
    regardless of the engine's sqrt rounding."""
    return (
        f"(CAST(FLOOR(SQRT(CAST({x} AS DOUBLE))) AS BIGINT)"
        f" - CASE WHEN CAST(FLOOR(SQRT(CAST({x} AS DOUBLE))) AS BIGINT)"
        f"          * CAST(FLOOR(SQRT(CAST({x} AS DOUBLE))) AS BIGINT) > {x}"
        f"        THEN 1 ELSE 0 END)"
    )


def _isqrt_col(x: F.Column) -> F.Column:
    k = F.floor(F.sqrt(x.cast("double"))).cast("long")
    return k - F.when(k * k > x, 1).otherwise(0)


# ONE definition of the quota CTE chain, shared by the plan query
# (corpus_temperature_mix) and the executable fill (corpus_temperature_
# sample_fill) so the two oracles cannot drift from each other.
_MIXT_CTES = f"""per_source AS (
      SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
    ), weighted AS (
      SELECT source, n_docs,
             {{isqrt}} AS w
      FROM per_source
    ), denom AS (
      SELECT SUM(w) AS wsum, SUM(n_docs) AS total FROM weighted
    ), quotas AS (
      SELECT w.source, w.n_docs, w.w AS weight,
             CAST(((d.total // {_MIXT_TARGET_DIV}) * w.w) // d.wsum AS BIGINT)
               AS quota,
             LEAST(CAST(((d.total // {_MIXT_TARGET_DIV}) * w.w) // d.wsum
                        AS BIGINT), w.n_docs) AS n_sampled
      FROM weighted w, denom d
    )""".format(isqrt=_isqrt_sql(f"n_docs * {_MIXT_SCALE}"))


def temperature_quotas(docs: DataFrame) -> DataFrame:
    """Column-side twin of the quotas CTE: per-source integer quota under
    the tau=0.5 temperature weighting (see corpus_temperature_mix)."""
    per_source = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    weighted = per_source.withColumn(
        "w", _isqrt_col(F.col("n_docs") * _MIXT_SCALE)
    )
    denom = weighted.agg(F.sum("w").alias("wsum"), F.sum("n_docs").alias("total"))
    return weighted.crossJoin(F.broadcast(denom)).select(
        "source",
        "n_docs",
        F.col("w").alias("weight"),
        F.expr(f"(total DIV {_MIXT_TARGET_DIV}) * w DIV wsum").alias("quota"),
        F.least(
            F.expr(f"(total DIV {_MIXT_TARGET_DIV}) * w DIV wsum"),
            F.col("n_docs"),
        ).alias("n_sampled"),
    )


@REG.add(
    "corpus_temperature_mix",
    sql=f"""
    WITH {_MIXT_CTES}
    SELECT source, n_docs, weight, quota, n_sampled
    FROM quotas ORDER BY source
    """,
)
def corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing plan (tau = 0.5): per-source sample
    quotas proportional to n_s^0.5, normalized to a corpus-wide target of
    total/{_MIXT_TARGET_DIV} documents — the rebalancing step that keeps
    long-tail sources represented in the training mix.

    All arithmetic is INTEGER (guarded isqrt + integer division), so the
    allocation is a bit-exact cross-engine function of the source counts —
    no float summation-order or pow() rounding can fork the quota at a
    floor boundary (the docstring on `_isqrt_sql` gives the exactness
    argument). `n_sampled` caps each quota at the stratum size; the
    selection of WHICH documents fill a quota is the exact bottom-K lane
    (`corpus_stratified_sample_exact`'s two-phase shape) applied per
    source.

    Scale shape: one corpus scan → per-source counts (tiny key domain,
    partial agg), a one-row denominator broadcast back over the ≤ |sources|
    weighted rows — bounded at any corpus size."""
    return temperature_quotas(load_table(spark, sf_dir, "documents")).orderBy(
        "source"
    )


_MIXT_HASH_PREFIX = "mix:"  # independent of the strat lane's "strat:" salt


@REG.add(
    "corpus_temperature_sample_fill",
    sql=f"""
    WITH {_MIXT_CTES},
    h AS (
      SELECT source, doc_id,
             {md5_hash32_sql(f"'{_MIXT_HASH_PREFIX}' || CAST(doc_id AS VARCHAR)")} AS hv
      FROM documents
    ), rnk AS (
      SELECT source, doc_id, hv,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY hv, doc_id) AS rn
      FROM h
    )
    SELECT r.source, r.doc_id, r.rn
    FROM rnk r JOIN quotas q ON q.source = r.source
    WHERE r.rn <= q.quota
    ORDER BY r.source, r.rn
    """,
)
def corpus_temperature_sample_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXECUTABLE half of the temperature mix: emit exactly the
    documents that fill each source's tau=0.5 quota, selected by
    content-independent hash bottom-K — quota planning
    (corpus_temperature_mix) and sample materialization in one
    deterministic, oracle-checked lane.

    Scale shape: pass 1 computes the per-source quotas (tiny aggregate,
    broadcast back); pass 2 joins the broadcast quota onto the corpus and
    takes bottom-quota per source with the two-phase salted ranking of
    `stratified_bottom_k` (phase 1 keeps ≤ quota per (source, salt) — a
    superset of every global winner — phase 2 re-ranks the bounded
    survivors), so no reducer streams a whole source. Rerun-stable and
    partitioning-independent like every hash-selected lane here."""
    docs = load_table(spark, sf_dir, "documents")
    quotas = temperature_quotas(docs).select("source", "quota")
    hv = md5_hash32(
        F.concat(F.lit(_MIXT_HASH_PREFIX), F.col("doc_id").cast("string"))
    )
    h = docs.select("source", "doc_id", hv.alias("hv")).join(
        F.broadcast(quotas), "source"
    )
    w1 = ranked("hv", "doc_id", partition_by=["source", "salt"])
    phase1 = (
        h.withColumn("salt", F.col("hv") % _STRAT_SALTS)
        .withColumn("rn1", F.row_number().over(w1))
        .filter(F.col("rn1") <= F.col("quota"))
    )
    w2 = ranked("hv", "doc_id", partition_by="source")
    return (
        phase1.select("source", "doc_id", "hv", "quota")
        .withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= F.col("quota"))
        .select("source", "doc_id", "rn")
        .orderBy("source", "rn")
    )


@REG.add(
    "corpus_template_phrases",
    sql="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), grams AS (
      SELECT DISTINCT doc_id, array_to_string(ws[i:i+1], ' ') AS gram
      FROM toks, LATERAL (SELECT unnest(range(1, len(ws))) AS i)
      WHERE len(ws) >= 2
    ), total AS (SELECT COUNT(*) AS n FROM documents)
    SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM grams, total
    GROUP BY gram, total.n
    HAVING COUNT(*) * 100 >= 8 * total.n
    ORDER BY n_docs DESC, gram
    """,
)
def corpus_template_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template/boilerplate phrase detection by DOCUMENT frequency: bigrams
    appearing in >= 8% of all documents (counted once per doc —
    array_distinct before the explode — so a phrase repeated inside one
    page can't fake corpus-wide presence). This is the CCNet-style
    boilerplate censor: phrases this common across distinct pages are
    navigation chrome / licence footers / scaffolding, and a cleaning
    pass strips or downweights them before training.

    Scale shape: one map pass (split + per-doc distinct bigrams), one
    groupBy on the gram key with partial aggregation, and the corpus total
    enters as a 1-row collected literal in the HAVING comparison (integer
    cross-multiplied — no float share, no broadcast join). The DISTINCT
    inside each doc bounds the explode at tokens-1 rows per doc."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_total = docs.count()  # 1-row scalar, same role as the oracle's total CTE
    grams = (
        docs.select("doc_id", F.split("text", " ").alias("ws"))
        .filter(F.size("ws") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(0, size(ws) - 2),"
                        " i -> concat(element_at(ws, i + 1), ' ', element_at(ws, i + 2)))"
                    )
                )
            ).alias("gram"),
        )
    )
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .filter(F.col("n_docs") * 100 >= 8 * n_total)
        .orderBy(F.col("n_docs").desc(), "gram")
    )
