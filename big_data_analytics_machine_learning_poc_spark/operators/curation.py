"""Corpus-curation additions (round 9) — the three lane families VERDICT r8
unpaused: SemDeDup-style semantic dedup (Abbas et al. 2023,
arXiv:2303.09540 — public), URL/host-level exact dedup, and a per-split
train-eval contamination scorecard.

Own module on purpose: lanes here compose helpers from corpus.py /
dedup.py / similarity-adjacent vector math WITHOUT editing those files, so
the rotation ledger's file-closure digest doesn't re-flag the ~18 green
lanes living in them (the r6 lesson about doc-only edits, applied to
additive code).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.ckpt import pin
from ..functions.hashing import md5_hash32_sql
from ..functions.vector import cosine, dot, l2_norm
from ..functions.localrows import local_rows_df
from ..registry import QueryRegistry
from .corpus import _CONTAM_OVERLAP, _SPLIT_SQL, _split_col
from .dedup import _BIGRAMS_SQL, doc_shingle_hashes

REG = QueryRegistry()


# ---------------------------------------------------------------------------
# SemDeDup — semantic near-dup removal over embeddings
# ---------------------------------------------------------------------------


def semdedup(
    emb: DataFrame, k: int, tau: float, seed: int = 42, max_iter: int = 8
) -> tuple[DataFrame, DataFrame]:
    """SemDeDup core (Abbas et al. 2023, arXiv:2303.09540 — public spec):
    cluster embeddings with seeded KMeans, generate candidate pairs ONLY
    within a cluster (equi-join on the cluster id — the candidates-not-
    all-pairs shape shared with the IVF/LSH lanes: in production k grows
    with the corpus so expected cluster size stays bounded and the self-
    join never goes quadratic on the corpus), and for every within-cluster
    pair with cosine >= tau mark the member CLOSER to its centroid as the
    loser (the paper keeps the LOW-centroid-similarity member to preserve
    diversity; ties break to the lower vec_id so the outcome is total-
    ordered and rerun-stable).

    Returns ``(members, losers)``: members = (vec_id, embedding, cluster,
    csim) — localCheckpoint-pinned because both the pair join (twice, as
    the two sides) and the caller's stats consume it; losers = distinct
    (vec_id, cluster) to drop. Centroids travel as a broadcast k-row frame
    (KBs), never collected per-row.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    spark = emb.sparkSession
    fitted = emb.select(
        "vec_id", "embedding", array_to_vector(F.col("embedding")).alias("fv")
    )
    model = KMeans(
        k=k, seed=seed, maxIter=max_iter, featuresCol="fv", predictionCol="cluster"
    ).fit(fitted)
    centroids = local_rows_df(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cluster int, centroid array<double>",
    )
    members = pin(
        model.transform(fitted)
        .select("vec_id", "embedding", "cluster")
        .join(F.broadcast(centroids), "cluster")
        .select(
            "vec_id",
            "embedding",
            "cluster",
            F.round(cosine(F.col("embedding"), F.col("centroid")), 5).alias("csim"),
        )
    )
    # Hoist the pair-invariant norms OUT of the O(pairs) join expression
    # (the dedup_embedding_cosine `normed` pattern, r12): cosine() folds
    # both operands' self-dots per evaluation, so the raw form pays five
    # interpreted higher-order-function folds per candidate pair (dot,
    # 2×norm in the guard, 2×norm in the denominator — HOFs never enter
    # whole-stage codegen). Computing ``_nrm`` once per member row (linear)
    # leaves exactly ONE fold (the cross dot) per pair. Identical IEEE
    # result: same sequential fold, same sqrt→multiply→divide order, same
    # zero-denominator guard as functions/vector.cosine.
    # SALT the within-cluster self-join (guide §2.5 — r13): the pair join
    # hash-partitions both sides on the CLUSTER id, and with k clusters
    # there are only k distinct keys — at k=8 the entire O(pairs) cosine
    # pass ran on ≤8 of 32 tasks (jobprof: one ~2.8 s skew-bound stage;
    # AQE skew-join cannot split a single enormous key). Salting splits
    # each cluster's pair space S ways: the probe side gets a
    # deterministic per-row salt, the build side is replicated once per
    # salt value, and the join keys become (cluster, salt) — k·S keys,
    # even work per task. The pair SET is exactly preserved (every (a,b)
    # pair matches exactly the one replica where _rep == pmod(a.vec_id,
    # S)), and each pair evaluates the identical expressions, so the
    # result is byte-identical (verified at sf0.01 + sf0.1). Measured:
    # losers pass 2.8 s → 1.5-1.7 s at sf0.1. S is scale-adaptive with a
    # cap — replication cost is S×|members|, so S grows with cores but
    # never unboundedly; at production scale tune S so k·S ≈ 2-4× cores.
    n_salt = max(1, min(64, 2 * spark.sparkContext.defaultParallelism // k))
    a = (
        members.withColumn("_nrm", l2_norm(F.col("embedding")))
        .withColumn("_salt", F.pmod(F.col("vec_id"), F.lit(n_salt)).cast("int"))
        .alias("a")
    )
    b = (
        members.withColumn("_nrm", l2_norm(F.col("embedding")))
        .withColumn(
            "_rep", F.explode(F.array([F.lit(i) for i in range(n_salt)]))
        )
        .alias("b")
    )
    pair_denom = F.col("a._nrm") * F.col("b._nrm")
    pair_sim = F.round(
        F.when(
            pair_denom != 0.0,
            dot(F.col("a.embedding"), F.col("b.embedding")) / pair_denom,
        ),
        5,
    )
    loser = F.when(F.col("a.csim") > F.col("b.csim"), F.col("a.vec_id")).otherwise(
        F.when(F.col("b.csim") > F.col("a.csim"), F.col("b.vec_id")).otherwise(
            F.greatest(F.col("a.vec_id"), F.col("b.vec_id"))
        )
    )
    losers = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a._salt") == F.col("b._rep"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(pair_sim >= tau)
        .select(loser.alias("vec_id"), F.col("a.cluster").alias("cluster"))
        .distinct()
    )
    return members, losers


@REG.add("dedup_semdedup_stats")  # rows-only: cluster geometry comes from
# seeded KMeans (not SQL-derivable); the drop semantics are pinned on
# planted near-duplicate clusters in tests/test_planted_semantics.py
def dedup_semdedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup over the embeddings table, reduced to
    per-cluster triage stats (members / dropped / survivors — the numbers
    an operator reads before committing a corpus-wide delete). tau=0.4
    here is a DEMONSTRATION threshold: the synthetic sf embeddings are
    near-orthogonal (max pairwise cosine ~0.51 at sf0.01), so the paper's
    production tau≈0.95 would exercise nothing; 0.4 makes the drop path
    run on every sf table while the planted-cluster test pins the
    realistic-tau behavior."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    members, losers = semdedup(emb, k=8, tau=0.4)
    dropped_per_cluster = losers.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_dropped")
    )
    return (
        members.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .join(F.broadcast(dropped_per_cluster), "cluster", "left")
        .select(
            "cluster",
            "n_members",
            F.coalesce(F.col("n_dropped"), F.lit(0)).cast("long").alias("n_dropped"),
            (F.col("n_members") - F.coalesce(F.col("n_dropped"), F.lit(0)))
            .cast("long")
            .alias("n_survivors"),
        )
        .orderBy("cluster")
    )


# ---------------------------------------------------------------------------
# URL / host-level dedup
# ---------------------------------------------------------------------------


def with_synth_url(docs: DataFrame) -> DataFrame:
    """documents → (doc_id, url): deterministic URL synthesis (the sf tables
    carry no url column). The path collapses doc_id mod 97, so distinct
    documents share URLs — planted duplication the lane must find. The law
    is closed-form, which is what lets the DuckDB oracle rebuild both the
    url AND the host by plain string concatenation, independently checking
    Spark's parse_url(HOST) extraction."""
    return docs.select(
        "doc_id",
        F.concat_ws(
            "",
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.com/"),
            F.col("lang"),
            F.lit("/doc-"),
            (F.col("doc_id") % 97).cast("string"),
        ).alias("url"),
    )


@REG.add(
    "dedup_url_host",
    sql="""
    WITH urls AS (
        SELECT doc_id,
               'https://' || source || '.example.com/' || lang || '/doc-'
                   || CAST(doc_id % 97 AS VARCHAR) AS url,
               source || '.example.com' AS host
        FROM documents
    ),
    per_url AS (
        SELECT host, url, COUNT(*) AS n_docs, MIN(doc_id) AS canonical_doc
        FROM urls GROUP BY host, url
    )
    SELECT host,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           COUNT(*) AS n_urls,
           CAST(SUM(n_docs) - COUNT(*) AS BIGINT) AS n_removable,
           CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_urls,
           CAST(MIN(canonical_doc) AS BIGINT) AS min_canonical_doc
    FROM per_url GROUP BY host ORDER BY host
    """,
)
def dedup_url_host(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/host-level dedup (the cheapest dedup pass a crawl corpus runs
    BEFORE any content hashing): group by exact URL, keep the min-doc_id
    canonical, then roll up per-host triage stats. Host comes from Spark's
    ``parse_url(url, 'HOST')`` while the oracle re-derives it from the
    synthesis law by concatenation — a hash match verifies the extraction,
    not just the arithmetic. Scale shape: two stacked hash aggregations
    (url, then host) with map-side partial aggregation; the shuffle key is
    the url string — at 100 TB you'd pre-hash it to 64 bits like
    dedup_exact_groups' fingerprint doctrine, same plan otherwise."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    urls = with_synth_url(docs).select(
        "doc_id", "url", F.parse_url(F.col("url"), F.lit("HOST")).alias("host")
    )
    per_url = urls.groupBy("host", "url").agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("canonical_doc")
    )
    return (
        per_url.groupBy("host")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.count(F.lit(1)).alias("n_urls"),
            (F.sum("n_docs") - F.count(F.lit(1))).alias("n_removable"),
            F.sum((F.col("n_docs") > 1).cast("long")).alias("n_dup_urls"),
            F.min("canonical_doc").alias("min_canonical_doc"),
        )
        .orderBy("host")
    )


# ---------------------------------------------------------------------------
# Per-split contamination scorecard
# ---------------------------------------------------------------------------


@REG.add(
    "corpus_contamination_by_split",
    sql=f"""
    WITH sp AS (
      SELECT doc_id, {_SPLIT_SQL} AS split FROM documents
    ), shp AS (
      SELECT DISTINCT doc_id, unnest({_BIGRAMS_SQL}) AS shingle FROM documents
    ), sh AS (
      SELECT doc_id, {md5_hash32_sql("shingle")} AS h FROM shp
    ), train_sh AS (
      SELECT DISTINCT h FROM sh JOIN sp USING (doc_id) WHERE sp.split = 'train'
    ), eval_sh AS (
      SELECT sh.doc_id, sh.h FROM sh JOIN sp USING (doc_id) WHERE sp.split != 'train'
    ), per_doc AS (
      SELECT e.doc_id, COUNT(*) AS n_sh,
             SUM(CASE WHEN tr.h IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
      FROM eval_sh e LEFT JOIN train_sh tr ON e.h = tr.h
      GROUP BY e.doc_id
    )
    SELECT split, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN CAST(n_hit AS DOUBLE) / n_sh >= {_CONTAM_OVERLAP}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
           ROUND(AVG(CAST(n_hit AS DOUBLE) / n_sh), 6) AS avg_overlap,
           ROUND(MAX(CAST(n_hit AS DOUBLE) / n_sh), 6) AS max_overlap
    FROM per_doc JOIN sp USING (doc_id)
    GROUP BY split ORDER BY split
    """,
)
def corpus_contamination_by_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SPLIT contamination scorecard (VERDICT r8 #3c): the
    corpus_contamination_check machinery widened from test-only to EVERY
    eval split — each of valid and test is probed against the train
    shingle set and reduced to one row (docs, contaminated count, mean and
    worst-case overlap). This is the one-look gate a release pipeline
    reads before publishing a split layout: valid contaminated differently
    from test means the fingerprint split itself leaked. Same scale shape
    as the parent lane — 32-bit shingle hashes, one distinct for the train
    membership set, equi-join probe, and the shingle frame
    localCheckpoint-pinned for its two consumers."""
    docs = load_table(spark, sf_dir, "documents")
    sp = docs.select("doc_id", _split_col().alias("split"))
    sh = pin(doc_shingle_hashes(spark, sf_dir))
    train_sh = (
        sh.join(sp.filter(F.col("split") == "train"), "doc_id")
        .select("h")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    eval_sh = sh.join(sp.filter(F.col("split") != "train"), "doc_id").select(
        "doc_id", "h"
    )
    per_doc = (
        eval_sh.join(train_sh, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hit"),
        )
    )
    overlap = F.col("n_hit").cast("double") / F.col("n_sh")
    return (
        per_doc.join(sp, "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(overlap >= _CONTAM_OVERLAP, 1).otherwise(0)).alias(
                "n_contaminated"
            ),
            F.round(F.avg(overlap), 6).alias("avg_overlap"),
            F.round(F.max(overlap), 6).alias("max_overlap"),
        )
        .orderBy("split")
    )
