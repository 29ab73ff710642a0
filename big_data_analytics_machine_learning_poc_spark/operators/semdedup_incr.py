"""Incremental SemDeDup — semantic dedup of an ARRIVING BATCH against an
already-clustered corpus (VERDICT r9 ask #8).

The batch-ingest analogue of ``curation.semdedup`` (Abbas et al. 2023,
arXiv:2303.09540 — public), composed with the persisted-index doctrine of
``dedup.incremental_minhash_pairs``: a continuously ingesting corpus must
never re-pay the corpus-wide cluster-and-pair sweep per batch. Instead the
corpus persists its SemDeDup index once — the k centroids (a k-row frame)
and the member assignments (vec_id, cluster, centroid-cosine) — and each
arriving batch:

1. assigns itself to the stored centroids (batch × broadcast k-row
   centroid frame → argmin squared euclidean, KMeans' own metric —
   O(|batch|·k), corpus-size-independent);
2. prunes the stored members to the batch's TOUCHED clusters with a
   left-semi equi-join on cluster id (manifest of the scale claim: an
   untouched cluster's members never enter any join — asserted by
   tests/test_semdedup_incr.py on planted clusters);
3. generates candidate pairs ONLY within (batch × touched-members ∪
   batch × batch same-cluster) — expected cost O(|batch| · avg cluster
   size), never corpus-quadratic;
4. marks losers with the paper's keep-low-centroid-similarity rule,
   total-ordered (ties to the greater vec_id) so reruns are stable.

A new doc can DISPLACE a stored one (pair_kind='new_old' with the old
member losing): the caller decides whether to honor displacement or to
keep the corpus append-only and drop the new doc — both frames are
returned, policy stays out of the operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.ckpt import pin
from ..functions.vector import cosine, dot, l2_norm
from ..functions.localrows import local_rows_df
from ..registry import QueryRegistry

REG = QueryRegistry()


def fit_semdedup_index(
    emb: DataFrame, k: int, seed: int = 42, max_iter: int = 8
) -> tuple[DataFrame, DataFrame]:
    """One-time (or periodic) index build over the corpus: seeded KMeans →
    ``(centroids, members)``. centroids = (cluster, centroid) — k rows,
    broadcastable; members = (vec_id, embedding, cluster, csim),
    localCheckpoint-pinned (the incremental path reads it per batch).
    Same clustering shape as curation.semdedup's first stage."""
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
    return centroids, members


def assign_to_centroids(batch: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment without refitting: batch × broadcast
    k-row centroid frame, argmin SQUARED EUCLIDEAN distance (KMeans'
    assignment metric, so a batch vector lands in the same cluster the
    fitted model would put it); ties break to the lower cluster id via
    min_by's ordering struct. Returns (vec_id, embedding, cluster, csim)
    — the member shape."""
    e, c = F.col("embedding"), F.col("centroid")
    d2 = (
        l2_norm(e) * l2_norm(e) + l2_norm(c) * l2_norm(c) - 2.0 * dot(e, c)
    ).alias("d2")
    scored = batch.select("vec_id", "embedding").join(F.broadcast(centroids))
    return (
        scored.select("vec_id", "embedding", "cluster", "centroid", d2)
        .groupBy("vec_id", "embedding")
        .agg(
            F.min_by(
                F.struct("cluster", "centroid"), F.struct(F.col("d2"), F.col("cluster"))
            ).alias("best")
        )
        .select(
            "vec_id",
            "embedding",
            F.col("best.cluster").alias("cluster"),
            F.round(cosine(F.col("embedding"), F.col("best.centroid")), 5).alias(
                "csim"
            ),
        )
    )


def incremental_semdedup(
    batch: DataFrame, centroids: DataFrame, members: DataFrame, tau: float
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Near-dup pairs TOUCHING the arriving batch, SemDeDup-style. Returns
    ``(assigned, touched_members, pairs)``:

    - assigned: the batch in member shape (vec_id, embedding, cluster,
      csim);
    - touched_members: the stored members the batch could possibly pair
      with — members of the batch's clusters ONLY (the left-semi prune;
      returned so callers and tests can hold the scale claim to account);
    - pairs: (vec_a=batch doc, vec_b, cluster, sim, loser_vec, pair_kind)
      with pair_kind ∈ {'new_new', 'new_old'}; new_new pairs appear once
      (vec_a < vec_b). loser_vec follows the paper's rule: the member
      CLOSER to its centroid loses (diversity-preserving), ties to the
      greater vec_id.
    """
    # three consumers inside this function alone (touched-cluster set, the
    # union's new side, the pair join's left side) — pin it once or every
    # consumer replays the assignment shuffle (the dedup.py signature-frame
    # checkpoint doctrine)
    assigned = pin(assign_to_centroids(batch, centroids))
    touched = assigned.select("cluster").distinct()
    touched_members = members.join(F.broadcast(touched), "cluster", "left_semi")
    corpus_side = touched_members.select(
        "vec_id", "embedding", "cluster", "csim", F.lit(False).alias("is_new")
    )
    both = corpus_side.unionByName(
        assigned.select(
            "vec_id", "embedding", "cluster", "csim", F.lit(True).alias("is_new")
        )
    )
    # Norm-hoist (the dedup_embedding_cosine `normed` pattern, r12): the
    # pair join's cosine() would fold both operands' self-dots per PAIR;
    # computing ``_nrm`` once per row on each join input (linear) leaves
    # one cross-dot fold per pair. Same fold/sqrt/multiply/divide order and
    # zero-norm guard as functions/vector.cosine → identical IEEE values.
    # Salting this join like curation.semdedup's was TRIED and REJECTED
    # (r13): the batch-side pair space is small, so replicating ``both``
    # per salt value cost more than the cluster-key skew it fixed —
    # measured 2.86-3.07 s unsalted vs 3.23/3.65 s salted (quiet box,
    # fresh JVMs; byte-identical outputs either way). At a batch size
    # where the pair pass dominates, apply the curation.semdedup salt.
    a = assigned.withColumn("_nrm", l2_norm(F.col("embedding"))).alias("a")
    b = both.withColumn("_nrm", l2_norm(F.col("embedding"))).alias("b")
    _denom = F.col("a._nrm") * F.col("b._nrm")
    sim = F.round(
        F.when(
            _denom != 0.0,
            dot(F.col("a.embedding"), F.col("b.embedding")) / _denom,
        ),
        5,
    )
    loser = F.when(F.col("a.csim") > F.col("b.csim"), F.col("a.vec_id")).otherwise(
        F.when(F.col("b.csim") > F.col("a.csim"), F.col("b.vec_id")).otherwise(
            F.greatest(F.col("a.vec_id"), F.col("b.vec_id"))
        )
    )
    pairs = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (
                # batch-batch pairs once; batch-corpus pairs always
                (F.col("b.is_new") & (F.col("a.vec_id") < F.col("b.vec_id")))
                | (~F.col("b.is_new") & (F.col("a.vec_id") != F.col("b.vec_id")))
            ),
        )
        .filter(sim >= tau)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.cluster").alias("cluster"),
            sim.alias("sim"),
            loser.alias("loser_vec"),
            F.when(F.col("b.is_new"), F.lit("new_new"))
            .otherwise(F.lit("new_old"))
            .alias("pair_kind"),
        )
    )
    return assigned, touched_members, pairs


@REG.add("dedup_semdedup_incremental")  # rows-only: cluster geometry comes
# from seeded KMeans (not SQL-derivable); batch-vs-corpus drop semantics
# and the untouched-cluster prune are pinned on planted clusters in
# tests/test_semdedup_incr.py (the dedup_semdedup_stats doctrine)
def dedup_semdedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SemDeDup over the embeddings table: the stored corpus is
    the ``vec_id % 10 != 9`` nine-tenths (indexed once: k=8 seeded KMeans),
    the arriving batch the remaining tenth. The batch assigns itself to
    the stored centroids, joins only its own clusters' stored members, and
    reports per-cluster ingest triage — batch size, touched corpus members,
    near-dup pairs by kind, and how many batch docs survive (a batch doc
    is dropped when it LOSES any pair; a corpus doc it displaces is
    reported, not deleted — append-only default). tau=0.4 is the same
    demonstration threshold as dedup_semdedup_stats (the sf embeddings are
    near-orthogonal; production uses the paper's ~0.95).

    Scale shape: centroid assignment is batch × broadcast k rows; the
    corpus side is pruned to touched clusters by a left-semi equi-join
    BEFORE any pair generation, so per-ingest cost scales with the batch
    and the touched clusters' size — never the corpus (the
    incremental_minhash_pairs doctrine applied to embeddings)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") % 10 != 9)
    batch = emb.filter(F.col("vec_id") % 10 == 9)
    centroids, members = fit_semdedup_index(corpus, k=8)
    assigned, touched_members, pairs = incremental_semdedup(
        batch, centroids, members, tau=0.4
    )
    # the stats below consume pairs three ways (two loser scans + the
    # per-cluster kind counts) — pin the small pair frame once
    pairs = pin(pairs)
    # a batch doc survives unless it loses at least one pair
    batch_losers = (
        pairs.filter(F.col("loser_vec") == F.col("vec_a"))
        .select(F.col("vec_a").alias("vec_id"), "cluster")
        .unionByName(
            pairs.filter(
                (F.col("pair_kind") == "new_new")
                & (F.col("loser_vec") == F.col("vec_b"))
            ).select(F.col("vec_b").alias("vec_id"), "cluster")
        )
        .distinct()
    )
    per_cluster = (
        assigned.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_batch"))
        .join(
            touched_members.groupBy("cluster").agg(
                F.count(F.lit(1)).alias("n_corpus_touched")
            ),
            "cluster",
            "left",
        )
        .join(
            pairs.groupBy("cluster").agg(
                F.sum((F.col("pair_kind") == "new_new").cast("long")).alias(
                    "n_pairs_new_new"
                ),
                F.sum((F.col("pair_kind") == "new_old").cast("long")).alias(
                    "n_pairs_new_old"
                ),
                F.sum(
                    ((F.col("pair_kind") == "new_old") & (F.col("loser_vec") == F.col("vec_b"))).cast("long")
                ).alias("n_old_displaced"),
            ),
            "cluster",
            "left",
        )
        .join(
            batch_losers.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_batch_dropped")),
            "cluster",
            "left",
        )
    )
    z = F.lit(0).cast("long")
    return per_cluster.select(
        "cluster",
        "n_batch",
        F.coalesce("n_corpus_touched", z).alias("n_corpus_touched"),
        F.coalesce("n_pairs_new_new", z).alias("n_pairs_new_new"),
        F.coalesce("n_pairs_new_old", z).alias("n_pairs_new_old"),
        F.coalesce("n_old_displaced", z).alias("n_old_displaced"),
        (F.col("n_batch") - F.coalesce("n_batch_dropped", z)).alias("n_batch_survivors"),
    ).orderBy("cluster")
