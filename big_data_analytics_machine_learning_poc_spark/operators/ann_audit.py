"""IVF recall audit under the full DuckDB oracle (VERDICT r10 ask #7).

``ann_ivf_cosine`` is rows-only by design — its coarse quantizer is seeded
KMeans, whose geometry no SQL engine re-derives. This lane closes that gap
with an IVF variant whose ENTIRE pipeline is deterministic and
SQL-expressible: the coarse centroids are SAMPLED from the corpus itself
(the first C corpus vectors — a standard IVF initialization), assignment
is argmax-cosine over those C rows, queries probe their top-``nprobe``
lists, and candidates are exact-reranked. The audit then scores the IVF
top-k against the exact brute-force top-k per query — recall@k, the
certification number an index must produce before replacing exact search —
and DuckDB reproduces assignment, probing, re-rank AND the recall numbers
bit-for-bit. Lives in its own module so the rotation ledger's closure
digest doesn't re-flag the green similarity.py lanes.

Scale shape: assignment is corpus × C-row BROADCAST (map-only argmax, no
shuffle beyond the window); probing joins the |Q|·nprobe probe list to the
inverted lists by EQUI-join on the list id; only candidates are scored
against queries. No all-pairs stage anywhere — the brute side exists only
as the audit baseline over a SAMPLED query set (|Q| tiny), which is how a
100 TB index is certified too. C=8/nprobe=3/k=10 are demonstration values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions.ckpt import pin
from ..functions.vector import cosine, cosine_sql
from ..registry import QueryRegistry

REG = QueryRegistry()

_NQ = 5  # queries = vec_id < 5; corpus = the rest
_C = 8  # sampled coarse centroids = first C corpus vectors
_NPROBE = 3
_K = 10


@REG.add(
    "ann_ivf_recall_audit",
    sql=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding FROM embeddings
      WHERE vec_id < {_NQ}
    ), corpus AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id >= {_NQ}
    ), cent AS (
      SELECT vec_id AS cid, embedding AS ce FROM corpus
      WHERE vec_id < {_NQ + _C}
    ), assign AS (
      SELECT vec_id, cid FROM (
        SELECT c.vec_id, cent.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY c.vec_id
                 ORDER BY ROUND({cosine_sql("c.embedding", "cent.ce")}, 5) DESC,
                          cent.cid
               ) AS rn
        FROM corpus c JOIN cent ON TRUE
      ) WHERE rn = 1
    ), probes AS (
      SELECT query_id, cid FROM (
        SELECT q.query_id, cent.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY ROUND({cosine_sql("q.embedding", "cent.ce")}, 5) DESC,
                          cent.cid
               ) AS rn
        FROM q JOIN cent ON TRUE
      ) WHERE rn <= {_NPROBE}
    ), cand AS (
      SELECT p.query_id, a.vec_id
      FROM probes p JOIN assign a ON a.cid = p.cid
    ), scored AS (
      SELECT q.query_id, b.vec_id,
             ROUND({cosine_sql("q.embedding", "b.embedding")}, 5) AS sim
      FROM q JOIN corpus b ON TRUE
    ), brute AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, vec_id) AS rn
        FROM scored
      ) WHERE rn <= {_K}
    ), ivf_top AS (
      SELECT query_id, vec_id FROM (
        SELECT s.query_id, s.vec_id,
               ROW_NUMBER() OVER (PARTITION BY s.query_id
                                  ORDER BY s.sim DESC, s.vec_id) AS rn
        FROM scored s JOIN cand c
          ON c.query_id = s.query_id AND c.vec_id = s.vec_id
      ) WHERE rn <= {_K}
    ), hits AS (
      SELECT a.query_id, COUNT(*) AS n_hits
      FROM ivf_top a JOIN brute b
        ON a.query_id = b.query_id AND a.vec_id = b.vec_id
      GROUP BY a.query_id
    ), ncand AS (
      SELECT query_id, COUNT(*) AS n_candidates FROM cand GROUP BY query_id
    )
    SELECT q.query_id,
           CAST(COALESCE(nc.n_candidates, 0) AS BIGINT) AS n_candidates,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           ROUND(COALESCE(h.n_hits, 0) / {_K}.0, 3) AS recall_at_k
    FROM q
    LEFT JOIN ncand nc ON nc.query_id = q.query_id
    LEFT JOIN hits h ON h.query_id = q.query_id
    ORDER BY q.query_id
    """,
)
def ann_ivf_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{_K} of a sampled-centroid IVF against exact brute force,
    per query, with every stage (centroid assignment, probe selection,
    candidate re-rank, recall arithmetic) deterministic — sim rounded to
    5 dp, ties by id — so the DuckDB oracle re-derives the identical
    numbers. The inverted-list structure is the same one
    ``ann_ivf_cosine``/``ann_ivf_partitioned`` build with KMeans
    centroids; sampling the centroids instead trades a little list balance
    for full auditability, which is exactly what this lane buys."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = pin(  # three consumers: probes, scorer, final join
        emb.filter(F.col("vec_id") < _NQ)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
    )
    corpus = emb.filter(F.col("vec_id") >= _NQ)
    cent = pin(  # two consumers: assignment and probe ranking
        corpus.filter(F.col("vec_id") < _NQ + _C)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("ce"))
    )
    # assignment: corpus x C-row broadcast, argmax cosine (map-only + window)
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.col("csim").desc(), F.col("cid")
    )
    assign = (
        corpus.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "cid",
            F.round(cosine(F.col("embedding"), F.col("ce")), 5).alias("csim"),
        )
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid")
    )
    # probes: each query's top-nprobe centroid lists
    w_probe = Window.partitionBy("query_id").orderBy(
        F.col("csim").desc(), F.col("cid")
    )
    probes = (
        q.crossJoin(F.broadcast(cent))
        .select(
            "query_id",
            "cid",
            F.round(cosine(F.col("qe"), F.col("ce")), 5).alias("csim"),
        )
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= _NPROBE)
        .select("query_id", "cid")
    )
    cand = probes.join(assign, "cid").select("query_id", "vec_id")
    scored = corpus.crossJoin(F.broadcast(q)).select(
        "query_id",
        "vec_id",
        F.round(cosine(F.col("qe"), F.col("embedding")), 5).alias("sim"),
    )
    w_rank = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), "vec_id")
    brute = (
        scored.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= _K)
        .select("query_id", "vec_id")
    )
    ivf_top = (
        scored.join(cand, ["query_id", "vec_id"])
        .withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= _K)
        .select("query_id", "vec_id")
    )
    hits = (
        ivf_top.join(brute, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    ncand = cand.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_candidates"))
    return (
        q.select("query_id")
        .join(ncand, "query_id", "left")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_candidates"), F.lit(0)).alias("n_candidates"),
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            F.round(F.coalesce(F.col("n_hits"), F.lit(0)) / _K, 3).alias(
                "recall_at_k"
            ),
        )
        .orderBy("query_id")
    )
