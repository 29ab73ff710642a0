"""Feature-encoding operators (SURVEY.md §2.7: F1 Tokenizer, F2
StopWordsRemover, F5 StringIndexer, F7 Bucketizer, F8 VectorAssembler,
F9 Normalizer) — the reference's ML-feature vocabulary re-expressed so each
is DuckDB-oracle-checkable.

Two renderings per concept where they differ:
- the *pyspark.ml transformer* (used by the ml/ pipelines, rows-only checks
  where hash/vector-valued), and
- the *relational equivalent* used here for exact oracles: StringIndexer as
  a window rank over frequencies (deterministic tie-break: freq desc, value
  asc — SURVEY §7 known-hard #3), Bucketizer as CASE, Normalizer as array
  arithmetic via vector_to_array.
"""

from __future__ import annotations

from pyspark.ml.feature import Bucketizer, Tokenizer
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.ckpt import pin
from ..functions.windows import ranked
from ..registry import QueryRegistry

REG = QueryRegistry()

# Engine stopword list (public-domain function words). The ml/ pipelines pass
# this SAME list to StopWordsRemover so Spark and the SQL oracle agree;
# Spark's bundled default English list would require a JVM to fetch at
# oracle-build time.
ENGLISH_STOPWORDS: tuple[str, ...] = (
    "a", "about", "after", "all", "also", "an", "and", "any", "are", "as",
    "at", "be", "because", "been", "but", "by", "can", "could", "did", "do",
    "for", "from", "had", "has", "have", "he", "her", "his", "how", "i",
    "if", "in", "into", "is", "it", "its", "just", "me", "my", "no", "not",
    "of", "on", "or", "our", "she", "so", "some", "than", "that", "the",
    "their", "them", "then", "there", "these", "they", "this", "to", "up",
    "was", "we", "were", "what", "when", "which", "who", "will", "with",
    "would", "you", "your",
)

_BUCKET_SPLITS = (float("-inf"), 100_000.0, 200_000.0, 300_000.0, float("inf"))


@REG.add(
    "bucketize_totalprice",
    sql="""
    SELECT CAST(CASE WHEN o_totalprice < 100000 THEN 0
                     WHEN o_totalprice < 200000 THEN 1
                     WHEN o_totalprice < 300000 THEN 2
                     ELSE 3 END AS DOUBLE) AS bucket,
           COUNT(*) AS n
    FROM orders GROUP BY 1 ORDER BY 1
    """,
)
def bucketize_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: the actual pyspark.ml Bucketizer (splits incl. ±∞, mirroring
    DataCorrelator.java:41-49's age bucketing) + distribution over buckets."""
    orders = load_table(spark, sf_dir, "orders")
    bucketizer = Bucketizer(
        splits=list(_BUCKET_SPLITS), inputCol="o_totalprice", outputCol="bucket"
    )
    return (
        bucketizer.transform(orders)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bucket")
    )


@REG.add(
    "string_index_mktsegment",
    sql="""
    WITH freq AS (
      SELECT c_mktsegment, COUNT(*) AS n FROM customer GROUP BY c_mktsegment
    )
    SELECT c_mktsegment,
           CAST(ROW_NUMBER() OVER (ORDER BY n DESC, c_mktsegment) - 1 AS DOUBLE) AS label_index
    FROM freq
    """,
)
def string_index_mktsegment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: StringIndexer semantics (frequencyDesc) with the deterministic
    tie-break (freq desc, then value asc) — SURVEY §7 known-hard #3: the ml
    StringIndexer's tie order is unspecified, so the engine's canonical
    indexer is this window form; ml pipelines may still use the ml one."""
    freq = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = ranked(
        F.col("n").desc(),
        "c_mktsegment",
        bounded_input="post-groupBy label domain: #distinct mktsegments (5)",
    )
    return freq.select(
        "c_mktsegment", (F.row_number().over(w) - 1).cast("double").alias("label_index")
    )


@REG.add(
    "string_index_apply",
    sql="""
    WITH freq AS (
      SELECT o_orderpriority, COUNT(*) AS n FROM orders GROUP BY o_orderpriority
    ), mapping AS (
      SELECT o_orderpriority,
             CAST(ROW_NUMBER() OVER (ORDER BY n DESC, o_orderpriority) - 1 AS DOUBLE) AS priority_idx
      FROM freq
    )
    SELECT o.o_orderkey, m.priority_idx
    FROM orders o JOIN mapping m USING (o_orderpriority)
    WHERE o.o_orderkey < 2000
    """,
)
def string_index_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 applied: broadcast-join the (value → index) mapping back onto rows
    — at 100 TB the mapping is KBs while the fact side never shuffles."""
    orders = load_table(spark, sf_dir, "orders")
    freq = orders.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n"))
    w = ranked(
        F.col("n").desc(),
        "o_orderpriority",
        bounded_input="post-groupBy label domain: #distinct orderpriorities (5)",
    )
    mapping = freq.select(
        "o_orderpriority", (F.row_number().over(w) - 1).cast("double").alias("priority_idx")
    )
    return (
        orders.filter(F.col("o_orderkey") < 2000)
        .join(F.broadcast(mapping), "o_orderpriority")
        .select("o_orderkey", "priority_idx")
    )


@REG.add(
    "tokenizer_tokens",
    sql=r"""
    SELECT doc_id,
           array_to_string(regexp_split_to_array(lower(text), '[ \t\n\r\f\x0B]'), ' ') AS tokens_str,
           len(regexp_split_to_array(lower(text), '[ \t\n\r\f\x0B]')) AS n_tokens
    FROM documents
    """,
)
def tokenizer_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: the actual pyspark.ml Tokenizer (lowercase + split on \\s, matching
    TfIdfCalculator.java:49-52 / SpamClassification.java:65-67); arrays are
    surfaced as joined strings for engine-agnostic comparison."""
    docs = load_table(spark, sf_dir, "documents")
    tok = Tokenizer(inputCol="text", outputCol="tokens")
    return tok.transform(docs).select(
        "doc_id",
        F.array_join("tokens", " ").alias("tokens_str"),
        F.size("tokens").cast("long").alias("n_tokens"),
    )


_STOP_INLIST = ", ".join(f"'{w}'" for w in ENGLISH_STOPWORDS)


@REG.add(
    "stopwords_remove",
    sql=rf"""
    SELECT doc_id,
           array_to_string(list_filter(regexp_split_to_array(lower(text), '[ \t\n\r\f\x0B]'),
                                       t -> t NOT IN ({_STOP_INLIST})), ' ') AS kept_str,
           len(list_filter(regexp_split_to_array(lower(text), '[ \t\n\r\f\x0B]'),
                           t -> t NOT IN ({_STOP_INLIST}))) AS n_kept
    FROM documents
    """,
)
def stopwords_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2: StopWordsRemover semantics with the engine's explicit list (the
    same list the ml pipelines use, so behavior is consistent engine-wide)."""
    from pyspark.ml.feature import StopWordsRemover, Tokenizer

    docs = load_table(spark, sf_dir, "documents")
    tok = Tokenizer(inputCol="text", outputCol="tokens")
    rem = StopWordsRemover(
        inputCol="tokens", outputCol="kept", stopWords=list(ENGLISH_STOPWORDS)
    )
    return rem.transform(tok.transform(docs)).select(
        "doc_id",
        F.array_join("kept", " ").alias("kept_str"),
        F.size("kept").cast("long").alias("n_kept"),
    )


@REG.add(
    "vector_assemble_normalize",
    sql="""
    SELECT c_custkey,
           ROUND(c_acctbal / (ABS(c_acctbal) + ABS(CAST(c_custkey AS DOUBLE))), 6) AS f0_l1,
           ROUND(CAST(c_custkey AS DOUBLE) / (ABS(c_acctbal) + ABS(CAST(c_custkey AS DOUBLE))), 6) AS f1_l1
    FROM customer
    """,
)
def vector_assemble_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8+F9: VectorAssembler → Normalizer(p=1) (TfIdfCalculator.java:114-124)
    surfaced through vector_to_array (SURVEY §7 known-hard #2: VectorUDT is
    not oracle-representable; array<double> is)."""
    from pyspark.ml.feature import Normalizer, VectorAssembler
    from pyspark.ml.functions import vector_to_array

    cust = load_table(spark, sf_dir, "customer").withColumn(
        "custkey_d", F.col("c_custkey").cast("double")
    )
    assembled = VectorAssembler(
        inputCols=["c_acctbal", "custkey_d"], outputCol="features"
    ).transform(cust)
    normed = Normalizer(inputCol="features", outputCol="nf", p=1.0).transform(assembled)
    arr = vector_to_array(F.col("nf"))
    return normed.select(
        "c_custkey",
        F.round(F.element_at(arr, 1), 6).alias("f0_l1"),
        F.round(F.element_at(arr, 2), 6).alias("f1_l1"),
    )


@REG.add("hashingtf_idf_stats")  # rows-only: murmur3 bucket ids are not
# reproducible in DuckDB (SURVEY §7 known-hard #4); invariants in tests/test_ml.py
def hashingtf_idf_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3+F4: HashingTF(1000) → IDF over documents; exposes nnz + l2 norm of
    the tf-idf vector (vector size / nnz invariants are the checkable part)."""
    from pyspark.ml.feature import IDF, HashingTF, Tokenizer

    docs = load_table(spark, sf_dir, "documents")
    toks = Tokenizer(inputCol="text", outputCol="tokens").transform(docs)
    # two consumers (the IDF document-frequency fit and the returned
    # transform) otherwise each replay the tokenize→HashingTF chain from
    # the parquet scan; MLlib's IDF does not cache its input (r13, the
    # ml_lr_rmse/tfidf discipline). Lazy: the fit materializes it. The
    # returned frame still reads it, so the caller's scope releases it.
    tf = pin(
        HashingTF(inputCol="tokens", outputCol="tf", numFeatures=1000).transform(toks),
        eager=False,
    )
    idf_model = IDF(inputCol="tf", outputCol="tfidf").fit(tf)
    out = idf_model.transform(tf)
    from pyspark.ml.functions import vector_to_array

    arr = vector_to_array(F.col("tfidf"))
    nnz = F.size(F.filter(arr, lambda x: x != 0.0))
    nrm = F.sqrt(F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x * x))
    return out.select(
        "doc_id", nnz.alias("nnz"), F.round(nrm, 4).alias("l2_norm")
    )


@REG.add(
    "index_to_string_roundtrip",
    sql="""
    WITH freq AS (
      SELECT c_mktsegment, COUNT(*) AS n FROM customer GROUP BY c_mktsegment
    ), mapping AS (
      SELECT c_mktsegment,
             CAST(ROW_NUMBER() OVER (ORDER BY n DESC, c_mktsegment) - 1 AS DOUBLE) AS idx
      FROM freq
    )
    SELECT c_mktsegment AS original, idx AS label_index, c_mktsegment AS decoded
    FROM mapping
    """,
)
def index_to_string_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 (IndexToString, RandomForest.java:75-78): encode with the
    deterministic indexer, decode back through the inverse mapping; the
    oracle asserts decode(encode(x)) == x for every label."""
    freq = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = ranked(
        F.col("n").desc(),
        "c_mktsegment",
        bounded_input="post-groupBy label domain: #distinct mktsegments (5)",
    )
    mapping = freq.select(
        F.col("c_mktsegment").alias("original"),
        (F.row_number().over(w) - 1).cast("double").alias("label_index"),
    )
    inverse = mapping.select(
        F.col("label_index").alias("ix"), F.col("original").alias("decoded")
    )
    return mapping.join(inverse, mapping.label_index == inverse.ix).select(
        "original", "label_index", "decoded"
    )
