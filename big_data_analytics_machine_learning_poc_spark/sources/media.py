"""Raw media ingestion via Spark's ``binaryFile`` source.

This is the on-ramp for the multimodal column convention
(operators/multimodal.py): a directory of image/audio/video files becomes a
DataFrame of (path, modificationTime, length, content) rows, which
``ingest_media_dir`` reshapes into the engine's (media_id, payload, meta)
contract — after that the mapInPandas decode/feature/resize pipeline applies
unchanged.

Design for 100 TB:
- ``binaryFile`` materializes ONE WHOLE FILE per row — it must never be
  pointed at multi-GB videos without chunking; cap is enforced by Spark's
  ``spark.sql.sources.binaryFile.maxLength`` (2 GiB hard limit) and, for
  practical partition sizing, files-per-task is steered by
  ``spark.sql.files.maxPartitionBytes`` / ``openCostInBytes``.
- The small-files problem dominates real media corpora (billions of ~100 KB
  images). Listing is driver-side and O(files); at the billions scale the
  right move is ingest-once into parquet with the payload as a binary
  column (exactly the `with_binary_payload` shape) and never re-list — this
  module is the *ingest* step that produces those parquet shards.
- ``pathGlobFilter`` prunes non-media files during listing (not after), and
  ``recursiveFileLookup`` walks nested date/shard directory trees.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    recursive: bool = True,
) -> DataFrame:
    """Read files under ``path`` as (path, modificationTime, length, content).

    ``glob`` (e.g. ``*.png``) filters during the listing; ``recursive``
    descends into subdirectories (shard/date layouts).
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    return reader.load(path)


_EXT_FORMAT = {
    ".png": "image/png",
    ".jpg": "image/jpeg",
    ".jpeg": "image/jpeg",
    ".gif": "image/gif",
    ".wav": "audio/wav",
    ".mp3": "audio/mpeg",
    ".mp4": "video/mp4",
    ".bin": "application/octet-stream",
}


def ingest_media_dir(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """binaryFile listing → the engine's multimodal contract:
    (media_id, payload, meta struct<format, n_bytes, src_path>).

    media_id is a deterministic function of the file path (not the listing
    order), so re-ingesting after adding files keeps existing ids stable —
    the same idempotence rule the dedup/split operators rely on.
    """
    raw = read_binary_files(spark, path, glob=glob)
    ext = F.lower(F.regexp_extract(F.col("path"), r"(\.[A-Za-z0-9]+)$", 1))
    fmt_map = F.create_map(
        *[F.lit(x) for kv in _EXT_FORMAT.items() for x in kv]
    )
    return raw.select(
        F.conv(F.substring(F.md5(F.col("path")), 1, 15), 16, 10)
        .cast("long")
        .alias("media_id"),
        F.col("content").alias("payload"),
        F.struct(
            F.coalesce(fmt_map[ext], F.lit("application/octet-stream")).alias(
                "format"
            ),
            F.col("length").cast("long").alias("n_bytes"),
            F.col("path").alias("src_path"),
        ).alias("meta"),
    )


def write_media_parquet(df: DataFrame, out_dir: str, shards: int = 1) -> None:
    """Persist ingested media as parquet with the binary payload inline —
    the one-time conversion that ends the small-files problem. ``shards``
    maps to output files; at scale pick shards so each lands near the
    128-256 MB parquet sweet spot."""
    df.repartition(shards, "media_id").write.mode("overwrite").parquet(
        os.fspath(out_dir)
    )
