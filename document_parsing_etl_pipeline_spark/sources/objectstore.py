"""Object store: the engine's analog of the reference's MinIO bucket.

Reference parity: PNG blobs at ``documents/{doc_id}/charts/{chart_id}
.png`` with save/get/delete (reference src/storage/minio.py:38-95).

Spark re-expression: images are rows of a binary-column DataFrame
(`image_path string, content binary, content_type string`) persisted
as parquet — the pattern that scales to 100 TB of blobs (columnar
batches, partition-pruned point reads) without an external object
store in the test container. Put/get/delete are DataFrame ops.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, StringType, StructField, StructType,
)

BLOB_SCHEMA = StructType([
    StructField("image_path", StringType(), False),
    StructField("content", BinaryType(), True),
    StructField("content_type", StringType(), True),
])


def object_path(doc_id: int, chart_id: int) -> str:
    """MinIO key layout parity (src/storage/minio.py:45)."""
    return f"documents/{doc_id}/charts/{chart_id}.png"


def put_images(spark: SparkSession, rows: list[tuple[str, bytes, str]]) -> DataFrame:
    return spark.createDataFrame(rows, BLOB_SCHEMA)


def write_blobs(blobs: DataFrame, root: str) -> None:
    blobs.write.mode("append").parquet(os.path.join(root, "blobs"))


def read_blob(spark: SparkSession, root: str, doc_id: int,
              chart_id: int) -> DataFrame:
    """Point read — parquet predicate pushdown on image_path. The
    schema is given, so the read runs no schema-inference job."""
    return (
        spark.read.schema(BLOB_SCHEMA).parquet(os.path.join(root, "blobs"))
        .where(F.col("image_path") == object_path(doc_id, chart_id))
    )


def delete_blob(blobs: DataFrame, doc_id: int, chart_id: int) -> DataFrame:
    return blobs.where(F.col("image_path") != object_path(doc_id, chart_id))
