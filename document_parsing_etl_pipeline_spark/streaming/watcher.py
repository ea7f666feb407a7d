"""Streaming ingest: the reference's directory watcher re-expressed
as Structured Streaming over a file source.

Reference parity: watchdog Observer + FileSystemEventHandler picking
up new files and running parse → chunk → store (reference
services/parser/main.py:12-171) and the Airflow FileSensor DAG
(dags/file_sensor.py:70-97). Spark's file streaming source IS the
watcher: it discovers new files per micro-batch, exactly-once, and
scales to a 1000-executor cluster where a watchdog thread cannot.

One sink, ``start_full_pipeline``: whether a document arrives by
upload (``processor.upload_document``) or in a batch drop, each
micro-batch runs the whole ``process_document`` pipeline and lands
the doc store's three tables, as the reference's watcher does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType, StringType, StructField, StructType,
)

DOC_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("text", StringType(), True),
    StructField("lang", StringType(), True),
    StructField("source", StringType(), True),
    StructField("n_chars", LongType(), True),
])


def watch_documents(spark: SparkSession, watch_dir: str,
                    max_files_per_trigger: int = 16) -> DataFrame:
    """readStream over a drop directory (one JSON doc per line).

    ``max_files_per_trigger`` is the throughput/latency lever: per
    micro-batch the streaming engine pays ~200 ms of fixed cost
    (offset log, WAL, planning, sink commit — measured ~36% of a
    16-file batch at sf0.1), so larger triggers amortize it toward
    the raw parse+chunk+write rate, smaller ones cut per-doc
    latency."""
    return (
        spark.readStream.format("json")
        .schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(watch_dir)
    )


def start_full_pipeline(spark: SparkSession, watch_dir: str, store_root: str,
                        checkpoint_dir: str, available_now: bool = True,
                        max_files_per_trigger: int = 16):
    """Full process_document parity on a stream: each micro-batch
    lands documents + chunks + charts in the doc store together
    (reference pdf_parser.py:201-253 writes all three per document in
    one transaction). ``max_files_per_trigger`` caps the drop files
    one micro-batch reads (``watch_documents``).

    Idempotent replay: every table write goes to a
    ``batch_id=<n>`` subdirectory with mode("overwrite") scoped to
    that path. If the sink dies mid-batch, the checkpoint replays the
    batch and the rewrite lands on the SAME paths — no duplicate rows,
    which is what makes foreachBatch + checkpoint exactly-once here
    (plain append would duplicate on replay). Readers load the store
    with ``spark.read.parquet(root + "/" + name)``, which globs the
    batch dirs as a partition column.

    Malformed drops don't kill the watcher: rows that fail the schema
    land with null doc_id and are routed to `rejects/` instead of the
    store (the reference logs-and-continues, main.py:117-118).
    """
    import os

    from ..sources.docstore import build_docstore

    stream = watch_documents(
        spark, watch_dir, max_files_per_trigger=max_files_per_trigger)

    def _sink(batch_df, batch_id: int) -> None:
        # the rejects check and the three table writes each scan the
        # batch: cache it so the source files are read once
        batch_df.persist()
        try:
            good = batch_df.where(F.col("doc_id").isNotNull())
            bad = batch_df.where(F.col("doc_id").isNull())
            if bad.isEmpty() is False:
                bad.write.mode("overwrite").parquet(
                    os.path.join(store_root, "rejects", f"batch_id={batch_id}")
                )
            tables = build_docstore(good)
            for name, df in tables.items():
                df.write.mode("overwrite").parquet(
                    os.path.join(store_root, name, f"batch_id={batch_id}")
                )
        finally:
            batch_df.unpersist()

    writer = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
