"""Exactly-once streaming MERGE into the snapshot-manifest table
format: the CDC-stream → table-format loop, with one write path.

foreachBatch gives at-least-once batch delivery: after a sink crash
the checkpoint REPLAYS the last batch. The Delta/Iceberg idempotent-
sink recipe makes the write exactly-once anyway — record the stream's
batch_id in the committed snapshot (txnVersion), and skip any batch
whose id is <= the last committed one. Replays become no-ops; the
table never sees a batch twice. The merge is the table format's
copy-on-write MERGE (``merge_into``: manifest range pruning +
semi-join file confirmation), so each micro-batch rewrites only the
files its keys actually touch.

Within a batch, rows are first reduced to the latest state per key
(max_by over the sequence column) — CDC batches can carry multiple
updates for one key and MERGE wants one row per key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import tableformat as tf


def last_committed_batch(root: str) -> int:
    """Highest stream batch_id recorded in any manifest, -1 if none.
    Scans newest-first; the first hit wins (versions are ordered)."""
    for v in reversed(tf._versions(root)):
        m = tf._load_manifest(root, v)
        if "stream_batch_id" in m:
            return m["stream_batch_id"]
    return -1


def merge_batch(
    spark: SparkSession, batch_df: DataFrame, root: str,
    key: str, seq_col: str, batch_id: int,
) -> bool:
    """MERGE one micro-batch into the table, exactly once: a batch
    whose id is <= the last committed stream_batch_id is a checkpoint
    replay and is skipped (returns False). Rows are first reduced to
    the latest state per key (max_by over ``seq_col``) and merged
    with the table format's copy-on-write ``merge_into``."""
    if batch_id <= last_committed_batch(root):
        return False
    # Structured Streaming delivers zero-row batches (no-data batches
    # that advance watermarks, recovery retriggers): nothing to merge,
    # and not committing is still exactly-once — a replay of this
    # batch is empty again and lands here again.
    if batch_df.isEmpty():
        return False
    latest = (
        batch_df.groupBy(key)
        .agg(
            *[
                F.expr(f"max_by({c}, {seq_col})").alias(c)
                for c in batch_df.columns
                if c not in (key, seq_col)
            ],
            F.max(seq_col).alias(seq_col),
        )
        .select(*batch_df.columns)
    )
    tf.merge_into(
        spark, latest, root, key=key,
        extra_meta={"stream_batch_id": batch_id},
    )
    return True


def stream_merge_into_table(
    spark: SparkSession,
    stream: DataFrame,
    root: str,
    key: str,
    seq_col: str,
    checkpoint_dir: str,
):
    """Start a foreachBatch writer, with an available-now trigger,
    that MERGEs each micro-batch into the table at ``root`` exactly
    once (idempotent under checkpoint replay). The table must exist
    (create_table) with stats on ``key``. Returns the
    StreamingQuery."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        merge_batch(spark, batch_df, root, key, seq_col, batch_id)

    return (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
