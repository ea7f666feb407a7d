"""Training-shard writer: token-budget shard planning + materialized
parquet shards.

The planning half is the two-level distributed prefix-sum from
q_shard_assignment (plans/queries.py): cumsum WITHIN doc_id-range
buckets (parallel partitioned windows), per-bucket totals cumsummed on
a bucket-count-sized frame and broadcast back as offsets. The only
single-partition ordered window runs over #buckets rows, never #docs.

The writing half materializes one parquet directory partition per
shard with documents in doc_id order inside each file — the layout a
sequence-packing training loader consumes shard-by-shard. Writes go
through partitionBy(shard_id) after repartition(shard_id) +
sortWithinPartitions, so each shard is one task's sorted stream (no
small-file spray: files-per-shard == 1 at any scale, bounded by the
token budget, not the executor count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import parse


def shard_assignments(
    docs: DataFrame,
    shard_tokens: int = 2048,
    bucket_size: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """Per-document shard ids: (doc_id, n_tokens, shard_id) where
    shard_id = floor(tokens-before-this-doc / shard_tokens) in doc_id
    order — the two-level prefix-sum plan (see module docstring)."""
    toks = docs.select(
        "doc_id",
        F.size(parse.tokens(text_col)).cast("long").alias("n_tokens"),
        F.expr(f"doc_id div {int(bucket_size)}").alias("bucket"),
    )
    w_in = (
        Window.partitionBy("bucket").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = toks.withColumn(
        "within_before", F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0))
    )
    bucket_totals = toks.groupBy("bucket").agg(
        F.sum("n_tokens").alias("bucket_tokens")
    )
    w_b = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = bucket_totals.select(
        "bucket",
        F.coalesce(F.sum("bucket_tokens").over(w_b), F.lit(0))
            .alias("bucket_offset"),
    )
    return (
        within.join(F.broadcast(offsets), "bucket")
        .select(
            "doc_id", "n_tokens",
            F.expr(
                f"(bucket_offset + within_before) div {int(shard_tokens)}"
            ).alias("shard_id"),
        )
    )


def write_training_shards(
    docs: DataFrame,
    out_dir: str,
    shard_tokens: int = 2048,
    bucket_size: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """Materialize token-budget shards: parquet partitioned by
    shard_id, one sorted file per shard. Returns the shard manifest
    (shard_id, n_docs, total_tokens, first_doc, last_doc) computed
    from the SAME assignment frame that was written."""
    assign = shard_assignments(
        docs, shard_tokens=shard_tokens, bucket_size=bucket_size,
        text_col=text_col,
    )
    payload = docs.join(assign, "doc_id")
    (
        payload.repartition("shard_id")
        .sortWithinPartitions("shard_id", "doc_id")
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(out_dir)
    )
    return (
        assign.groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )
