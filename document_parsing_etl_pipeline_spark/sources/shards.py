"""Training-shard planning: token-budget shard ids per document.

The two-level distributed prefix-sum behind q_shard_assignment
(plans/section_f_text.py): cumsum WITHIN doc_id-range buckets
(parallel partitioned windows), per-bucket totals cumsummed on a
bucket-count-sized frame and broadcast back as offsets. The only
single-partition ordered window runs over #buckets rows, never #docs.
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
) -> DataFrame:
    """Per-document shard ids: (doc_id, n_tokens, shard_id) where
    shard_id = floor(tokens-before-this-doc / shard_tokens) in doc_id
    order — the two-level prefix-sum plan (see module docstring)."""
    toks = docs.select(
        "doc_id",
        F.size(parse.tokens("text")).cast("long").alias("n_tokens"),
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
