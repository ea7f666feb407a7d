"""Generic bucketed range (interval) join.

Spark has no native band/interval join: a plain `left.join(right,
range_condition)` with no equi-key compiles to BroadcastNestedLoopJoin
— O(|L|·|R|) compares and a broadcast of a fact-scaling side, both
non-starters at 100 TB. The standard distributed strategy (used by
e.g. Databricks' range-join optimization and GeoSpark-style spatial
joins) is BLOCKING: quantize the join dimension into fixed-width
buckets, explode the side whose window spans buckets, equi-join on the
bucket id (a normal shuffled hash join Catalyst/AQE can optimize,
skew-split, and co-partition), then apply the exact range predicate as
a post-filter.

Cost model: each left row lands in `(hi-lo)/bucket_width + 1` buckets
(choose bucket_width ≈ window width → fanout ≈ 2); each right row
lands in exactly ONE bucket, so a matched pair meets in exactly one
bucket. The join here is a LEFT join with a per-left-row match count
(`range_join_count`). The shuffle key is the bucket id —
time-skewed workloads (a hot minute) show up as bucket skew, which AQE
skew-join splitting handles because this is a plain equi shuffle join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def range_join_count(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    lo: int,
    hi: int,
    bucket_width: int,
    left_id: str,
    agg_alias: str = "n_matches",
) -> DataFrame:
    """LEFT range join + per-left-row match count: EVERY left row
    (duplicates included) comes back with the number of right rows in
    its window (0 for no matches), all original left columns intact.

    Duplicate-safe by construction: counting happens on the DISTINCT
    (left_id, left_key) pairs — a left row exploded into k buckets
    contributes its k copies to one (id, key) group, every matched
    right row arrives via exactly one bucket, so `count(right_key)`
    counts each match once — and the counts then join back to the
    original left frame on (left_id, left_key). Duplicate left rows
    each reappear with their own correct count instead of merging
    into one combined group (the pre-fix behavior when grouping over
    all left columns). The distinct, the count groupBy, and the
    join-back all hash on the same (left_id, left_key) pair, so AQE
    reuses one partitioning across the three steps.
    """
    keys = left.select(left_id, left_key).distinct()
    lb = keys.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.expr(f"({left_key} + ({lo})) div {bucket_width}"),
                F.expr(f"({left_key} + ({hi}) - 1) div {bucket_width}"),
            )
        ),
    )
    rb = right.select(
        F.expr(f"{right_key} div {bucket_width}").alias("__bucket"),
        F.col(right_key).alias("__rkey"),
    )
    cond = (
        (lb["__bucket"] == rb["__bucket"])
        & (rb["__rkey"] >= lb[left_key] + F.lit(lo))
        & (rb["__rkey"] < lb[left_key] + F.lit(hi))
    )
    counts = (
        lb.join(rb, cond, "left")
        .groupBy(left_id, left_key)
        .agg(F.count("__rkey").cast("long").alias(agg_alias))
    )
    # inner join-back: `counts` covers every distinct (id, key) pair,
    # so each left row matches exactly one counts row
    return left.join(counts, [left_id, left_key], "inner")
