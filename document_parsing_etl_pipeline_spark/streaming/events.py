"""Event-stream analytics: watermarked windowed aggregation and a
stream-stream interval join.

The batch equivalent of the windowed counts (same semantics,
oracle-checked) is q_events_windowed in plans/; the streaming
versions add watermark-driven late-data handling, which has no
single-shot SQL equivalent (rows-only checks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType,
)

EVENT_SCHEMA = StructType([
    StructField("event_id", LongType(), False),
    StructField("ts", StringType(), True),   # ISO timestamp in JSON drops
    StructField("user_id", LongType(), True),
    StructField("event_type", StringType(), True),
    StructField("value", DoubleType(), True),
])


def read_event_stream(spark: SparkSession, drop_dir: str) -> DataFrame:
    df = (
        spark.readStream.format("json")
        .schema(EVENT_SCHEMA)
        .load(drop_dir)
    )
    return df.withColumn("event_time", F.to_timestamp("ts"))


def windowed_counts(events: DataFrame) -> DataFrame:
    """Tumbling 5-minute event-time windows with a 10-minute
    watermark: late events inside the watermark update their window;
    older ones are dropped — the streaming upgrade of
    q_events_windowed."""
    return (
        events.withWatermark("event_time", "10 minutes")
        .groupBy(F.window("event_time", "5 minutes"), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.sum("value").alias("sum_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type", "n_events", "sum_value",
        )
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    window_seconds: int = 60,
    watermark: str = "10 minutes",
    exclude_same_id: bool = False,
    join_type: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: each left event pairs with right
    events whose event_time lies in [left - w, left + w] — the
    streaming twin of operators/rangejoin.py, and it needs the SAME
    bucketing trick: Spark rejects stream-stream joins without an
    equality predicate, so the join key is a window-width time
    bucket. The LEFT side keeps its single bucket and the RIGHT side
    explodes into its 2-3 overlapping buckets — any |l−r| ≤ w pair
    meets in exactly the left row's bucket (floor(l/w) always lies in
    [floor((r−w)/w), floor((r+w)/w)]), so no duplicates, and —
    crucially for ``join_type='left_outer'`` — every left row exists
    exactly ONCE in the join input, so an unmatched left emits
    exactly one null-extended row when the watermark closes its
    match window (exploding the left instead would emit one null row
    per bucket). The exact time-range condition rides along as the
    join residual over both watermarked event_time columns, which is
    what lets the state store evict buffered rows that can no longer
    match (without the range bound, join state grows without limit).

    Inputs need (event_id, event_time, event_type); output is one row
    per matched pair (plus null-extended unmatched lefts for
    left_outer). Set ``exclude_same_id=True`` ONLY when both sides
    are filtered views of the same stream (self-join): it drops pairs
    sharing an event_id so a row can't match itself. Leave it off for
    genuinely distinct streams — their id spaces may collide, and the
    exclusion would silently drop legitimate matches."""
    w = int(window_seconds)
    lw = (
        left.withWatermark("event_time", watermark)
        .select(
            F.col("event_id").alias("l_id"),
            F.col("event_time").alias("l_time"),
            F.col("event_type").alias("l_type"),
        )
        .withColumn("bucket", F.expr(f"unix_seconds(l_time) div {w}"))
    )
    rw = (
        right.withWatermark("event_time", watermark)
        .select(
            F.col("event_id").alias("r_id"),
            F.col("event_time").alias("r_time"),
            F.col("event_type").alias("r_type"),
        )
        .withColumn(
            "bucket",
            F.explode(
                F.sequence(
                    F.expr(f"(unix_seconds(r_time) - {w}) div {w}"),
                    F.expr(f"(unix_seconds(r_time) + {w}) div {w}"),
                )
            ),
        )
    )
    cond = (
        (lw["bucket"] == rw["bucket"])
        & F.expr(f"r_time >= l_time - INTERVAL {w} SECONDS")
        & F.expr(f"r_time <= l_time + INTERVAL {w} SECONDS")
    )
    if exclude_same_id:
        cond = cond & (F.col("l_id") != F.col("r_id"))
    return lw.join(rw, cond, join_type).drop("bucket")
