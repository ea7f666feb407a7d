"""Custom stateful streaming operators on applyInPandasWithState:
per-key CDC latest-state compaction and a token-bucket rate limiter.
State per key is one fixed-size tuple, so state size is O(distinct
keys) and partitions by key across executors.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


# -------------------------------------------------------------------
# streaming CDC latest-state compaction (the stream twin of the batch
# q_cdc_latest_state query)
# -------------------------------------------------------------------

LATEST_OUT_SCHEMA = (
    "user_id bigint, last_ts_us bigint, last_event_id bigint, "
    "last_event_type string, n_updates bigint"
)
LATEST_STATE_SCHEMA = (
    "ts_us bigint, event_id bigint, event_type string, n bigint"
)


def _latest_fn(
    key: tuple, pdfs: "Iterator[pd.DataFrame]", state: GroupState
) -> "Iterator[pd.DataFrame]":
    """Keep (max (ts_us, event_id), its payload, update count) per key;
    emit the key's current state once per micro-batch it appears in
    (update-mode changelog — the read side materializes last-row-wins).
    State is one fixed-size tuple per key, O(|keys|) total, exactly
    the footprint a 1000-executor state store shards by key."""
    best = state.get if state.exists else None
    n = best[3] if best is not None else 0
    for pdf in pdfs:
        if not len(pdf):
            continue
        n += len(pdf)
        idx = pdf.sort_values(["ts_us", "event_id"]).index[-1]
        row = (
            int(pdf.at[idx, "ts_us"]),
            int(pdf.at[idx, "event_id"]),
            str(pdf.at[idx, "event_type"]),
        )
        if best is None or row[:2] > tuple(best[:2]):
            best = (*row, n)
        else:
            best = (*best[:3], n)
    if best is not None:
        state.update(tuple(best))
        yield pd.DataFrame([{
            "user_id": key[0],
            "last_ts_us": best[0],
            "last_event_id": best[1],
            "last_event_type": best[2],
            "n_updates": best[3],
        }])


def latest_state_stream(stream: DataFrame) -> DataFrame:
    """Cross-batch CDC compaction: per-key last-row-wins state over an
    unbounded change stream (needs columns user_id, ts_us, event_id,
    event_type). Late/out-of-order rows can never regress the state:
    the (ts_us, event_id) comparison is monotone across batches.

    Output is a CHANGELOG (one upsert record per key per micro-batch
    it appears in), declared append-mode so it lands in append-only
    sinks (parquet/Kafka); each changelog row is final once emitted.
    Readers materialize the table with last-record-per-key — exactly
    how a compacted Kafka topic or a Delta CDF feed is consumed."""
    return stream.groupBy("user_id").applyInPandasWithState(
        _latest_fn,
        outputStructType=LATEST_OUT_SCHEMA,
        stateStructType=LATEST_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# -------------------------------------------------------------------
# streaming token-bucket rate limiter (the stream twin of the batch
# q_rate_limit_audit replay — operators/ratelimit.py)
# -------------------------------------------------------------------

RL_OUT_SCHEMA = (
    "event_id bigint, user_id bigint, ts_us bigint, "
    "allowed boolean, tokens_after_micro bigint"
)
RL_STATE_SCHEMA = "prev_ts_us bigint, s_micro bigint"

_RL_MICRO = 1_000_000


def rate_limit_stream(
    stream: DataFrame,
    cap: int = 3,
    refill_div: int = 3_600,
) -> DataFrame:
    """Live token-bucket admission control as keyed stream state: per
    user_id, the bucket carries (last-seen ts, micro-token balance)
    across micro-batches and emits an allow/deny decision per event —
    the SAME integer recurrence as the batch audit
    (operators/ratelimit.py), so on in-order input the stream's
    decisions equal the batch replay exactly (tested). State is one
    fixed-size pair per key: O(|users|), sharded by key across
    executors like every state store here.

    In-order caveat, stated rather than hidden: a live limiter decides
    at ARRIVAL order; rows arriving out of order within a key get the
    arrival-order decision (Δt clamped at 0 so time never runs
    backwards), which is what a production limiter does — the batch
    audit is the oracle for policy replay, this operator is the
    enforcement path."""
    cap_micro = cap * _RL_MICRO

    def limit_fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            prev_ts, s = state.get
            fresh = False
        else:
            prev_ts, s = 0, cap_micro
            fresh = True
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values(["ts_us", "event_id"])
            allowed_col, after_col = [], []
            for ts in pdf["ts_us"]:
                ts = int(ts)
                if fresh:
                    s = cap_micro
                    fresh = False
                else:
                    s = min(
                        cap_micro, s + max(ts - prev_ts, 0) // refill_div
                    )
                ok = s >= _RL_MICRO
                if ok:
                    s -= _RL_MICRO
                allowed_col.append(ok)
                after_col.append(s)
                prev_ts = max(prev_ts, ts)
            out = pdf[["event_id", "user_id", "ts_us"]].copy()
            out["allowed"] = allowed_col
            out["tokens_after_micro"] = after_col
            yield out
        state.update((prev_ts, s))

    return stream.groupBy("user_id").applyInPandasWithState(
        limit_fn,
        outputStructType=RL_OUT_SCHEMA,
        stateStructType=RL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
