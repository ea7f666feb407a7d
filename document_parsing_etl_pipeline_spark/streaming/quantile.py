"""Streaming quantile estimation over keyed state: a bounded
log-bucket (HDR-histogram-style) summary per key, carried across
micro-batches with applyInPandasWithState.

The scale contract: state per key is a histogram whose size is
O(B * log(value range)) — independent of stream length — with a hard
``max_buckets`` cap enforced by deterministic resolution-halving
(coarsening never needs the raw values because floor(idx/2) at
resolution B IS the bucket at resolution B/2), and —
once resolution bottoms out at one bucket per octave — by saturating
the outermost octaves into edge buckets (a double's exponent range
spans ~2100 octaves, so halving alone cannot hold the cap against an
adversarial magnitude spread; the edge buckets absorb the tails).
Estimates carry a known relative-error bound: a value in bucket idx
lies in [2^(idx/B), 2^((idx+1)/B)), so the midpoint estimate is
within (2^(1/B)-1)/2 of the true quantile's value *relatively* —
~4.4% at the default B=8, doubling per coarsening step. Tests assert
the bound, checkpoint state carry, and cap-forced coarsening.

The batch analogs are q_events_percentiles (exact interpolated
percentiles) and q_sketch_rank_audit (t-digest grading); this is the
stream form that never re-reads history. The reference has no
streaming surface (its watcher is a one-doc loop, main.py:1-40); the
operator belongs to the LLM-pipeline brief's streaming family.
"""

from __future__ import annotations

import json
import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

QUANTILE_OUT_SCHEMA = (
    "key string, n bigint, n_buckets bigint, b_eff bigint, "
    "p50_est double, p95_est double, p99_est double, seq bigint"
)
# hist is the JSON {bucket_token: count} map — bounded at max_buckets
QUANTILE_STATE_SCHEMA = "hist string, n bigint, b_eff int, seq bigint"

DEFAULT_B = 8  # sub-buckets per octave -> ~4.4% midpoint rel. error


def _bucket_token(v: float, b: int) -> str:
    """Deterministic bucket id: 'z' for 0, 'p:<idx>'/'n:<idx>' with
    idx = floor(log2(|v|) * b) for positive/negative values."""
    if v == 0.0:
        return "z"
    idx = int(math.floor(math.log2(abs(v)) * b))
    return ("p:%d" % idx) if v > 0 else ("n:%d" % idx)


def _bucket_mid(token: str, b: int) -> float:
    if token == "z":
        return 0.0
    kind, idx_s = token.split(":")
    idx = int(idx_s)
    mid = (2.0 ** (idx / b) + 2.0 ** ((idx + 1) / b)) / 2.0
    return mid if kind == "p" else -mid


def _coarsen(hist: dict[str, int], b: int) -> tuple[dict[str, int], int]:
    """Halve the resolution: bucket idx at B maps to floor(idx/2) at
    B/2 exactly (floor(floor(x*B)/2) == floor(x*B/2))."""
    nb = max(1, b // 2)
    out: dict[str, int] = {}
    for tok, c in hist.items():
        if tok == "z":
            out["z"] = out.get("z", 0) + c
        else:
            kind, idx_s = tok.split(":")
            nidx = math.floor(int(idx_s) / 2)
            ntok = "%s:%d" % (kind, nidx)
            out[ntok] = out.get(ntok, 0) + c
    return out, nb


def _saturate(hist: dict[str, int], max_buckets: int) -> dict[str, int]:
    """Hard-cap fallback once b_eff == 1 (one bucket per octave): a
    double's exponent range spans ~2100 octaves, so resolution
    halving alone cannot guarantee ``max_buckets`` against an
    adversarial magnitude spread. Saturate the outermost octave into
    its inner neighbor (the edge buckets absorb the tails, trading
    tail resolution for the cap) until the cap holds. Deterministic:
    each step merges the end whose outermost bucket holds less mass
    (ties merge the positive end), so replays reproduce the state."""
    toks = sorted(hist, key=_value_order)
    while len(toks) > max_buckets and len(toks) > 1:
        lo, hi = toks[0], toks[-1]
        if hist[lo] < hist[hi]:
            dst = toks[1]
            hist[dst] = hist.get(dst, 0) + hist.pop(lo)
            toks.pop(0)
        else:
            dst = toks[-2]
            hist[dst] = hist.get(dst, 0) + hist.pop(hi)
            toks.pop()
    return hist


def _value_order(tok: str) -> tuple[int, int]:
    """Sort key placing buckets in ascending VALUE order: negatives
    (idx descending = more negative first), zero, positives."""
    if tok == "z":
        return (1, 0)
    kind, idx_s = tok.split(":")
    idx = int(idx_s)
    return (0, -idx) if kind == "n" else (2, idx)


def _estimate(hist: dict[str, int], n: int, q: float, b: int) -> float:
    rank = max(1, math.ceil(q * n))
    cum = 0
    for tok in sorted(hist, key=_value_order):
        cum += hist[tok]
        if cum >= rank:
            return _bucket_mid(tok, b)
    return _bucket_mid(max(hist, key=_value_order), b)


def quantile_stream(
    stream: DataFrame, max_buckets: int = 512,
) -> DataFrame:
    """Per-key streaming p50/p95/p99 with bounded histogram state.

    Emits one changelog row per (key, micro-batch) — readers keep the
    last ``seq`` per key, the same consumption rule as
    latest_state_stream. ``b_eff`` reports the current resolution so
    consumers can see when the cap forced a coarsening (error bound
    doubles per halving)."""

    def fold_fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            hist_s, n, b_eff, seq = state.get
            hist = {k: int(v) for k, v in json.loads(hist_s).items()}
        else:
            hist, n, b_eff, seq = {}, 0, DEFAULT_B, 0
        added = 0
        for pdf in pdfs:
            for v in pdf["value"]:
                tok = _bucket_token(float(v), b_eff)
                hist[tok] = hist.get(tok, 0) + 1
                added += 1
        if not added:
            state.update((json.dumps(hist), n, b_eff, seq))
            return
        while len(hist) > max_buckets and b_eff > 1:
            hist, b_eff = _coarsen(hist, b_eff)
        if len(hist) > max_buckets:
            hist = _saturate(hist, max_buckets)
        n += added
        seq += 1
        state.update(
            (json.dumps(hist, sort_keys=True), n, b_eff, seq))
        yield pd.DataFrame(
            [(
                str(key[0]), n, len(hist), b_eff,
                _estimate(hist, n, 0.50, b_eff),
                _estimate(hist, n, 0.95, b_eff),
                _estimate(hist, n, 0.99, b_eff),
                seq,
            )],
            columns=[
                "key", "n", "n_buckets", "b_eff",
                "p50_est", "p95_est", "p99_est", "seq",
            ],
        )

    return stream.groupBy("key").applyInPandasWithState(
        fold_fn,
        outputStructType=QUANTILE_OUT_SCHEMA,
        stateStructType=QUANTILE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
