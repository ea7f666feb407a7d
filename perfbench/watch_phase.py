"""Watcher phase of ``paper_path``: uploads land at a fixed rate into a
running ``start_full_pipeline`` (open loop, one generator in the main
thread); then a backlog landed beforehand drains through one
``availableNow`` run. The phase's numbers go to the report file and the
per-layer ``watcher.*`` metrics.

Each drop is timed from its scheduled landing time to the end of the
micro-batch whose ``batch_id=<n>`` directories hold it, read from the
query's public ``recentProgress``.
"""

from __future__ import annotations

import datetime
import os
import time

import corpus as gen
from harness import Run, fresh_dir
from report import median, percentile

# about a third of the drain rate measured here, so a slower box still
# keeps up and the latency stays a micro-batch latency, not a backlog
RATE_PER_S = 3.0
WARM_DROPS = 16
DRAIN_DROPS = 48
# doc ids: warm-up and open loop from 0, drain backlog from here
DRAIN_FIRST_ID = 1_000_000


def _start(run: Run, name: str, available_now: bool, watch: str | None = None):
    from document_parsing_etl_pipeline_spark.streaming.watcher import (
        start_full_pipeline,
    )
    watch = watch or fresh_dir(run.path(name, "watch"))
    store = fresh_dir(run.path(name, "store"))
    ckpt = fresh_dir(run.path(name, "ckpt"))
    q = start_full_pipeline(run.spark, watch, store, ckpt,
                            available_now=available_now)
    return q, watch, store


def inputs(seed: int, seconds: float):
    """The live drops and the drain backlog."""
    n_live = WARM_DROPS + int(RATE_PER_S * seconds)
    return (gen.make_documents(seed, n_live),
            gen.make_documents(seed + 1, DRAIN_DROPS, first_id=DRAIN_FIRST_ID))


def _land(proc, d: dict, watch: str) -> None:
    proc.upload_document(d["doc_id"], d["text"], watch, lang=d["lang"],
                         source=d["source"])


def _epoch(ts: str) -> float:
    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _batches(progress: list[dict]) -> dict[int, dict]:
    """batch id -> end time (epoch s), durations and source rows, for
    the micro-batches that ran."""
    out = {}
    for p in progress:
        dur = p.get("durationMs", {})
        if "addBatch" not in dur:
            continue
        out[p["batchId"]] = {
            "end": _epoch(p["timestamp"]) + dur["triggerExecution"] / 1e3,
            "start": _epoch(p["timestamp"]),
            "duration_ms": dur,
            "rows": p["numInputRows"],
        }
    return out


def _store_batches(run: Run, store: str) -> dict[int, list[int]]:
    """doc id -> the batch ids holding it, from the store itself."""
    rows = (run.spark.read.parquet(os.path.join(store, "documents"))
            .select("doc_id", "batch_id").collect())
    out: dict[int, list[int]] = {}
    for r in rows:
        out.setdefault(r.doc_id, []).append(r.batch_id)
    return out


def _check_once(run: Run, landed: list[int], held: dict[int, list[int]],
                phase: str) -> None:
    for d in landed:
        n = len(held.get(d, ()))
        run.check(n == 1, f"{phase}: doc {d} stored {n} times")
    extra = set(held) - set(landed)
    if extra:
        run.fail(f"{phase}: {len(extra)} docs stored but never landed")


def measure(run: Run, live: gen.Corpus, backlog: gen.Corpus) -> None:
    """Start the continuous pipeline, push a warm-up batch through it,
    run the open loop, then the drain."""
    from document_parsing_etl_pipeline_spark.processor import DocumentProcessor

    q, watch, store = _start(run, "live", available_now=False)
    proc = DocumentProcessor(run.spark)
    t = time.perf_counter()
    for d in live.docs[:WARM_DROPS]:
        _land(proc, d, watch)
    q.processAllAvailable()
    run.detail["watch_warm_s"] = time.perf_counter() - t
    warm_batches = set(_batches(q.recentProgress))
    drops = live.docs[WARM_DROPS:]
    sched, late, landed = {}, [], []
    t0_wall = time.time() + 0.05
    t0 = time.perf_counter() + 0.05
    n = int(RATE_PER_S * run.seconds)
    for i, d in enumerate(drops[:n]):
        due = t0 + i / RATE_PER_S
        pause = due - time.perf_counter()
        if pause > 0:
            time.sleep(pause)
        with run.tracer.span("processor.upload_document", f"drop-{d['doc_id']}"):
            _land(proc, d, watch)
        late.append(time.perf_counter() - due)
        sched[d["doc_id"]] = t0_wall + i / RATE_PER_S
        landed.append(d["doc_id"])
    q.processAllAvailable()
    progress = q.recentProgress
    q.stop()
    batches = {b: v for b, v in _batches(progress).items()
               if b not in warm_batches}
    held = _store_batches(run, store)
    lat = []
    for d in landed:
        b = held.get(d, [None])[0]
        if b in batches:
            lat.append(batches[b]["end"] - sched[d])
    _check_once(run, [d["doc_id"] for d in live.docs[:WARM_DROPS]] + landed,
                held, "live")
    if not lat:
        raise RuntimeError("no drop reached the store")
    if len(lat) < len(landed):
        run.detail["watch_unmatched_drops"] = len(landed) - len(lat)

    # drain: a backlog landed before the query starts
    drain_watch = fresh_dir(run.path("drain", "watch"))
    for d in backlog.docs:
        _land(proc, d, drain_watch)
    t = time.perf_counter()
    with run.tracer.span("watcher.drain", "drain"):
        dq, _, drain_store = _start(run, "drain", True, watch=drain_watch)
        dq.awaitTermination()
    drain_s = time.perf_counter() - t
    drain_batches = _batches(dq.recentProgress)
    _check_once(run, backlog.doc_ids, _store_batches(run, drain_store), "drain")
    all_b = list(batches.values()) + list(drain_batches.values())

    def dur(k: str) -> float:
        return sum(b["duration_ms"].get(k, 0) for b in all_b) / len(all_b)

    run.layers.update({
        "watcher.batch_ms": dur("triggerExecution"),
        "watcher.batches": len(all_b),
        "watcher.source_rows_per_doc":
            sum(b["rows"] for b in all_b) / (len(landed) + len(backlog.docs)),
        "watcher.add_batch_ms": dur("addBatch"),
        "watcher.query_planning_ms": dur("queryPlanning"),
        "watcher.wal_commit_ms": dur("walCommit"),
        "watcher.backlog_max_files": _backlog_max(sched, batches, held),
        "watcher.generator_late_ms": percentile(late, 90) * 1e3,
    })
    run.detail["watch"] = {
        "drops": len(landed), "rate_per_s": RATE_PER_S,
        "upload_to_queryable_p50_ms": median(lat) * 1e3,
        "upload_to_queryable_p90_ms": percentile(lat, 90) * 1e3,
        "latency_n": len(lat),
        "drain_docs": len(backlog.docs), "drain_s": drain_s,
        "drain_docs_per_s": len(backlog.docs) / drain_s,
        "generator_late_ms_max": max(late) * 1e3,
        "input": live.realised(),
    }


def _backlog_max(sched: dict, batches: dict, held: dict) -> int:
    """Most drops landed but not yet in a finished batch, seen at any
    batch start."""
    best = 0
    for b in batches.values():
        waiting = sum(
            1 for d, t in sched.items()
            if t <= b["start"] and batches.get(held.get(d, [None])[0],
                                               {"end": 1e18})["end"] > b["start"])
        best = max(best, waiting)
    return best
