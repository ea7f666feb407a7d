"""Metric names, statistics and the two printed lines.

The last line of standard output is the result object the benchmark
contract asks for. The line before it is a compact human summary with
every end-to-end metric by name and unit, plus the run's context; it is
kept under ``SUMMARY_BUDGET`` bytes however many failures occurred, so a
tail-truncating reader still sees it whole. Everything else (per-layer
detail, per-operation samples, the trace) goes to the report file.
"""

from __future__ import annotations

import json
import math

SUMMARY_BUDGET = 2000

# name -> unit; direction and bound live in BENCHMARK.json
END_TO_END = {
    "setup_s": "s",
    "ok_op_share": "ratio",
    "throughput_per_s": "1/s",
    "latency_ms": "ms",
}

API_OPS = ("list", "detail", "chunk_range", "chart_blob")
REGISTRY_SETS = ("light", "heavy")


def _per_layer() -> dict[str, str]:
    m = {
        "session.start_s": "s",
        "operators.chunk_s": "s",
        "operators.ner_s": "s",
        "operators.charts_s": "s",
        "operators.chunks_out": "count",
        "operators.entities_out": "count",
        "operators.charts_out": "count",
        "docstore.construct_s": "s",
        "docstore.plan_s": "s",
        "docstore.write_s": "s",
        "docstore.files_written": "count",
        "docstore.bytes_per_input_byte": "ratio",
        "docstore.read_docstore_s": "s",
        "docstore.files_scanned_per_read": "count",
        "docstore.rows_scanned_per_row_returned": "ratio",
        "objectstore.write_blobs_s": "s",
        "objectstore.read_blob_ms": "ms",
        "objectstore.files_scanned_per_read": "count",
    }
    for op in API_OPS:
        m[f"processor.{op}.construct_ms"] = "ms"
        m[f"processor.{op}.plan_ms"] = "ms"
        m[f"processor.{op}.execute_ms"] = "ms"
        m[f"processor.{op}.spark_jobs"] = "count"
    m["processor.mutations_lost"] = "count"
    m.update({
        "watcher.batch_ms": "ms",
        "watcher.batches": "count",
        "watcher.source_rows_per_doc": "ratio",
        "watcher.add_batch_ms": "ms",
        "watcher.query_planning_ms": "ms",
        "watcher.wal_commit_ms": "ms",
        "watcher.backlog_max_files": "count",
        "watcher.generator_late_ms": "ms",
        "catalog.load_table_calls": "count",
        "catalog.load_table_s": "s",
    })
    for s in REGISTRY_SETS:
        m[f"plans.{s}.construct_s"] = "s"
        m[f"plans.{s}.plan_s"] = "s"
        m[f"plans.{s}.execute_s"] = "s"
        m[f"plans.{s}.exchanges"] = "count"
        m[f"plans.{s}.reused_exchanges"] = "count"
        m[f"plans.{s}.scans"] = "count"
    m.update({
        "spark.executor_run_s": "s",
        "spark.shuffle_write_bytes": "bytes",
        "spark.spill_bytes": "bytes",
        "spark.tasks": "count",
        "trace.overhead_share": "ratio",
    })
    return m


PER_LAYER = _per_layer()


# ------------------------------------------------------------ statistics


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    if not n:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def geomean(xs: list[float]) -> float:
    """Geometric mean: each request or query type weighs the same,
    whatever its typical latency."""
    if not xs:
        raise ValueError("geometric mean of no samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    return s[max(math.ceil(q / 100 * len(s)) - 1, 0)]


# --------------------------------------------------------------- output


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, float], units: dict[str, str]) -> str:
    return json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]}
                    for k in units},
    }, separators=(",", ":"))


def _fmt(v: float) -> str:
    return f"{v:.4g}"


def summary_line(results: dict[str, dict], meta: dict,
                 budget: int = SUMMARY_BUDGET) -> str:
    """One line: context, then per workload every end-to-end metric
    with its unit and the failure count, then as many failure messages
    as fit the byte budget."""
    head = " ".join(f"{k}={v}" for k, v in meta.items())
    parts = [f"perfbench {head}"]
    failures: list[str] = []
    for wl, r in results.items():
        ms = " ".join(f"{k}={_fmt(r['metrics'][k])}[{u}]"
                      for k, u in END_TO_END.items() if k in r["metrics"])
        parts.append(f"| {wl}: {ms} fail={r['failed']}/{r['attempted']}")
        failures += [f"{wl}:{m}" for m in r.get("failures", ())]
    line = " ".join(parts)
    if failures:
        line += f" | failures({len(failures)}):"
        for i, msg in enumerate(failures):
            piece = " " + msg[:120]
            tail = f" +{len(failures) - i} more"
            if len((line + piece + tail).encode()) > budget:
                line += tail
                break
            line += piece
    return line.encode()[:budget].decode("utf-8", "ignore")
