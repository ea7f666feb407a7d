"""Bench-side tracing: spans around calls into the program's layers,
plus the Spark-side counts read at the same boundaries.

Spans are kept in memory and written when the run ends. A disabled
tracer records nothing, so the untraced run pays one attribute check
per span. Counts that need the Spark status store or SQL metrics are
read only when tracing is on.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": request or (parent["request"] if parent else None),
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_seconds(self) -> dict[str, list[float]]:
        """Per span name, each span's self time: its duration minus
        the union of the intervals its children cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, list[float]] = {}
        for s in self.spans:
            covered, cur_start, cur_end = 0.0, None, None
            for c in sorted(children.get(s["id"], ()),
                            key=lambda c: c["start"]):
                if cur_end is None or c["start"] > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = c["start"], c["end"]
                else:
                    cur_end = max(cur_end, c["end"])
            if cur_end is not None:
                covered += cur_end - cur_start
            out.setdefault(s["name"], []).append(
                s["end"] - s["start"] - covered)
        return out

    def seconds(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def export(self, t0: float) -> list[dict]:
        """Spans with times relative to ``t0``, in milliseconds."""
        return [
            {**s, "start": round((s["start"] - t0) * 1e3, 3),
             "end": round((s["end"] - t0) * 1e3, 3)}
            for s in self.spans
        ]


# ------------------------------------------------------- Spark counts


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def plan_nodes(jplan) -> list:
    """Every node of an executed physical plan, descending through the
    adaptive wrapper and its query stages."""
    out = []
    stack = [jplan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        out.append(node)
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
        stack.extend(_seq(node.children()))
    return out


def _metric(node, key: str) -> int:
    m = node.metrics().get(key)
    return int(m.get().value()) if m.isDefined() else 0


def plan_counts(df) -> dict:
    """Exchange / ReusedExchange / Scan counts and scan metrics of a
    DataFrame's executed plan (read after the action ran)."""
    nodes = plan_nodes(df._jdf.queryExecution().executedPlan())
    names = [n.nodeName() for n in nodes]
    scans = [n for n, name in zip(nodes, names) if name.startswith("Scan")]
    return {
        "exchanges": sum(name in ("Exchange", "BroadcastExchange")
                         for name in names),
        "reused_exchanges": sum(name == "ReusedExchange" for name in names),
        "scans": len(scans),
        "files_scanned": sum(_metric(n, "numFiles") for n in scans),
        "rows_scanned": sum(_metric(n, "numOutputRows") for n in scans),
    }


def force_plan(df) -> None:
    """Run analysis, optimization and physical planning now, so the
    following action reuses the planned query."""
    df._jdf.queryExecution().executedPlan()


class SparkCounters:
    """Job counts per job group and executor totals from the status
    store (fed by the listener bus, so no UI or REST server)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def _settle(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs_in_group(self, group: str) -> int:
        self._settle()
        return len(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_totals(self) -> dict:
        self._settle()
        g = self.sc._gateway
        stages = _seq(self._jsc.statusStore().stageList(
            None, False, False, g.new_array(g.jvm.double, 0), None))
        tot = {"executor_run_s": 0.0, "shuffle_write_bytes": 0,
               "spill_bytes": 0, "tasks": 0}
        for s in stages:
            tot["executor_run_s"] += s.executorRunTime() / 1e3
            tot["shuffle_write_bytes"] += s.shuffleWriteBytes()
            tot["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            tot["tasks"] += s.numCompleteTasks()
        return tot
