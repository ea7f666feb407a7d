"""``paper_path``: the paper's own path, end to end, in one session.

1. Ingest: a seeded corpus goes through ``process_documents`` into a
   store (plus the chart blobs), once as the warm-up and then measured;
   the last store is checked against the corpus's expectations.
2. API: a fresh ``DocumentProcessor`` reopens that store and serves a
   closed loop of list, detail, chunk range and chart + blob requests;
   then a durability probe mutates documents the reads never touched and
   reopens the store again.
3. Watcher, in the traced run only: uploads land at a fixed rate in a
   running ``start_full_pipeline``, then a backlog drains through
   ``availableNow``; every landed document must be stored exactly once.

``throughput_per_s`` is ingest documents per second and ``latency_ms``
the API requests'. The watcher phase's numbers (upload → queryable,
drain rate) go to the report file and the ``watcher.*`` layer. No
end-to-end metric comes from it, so the untraced runs, which are most
of the runs and must fit the run budget, leave it out; the budget also
has no room for a third workload with its own session start and JVM
warm-up.
"""

from __future__ import annotations

import api_phase
import ingest_phase
import watch_phase
from harness import Run

N_DOCS = 2000


def setup(run: Run):
    return ingest_phase.setup(run, N_DOCS)


def warm(run: Run, state):
    ingest_phase.warm(run, state[1])
    return state


def measure(run: Run, state) -> None:
    corpus, docs = state
    if run.trace:
        before = run.stage_totals()
    root = ingest_phase.measure(run, corpus, docs)
    api_phase.measure(run, corpus, root)
    if run.trace:
        watch_phase.measure(run, *watch_phase.inputs(run.seed + 1, run.seconds))
        run.record_stage_totals(before)
        # extra work of the traced run only, after the totals
        run.layers["docstore.plan_s"] = ingest_phase.docstore_plan_seconds(run, docs)
        ingest_phase.operator_prefixes(run, docs)
