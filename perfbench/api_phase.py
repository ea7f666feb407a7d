"""API phase of ``paper_path``: a closed loop with one client over the
store the ingest phase wrote.

Each request is one of list (key-set page), detail, chunk range or
chart + blob, in seeded blocks holding each type once, with uniform
keys and no key reused. Afterwards a durability probe applies updates
and deletes on documents the reads never touch, reopens the store with
a fresh ``DocumentProcessor`` and counts every mutation not visible.
"""

from __future__ import annotations

import random
import time
from contextlib import contextmanager, nullcontext

import corpus as gen
from harness import Run
from report import API_OPS, geomean, median, percentile
from tracing import force_plan, plan_counts

PAGE = 20
# requests per second of --seconds the closed loop is sized for
REQUESTS_PER_S = 2.5
N_UPDATES = 4
N_DELETES = 4
UPDATED_LANG = "xx"


def plan_requests(seed: int, corpus: gen.Corpus, n_blocks: int):
    """Seeded request list and the doc ids reserved for warm-up and the
    durability probe. Keys are uniform over the documents (over those
    with charts, for chart + blob) and never reused."""
    rng = random.Random(seed * 7919 + 17)
    ids = corpus.doc_ids[:]
    rng.shuffle(ids)
    n_reserved = len(API_OPS) + N_UPDATES + N_DELETES
    reserved, ids = ids[:n_reserved], ids[n_reserved:]
    used: set[int] = set()

    def take(pool):
        for d in pool:
            if d not in used:
                used.add(d)
                return d
        return None

    any_doc = iter(ids)
    with_chart = iter([d for d in ids if corpus.charts[d]])
    reqs = []
    for _ in range(n_blocks):
        block = list(API_OPS)
        rng.shuffle(block)
        for op in block:
            d = take(with_chart if op == "chart_blob" else any_doc)
            if d is None:
                continue
            if op == "chart_blob":
                arg = rng.choice(corpus.charts[d])
            elif op == "chunk_range":
                start = rng.randrange(corpus.n_chunks[d])
                arg = (start, start + rng.randrange(5))
            else:
                arg = None
            reqs.append((op, d, arg))
    return reserved, reqs


def call(proc, op: str, doc_id: int, arg):
    """One API request; returns what the client reads."""
    if op == "list":
        return [r.doc_id for r in proc.get_documents(after_id=doc_id - 1,
                                                     limit=PAGE).collect()]
    if op == "detail":
        return proc.get_document_info(doc_id)
    if op == "chunk_range":
        start, end = arg
        return [r.chunk_index for r in
                proc.get_document_chunks(doc_id, start, end).collect()]
    return proc.get_chart_with_image(doc_id, arg)


def expected_ok(corpus: gen.Corpus, op: str, doc_id: int, arg, got) -> bool:
    if op == "list":
        ids = sorted(corpus.doc_ids)
        return got == [d for d in ids if d >= doc_id][:PAGE]
    if op == "detail":
        n = corpus.n_chunks[doc_id]
        return (got is not None and got["total_chunks"] == n
                and [c["chunk_index"] for c in got["chunks"]] == list(range(n))
                and len(got["charts"]) == len(corpus.charts[doc_id]))
    if op == "chunk_range":
        start, end = arg
        return got == list(range(start, min(end, corpus.n_chunks[doc_id] - 1) + 1))
    return (got is not None
            and got.get("image_data") == gen.blob_bytes(doc_id, arg))


class ReadProbe:
    """Traced-run instrumentation: every DataFrame ``collect`` is split
    into a planning span and an execution span, and its scan counters
    are read; object-store reads are told apart by a tag the wrapped
    ``objectstore.read_blob`` sets."""

    def __init__(self, run: Run):
        self.run = run
        self.reads = {"docstore": [], "objectstore": []}

    @contextmanager
    def installed(self):
        from document_parsing_etl_pipeline_spark.sources import objectstore

        run, reads = self.run, self.reads
        # the session's concrete DataFrame class, which defines collect
        frame = type(run.spark.range(0))
        orig_collect, orig_read_blob = frame.collect, objectstore.read_blob

        def collect(df):
            layer = getattr(df, "_perfbench_layer", "docstore")
            with run.tracer.span(f"{layer}.plan"):
                force_plan(df)
            t = time.perf_counter()
            with run.tracer.span(f"{layer}.execute"):
                rows = orig_collect(df)
            dt = time.perf_counter() - t
            with run.instrumenting():
                reads[layer].append({**plan_counts(df), "rows": len(rows),
                                     "s": dt})
            return rows

        def read_blob(*a, **kw):
            df = orig_read_blob(*a, **kw)
            df._perfbench_layer = "objectstore"
            return df

        frame.collect, objectstore.read_blob = collect, read_blob
        try:
            yield self
        finally:
            frame.collect, objectstore.read_blob = orig_collect, orig_read_blob

    def layers(self) -> dict:
        out = {}
        ds, ob = self.reads["docstore"], self.reads["objectstore"]
        if ds:
            out["docstore.files_scanned_per_read"] = (
                sum(r["files_scanned"] for r in ds) / len(ds))
            out["docstore.rows_scanned_per_row_returned"] = (
                sum(r["rows_scanned"] for r in ds)
                / max(sum(r["rows"] for r in ds), 1))
        if ob:
            out["objectstore.read_blob_ms"] = median([r["s"] for r in ob]) * 1e3
            out["objectstore.files_scanned_per_read"] = (
                sum(r["files_scanned"] for r in ob) / len(ob))
        return out


def measure(run: Run, corpus: gen.Corpus, root: str) -> None:
    """Reopen the store, warm each request type once, run a closed loop
    of requests sized from ``run.seconds``, check every answer, then
    probe durability. A fixed count, not a deadline, so a slow run
    measures the same requests as a fast one."""
    from document_parsing_etl_pipeline_spark.processor import DocumentProcessor

    spark, tr = run.spark, run.tracer
    n_blocks = max(2, round(run.seconds * REQUESTS_PER_S / len(API_OPS)))
    reserved, reqs = plan_requests(run.seed, corpus, n_blocks)
    warm_ids, mut_ids = reserved[:len(API_OPS)], reserved[len(API_OPS):]
    t = time.perf_counter()
    with tr.span("docstore.reopen"):
        proc = DocumentProcessor(spark, root)
        proc.tables  # noqa: B018  (reopen: list the store's files)
    run.detail["reopen_s"] = time.perf_counter() - t
    for op, d in zip(API_OPS, warm_ids):
        arg = (0, 1) if op == "chunk_range" else (
            corpus.charts[d][0] if corpus.charts[d] else 1)
        call(proc, op, d, arg)

    lat = {op: [] for op in API_OPS}
    jobs = {op: [] for op in API_OPS}
    results = []
    probe = ReadProbe(run)
    with probe.installed() if run.trace else nullcontext():
        t_start = time.perf_counter()
        for i, (op, d, arg) in enumerate(reqs):
            rid = f"{op}-{i}"
            if run.trace:
                spark.sparkContext.setJobGroup(rid, op)
            with run.op(rid):
                t = time.perf_counter()
                with tr.span(f"processor.{op}", rid):
                    got = call(proc, op, d, arg)
                lat[op].append(time.perf_counter() - t)
                results.append((op, d, arg, got))
            if run.trace:
                with run.instrumenting():
                    jobs[op].append(run.counters.jobs_in_group(rid))
        wall = time.perf_counter() - t_start
        if run.trace:
            spark.sparkContext.setJobGroup("perfbench-other", "")
    for op, d, arg, got in results:
        run.check(expected_ok(corpus, op, d, arg, got),
                  f"{op}({d},{arg}) wrong")
    if any(not v for v in lat.values()):
        raise RuntimeError("an API request type got no samples")
    run.detail["api_requests_per_s"] = len(results) / wall
    run.metrics["latency_ms"] = geomean([median(v) for v in lat.values()]) * 1e3
    pooled = [x for v in lat.values() for x in v]
    # pooled p50 and p90 with their sample count: too few samples beyond
    # the p90 for a gate, and a pooled median jumps between request types
    run.detail["latency_p50_ms"] = median(pooled) * 1e3
    run.detail["latency_p90_ms"] = percentile(pooled, 90) * 1e3
    run.detail["latency_n"] = len(pooled)
    run.detail["per_op"] = {
        op: {"n": len(v), "p50_ms": median(v) * 1e3,
             "p90_ms": percentile(v, 90) * 1e3} for op, v in lat.items()}
    durability_probe(run, proc, root, mut_ids)
    if run.trace:
        _traced_layers(run, probe, jobs)


def durability_probe(run: Run, proc, root: str, mut_ids: list[int]) -> None:
    """Updates and deletes through the API, then one read of the
    touched documents through a fresh processor over the same root."""
    from pyspark.sql import functions as F

    from document_parsing_etl_pipeline_spark.processor import DocumentProcessor

    upd, dele = mut_ids[:N_UPDATES], mut_ids[N_UPDATES:]
    for d in upd:
        proc.update_document(d, {"lang": UPDATED_LANG})
    for d in dele:
        proc.delete_document(d)
    fresh = DocumentProcessor(run.spark, root)
    seen = {r.doc_id: r.lang for r in fresh.tables["documents"]
            .where(F.col("doc_id").isin(mut_ids)).select("doc_id", "lang")
            .collect()}
    lost = 0
    for d in upd:
        if seen.get(d) == UPDATED_LANG:
            run.ok()
        else:
            lost += 1
            run.fail(f"update of doc {d} lost on reopen", wrong_answer=False)
    for d in dele:
        if d not in seen:
            run.ok()
        else:
            lost += 1
            run.fail(f"delete of doc {d} lost on reopen", wrong_answer=False)
    run.layers["processor.mutations_lost"] = lost


def _traced_layers(run: Run, probe: ReadProbe, jobs: dict) -> None:
    """Per request type: construction is the request span's self time
    (Python work in the processor), planning and execution its
    collects' child spans."""
    split = {op: {"construct": [], "plan": [], "execute": []} for op in API_OPS}
    child_t: dict = {}
    for s in run.tracer.spans:
        if s["parent"] is not None:
            key = (s["parent"], s["name"].rsplit(".", 1)[1])
            child_t[key] = child_t.get(key, 0.0) + s["end"] - s["start"]
    for s in run.tracer.spans:
        if not s["name"].startswith("processor."):
            continue
        op = s["name"].split(".", 1)[1]
        if op not in split:
            continue
        plan = child_t.get((s["id"], "plan"), 0.0)
        execute = child_t.get((s["id"], "execute"), 0.0)
        split[op]["plan"].append(plan)
        split[op]["execute"].append(execute)
        split[op]["construct"].append(s["end"] - s["start"] - plan - execute)
    for op, parts in split.items():
        for kind, xs in parts.items():
            run.layers[f"processor.{op}.{kind}_ms"] = median(xs) * 1e3 if xs else 0
        run.layers[f"processor.{op}.spark_jobs"] = median(jobs[op]) if jobs[op] else 0
    run.layers.update(probe.layers())
