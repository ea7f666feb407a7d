"""``registry_mix``: fixed light and heavy query sets from the ``plans``
registry over a seeded documents table, after a warm-up pass over both.

The light set (doc-store and parse queries, bound by per-query fixed
cost: construction, ``load_table``, planning, job launch) runs in
seed-shuffled passes sized from ``--seconds``; it gives the latency.
The heavy set (token-statistics analytics, bound by exchanges and
execution) runs two seed-shuffled passes; it gives the throughput, in
the way a point-query latency is reported apart from batch throughput.
Every result is compared, outside the timed region, with the query's
DuckDB oracle on the same file.
"""

from __future__ import annotations

import os
import random
import sys
import time
from contextlib import contextmanager, nullcontext

import corpus as gen
from harness import Run, fresh_dir
from report import geomean, median, percentile
from tracing import force_plan, plan_counts

N_DOCS = 600
# light passes per run: one per two seconds of --seconds, at least
# three (a pass takes about three seconds); heavy passes: two
SECONDS_PER_LIGHT_PASS = 2
MIN_LIGHT_PASSES = 3
HEAVY_PASSES = 2

LIGHT = (
    "q_documents_list", "q_document_detail", "q_chunk_range",
    "q_charts_by_doc", "ner_entities",
)
HEAVY = ("q_naive_bayes_lang", "q_kneser_ney_bigram", "q_bm25_scores")
SETS = {"light": LIGHT, "heavy": HEAVY}


def setup(run: Run):
    """Repeatable set-up: the documents table in the testdata layout
    (one parquet file per table under an sf directory)."""
    sf_dir = fresh_dir(run.path("sf"))
    corpus = gen.make_documents(run.seed, N_DOCS)
    gen.write_documents(corpus, os.path.join(sf_dir, "documents.parquet"))
    run.detail["input"] = corpus.realised()
    return sf_dir


def canonical(columns: list[str], rows) -> list[tuple]:
    """Order-insensitive canonical form: columns by name, values as
    strings (floats by their shortest round-trip repr), rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = repr(v)
            elif isinstance(v, (bytes, bytearray)):
                v = bytes(v).hex()
            vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return out


def run_query(run: Run, name: str, sf_dir: str, request: str):
    """Construct, plan and execute one registry query; returns
    (seconds, canonical result, plan counts or None)."""
    from document_parsing_etl_pipeline_spark.plans.queries import QUERIES

    tr = run.tracer
    t = time.perf_counter()
    with tr.span(f"plans.{name}", request):
        with tr.span("plans.construct"):
            df = QUERIES[name](run.spark, sf_dir)
        if run.trace:
            with tr.span("plans.plan"):
                force_plan(df)
        with tr.span("plans.execute"):
            rows = df.collect()
    dt = time.perf_counter() - t
    counts = None
    if run.trace:
        with run.instrumenting():
            counts = plan_counts(df)
    return dt, canonical(df.columns, [tuple(r) for r in rows]), counts


def warm(run: Run, sf_dir: str):
    """One pass over every query, so standing artifacts, code
    generation and the JIT are warm before measuring."""
    for name in LIGHT + HEAVY:
        run_query(run, name, sf_dir, f"warm-{name}")
    return sf_dir


def oracle_results(sf_dir: str, names) -> dict:
    import duckdb

    from document_parsing_etl_pipeline_spark.plans.queries import ORACLES

    con = duckdb.connect()
    try:
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"'{os.path.join(sf_dir, 'documents.parquet')}'")
        out = {}
        for name in names:
            res = con.execute(ORACLES[name])
            out[name] = canonical([d[0] for d in res.description],
                                  res.fetchall())
        return out
    finally:
        con.close()


@contextmanager
def load_table_spans(run: Run):
    """Spans around every ``catalog.load_table`` call, by rebinding the
    name in each program module that imported it."""
    from document_parsing_etl_pipeline_spark import catalog

    orig = catalog.load_table

    def load_table(*a, **kw):
        with run.tracer.span("catalog.load_table"):
            return orig(*a, **kw)

    patched = [m for name, m in list(sys.modules.items())
               if name.startswith("document_parsing_etl_pipeline_spark")
               and getattr(m, "load_table", None) is orig]
    for m in patched:
        m.load_table = load_table
    try:
        yield
    finally:
        for m in patched:
            m.load_table = orig


def _run_set(run: Run, names, sf_dir: str, tag: str, rng: random.Random,
             times: dict, got: dict, counts: dict) -> float:
    """One pass over ``names`` in a seeded order; returns its wall time."""
    order = list(names)
    rng.shuffle(order)
    t = time.perf_counter()
    for name in order:
        with run.op(name):
            dt, res, c = run_query(run, name, sf_dir, f"{tag}-{name}")
            times[name].append(dt)
            got[name].append(res)
            if c:
                counts[name] = c
    return time.perf_counter() - t


def measure(run: Run, sf_dir: str) -> None:
    """Light passes, as many as ``run.seconds`` is sized for, then the
    heavy passes; every result checked against its oracle."""
    rng = random.Random(run.seed)
    times: dict[str, list[float]] = {n: [] for n in LIGHT + HEAVY}
    got: dict[str, list] = {n: [] for n in LIGHT + HEAVY}
    counts: dict[str, dict] = {}
    light_s: list[float] = []
    with load_table_spans(run) if run.trace else nullcontext():
        if run.trace:
            before = run.stage_totals()
        for _ in range(max(MIN_LIGHT_PASSES,
                           round(run.seconds / SECONDS_PER_LIGHT_PASS))):
            light_s.append(_run_set(run, LIGHT, sf_dir, f"l{len(light_s)}",
                                    rng, times, got, counts))
        heavy_s = [_run_set(run, HEAVY, sf_dir, f"h{i}", rng, times, got, counts)
                   for i in range(HEAVY_PASSES)]
        if run.trace:
            run.record_stage_totals(before)
    expected = oracle_results(sf_dir, LIGHT + HEAVY)
    for name, results in got.items():
        for i, res in enumerate(results):
            run.check(res == expected[name],
                      f"{name} run {i}: {len(res)} rows differ from oracle")
    light = [times[n] for n in LIGHT]
    if not all(light) or not all(times[n] for n in HEAVY):
        raise RuntimeError("a registry query never completed")
    run.metrics["throughput_per_s"] = len(HEAVY) / median(heavy_s)
    run.metrics["latency_ms"] = geomean([median(v) for v in light]) * 1e3
    pooled = [x for v in light for x in v]
    # pooled p50 and p90 with their sample count: too few samples beyond
    # the p90 for a gate, and a pooled median jumps between query types
    run.detail["latency_p50_ms"] = median(pooled) * 1e3
    run.detail["latency_p90_ms"] = percentile(pooled, 90) * 1e3
    run.detail["latency_n"] = len(pooled)
    run.detail.update({
        "light_passes": len(light_s),
        "registry_light_s": median(light_s),
        "registry_heavy_s": median(heavy_s),
        "per_query_s": {n: median(v) for n, v in times.items()},
    })
    if run.trace:
        run.detail["plan_counts"] = counts
        _traced_layers(run, {"light": len(light_s), "heavy": HEAVY_PASSES},
                       counts)


def _traced_layers(run: Run, passes: dict, counts: dict) -> None:
    """Per set and pass: construction, planning and execution seconds
    from the query spans' children, and the plan node counts of one
    execution of each query."""
    spans = run.tracer.spans
    by_id = {s["id"]: s for s in spans}
    set_of = {n: st for st, members in SETS.items() for n in members}
    totals = {(st, k): 0.0 for st in SETS
              for k in ("construct", "plan", "execute")}
    for s in spans:
        kind = s["name"].removeprefix("plans.")
        if kind not in ("construct", "plan", "execute") or s["parent"] is None:
            continue
        query = by_id[s["parent"]]["name"].removeprefix("plans.")
        if query in set_of:
            totals[(set_of[query], kind)] += s["end"] - s["start"]
    for (st, kind), total in totals.items():
        run.layers[f"plans.{st}.{kind}_s"] = total / passes[st]
    for st, members in SETS.items():
        for k in ("exchanges", "reused_exchanges", "scans"):
            run.layers[f"plans.{st}.{k}"] = sum(
                counts[n][k] for n in members if n in counts)
    # per query execution
    n_exec = sum(n * len(SETS[st]) for st, n in passes.items())
    loads = run.tracer.seconds("catalog.load_table")
    run.layers["catalog.load_table_calls"] = len(loads) / n_exec
    run.layers["catalog.load_table_s"] = sum(loads) / n_exec
