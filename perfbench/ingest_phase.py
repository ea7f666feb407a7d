"""Ingest phase of ``paper_path``: batch ``process_documents`` into a
fresh store root plus the chart-blob write, repeated over one seeded
corpus, then the written store checked against the corpus's Python
expectations.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager, nullcontext

from pyspark.sql import functions as F

import corpus as gen
from harness import Run, fresh_dir
from report import median
from tracing import force_plan

# one ingest takes about six seconds here (fixed cost dominates); with
# one or two per run the median spread runs by a fifth to a third on a
# shared box, so take three
SECONDS_PER_OP = 6
MIN_OPS = 3


def blob_frame(charts):
    """One 512-byte image per chart row, derived from its object path
    (the same bytes ``corpus.blob_bytes`` computes)."""
    return charts.select(
        "image_path",
        F.unhex(F.repeat(F.sha2(F.col("image_path"), 256), 16)).alias("content"),
        F.lit("image/png").alias("content_type"),
    )


def ingest(run: Run, docs, root: str, request: str | None = None):
    """The paper's batch path: parse → chunk → NER → charts → store,
    then the chart blobs into the object store."""
    from document_parsing_etl_pipeline_spark.processor import DocumentProcessor
    from document_parsing_etl_pipeline_spark.sources import objectstore

    with run.tracer.span("processor.process_documents", request):
        tables = DocumentProcessor(run.spark, store_root=root).process_documents(docs)
    with run.tracer.span("objectstore.write_blobs", request):
        objectstore.write_blobs(blob_frame(tables["charts"]), root)
    return tables


def store_files(root: str, tables=("documents", "chunks", "charts")) -> tuple[int, int]:
    n = size = 0
    for t in tables:
        for d, _, files in os.walk(os.path.join(root, t)):
            for f in files:
                if f.endswith(".parquet"):
                    n += 1
                    size += os.path.getsize(os.path.join(d, f))
    return n, size


def check_store(run: Run, corpus: gen.Corpus, root: str) -> None:
    """Counts in the written store against the Python expectations."""
    from document_parsing_etl_pipeline_spark.sources import docstore

    spark = run.spark
    t = docstore.read_docstore(spark, root)
    docs = {r.doc_id: r.total_chunks
            for r in t["documents"].select("doc_id", "total_chunks").collect()}
    run.check(docs == corpus.n_chunks,
              f"documents/total_chunks differ ({len(docs)} docs)")
    per_doc = {r.doc_id: r["count"]
               for r in t["chunks"].groupBy("doc_id").count().collect()}
    run.check(per_doc == corpus.n_chunks, "chunk rows per doc differ")
    ents = t["chunks"].agg(*[F.sum(f"n_{k}").alias(k)
                             for k in gen.ENTITY_PATTERNS]).first().asDict()
    for k, want in corpus.entities.items():
        run.check(ents[k] == want, f"{k}: {ents[k]} != {want}")
    charts = {}
    for r in t["charts"].select("doc_id", "image_path").collect():
        cid = int(r.image_path.rsplit("/", 1)[1].split(".")[0])
        charts.setdefault(r.doc_id, []).append(cid)
    want = {d: sorted(c) for d, c in corpus.charts.items() if c}
    run.check({d: sorted(c) for d, c in charts.items()} == want,
              "chart inventory differs")
    n_blobs = spark.read.parquet(os.path.join(root, "blobs")).count()
    run.check(n_blobs == sum(len(c) for c in want.values()),
              f"blob rows {n_blobs}")
    run.layers["operators.chunks_out"] = sum(per_doc.values())
    run.layers["operators.entities_out"] = sum(ents.values())
    run.layers["operators.charts_out"] = sum(len(c) for c in charts.values())


def operator_prefixes(run: Run, docs) -> None:
    """Noop-sink prefixes of the pipeline: chunk, chunk + NER, charts."""
    from document_parsing_etl_pipeline_spark.operators import charts, chunking, entities

    def timed(df) -> float:
        t = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t

    chunk = [timed(chunking.chunk_documents(docs)) for _ in range(2)]
    ner = [timed(entities.extract_entities(chunking.chunk_documents(docs),
                                           text_col="text_content"))
           for _ in range(2)]
    chart = [timed(charts.chart_inventory(docs)) for _ in range(2)]
    run.layers["operators.chunk_s"] = min(chunk)
    run.layers["operators.ner_s"] = min(ner) - min(chunk)
    run.layers["operators.charts_s"] = min(chart)


def docstore_plan_seconds(run: Run, docs) -> float:
    """Catalyst planning of the three store tables' queries, timed by
    planning the same DataFrames once more."""
    from document_parsing_etl_pipeline_spark.sources import docstore

    tables = docstore.build_docstore(docs)
    t = time.perf_counter()
    for df in tables.values():
        force_plan(df)
    return time.perf_counter() - t


def setup(run: Run, n_docs: int):
    """Repeatable set-up: the corpus and its parquet file."""
    corpus = gen.make_documents(run.seed, n_docs)
    path = run.path("input", "documents.parquet")
    fresh_dir(os.path.dirname(path))
    gen.write_documents(corpus, path)
    return corpus, run.spark.read.parquet(path)


def warm(run: Run, docs) -> None:
    """One ingest of the corpus, so code generation and the JIT are
    warm (a slice costs about as much: fixed cost dominates)."""
    ingest(run, docs, fresh_dir(run.path("warm")))


def measure(run: Run, corpus: gen.Corpus, docs) -> str:
    """Ingest the corpus into fresh roots, a number of times sized from
    ``run.seconds``; check the last store and return its root."""
    tr = run.tracer
    secs: list[float] = []
    root = None
    with docstore_spans(run) if run.trace else nullcontext():
        for i in range(max(MIN_OPS, round(run.seconds / SECONDS_PER_OP))):
            root = fresh_dir(run.path("stores", f"s{i}"))
            with run.op(f"ingest#{i}"):
                t = time.perf_counter()
                with tr.span("ingest", f"ingest-{i}"):
                    ingest(run, docs, root, f"ingest-{i}")
                secs.append(time.perf_counter() - t)
                run.ok()
    if not secs:
        raise RuntimeError("no ingest completed")
    run.metrics["throughput_per_s"] = len(corpus.docs) / median(secs)
    run.detail["ingest_s"] = secs
    run.detail["input"] = corpus.realised()
    check_store(run, corpus, root)
    files, size = store_files(root)
    run.detail["store"] = {
        t: dict(zip(("files", "bytes"), store_files(root, (t,))))
        for t in ("documents", "chunks", "charts", "blobs")}
    if run.trace:
        n = len(secs)
        run.layers.update({
            "docstore.construct_s":
                sum(tr.self_seconds().get("docstore.build_docstore", [0])) / n,
            "docstore.write_s": sum(tr.seconds("docstore.write_docstore")) / n,
            "docstore.read_docstore_s":
                sum(tr.seconds("docstore.read_docstore")) / n,
            "objectstore.write_blobs_s":
                sum(tr.seconds("objectstore.write_blobs")) / n,
            "docstore.files_written": files,
            "docstore.bytes_per_input_byte":
                size / run.detail["input"]["text_bytes"],
        })
    return root


@contextmanager
def docstore_spans(run: Run):
    """Spans around the docstore functions ``process_documents`` calls,
    by rebinding them on the module for the duration."""
    from document_parsing_etl_pipeline_spark.sources import docstore

    names = ("build_docstore", "write_docstore", "read_docstore")
    orig = {n: getattr(docstore, n) for n in names}

    def traced(name, fn):
        def call(*a, **kw):
            with run.tracer.span(f"docstore.{name}"):
                return fn(*a, **kw)
        return call

    for n, fn in orig.items():
        setattr(docstore, n, traced(n, fn))
    try:
        yield
    finally:
        for n, fn in orig.items():
            setattr(docstore, n, fn)
