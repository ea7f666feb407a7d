"""Facade parity tests: the reference's processor/API call sequence
(demo.py + api.py flows) against DocumentProcessor."""

import pytest
from pyspark.sql import Row

from document_parsing_etl_pipeline_spark.processor import DocumentProcessor

from conftest import jobs_in_group


@pytest.fixture(scope="module")
def proc(spark, tmp_path_factory):
    docs = spark.createDataFrame([
        Row(doc_id=1, text="table data vector spark customer " * 10,
            lang="en", source="s1", n_chars=330),
        Row(doc_id=2, text="short one", lang="en", source="s2", n_chars=9),
    ])
    p = DocumentProcessor(
        spark, store_root=str(tmp_path_factory.mktemp("store"))
    )
    p.process_documents(docs)
    return p


def test_list_documents(proc):
    rows = proc.get_documents().collect()
    assert [r.doc_id for r in rows] == [1, 2]
    assert rows[0].total_chunks > 1


def test_document_info_roundtrip(proc):
    info = proc.get_document_info(1)
    assert info["filename"] == "doc_1.txt"
    assert len(info["chunks"]) == info["total_chunks"]
    assert all(c["doc_id"] == 1 for c in info["chunks"])
    assert len(info["charts"]) > 0  # 'table'/'vector' markers
    assert proc.get_document_info(999) is None


def test_chunk_range(proc):
    rows = proc.get_document_chunks(1, start_chunk=0, end_chunk=1).collect()
    assert [r.chunk_index for r in rows] == [0, 1]


def test_update_and_delete(proc):
    proc.update_document(2, {"lang": "de"})
    assert proc.get_document_info(2)["lang"] == "de"
    proc.delete_document(2)
    assert proc.get_document_info(2) is None
    assert proc.get_document_chunks(2).count() == 0
    assert proc.get_document_info(1) is not None


def test_upload_document_lands_for_watcher(tmp_path, spark):
    """upload_document drops a file the streaming watcher ingests on
    its next micro-batch — POST /documents/upload parity end to end."""
    from document_parsing_etl_pipeline_spark.processor import (
        DocumentProcessor,
    )
    from document_parsing_etl_pipeline_spark.streaming import watcher

    proc = DocumentProcessor(spark)
    watch = str(tmp_path / "drops")
    path = proc.upload_document(
        7, "uploaded text body with several words", watch
    )
    assert path.endswith("upload_doc_7.json")
    q = watcher.start_pipeline(
        spark, watch, str(tmp_path / "out"), str(tmp_path / "cp"),
        available_now=True,
    )
    q.awaitTermination(120)
    chunks = spark.read.parquet(str(tmp_path / "out"))
    assert chunks.where(chunks.doc_id == 7).count() >= 1
    # re-upload overwrites the same drop file (idempotent landing)
    assert proc.upload_document(7, "new body", watch) == path


def test_upload_temp_is_hidden_from_the_watcher(tmp_path, spark,
                                                monkeypatch):
    """upload_document writes its temp file under a hidden name before
    the rename, and the watcher's file source never reads a hidden
    leftover, such as the temp of an upload that died before its
    rename."""
    import json
    import os
    import uuid

    from document_parsing_etl_pipeline_spark.streaming import watcher

    watch = tmp_path / "drops"
    watch.mkdir()
    (watch / ".upload_doc_3.json.tmp").write_text(json.dumps({
        "doc_id": 3, "text": "left over", "lang": "en", "source": "upload",
        "n_chars": 9}) + "\n")
    replace, renamed = os.replace, []

    def recording_replace(src, dst):
        renamed.append(os.path.basename(src))
        replace(src, dst)

    monkeypatch.setattr(os, "replace", recording_replace)
    DocumentProcessor(spark).upload_document(2, "body two", str(watch))
    assert renamed == [".upload_doc_2.json.tmp"]
    assert sorted(os.listdir(watch)) == [".upload_doc_3.json.tmp",
                                         "upload_doc_2.json"]
    name = f"uploads_{uuid.uuid4().hex}"
    q = (watcher.watch_documents(spark, str(watch)).writeStream
         .format("memory").queryName(name)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert [r.doc_id for r in spark.table(name).collect()] == [2]


def test_reopened_store_answers_like_in_memory_tables(spark, tmp_path):
    """A fresh processor over a root written by process_documents gives
    the same API answers as the in-memory build_docstore tables: list
    pages, detail, chunk ranges and chart + blob. The sf0.001 slice
    holds a one-chunk doc (33) and a doc with no charts (37)."""
    from pyspark.sql import functions as F

    from conftest import SF_DIR
    from document_parsing_etl_pipeline_spark.catalog import load_table
    from document_parsing_etl_pipeline_spark.sources import objectstore

    docs = load_table(spark, SF_DIR, "documents").where(
        F.col("doc_id").between(30, 39))
    root = str(tmp_path / "store")
    mem = DocumentProcessor(spark)
    charts = mem.process_documents(docs)["charts"]
    DocumentProcessor(spark, store_root=root).process_documents(docs)
    objectstore.write_blobs(
        charts.select("image_path").distinct().select(
            "image_path", F.encode("image_path", "utf-8").alias("content"),
            F.lit("image/png").alias("content_type")),
        root)
    disk = DocumentProcessor(spark, store_root=root)

    def rows(df):
        return [r.asDict(recursive=True) for r in df.collect()]

    def detail(p, doc_id):
        info = p.get_document_info(doc_id)
        info["charts"] = sorted(info["charts"], key=repr)
        return info

    for after, limit in ((-1, 100), (29, 4), (33, 4), (37, 4)):
        assert (rows(disk.get_documents(after, limit))
                == rows(mem.get_documents(after, limit)))
    counts = {r.doc_id: r.total_chunks
              for r in mem.get_documents().collect()}
    assert counts[33] == 1
    assert detail(disk, 37)["charts"] == []
    for doc_id in range(30, 40):
        assert detail(disk, doc_id) == detail(mem, doc_id)
        for start, end in ((None, None), (0, 0), (1, 2), (3, None)):
            assert (rows(disk.get_document_chunks(doc_id, start, end))
                    == rows(mem.get_document_chunks(doc_id, start, end)))
    assert disk.get_chart_with_image(37, 1) is None
    for r in charts.select("doc_id", "image_path").distinct().collect():
        got = disk.get_chart_with_image(r.doc_id, _chart_id(r.image_path))
        want = mem.get_chart_with_image(r.doc_id, _chart_id(r.image_path))
        assert got.pop("image_data") == r.image_path.encode()
        assert got.pop("content_type") == "image/png"
        same_path = [c for c in detail(mem, r.doc_id)["charts"]
                     if c["image_path"] == r.image_path]
        assert want in same_path and got in same_path


def test_chart_without_blob_store_has_no_image(spark, tmp_path):
    """process_documents writes no blobs/ directory. Chart + blob over
    such a store answers as the in-memory tables do: the row without
    image_data / content_type, and None for a missing row (doc 37 has
    no charts)."""
    import os

    root = str(tmp_path / "store")
    DocumentProcessor(spark, store_root=root).process_documents(
        _slice(spark))
    assert not os.path.exists(os.path.join(root, "blobs"))
    mem = DocumentProcessor(spark)
    mem.process_documents(_slice(spark))
    disk = DocumentProcessor(spark, store_root=root)
    got = disk.get_chart_with_image(30, 1)
    assert got is not None and "image_data" not in got
    assert got == mem.get_chart_with_image(30, 1)
    assert disk.get_chart_with_image(37, 1) is None


def _slice(spark):
    from pyspark.sql import functions as F

    from conftest import SF_DIR
    from document_parsing_etl_pipeline_spark.catalog import load_table

    return load_table(spark, SF_DIR, "documents").where(
        F.col("doc_id").between(30, 39))


def test_ingest_writes_over_one_cached_chunk_pass(spark, tmp_path,
                                                  monkeypatch):
    """One store ingest: the write jobs run in the caller's job group,
    the documents write reads the chunk relation from the cache the
    chunks write fills, the read-back runs no Spark job (no schema
    inference), and nothing stays cached afterwards."""
    import uuid

    from document_parsing_etl_pipeline_spark.sources import docstore

    sc = spark.sparkContext
    root = str(tmp_path / "store")
    group = uuid.uuid4().hex
    read = docstore.read_docstore
    counted = []

    def counting_read(*a, **kw):
        out, n = jobs_in_group(spark, f"readback-{group}",
                               lambda: read(*a, **kw))
        counted.append(n)
        return out

    monkeypatch.setattr(docstore, "read_docstore", counting_read)
    cached = sc._jsc.getPersistentRDDs().size()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
    tables, n_ingest = jobs_in_group(
        spark, f"ingest-{group}",
        lambda: DocumentProcessor(spark, store_root=root).process_documents(
            _slice(spark)))
    assert n_ingest > 0
    # the status store drops its oldest jobs in a long session: look
    # only for ungrouped jobs that are new
    assert not set(sc.statusTracker().getJobIdsForGroup(None)) - ungrouped
    assert counted == [0]
    assert sc._jsc.getPersistentRDDs().size() == cached
    assert tables["documents"].count() == 10

    sc._jsc.sc().listenerBus().waitUntilEmpty()
    plans = spark._jsparkSession.sharedState().statusStore().executionsList()
    it = plans.iterator()
    documents_writes = []
    while it.hasNext():
        plan = it.next().physicalPlanDescription()
        if ("InsertIntoHadoopFsRelationCommand" in plan
                and f"{root}/documents," in plan):
            documents_writes.append(plan)
    assert len(documents_writes) == 1
    assert "InMemoryTableScan" in documents_writes[0]


def test_failed_store_write_raises_and_leaves_nothing_cached(
        spark, tmp_path, monkeypatch):
    """A write that fails in one of the concurrent table jobs raises
    out of process_documents, and the chunk cache is still dropped."""
    from pyspark.sql import functions as F

    from document_parsing_etl_pipeline_spark.sources import docstore

    build = docstore.build_docstore

    def failing_charts(docs):
        tables = build(docs)
        tables["charts"] = tables["charts"].withColumn(
            "chart_type", F.raise_error(F.lit("charts write fails")))
        return tables

    monkeypatch.setattr(docstore, "build_docstore", failing_charts)
    sc = spark.sparkContext
    cached = sc._jsc.getPersistentRDDs().size()
    proc = DocumentProcessor(spark, store_root=str(tmp_path / "store"))
    with pytest.raises(Exception, match="charts write fails"):
        proc.process_documents(_slice(spark))
    assert sc._jsc.getPersistentRDDs().size() == cached


def _job_spans(spark, group: str) -> list[tuple[int, int | None]]:
    """(submission, completion) epoch milliseconds of each job group
    ``group`` ran, read from the status store; completion is None for a
    job still running."""
    store = spark.sparkContext._jsc.sc().statusStore()
    spans = []
    for job_id in spark.sparkContext.statusTracker().getJobIdsForGroup(group):
        job = store.job(job_id)
        end = job.completionTime()
        spans.append((job.submissionTime().get().getTime(),
                      end.get().getTime() if end.isDefined() else None))
    return spans


def _overlapping(spans: list[tuple[int, int]]) -> bool:
    """Two of the jobs were running at the same time."""
    return any(s1 < e2 and s2 < e1
               for i, (s1, e1) in enumerate(spans)
               for s2, e2 in spans[i + 1:])


def _tracing():
    """perfbench's tracing module, loaded from its file: perfbench is a
    script directory, not a package."""
    import importlib.util
    import pathlib

    path = pathlib.Path(__file__).resolve().parents[1] / "perfbench" / (
        "tracing.py")
    spec = importlib.util.spec_from_file_location("perfbench_tracing", path)
    tracing = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tracing)
    return tracing


def _plan_counts(df) -> dict:
    """perfbench's plan-node counts for ``df``."""
    return _tracing().plan_counts(df)


def _scan_nodes(df) -> list[str]:
    """Names of the scan nodes ``df``'s executed plan reads: parquet
    file scans and in-memory table scans (not the plan a cached
    relation was built from)."""
    nodes = _tracing().plan_nodes(df._jdf.queryExecution().executedPlan())
    return [name for name in (n.nodeName() for n in nodes)
            if name.startswith("Scan") or name == "InMemoryTableScan"]


def _reopened_store(spark, tmp_path):
    """A store written from the sf0.001 slice with a blob per chart, a
    processor reopened over it, and the store's (doc_id, image_path)
    chart keys in doc_id order."""
    from pyspark.sql import functions as F

    from document_parsing_etl_pipeline_spark.sources import objectstore

    root = str(tmp_path / "store")
    charts = DocumentProcessor(spark, store_root=root).process_documents(
        _slice(spark))["charts"]
    objectstore.write_blobs(
        charts.select("image_path", F.encode("image_path", "utf-8")
                      .alias("content"), F.lit("image/png")
                      .alias("content_type")),
        root)
    keys = charts.select("doc_id", "image_path").orderBy(
        "doc_id", "image_path").collect()
    disk = DocumentProcessor(spark, store_root=root)
    disk.tables  # noqa: B018  (reopen: materializes the store's snapshot)
    return root, disk, keys


def _chart_id(image_path: str) -> int:
    return int(image_path.rsplit("/", 1)[1].split(".")[0])


def test_reopened_store_point_reads_run_few_jobs(spark, tmp_path):
    """Over a reopened store, detail runs its three reads as three
    concurrent jobs (the chunk list is sorted on the driver, not by a
    global orderBy), chart + blob runs the row lookup and the blob read
    as two concurrent jobs, and a chunk range is one job with no
    exchange. Short concurrent jobs do not always overlap (each thread
    still plans its read first), so overlap is asked of one request of
    five; run one after another, no two ever do. Every read scans the
    in-memory snapshot, never a parquet file."""
    import uuid

    from document_parsing_etl_pipeline_spark.sources import objectstore

    root, disk, keys = _reopened_store(spark, tmp_path)
    group = uuid.uuid4().hex
    detail_spans = []
    for doc_id in range(30, 35):
        g = f"api-detail-{doc_id}-{group}"
        info, n_detail = jobs_in_group(
            spark, g, lambda: disk.get_document_info(doc_id))
        assert [c["chunk_index"] for c in info["chunks"]] == list(
            range(info["total_chunks"]))
        assert n_detail == 3
        detail_spans.append(_job_spans(spark, g))
    assert any(map(_overlapping, detail_spans))
    chart_spans = []
    for r in keys[:5]:
        chart_id = _chart_id(r.image_path)
        g = f"api-chart-{r.image_path}-{group}"
        chart, n_chart = jobs_in_group(
            spark, g, lambda: disk.get_chart_with_image(r.doc_id, chart_id))
        assert chart["image_data"] == r.image_path.encode()
        assert n_chart == 2
        chart_spans.append(_job_spans(spark, g))
    assert len(chart_spans) == 5
    assert any(map(_overlapping, chart_spans))
    chunks = disk.get_document_chunks(30, 1, 3)
    rows, n_range = jobs_in_group(spark, f"api-range-{group}", chunks.collect)
    assert [c.chunk_index for c in rows] == [1, 2, 3]
    assert n_range == 1
    assert _plan_counts(chunks)["exchanges"] == 0
    page = disk.get_documents(30, 3)
    blob = objectstore.read_blob(spark, root, keys[0].doc_id,
                                 _chart_id(keys[0].image_path))
    for df in (chunks, page, blob):
        assert _scan_nodes(df) == ["InMemoryTableScan"]


def test_detail_read_failure_raises_after_the_other_reads_end(
        spark, tmp_path, monkeypatch):
    """When one of detail's concurrent reads fails (a task of the
    chunks read raises), the error raises out of get_document_info, and
    only once the other reads have ended: the charts read is slowed to
    outlast the failing one."""
    import time
    import uuid

    from pyspark.sql import functions as F

    from document_parsing_etl_pipeline_spark.sources import docstore

    _, disk, keys = _reopened_store(spark, tmp_path)
    slow = F.udf(lambda d: time.sleep(1.0) is None, "boolean")
    open_store = docstore.open_store

    def failing_chunks(*a):
        tables = open_store(*a)
        return {**tables,
                "chunks": tables["chunks"].withColumn(
                    "text_content", F.raise_error(F.lit("chunks read fails"))),
                "charts": tables["charts"].where(slow("doc_id"))}

    monkeypatch.setattr(docstore, "open_store", failing_chunks)
    group = f"api-detail-fails-{uuid.uuid4().hex}"
    with pytest.raises(Exception, match="chunks read fails"):
        jobs_in_group(spark, group,
                      lambda: disk.get_document_info(keys[0].doc_id))
    raised_ms = time.time() * 1e3
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    spans = _job_spans(spark, group)
    assert len(spans) == 3
    assert all(end is not None and end <= raised_ms for _, end in spans)
    assert max(end for _, end in spans) - min(end for _, end in spans) >= 500


def test_point_reads_of_new_keys_compile_nothing(spark, tmp_path):
    """Over a reopened store, once each request type has run, a request
    with a key or bound not used before compiles no Java class: every
    key reaches generated code as a reference object
    (``docstore.key_predicate``), never as source text."""
    from document_parsing_etl_pipeline_spark.session import codegen_stats

    _, disk, keys = _reopened_store(spark, tmp_path)
    first, last = keys[0], keys[-1]
    assert first.doc_id != last.doc_id
    requests = {
        "list": [lambda: disk.get_documents(29, 3).collect(),
                 lambda: disk.get_documents(34, 3).collect()],
        "detail": [lambda: disk.get_document_info(30),
                   lambda: disk.get_document_info(36)],
        "chunk_range": [
            lambda: disk.get_document_chunks(30, 0, 1).collect(),
            lambda: disk.get_document_chunks(38, 1, 2).collect()],
        "chart_blob": [
            lambda: disk.get_chart_with_image(
                first.doc_id, _chart_id(first.image_path)),
            lambda: disk.get_chart_with_image(
                last.doc_id, _chart_id(last.image_path))],
    }
    compiles = {}
    for name, (warm, new_key) in requests.items():
        warm()
        before = codegen_stats(spark)[0]
        got = new_key()
        compiles[name] = codegen_stats(spark)[0] - before
        assert got, name
    assert compiles == dict.fromkeys(requests, 0)


def test_key_predicate_selects_what_the_plain_comparison_selects(spark):
    """For each operator and each key, including the long extremes and
    a null row, ``key_predicate`` keeps exactly the rows the plain
    comparison keeps in a filter."""
    import operator

    from pyspark.sql import functions as F

    from document_parsing_etl_pipeline_spark.sources import docstore

    lo, hi = -(2 ** 63), 2 ** 63 - 1
    keys = (-1, 0, 1, lo, hi)
    df = spark.createDataFrame([(v,) for v in (None, *keys)], "k long")
    ops = {"==": operator.eq, ">": operator.gt, ">=": operator.ge,
           "<=": operator.le}
    cols = []
    for name, op in ops.items():
        for v in keys:
            for kind, pred in (("key", docstore.key_predicate("k", name, v)),
                               ("plain", op(F.col("k"), F.lit(v)))):
                cols.append(F.coalesce(pred, F.lit(False))
                            .alias(f"{kind}|{name}|{v}"))
    rows = df.select("k", *cols).collect()
    assert len(rows) == 6
    for name in ops:
        for v in keys:
            key = [r.k for r in rows if r[f"key|{name}|{v}"]]
            plain = [r.k for r in rows if r[f"plain|{name}|{v}"]]
            assert key == plain, (name, v)
    paths = spark.createDataFrame([("a/1.png",), ("a/10.png",), (None,)],
                                  "p string")
    assert [r.p for r in paths.where(
        docstore.key_predicate("p", "==", "a/1.png")).collect()] == [
            "a/1.png"]


def test_snapshot_follows_a_rewrite_of_the_store(spark, tmp_path):
    """After process_documents rewrites a root with other documents, a
    processor that already read the root and a fresh one both answer
    from the new files."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "store")
    DocumentProcessor(spark, store_root=root).process_documents(_slice(spark))
    open_proc = DocumentProcessor(spark, store_root=root)
    assert [r.doc_id for r in open_proc.get_documents().collect()] == list(
        range(30, 40))
    other = _slice(spark).where(F.col("doc_id") < 33).withColumn(
        "doc_id", F.col("doc_id") + 100)
    DocumentProcessor(spark, store_root=root).process_documents(other)
    for proc in (open_proc, DocumentProcessor(spark, store_root=root)):
        assert [r.doc_id for r in proc.get_documents().collect()] == [
            130, 131, 132]
        assert proc.get_document_info(30) is None
        assert proc.get_document_info(131)["chunks"]
        assert proc.get_document_chunks(30).count() == 0


def test_snapshot_follows_files_replaced_outside_spark(spark, tmp_path):
    """Table files replaced by another program (no Spark write, so
    nothing tells Spark's cache) are read afresh by the next request."""
    import shutil

    from pyspark.sql import functions as F

    roots = [str(tmp_path / name) for name in ("a", "b")]
    for root, pred in zip(roots, (F.col("doc_id") < 35,
                                  F.col("doc_id") >= 35)):
        DocumentProcessor(spark, store_root=root).process_documents(
            _slice(spark).where(pred))
    proc = DocumentProcessor(spark, store_root=roots[0])
    assert [r.doc_id for r in proc.get_documents().collect()] == list(
        range(30, 35))
    for name in ("documents", "chunks"):
        shutil.rmtree(f"{roots[0]}/{name}")
        shutil.copytree(f"{roots[1]}/{name}", f"{roots[0]}/{name}")
    assert [r.doc_id for r in proc.get_documents().collect()] == list(
        range(35, 40))
    assert [r.doc_id for r in proc.get_document_chunks(36).collect()]
    assert proc.get_document_chunks(31).count() == 0


def test_mutations_persist_for_open_and_fresh_processors(spark, tmp_path):
    """An update and a cascade delete rewrite the store's files: the
    processor that made them, one opened and warmed before them and a
    fresh one all read the change in documents, chunks and charts. The
    other documents read as before, the chunks file stays sorted on
    (doc_id, chunk_index) and no scratch directory is left behind."""
    import glob
    import os

    import pyarrow.parquet as pq

    root = str(tmp_path / "store")
    DocumentProcessor(spark, store_root=root).process_documents(_slice(spark))
    warm = DocumentProcessor(spark, store_root=root)
    before = {d: warm.get_document_info(d) for d in (31, 32, 33)}
    assert before[32]["chunks"] and before[32]["charts"]
    proc = DocumentProcessor(spark, store_root=root)
    proc.update_document(31, {"lang": "xx"})
    proc.delete_document(32)
    for p in (proc, warm, DocumentProcessor(spark, store_root=root)):
        info = p.get_document_info(31)
        assert info.pop("lang") == "xx"
        assert (info.pop("updated_at") - before[31]["updated_at"]).days == 1
        assert info == {k: v for k, v in before[31].items()
                        if k not in ("lang", "updated_at")}
        assert p.get_document_info(32) is None
        assert p.get_document_chunks(32).count() == 0
        assert p.get_document_charts(32).count() == 0
        assert 32 not in [r.doc_id for r in p.get_documents().collect()]
        assert p.get_document_info(33) == before[33]
    for path in glob.glob(os.path.join(root, "chunks", "*.parquet")):
        keys = [(r["doc_id"], r["chunk_index"]) for r in pq.read_table(
            path, columns=["doc_id", "chunk_index"]).to_pylist()]
        assert keys == sorted(keys)
    assert sorted(os.listdir(root)) == ["charts", "chunks", "documents"]


def test_mutations_read_with_the_snapshot_schema(spark, tmp_path):
    """A mutation runs no schema-inference job: with the store's
    snapshot held, an update is at most 2 Spark jobs (find the file,
    rewrite it) and a cascade delete at most 6 (the same for each of
    the three tables). With no snapshot held, the table's schema is
    inferred once: an update is at most 3 jobs."""
    root = str(tmp_path / "store")
    DocumentProcessor(spark, store_root=root).process_documents(_slice(spark))
    proc = DocumentProcessor(spark, store_root=root)
    proc.tables  # noqa: B018  (holds the snapshot the rewrites read with)
    _, update = jobs_in_group(spark, "mutation-update",
                              lambda: proc.update_document(31, {"lang": "xx"}))
    _, delete = jobs_in_group(spark, "mutation-delete",
                              lambda: proc.delete_document(32))
    assert update <= 2 and delete <= 6
    cold = str(tmp_path / "cold")
    DocumentProcessor(spark, store_root=cold).process_documents(
        spark.createDataFrame([Row(doc_id=1, text="table data " * 20,
                                   lang="en", source="s1", n_chars=220)]))
    _, update = jobs_in_group(
        spark, "mutation-update-cold",
        lambda: DocumentProcessor(spark, store_root=cold)
        .update_document(1, {"lang": "xx"}))
    assert update <= 3
    assert [(r.doc_id, r.lang) for r in DocumentProcessor(
        spark, store_root=cold).get_documents().collect()] == [(1, "xx")]


def test_mutations_persist_on_a_watcher_store(spark, tmp_path):
    """On a store the streaming watcher wrote (one ``batch_id=<n>``
    directory per micro-batch and table), an update and a cascade
    delete rewrite the file in the document's batch directory, with the
    snapshot's schema less the ``batch_id`` column (no schema-inference
    job: one job per table to find the files, one per file rewritten),
    and a fresh processor reads both."""
    import json
    import os

    from document_parsing_etl_pipeline_spark.streaming import watcher

    watch, store, ckpt = (str(tmp_path / d) for d in ("in", "store", "ck"))
    os.makedirs(watch)
    for doc_id in (1, 2):
        text = f"table vector words {doc_id} " * 30
        with open(os.path.join(watch, f"d{doc_id}.json"), "w") as f:
            f.write(json.dumps({"doc_id": doc_id, "text": text, "lang": "en",
                                "source": "drop", "n_chars": len(text)}))
        watcher.start_full_pipeline(spark, watch, store, ckpt) \
            .awaitTermination(120)
    proc = DocumentProcessor(spark, store_root=store)
    assert proc.get_document_charts(2).count() > 0
    held = sum(len({r.f for r in spark.read.parquet(os.path.join(store, n))
                    .where("doc_id = 2").select("_metadata.file_path")
                    .toDF("f").collect()})
               for n in ("documents", "chunks", "charts"))
    _, update = jobs_in_group(spark, "watcher-update",
                              lambda: proc.update_document(1, {"lang": "xx"}))
    _, delete = jobs_in_group(spark, "watcher-delete",
                              lambda: proc.delete_document(2))
    assert update <= 2 and delete <= 3 + held
    for p in (proc, DocumentProcessor(spark, store_root=store)):
        assert [(r.doc_id, r.lang) for r in p.get_documents().collect()] == [
            (1, "xx")]
        assert p.get_document_chunks(2).count() == 0
        assert p.get_document_charts(2).count() == 0
        assert p.get_document_info(1)["chunks"]
    for name in ("documents", "chunks", "charts"):
        assert sorted(d for d in os.listdir(os.path.join(store, name))
                      if not d.startswith(("_", "."))) == [
                          "batch_id=0", "batch_id=1"]


def test_repeated_rewrites_of_one_file_stay_readable(spark, tmp_path):
    """Every rewrite of a file leaves it with its own checksum sidecar,
    so a second and a third rewrite of the same documents file, and a
    plain Spark read after them, pass the local file system's checksum
    check."""
    import os

    root = str(tmp_path / "store")
    DocumentProcessor(spark, store_root=root).process_documents(_slice(spark))
    proc = DocumentProcessor(spark, store_root=root)
    proc.update_document(31, {"lang": "xx"})
    proc.update_document(31, {"source": "yy"})
    proc.delete_document(33)
    rows = {r.doc_id: r for r in
            spark.read.parquet(os.path.join(root, "documents")).collect()}
    assert sorted(rows) == [30, 31, 32, 34, 35, 36, 37, 38, 39]
    assert (rows[31].lang, rows[31].source) == ("xx", "yy")
    assert (rows[31].updated_at - rows[31].created_at).days == 2
    files = os.listdir(os.path.join(root, "documents"))
    assert sorted(f for f in files if f.endswith(".crc")) == sorted(
        f".{f}.crc" for f in files if not f.startswith("."))


def test_deleting_every_document_leaves_a_readable_store(spark, tmp_path):
    """Deleting both documents of a two-document store leaves each
    table a schema-only file: list returns no rows, for the processor
    that deleted them and for a fresh one."""
    docs = spark.createDataFrame([
        Row(doc_id=1, text="table data vector spark customer " * 10,
            lang="en", source="s1", n_chars=330),
        Row(doc_id=2, text="short one", lang="en", source="s2", n_chars=9),
    ])
    root = str(tmp_path / "store")
    DocumentProcessor(spark, store_root=root).process_documents(docs)
    proc = DocumentProcessor(spark, store_root=root)
    proc.delete_document(1)
    proc.delete_document(2)
    for p in (proc, DocumentProcessor(spark, store_root=root)):
        assert p.get_documents().collect() == []
        assert p.get_document_info(1) is None
        assert p.get_document_chunks(1).count() == 0


def test_concurrent_first_opens_materialize_each_table_once(spark, tmp_path):
    """Eight threads opening a store nobody has read yet, with a short
    thread switch interval, get the same snapshot frame per table, and
    each table is persisted once: the registry's check and update are
    one step under its lock."""
    import sys
    from functools import partial

    from document_parsing_etl_pipeline_spark.session import concurrently
    from document_parsing_etl_pipeline_spark.sources import docstore

    root = str(tmp_path / "store")
    DocumentProcessor(spark, store_root=root).process_documents(
        _slice(spark))
    sc = spark.sparkContext
    cached = sc._jsc.getPersistentRDDs().size()
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        opened = concurrently(
            spark, [partial(docstore.open_store, spark, root)] * 8)
    finally:
        sys.setswitchinterval(interval)
    assert all(o.keys() == opened[0].keys() for o in opened)
    assert all(o[n] is opened[0][n] for o in opened for n in o)
    assert sc._jsc.getPersistentRDDs().size() == cached + 3
