"""Facade parity tests: the reference's processor/API call sequence
(demo.py + api.py flows) against DocumentProcessor."""

import pytest
from pyspark.sql import Row

from document_parsing_etl_pipeline_spark.processor import DocumentProcessor


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
        chart_id = int(r.image_path.rsplit("/", 1)[1].split(".")[0])
        got = disk.get_chart_with_image(r.doc_id, chart_id)
        want = mem.get_chart_with_image(r.doc_id, chart_id)
        assert got.pop("image_data") == r.image_path.encode()
        assert got.pop("content_type") == "image/png"
        same_path = [c for c in detail(mem, r.doc_id)["charts"]
                     if c["image_path"] == r.image_path]
        assert want in same_path and got in same_path
