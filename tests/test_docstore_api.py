"""API/repository-surface parity tests over the doc store
(reference api.py endpoints + repository.py CRUD, on sf0.001)."""

import pytest
from pyspark.sql import functions as F

from document_parsing_etl_pipeline_spark.catalog import load_table
from document_parsing_etl_pipeline_spark.sources import docstore, objectstore

from conftest import SF_DIR, jobs_in_group


@pytest.fixture(scope="module")
def tables(spark):
    return docstore.build_docstore(load_table(spark, SF_DIR, "documents"))


def test_documents_list_pagination(tables):
    page = tables["documents"].where(
        (F.col("doc_id") >= 10) & (F.col("doc_id") < 20)
    ).collect()
    assert len(page) == 10
    assert all(r.total_chunks >= 1 for r in page)


def test_document_detail_join(tables):
    detail = tables["documents"].join(tables["chunks"], "doc_id").where(
        F.col("doc_id") == 7
    ).collect()
    assert len(detail) == detail[0].total_chunks


def test_chunk_range_scan(tables):
    rows = tables["chunks"].where(
        (F.col("doc_id") == 7) & F.col("chunk_index").between(0, 1)
    ).collect()
    assert [r.chunk_index for r in rows] == [0, 1]


def test_update_metadata(tables):
    updated = docstore.update_document_meta(
        tables["documents"], 3, {"lang": "xx"}
    )
    rows = {r.doc_id: r for r in updated.where(F.col("doc_id") < 5).collect()}
    assert rows[3].lang == "xx"
    assert rows[2].lang != "xx"
    # onupdate parity: the touched row's updated_at bumps, others don't
    assert (rows[3].updated_at - rows[3].created_at).days == 1
    assert rows[2].updated_at == rows[2].created_at


def test_reference_schema_parity_columns(tables):
    """Document.metainfo/created_at/updated_at, DocumentChunk.entities
    (typed map) + chunk_metadata, ChartData.info (reference
    schema.py:11-57) all surface in the store."""
    doc = tables["documents"].where(F.col("doc_id") == 7).collect()[0]
    assert doc.metainfo == {"lang": doc.lang, "source": doc.source}
    assert doc.created_at == doc.updated_at
    chunk = tables["chunks"].where(
        (F.col("doc_id") == 7) & (F.col("chunk_index") == 0)
    ).collect()[0]
    assert set(chunk.entities.keys()) == {
        "persons", "organizations", "dates", "locations", "misc"
    }
    assert all(isinstance(v, list) for v in chunk.entities.values())
    assert chunk.chunk_metadata == {"token_count": chunk.token_count}
    chart = tables["charts"].limit(1).collect()[0]
    assert chart.info.type == chart.chart_type
    assert chart.info["index"] == chart.chart_index  # .index is Row method
    assert chart.info.metadata.level == 1 and chart.info.metadata.caption is None


def test_cascade_delete(tables):
    after = docstore.delete_document(tables, 3)
    for name in ("documents", "chunks", "charts"):
        assert after[name].where(F.col("doc_id") == 3).count() == 0
    assert after["documents"].where(F.col("doc_id") == 4).count() == 1


def test_docstore_roundtrip(tmp_path, spark, tables):
    """The store is range-clustered on doc_id: flat table directories,
    each file a disjoint doc_id range, rows sorted within each file.
    AQE coalescing is off here so the small slice spans several files
    (with it on, the whole slice lands in one file per table)."""
    import os
    from urllib.parse import urlparse

    import pyarrow.parquet as pq

    root = str(tmp_path / "store")
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        docstore.write_docstore(
            {k: v.where(F.col("doc_id") < 20) for k, v in tables.items()},
            root,
        )
    finally:
        spark.conf.set(key, prev)
    assert not [d for _, dirs, _ in os.walk(root) for d in dirs
                if d.startswith("bucket=")]
    back = docstore.read_docstore(spark, root)
    assert back["documents"].count() == 20
    sort_keys = {"documents": ["doc_id"], "charts": ["doc_id"],
                 "chunks": ["doc_id", "chunk_index"]}
    for name, df in back.items():
        ranges = sorted(
            (r.lo, r.hi, r.f) for r in
            df.groupBy(F.input_file_name().alias("f"))
            .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
            .collect()
        )
        assert len(ranges) > 1, name
        assert all(a[1] < b[0] for a, b in zip(ranges, ranges[1:])), name
        for _, _, f in ranges:
            rows = pq.read_table(urlparse(f).path,
                                 columns=sort_keys[name]).to_pylist()
            keys = [tuple(r.values()) for r in rows]
            assert keys == sorted(keys), (name, f)


def test_objectstore_roundtrip(tmp_path, spark):
    root = str(tmp_path / "blobs")
    blobs = spark.createDataFrame(
        [(objectstore.object_path(1, 1), b"\x89PNGdata", "image/png")],
        objectstore.BLOB_SCHEMA)
    objectstore.write_blobs(blobs, root)
    got = objectstore.read_blob(spark, root, 1, 1).collect()
    assert len(got) == 1 and bytes(got[0].content).startswith(b"\x89PNG")
    assert objectstore.read_blob(spark, root, 1, 2).count() == 0


def test_load_table_infers_each_file_version_once(spark, tmp_path):
    """The schema of a table file is inferred on its first load only; a
    repeat load runs no Spark job and is a new relation. A rewrite with
    an extra column is a new file version: inferred again, the column
    visible. Two paths never share a memo entry, even when their files
    agree in name, size and mtime."""
    import os
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    def write(sf_dir, cols):
        os.makedirs(sf_dir, exist_ok=True)
        path = os.path.join(sf_dir, "region.parquet")
        pq.write_table(pa.table({c: [1, 2, 3] for c in cols}), path)
        return path

    def load(sf_dir):
        return jobs_in_group(spark, f"memo-{uuid.uuid4().hex}",
                             lambda: load_table(spark, sf_dir, "region"))

    sf = str(tmp_path / "a")
    write(sf, ["x"])
    first, jobs = load(sf)
    assert jobs == 1 and first.columns == ["x"]
    second, jobs = load(sf)
    assert jobs == 0 and second.columns == ["x"]
    assert second.join(first, "x").count() == 3

    write(sf, ["x", "y"])
    third, jobs = load(sf)
    assert jobs == 1 and third.columns == ["x", "y"]
    assert sorted(r.y for r in third.collect()) == [1, 2, 3]

    b_dir, c_dir = str(tmp_path / "b"), str(tmp_path / "c")
    b, c = write(b_dir, ["p"]), write(c_dir, ["q"])
    assert os.path.getsize(b) == os.path.getsize(c)
    st = os.stat(b)
    os.utime(c, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert load(b_dir)[0].columns == ["p"]
    got, jobs = load(c_dir)
    assert jobs == 1 and got.columns == ["q"]


def test_docstore_build_round_trips(spark, monkeypatch):
    """Building the doc store's three tables over sf0.001 issues few
    py4j call commands: with PySpark's DataFrame debugging off (the
    session conf), no Column call captures its Python call site. Call
    commands of the main thread, GC deletes not counted; measured 727
    with debugging on and 347 with it off (local[4], warm build). The
    bound is 60% of the former."""
    import threading

    docs = load_table(spark, SF_DIR, "documents")
    docstore.build_docstore(docs)
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    main = threading.get_ident()
    calls = []

    def counting(command, *a, **kw):
        if threading.get_ident() == main and command.startswith("c\n"):
            calls.append(command)
        return send(command, *a, **kw)

    monkeypatch.setattr(client, "send_command", counting)
    docstore.build_docstore(docs)
    monkeypatch.undo()
    assert 0 < len(calls) <= 430, len(calls)
