"""Engine facade: the reference's IntegratedDocumentProcessor /
repository API surface, 1:1 method names, backed by the Spark engine.

Reference parity map (services/parser/src/engine/pdf_parser.py:32-274,
src/database/base.py, api.py):
    process_document(s)      → parse→chunk→NER→charts → doc store
    upload_document          → POST /documents/upload (api.py:71 —
                               land a file for the watcher pipeline)
    get_documents            → GET /documents (key pagination)
    get_document_info        → GET /documents/{id} (doc ⋈ chunks ⋈ charts)
    get_document_chunks      → GET /documents/{id}/chunks?start&end
    get_document_charts      → GET /documents/{id}/charts
    get_chart_with_image     → GET /documents/{id}/charts/{chart_id}
    update_document / delete_document → BaseRepository.update/delete

A reference user switches by constructing DocumentProcessor over a
SparkSession instead of POSTing to the API; every method returns
DataFrames (lazily) or plain dicts for point lookups.

A point read costs fixed driver-side work per Spark job (planning, code
generation, scheduling), not scan work, so a request that needs more
than one read builds and runs them as concurrent jobs through
``session.concurrently``: detail runs its documents, chunks and charts
reads as 3 concurrent jobs, chart + blob its row lookup and blob read
as 2. A chunk range is 1 job with no exchange.

With a ``store_root``, every API read goes through one opener,
``docstore.open_store``: the tables (and ``blobs/`` when it exists) are
served from in-memory snapshots keyed on the files' version, shared by
every processor of the application and materialized once, on the first
read. Each request checks the version again (a directory listing), so
a rewritten store is read afresh, and no request decodes parquet. Every
key and bound goes through ``docstore.key_predicate``, which keeps it
out of the generated code: a read with a new key compiles no class.
``update_document`` / ``delete_document`` change this processor's plans
only, replayed over the snapshot on each read; they never reach the
shared snapshot or the files, so a fresh processor does not see them.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from .session import concurrently
from .sources import docstore, objectstore


class DocumentProcessor:
    def __init__(self, spark: SparkSession, store_root: str | None = None):
        self.spark = spark
        self.store_root = store_root
        # the tables process_documents built, read when no store_root
        self._tables: dict[str, DataFrame] | None = None
        # update / delete plans, applied in order over the tables read
        self._mutations: list[Callable[[dict], dict]] = []

    # ------------------------------------------------------ ingest

    def process_documents(self, docs: DataFrame) -> dict[str, DataFrame]:
        """Run the full parse pipeline; persists if store_root set.

        With a store_root, the three tables are written as concurrent
        jobs over one chunk + NER pass (``docstore.write_docstore``)
        and the returned tables read the written store back with the
        schemas they were written with, so the read-back runs no job.
        They are not this processor's read path: API reads open the
        store's snapshot (``tables``). A failed write raises here.
        Earlier updates and deletes are dropped."""
        tables = docstore.build_docstore(docs)
        self._mutations = []
        if not self.store_root:
            self._tables = tables
            return tables
        docstore.write_docstore(tables, self.store_root)
        return docstore.read_docstore(
            self.spark, self.store_root,
            {name: df.schema for name, df in tables.items()})

    def upload_document(self, doc_id: int, text: str, watch_dir: str,
                        lang: str = "en", source: str = "upload") -> str:
        """POST /documents/upload parity (reference api.py:71-90): land
        one document as a JSON-lines drop file in the watcher's input
        directory. The streaming watcher (streaming/watcher.py,
        `maxFilesPerTrigger`-batched file source) discovers it on its
        next micro-batch and runs the same parse→chunk→store pipeline
        the reference's upload endpoint hands to its background worker.
        Returns the path of the landed drop file; the filename carries
        the doc_id so re-uploads overwrite idempotently (primary-key
        INSERT parity — the stream_dedup stateful operator additionally
        guards exactly-once per doc_id across batches)."""
        import json
        import os

        os.makedirs(watch_dir, exist_ok=True)
        path = os.path.join(watch_dir, f"upload_doc_{doc_id}.json")
        rec = {
            "doc_id": doc_id, "text": text, "lang": lang,
            "source": source, "n_chars": len(text),
        }
        # hidden temp name: the file source skips names starting with
        # "." or "_", so it never lists the temp; the atomic rename
        # means it never sees a half-written drop either (the reference
        # moves uploads into place the same way)
        tmp = os.path.join(watch_dir, f".upload_doc_{doc_id}.json.tmp")
        with open(tmp, "w") as f:
            f.write(json.dumps(rec) + "\n")
        os.replace(tmp, path)
        return path

    @property
    def tables(self) -> dict[str, DataFrame]:
        """The store's three tables with this processor's updates and
        deletes applied. Over a ``store_root`` they are the snapshot of
        the files as they are now (``docstore.open_store``; the first
        read of a file version materializes it, as concurrent jobs);
        without one, the tables ``process_documents`` built."""
        if self.store_root:
            tables = docstore.open_store(self.spark, self.store_root)
            tables.pop("blobs", None)
        elif self._tables is None:
            raise RuntimeError("no documents processed and no store_root")
        else:
            tables = self._tables
        for mutate in self._mutations:
            tables = mutate(tables)
        return tables

    # ------------------------------------------------------ queries

    def get_documents(self, after_id: int = -1, limit: int = 100) -> DataFrame:
        """Key-set pagination (the scale-correct get_multi).
        ``after_id`` is exclusive: pass the last doc_id of the previous
        page and that row is not repeated."""
        return (
            self.tables["documents"]
            .where(docstore.key_predicate("doc_id", ">", after_id))
            .orderBy("doc_id")
            .limit(limit)
        )

    def get_document_info(self, doc_id: int) -> dict | None:
        """The document's row, its chunks ordered by ``chunk_index`` and
        its charts: three ``doc_id`` reads, each built and collected in
        its own thread, so the three jobs run concurrently. One doc's
        chunks are a bounded list, sorted here rather than by a global
        ``orderBy`` (a range-sample job and an exchange)."""
        tables = self.tables
        key = docstore.key_predicate("doc_id", "==", doc_id)

        def rows(name: str) -> list[dict]:
            return [r.asDict() for r in
                    tables[name].where(key).collect()]

        docs, chunks, charts = concurrently(
            self.spark,
            [partial(rows, name) for name in ("documents", "chunks", "charts")])
        if not docs:
            return None
        info = docs[0]
        info["chunks"] = sorted(chunks, key=lambda c: c["chunk_index"])
        info["charts"] = charts
        return info

    def get_document_chunks(self, doc_id: int,
                            start_chunk: int | None = None,
                            end_chunk: int | None = None) -> DataFrame:
        """One document's chunks in ``[start_chunk, end_chunk]``, ordered
        by ``chunk_index``. The rows are one document's, so one
        partition sorted in place is a total order: one job, with no
        range-sample job and no exchange."""
        pred = docstore.key_predicate("doc_id", "==", doc_id)
        if start_chunk is not None:
            pred &= docstore.key_predicate("chunk_index", ">=", start_chunk)
        if end_chunk is not None:
            pred &= docstore.key_predicate("chunk_index", "<=", end_chunk)
        return (self.tables["chunks"].where(pred)
                .coalesce(1).sortWithinPartitions("chunk_index"))

    def get_document_charts(self, doc_id: int) -> DataFrame:
        return self.tables["charts"].where(
            docstore.key_predicate("doc_id", "==", doc_id))

    def get_chart_with_image(self, doc_id: int, chart_id: int) -> dict | None:
        """The chart row with its image bytes, or ``None`` when the row
        is missing. The blob key derives from ``(doc_id, chart_id)``, so
        with a ``store_root`` the row lookup and the blob read run as
        concurrent jobs. A store with no ``blobs/`` directory (one
        ``process_documents`` wrote) has no images: the row comes back
        without ``image_data`` / ``content_type``."""
        charts = self.tables["charts"]

        def chart() -> list:
            return charts.where(
                docstore.key_predicate("doc_id", "==", doc_id)
                & docstore.key_predicate(
                    "image_path", "==",
                    objectstore.object_path(doc_id, chart_id))
            ).collect()

        def blob() -> list:
            try:
                return objectstore.read_blob(
                    self.spark, self.store_root, doc_id, chart_id).collect()
            except AnalysisException as e:
                if e.getCondition() != "PATH_NOT_FOUND":
                    raise
                return []

        found, *blobs = concurrently(
            self.spark, [chart, blob] if self.store_root else [chart])
        if not found:
            return None
        out = found[0].asDict()
        if blobs and blobs[0]:
            image = blobs[0][0]
            out["image_data"] = bytes(image.content)
            out["content_type"] = image.content_type
        return out

    # ------------------------------------------------------ mutation

    # Both change this processor's reads only: the files and the shared
    # snapshot stay as they are, so a fresh processor does not see them.

    def update_document(self, doc_id: int, updates: dict) -> None:
        updates = dict(updates)

        def update(tables: dict) -> dict:
            return {**tables, "documents": docstore.update_document_meta(
                tables["documents"], doc_id, updates)}

        self._mutations.append(update)

    def delete_document(self, doc_id: int) -> None:
        self._mutations.append(
            partial(docstore.delete_document, doc_id=doc_id))
