"""Doc store: the engine's analog of the reference's Postgres schema.

Reference parity: tables documents / document_chunks / chart_data
(reference services/parser/src/database/schema.py:11-57) re-expressed
as parquet datasets written by Spark. JSON columns become
typed structs; auto-increment ids become deterministic content-derived
ids (idempotent re-ingest, no sequence bottleneck at 1000 executors).

Layout (under a root path): one flat parquet directory per table —
documents/, chunks/, charts/ — range-partitioned on doc_id and sorted
within each file (chunks on doc_id, chunk_index). Each file covers a
narrow, disjoint doc_id range and AQE coalescing sizes the file count
from the data, so a small ingest writes one file per table and reads
back with no partition discovery. Plain parquet prunes row groups,
not files; API reads do not scan parquet at all (below), so no
manifest of per-file statistics is kept.

One ingest evaluates chunking + NER once: ``write_docstore`` caches
the chunks table, whose plan the documents table's ``chunk_stats``
subtree repeats, so both writes read the cached pass. The three table
writes run as concurrent Spark jobs (``session.concurrently``) — each
is a range-sample job, a map stage and a write stage of a few tasks,
so driver-side fixed cost, not executor work, is what overlaps. The
store is read back with the schemas of the frames just written, with
no schema-inference job; a reopen without them infers the three
schemas as concurrent jobs.

API reads (``processor.DocumentProcessor`` over a ``store_root``) do
not scan parquet per request. ``open_store`` serves each table from a
snapshot: a ``persist()``ed frame of the table's files, held in a
module registry keyed on (applicationId, absolute table path) together
with the file version it was read at (``catalog._file_version``: the
name, size and mtime of every file, the key the schema memo uses). A
snapshot is materialized once, the tables as concurrent jobs, and
shared by every processor of the application. Each request lists the
table directories again (well under 1 ms); a changed version unpersists
the old frame and opens the new files, so a rewrite by Spark or by
anything else is never served stale. ``persist()`` rather than a local
checkpoint: a lost block is recomputed from the parquet files. The
cost: the snapshot holds the store in storage memory (about 8 times
its parquet size: 5.8 MB for a 2,000-document store with blobs, 56 MB
for 20,000), and a read scans a table's cached batches in full, with
no parquet row-group pushdown. At those sizes (under 5 MB of parquet
per table, one row group per file) pushdown skipped nothing anyway,
and scanning cached batches costs less than opening and decoding the
file did.

Request keys go through ``key_predicate``, which keeps each key out of
the generated Java source, so one compiled class serves every key.

Updates and deletes persist (``rewrite_document``): a table's rows for
one doc_id sit in one file, so a mutation rewrites that file and swaps
it in over the old path. The swap changes the table's file version, so
the next request of every processor reads the new files.
"""

from __future__ import annotations

import operator
import os
import shutil
import threading
import uuid
from functools import partial

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..catalog import _file_version
from ..operators.chunking import chunk_documents, chunk_stats
from ..operators.charts import chart_inventory
from ..operators.entities import extract_entities
from ..session import concurrently
from .objectstore import BLOB_SCHEMA
from .tableformat import _localpath

# Deterministic ingest clock: created_at = INGEST_EPOCH_S + doc_id
# seconds. The reference stamps wall-clock Jakarta time
# (schema.py get_jakarta_time, used by created_at/updated_at defaults);
# a distributed idempotent ingest needs a *reproducible* clock, so the
# stamp derives from the row identity instead of datetime.now() —
# re-ingest produces the same bytes, and the DuckDB oracle can
# recompute it. 1704067200 = 2024-01-01T00:00:00Z.
INGEST_EPOCH_S = 1_704_067_200
# update_document_meta bumps updated_at by one deterministic day
# (reference onupdate=get_jakarta_time).
UPDATE_BUMP = "INTERVAL 1 DAY"

STORE_TABLES = ("documents", "chunks", "charts")


def _ingest_ts(id_col: str = "doc_id"):
    return F.timestamp_seconds(F.lit(INGEST_EPOCH_S) + F.col(id_col))


def build_docstore(docs: DataFrame) -> dict[str, DataFrame]:
    """Run the full parse pipeline and produce the three store tables.

    Column parity with the reference schema (schema.py:11-57) is kept
    by the per-table builders below; a reader of one or two tables
    builds only those. The documents table aggregates the chunks frame
    built here, so ``write_docstore``'s cached chunks serve both."""
    chunks = chunks_table(docs)
    return {"documents": documents_table(docs, chunks), "chunks": chunks,
            "charts": charts_table(docs)}


def documents_table(docs: DataFrame, chunks: DataFrame) -> DataFrame:
    """The documents table: created_at / updated_at timestamps, a
    ``metainfo`` map (Document.metainfo JSON) and the chunk rollup
    (``chunk_stats``) of ``chunks``, the frame ``chunks_table`` built
    over the same ``docs``."""
    documents = docs.select(
        "doc_id",
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string"), F.lit(".txt")).alias(
            "filename"
        ),
        "lang",
        "source",
        "n_chars",
        F.create_map(
            F.lit("lang"), F.col("lang"), F.lit("source"), F.col("source")
        ).alias("metainfo"),
        _ingest_ts().alias("created_at"),
        _ingest_ts().alias("updated_at"),
    )
    return documents.join(chunk_stats(chunks), "doc_id", "left").fillna(
        {"total_chunks": 0, "total_tokens": 0}
    )


def chunks_table(docs: DataFrame) -> DataFrame:
    """The chunks table: a typed ``entities``
    map<string,array<string>> (DocumentChunk.entities) plus
    ``chunk_metadata`` (token_count, as pdf_parser.py
    _create_chunk_data builds it) and created_at."""
    chunks = extract_entities(
        chunk_documents(docs), text_col="text_content"
    )
    return chunks.select(
        "doc_id", "chunk_index", "text_content", "token_count",
        # typed entity map, mirroring DocumentChunk.entities JSON keys
        # (reference pdf_parser.py:89-107)
        F.create_map(
            F.lit("persons"), F.col("persons"),
            F.lit("organizations"), F.col("organizations"),
            F.lit("dates"), F.col("dates"),
            F.lit("locations"), F.col("locations"),
            F.lit("misc"), F.col("misc"),
        ).alias("entities"),
        F.create_map(
            F.lit("token_count"), F.col("token_count").cast("long")
        ).alias("chunk_metadata"),
        F.concat_ws(",", "organizations").alias("org_terms"),
        "n_persons", "n_organizations", "n_dates", "n_locations", "n_misc",
        _ingest_ts().alias("created_at"),
    )


def charts_table(docs: DataFrame) -> DataFrame:
    """The charts table: the ``info`` struct (ChartData.info:
    type/index/image_path/metadata) and created_at."""
    return chart_inventory(docs).select(
        "doc_id", "chart_type", "chart_index", "image_path",
        # ChartData.info parity (reference pdf_parser.py:235-239):
        # {type, index, image_path, metadata:{level, caption}}. Layout
        # level/caption need real PDF analysis — deterministic stubs
        # (level 1, no caption), the plumbing and schema are real.
        F.struct(
            F.col("chart_type").alias("type"),
            F.col("chart_index").alias("index"),
            F.col("image_path").alias("image_path"),
            F.struct(
                F.lit(1).alias("level"),
                F.lit(None).cast("string").alias("caption"),
            ).alias("metadata"),
        ).alias("info"),
        _ingest_ts().alias("created_at"),
    )


def write_docstore(tables: dict[str, DataFrame], root: str) -> None:
    """Write each table to ``root/<name>``, range-clustered on doc_id.

    The chunks table is cached for the call, so the chunks write and
    the documents write (whose ``chunk_stats`` is the same plan) share
    one chunk + NER evaluation; the cache is dropped on return, also
    when a write fails. The writes run as concurrent jobs, one thread
    per table (``session.concurrently``); the threads inherit the
    caller's job group and local properties. The first failed write is
    raised once all have ended.
    """

    def write(name: str, df: DataFrame) -> None:
        keys = ("doc_id", "chunk_index") if name == "chunks" else ("doc_id",)
        (df.repartitionByRange("doc_id")
         .sortWithinPartitions(*keys)
         .write.mode("overwrite")
         .parquet(os.path.join(root, name)))

    chunks = tables["chunks"].persist()
    try:
        concurrently(chunks.sparkSession,
                     [partial(write, name, df) for name, df in tables.items()])
    finally:
        chunks.unpersist()


def read_docstore(spark: SparkSession, root: str,
                  schemas: dict[str, StructType] | None = None
                  ) -> dict[str, DataFrame]:
    """Open the three tables under ``root``. With ``schemas`` (the
    schemas the tables were written with) no schema-inference job runs;
    without, each table's schema is read from its parquet footers, the
    three inference jobs running concurrently."""
    paths = {name: os.path.join(root, name) for name in STORE_TABLES}
    if schemas:
        return {name: spark.read.schema(schemas[name]).parquet(path)
                for name, path in paths.items()}
    return dict(zip(paths, concurrently(
        spark, [partial(spark.read.parquet, p) for p in paths.values()])))


# API read snapshots: (applicationId, absolute table path) ->
# (file version, persisted frame); updated under _SNAPSHOT_LOCK
_SNAPSHOTS: dict = {}
_SNAPSHOT_LOCK = threading.Lock()


def snapshots(spark: SparkSession,
              paths: dict[str, StructType | None]) -> dict[str, DataFrame]:
    """Each table path's persisted frame at the path's current file
    version (the schema given, or inferred when ``None``). A path whose
    version is held is served from the registry with no Spark job; the
    others are read, persisted and materialized as concurrent jobs, and
    a held frame of an older version is unpersisted first. A path that
    cannot be listed (missing, or not a local path) is read uncached, so
    Spark raises its own error for a missing table."""
    app = spark.sparkContext.applicationId
    out, stale = {}, []
    with _SNAPSHOT_LOCK:
        for path, schema in paths.items():
            key = (app, os.path.abspath(path))
            version = _file_version(path)
            held = _SNAPSHOTS.get(key)
            if held is not None and held[0] == version:
                out[path] = held[1]
                continue
            if held is not None:
                del _SNAPSHOTS[key]
                held[1].unpersist()
            if version is None:
                out[path] = _reader(spark, schema).parquet(path)
            else:
                stale.append((path, key, version, schema))
        if stale:
            out.update(zip((path for path, *_ in stale), concurrently(
                spark, [partial(_materialize, spark, *args)
                        for args in stale])))
    return out


def _reader(spark: SparkSession, schema: StructType | None):
    return spark.read.schema(schema) if schema else spark.read


def _materialize(spark: SparkSession, path: str, key: tuple,
                 version: tuple, schema: StructType | None) -> DataFrame:
    """Read ``path``, persist it, fill the cache with one job and hold
    the frame in the registry (the caller holds the lock)."""
    df = _reader(spark, schema).parquet(path).persist()
    try:
        df.count()
    except BaseException:
        df.unpersist()
        raise
    _SNAPSHOTS[key] = (version, df)
    return df


def open_store(spark: SparkSession, root: str) -> dict[str, DataFrame]:
    """The store under ``root`` as snapshot frames (``snapshots``):
    documents, chunks and charts, and blobs when ``root/blobs`` exists.
    The first open materializes them as concurrent jobs; a later open of
    unchanged files runs no job."""
    names = dict.fromkeys(STORE_TABLES)
    if os.path.isdir(os.path.join(root, "blobs")):
        names["blobs"] = BLOB_SCHEMA
    frames = snapshots(
        spark, {os.path.join(root, n): s for n, s in names.items()})
    return {n: frames[os.path.join(root, n)] for n in names}


_KEY_OPS = {"==": operator.eq, ">": operator.gt, ">=": operator.ge,
            "<=": operator.le}


def key_predicate(col: str, op: str, value) -> Column:
    """``col <op> value`` (``op`` one of ==, >, >=, <=) for a key or
    bound that changes from one request to the next, selecting in a
    filter exactly the rows the plain comparison selects.

    Spark writes a numeric literal into the generated Java source, so a
    plain ``col == 42`` compiles new classes for every new key. Here
    both sides are one-element arrays: Spark folds ``array(lit)`` into
    an array literal, and generated code receives an array literal as a
    reference object, so one compiled class serves every key. The
    ``isNotNull`` guard keeps a null key out, as the plain comparison
    does (a null element sorts below every value in an array
    comparison). The cost is parquet pushdown: an array comparison is
    not a data-source filter, which a read of an in-memory snapshot
    (``snapshots``) does not use anyway."""
    column = F.col(col)
    return column.isNotNull() & _KEY_OPS[op](
        F.array(column), F.array(F.lit(value)))


def document_detail(documents: DataFrame, chunks: DataFrame) -> DataFrame:
    """GET /documents/{id} parity (reference api.py:37-40,
    repository.py:45-80): document fields + timestamps joined to the
    doc's chunks, as a function over the store tables, so the same plan
    serves the inline pipeline and the range-clustered store. The doc_id
    join is planned like any other: a broadcast of a small side or one
    doc_id shuffle. The API does not use it: a detail request reads the
    document and its chunks as separate point reads
    (``processor.DocumentProcessor.get_document_info``)."""
    return (
        documents.select(
            "doc_id", "filename", "lang", "total_chunks",
            F.unix_micros("created_at").alias("created_at_us"),
            F.unix_micros("updated_at").alias("updated_at_us"),
        )
        .join(
            chunks.select(
                "doc_id", "chunk_index", "text_content", "token_count",
                F.unix_micros("created_at").alias("chunk_created_at_us"),
            ),
            "doc_id",
        )
    )


def chunk_range(chunks: DataFrame, doc_id: int, start: int,
                end: int) -> DataFrame:
    """GET /documents/{id}/chunks parity (reference api.py,
    repository.py:86-105): one doc's chunk_index range. Both
    predicates push to the parquet scan; on the range-clustered store
    they skip every row group whose doc_id / chunk_index min-max misses
    the range, but each file's footer is still read."""
    return chunks.where(
        (F.col("doc_id") == doc_id)
        & F.col("chunk_index").between(start, end)
    ).select("doc_id", "chunk_index", "text_content", "token_count")


# ----------------------------- repository-surface update/delete parity

def update_document_meta(documents: DataFrame, doc_id: int,
                         updates: dict) -> DataFrame:
    """BaseRepository.update parity (reference base.py:38-53):
    overwrite columns for one id — expressed as a declarative
    projection, which ``rewrite_document`` persists by rewriting the
    one documents file that holds the id.

    Bumps ``updated_at`` for the touched row by a deterministic delta
    (reference Document.updated_at has onupdate=get_jakarta_time;
    the reproducible analog of "now")."""
    out = documents
    for col, val in updates.items():
        out = out.withColumn(
            col,
            F.when(F.col("doc_id") == doc_id, F.lit(val)).otherwise(F.col(col)),
        )
    if "updated_at" in documents.columns:
        out = out.withColumn(
            "updated_at",
            F.when(
                F.col("doc_id") == doc_id,
                F.col("updated_at") + F.expr(UPDATE_BUMP),
            ).otherwise(F.col("updated_at")),
        )
    return out


def delete_document(tables: dict[str, DataFrame], doc_id: int) -> dict[str, DataFrame]:
    """Cascade delete parity (reference schema.py:43-44 cascade):
    anti-filter on every table of the store."""
    return {
        name: df.where(F.col("doc_id") != doc_id)
        for name, df in tables.items()
    }


def rewrite_document(spark: SparkSession, root: str, name: str,
                     doc_id: int, change) -> None:
    """Persist ``change`` (``{name: frame} -> {name: frame}``, as
    ``delete_document``) for ``doc_id`` in table ``root/name``. One job
    finds the files holding the id (one on the range-clustered store,
    one per ``batch_id=`` directory on a watcher store); each is read,
    changed, written as a single file into a scratch directory under
    ``root`` (an empty result is a schema-only file) and swapped in
    over the old path: one job per file. Both reads take the schema of
    the table's held snapshot (``snapshots``), so no schema-inference
    job runs; with no snapshot held, the table's schema is inferred
    once. A file under ``k=v`` directories holds no ``k`` column, so
    its schema is the table's without those partition columns. A
    filter or projection keeps the row order, so the file stays sorted.
    The old file's ``.crc`` sidecar goes before the swap and the new
    one moves in after: a reader never checks the new bytes against
    the old checksum."""
    path = os.path.join(root, name)
    held = _SNAPSHOTS.get((spark.sparkContext.applicationId,
                           os.path.abspath(path)))
    table = (spark.read.schema(held[1].schema) if held
             else spark.read).parquet(path)
    files = {_localpath(r.file_path) for r in table
             .where(key_predicate("doc_id", "==", doc_id))
             .select("_metadata.file_path").collect()}
    for file in sorted(files):
        partitions = {d.split("=", 1)[0] for d in os.path.relpath(
            os.path.dirname(file), path).split(os.sep) if "=" in d}
        schema = StructType([f for f in table.schema
                             if f.name not in partitions])
        scratch = os.path.join(root, f"_rewrite-{uuid.uuid4().hex}")
        try:
            frame = spark.read.schema(schema).parquet(file)
            change({name: frame})[name].coalesce(1).write.parquet(scratch)
            (new,) = (f for f in os.listdir(scratch) if f.endswith(".parquet"))
            old_crc = os.path.join(os.path.dirname(file),
                                   f".{os.path.basename(file)}.crc")
            if os.path.exists(old_crc):
                os.remove(old_crc)
            os.replace(os.path.join(scratch, new), file)
            new_crc = os.path.join(scratch, f".{new}.crc")
            if os.path.exists(new_crc):
                os.replace(new_crc, old_crc)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
