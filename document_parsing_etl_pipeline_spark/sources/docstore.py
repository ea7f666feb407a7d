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
not files: a doc_id predicate skips row groups by their min/max
statistics, but every file's footer is still opened. File-level
pruning before any task launches needs per-file statistics in a
manifest, which arrives with the table-format store.

One ingest evaluates chunking + NER once: ``write_docstore`` caches
the chunks table, whose plan the documents table's ``chunk_stats``
subtree repeats, so both writes read the cached pass. The three table
writes run as concurrent Spark jobs (``session.concurrently``) — each
is a range-sample job, a map stage and a write stage of a few tasks,
so driver-side fixed cost, not executor work, is what overlaps. The
store is read back with the schemas of the frames just written, with
no schema-inference job; a reopen without them infers the three
schemas as concurrent jobs.
"""

from __future__ import annotations

import os
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators.chunking import chunk_documents, chunk_stats
from ..operators.charts import chart_inventory
from ..operators.entities import extract_entities
from ..session import concurrently

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


def _ingest_ts(id_col: str = "doc_id"):
    return F.timestamp_seconds(F.lit(INGEST_EPOCH_S) + F.col(id_col))


def build_docstore(docs: DataFrame) -> dict[str, DataFrame]:
    """Run the full parse pipeline and produce the three store tables.

    Column parity with the reference schema (schema.py:11-57):
    documents carry created_at / updated_at timestamps and a
    ``metainfo`` map (Document.metainfo JSON); chunks carry a typed
    ``entities`` map<string,array<string>> (DocumentChunk.entities)
    plus ``chunk_metadata`` (token_count, as pdf_parser.py
    _create_chunk_data builds it) and created_at; charts carry the
    ``info`` struct (ChartData.info: type/index/image_path/metadata)
    and created_at.
    """
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
    chunks = extract_entities(
        chunk_documents(docs), text_col="text_content"
    )
    chunks = chunks.select(
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
    stats = chunk_stats(chunks)
    documents = documents.join(stats, "doc_id", "left").fillna(
        {"total_chunks": 0, "total_tokens": 0}
    )
    charts = chart_inventory(docs).select(
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
    return {"documents": documents, "chunks": chunks, "charts": charts}


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


def write_bucketed_tables(
    tables: dict[str, DataFrame],
    database: str = "docstore",
    n_buckets: int = 8,
) -> None:
    """Persist the store as bucketed+sorted catalog tables.

    Hash-bucketing both sides of the doc_id join at write time means
    the API-surface joins (documents⋈chunks⋈charts) run WITHOUT a
    shuffle exchange — the physical property that matters most at
    100 TB, where re-shuffling the chunk table per query would
    dominate. Verified by plan assertion in tests.
    """
    spark = next(iter(tables.values())).sparkSession
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
    for name, df in tables.items():
        (df.write.mode("overwrite")
         .bucketBy(n_buckets, "doc_id")
         .sortBy("doc_id")
         .format("parquet")
         .saveAsTable(f"{database}.{name}"))


def read_docstore(spark: SparkSession, root: str,
                  schemas: dict[str, StructType] | None = None
                  ) -> dict[str, DataFrame]:
    """Open the three tables under ``root``. With ``schemas`` (the
    schemas the tables were written with) no schema-inference job runs;
    without, each table's schema is read from its parquet footers, the
    three inference jobs running concurrently."""
    paths = {name: os.path.join(root, name)
             for name in ("documents", "chunks", "charts")}
    if schemas:
        return {name: spark.read.schema(schemas[name]).parquet(path)
                for name, path in paths.items()}
    return dict(zip(paths, concurrently(
        spark, [partial(spark.read.parquet, p) for p in paths.values()])))


def document_detail(documents: DataFrame, chunks: DataFrame) -> DataFrame:
    """GET /documents/{id} parity (reference api.py:37-40,
    repository.py:45-80): document fields + timestamps joined to the
    doc's chunks — as a function over STORE TABLES, so the same plan
    serves the inline pipeline, the range-clustered store and the
    bucketed catalog. Over tables written by write_bucketed_tables the
    doc_id join runs with ZERO exchange (both sides co-bucketed+sorted
    — plan-asserted in tests/test_docstore_api.py); over raw frames or
    the write_docstore store it is one doc_id shuffle, and a doc_id
    filter on the store skips row groups, not files."""
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


def upsert_documents(existing: DataFrame, updates: DataFrame,
                     key: str = "doc_id") -> DataFrame:
    """MERGE semantics: rows in ``updates`` replace same-key rows in
    ``existing``; new keys append. Expressed as anti-join + union —
    the shuffle is on the key both sides, and over write_bucketed_tables
    tables the anti-join co-partitions without an exchange.

    (BaseRepository.update/create parity at dataset scale; on a real
    deployment this is the Delta/Iceberg MERGE INTO statement.)
    """
    kept = existing.join(updates.select(key), key, "left_anti")
    return kept.unionByName(updates.select(*existing.columns))


# ----------------------------- repository-surface update/delete parity

def update_document_meta(documents: DataFrame, doc_id: int,
                         updates: dict) -> DataFrame:
    """BaseRepository.update parity (reference base.py:38-53):
    overwrite columns for one id — expressed as a declarative
    projection (at scale this is a MERGE against the store).

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
