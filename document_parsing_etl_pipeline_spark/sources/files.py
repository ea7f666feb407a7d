"""File ingest sources: binary documents (PDF-byte parity) and a
quarantining JSON-lines reader.

Reference parity: the watcher hands file paths to
DocumentConverter.convert (reference services/parser/main.py:85-118,
src/engine/pdf_parser.py:201-253). Here ingest is a DataFrame source:
``binaryFile`` for opaque document bytes (the 100 TB-scale path —
bytes stay columnar, listing is distributed), plus a schema'd
JSON-lines reader that sets malformed records aside. The PDF
text-extraction step itself (docling) is stubbed deterministically;
everything around it is real Spark.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EXTRACTED_SCHEMA = (
    "path string, file_size bigint, mod_time timestamp, "
    "text string, n_pages int"
)


def read_binary_documents(spark: SparkSession, path: str,
                          glob: str = "*.pdf") -> DataFrame:
    """Distributed binary ingest: (path, modificationTime, length,
    content) — the watcher's os.path metadata, computed by the
    cluster, not a driver thread."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
    )


def _fake_pdf_extract(content: bytes) -> tuple[str, int]:
    """STUB: deterministic fake for docling PDF→text conversion
    (docling is not in this container). Emits one word per 16-byte
    window plus a page count from content length; replace with
    DocumentConverter.convert in a real deployment."""
    if not content:
        return ("", 0)
    words = [f"w{content[i] % 97:02d}" for i in range(0, min(len(content), 4096), 16)]
    n_pages = max(1, len(content) // 2048)
    return (" ".join(words), n_pages)


def extract_text(binaries: DataFrame) -> DataFrame:
    """binary content → text + page metadata via Arrow-batched
    mapInPandas (the decode boundary; bounded-memory iterator)."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ext = pdf["content"].map(_fake_pdf_extract)
            yield pd.DataFrame({
                "path": pdf["path"],
                "file_size": pdf["length"].astype("int64"),
                "mod_time": pdf["modificationTime"],
                "text": ext.map(lambda t: t[0]),
                "n_pages": ext.map(lambda t: t[1]).astype("int32"),
            })

    return binaries.mapInPandas(_extract, schema=EXTRACTED_SCHEMA)


def to_documents(extracted: DataFrame) -> DataFrame:
    """Extracted files → the engine's documents schema (content-hash
    ids: idempotent re-ingest, no sequence bottleneck)."""
    return extracted.select(
        F.xxhash64("path").alias("doc_id"),
        "text",
        F.lit("und").alias("lang"),
        F.regexp_extract("path", r"([^/]+)$", 1).alias("source"),
        F.length("text").cast("long").alias("n_chars"),
    )


def read_jsonl_quarantine(
    spark: SparkSession, path: str, schema: str,
    required: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Robust JSONL ingest for corpora where some records are always
    broken (at 100 TB, 'some' is millions): parse each raw line with
    from_json and split into (good, quarantine). Quarantined rows
    keep the raw line for replay after a parser fix — the batch
    analog of the streaming watcher's malformed-row quarantine
    (streaming/watcher.py), replacing fail-the-job (FAILFAST) and
    silently-drop (DROPMALFORMED) at scale.

    Implementation note: this deliberately avoids the reader's
    internal _corrupt_record column — Spark refuses plans whose scan
    references ONLY that column (the quarantine branch would), and
    the documented cache() workaround materializes the whole parse.
    text-source + from_json has no such restriction, stays lazy, and
    the schema is explicit (never inferred — inference reads the data
    twice and locks in the first sample's shape).

    A good row must parse AND carry a non-null `required` key (default:
    the schema's first field): from_json's PERMISSIVE mode maps some
    malformed lines to an all-null struct rather than NULL, and a
    record without its primary key is quarantine-worthy anyway."""
    req = required or schema.split(",")[0].strip().split()[0]
    lines = spark.read.text(path)
    parsed = lines.select(
        F.col("value").alias("raw_line"),
        F.from_json("value", schema).alias("r"),
    )
    ok = F.col("r").isNotNull() & F.col(f"r.{req}").isNotNull()
    good = parsed.where(ok).select("r.*")
    quarantine = parsed.where(~ok).select("raw_line")
    return good, quarantine
