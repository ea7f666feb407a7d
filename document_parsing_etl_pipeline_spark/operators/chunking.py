"""Chunking: split document text into bounded-size chunks.

Reference parity: docling HybridChunker with ProcessingConfig
(reference services/parser/src/engine/pdf_parser.py:22-30 — chunk
overlap, min/max chunk size) and the chunk metadata token_count
(pdf_parser.py:188-199, ``len(chunk.text.split())``).

Spark-first: chunk indices come from ``sequence`` + ``explode`` and the
chunk text from a dynamic ``substring`` — all JVM-side expressions
inside whole-stage codegen. No Python, no shuffle; a 100 TB corpus
chunks at scan speed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import parse

DEFAULT_CHUNK_SIZE = 120
DEFAULT_OVERLAP = 0
DEFAULT_MIN_CHUNK = 20


def chunk_documents(
    docs: DataFrame,
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    overlap: int = DEFAULT_OVERLAP,
    min_chunk: int = DEFAULT_MIN_CHUNK,
) -> DataFrame:
    """Fixed-window chunking with overlap and a min-size floor.

    Output: (doc_id, chunk_index, text_content, token_count).
    A trailing chunk shorter than ``min_chunk`` is dropped unless it is
    the document's only chunk (mirrors HybridChunker's min-size merge).
    """
    if overlap >= chunk_size:
        raise ValueError("overlap must be < chunk_size")
    step = chunk_size - overlap
    # greatest(len-1, 0) keeps the numerator non-negative so integer
    # division matches floor division (and the DuckDB oracle) even for
    # empty documents.
    last_idx = (
        F.greatest(F.length(F.col("text")) - F.lit(1), F.lit(0)) / F.lit(step)
    ).cast("int")
    chunk_text = F.expr(
        f"substring(text, chunk_index * {step} + 1, {chunk_size})"
    )
    # token = \S+ run (== Python str.split(); robust to tab/newline edges)
    token_count = F.size(parse.raw_tokens("text_content"))
    return (
        docs.select(
            "doc_id",
            "text",
            F.explode(F.sequence(F.lit(0), last_idx)).alias("chunk_index"),
        )
        .withColumn("text_content", chunk_text)
        .where(
            (F.length("text_content") >= min_chunk) | (F.col("chunk_index") == 0)
        )
        .withColumn("token_count", token_count)
        .drop("text")
    )


def chunk_documents_by_tokens(
    docs: DataFrame,
    tokens_per_chunk: int = 30,
) -> DataFrame:
    """Token-budgeted chunking: fixed number of \\S+ tokens per chunk
    (closer to HybridChunker's tokenizer-aware splitting than char
    windows; reference pdf_parser.py:64 chunks by BGE token budget).

    Same shape as chunk_documents: sequence+explode chunk indices,
    one slice+join per chunk — JVM-side, shuffle-free.
    """
    t = tokens_per_chunk
    words = parse.raw_tokens("text")
    n_chunks = F.greatest(
        F.ceil(F.size(words) / F.lit(t)), F.lit(1)
    ).cast("int")
    base = docs.select(
        "doc_id",
        words.alias("words"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_index"),
    )
    chunk_words = F.expr(f"slice(words, chunk_index * {t} + 1, {t})")
    return base.select(
        "doc_id",
        "chunk_index",
        F.array_join(chunk_words, " ").alias("text_content"),
        F.size(chunk_words).alias("token_count"),
    )


DEFAULT_PACK_BUDGET = 48


def sequence_pack(
    chunks: DataFrame, budget: int = DEFAULT_PACK_BUDGET
) -> DataFrame:
    """Next-fit sequence packing: assemble chunks (in chunk_index
    order, per document) into training sequences of at most ``budget``
    tokens — the batch-assembly step before LLM pre-training, where
    short chunks are concatenated to fill the context window.

    Next-fit is inherently a sequential recurrence (each placement
    depends on the running fill), so it cannot be a prefix-sum window.
    Per-group applyInPandas would pay one Python call per DOCUMENT
    (measured 15 s for 5k docs at sf0.1 — group-dispatch overhead, not
    compute), so the recurrence runs instead as mapInPandas over
    doc-partitioned, (doc_id, chunk_index)-sorted partitions,
    resetting state at each doc boundary and carrying the running
    (doc, seq, fill) across Arrow batch boundaries — task memory is
    ONE Arrow batch, regardless of partition size. repartition(doc_id)
    guarantees a document never splits across partitions.

    Output: (doc_id, chunk_index, token_count, seq_id, seq_fill) where
    seq_id numbers sequences within the doc and seq_fill is the running
    token fill after placing the chunk. A chunk larger than the budget
    gets its own sequence (fill may exceed budget — next-fit never
    splits items). The first chunk is always placed in seq 0, and the
    new-sequence rule is exactly `fill + tokens > budget` — mirrored
    one-to-one by the recursive-CTE oracle.
    """
    import pandas as pd

    out_schema = (
        "doc_id long, chunk_index long, token_count long, "
        "seq_id long, seq_fill long"
    )

    def pack_partition(batches):
        # Arrow batches can split mid-document, but the recurrence
        # only needs the running (doc, seq, fill) carried across the
        # batch boundary — process one batch at a time (task memory =
        # one Arrow batch, NOT the whole partition)
        prev_doc, seq, fill = None, 0, 0
        for pdf in batches:
            if not len(pdf):
                continue
            seq_ids, fills = [], []
            for doc, tc in zip(pdf["doc_id"], pdf["token_count"]):
                tc = int(tc)
                if doc != prev_doc:
                    prev_doc, seq, fill = doc, 0, tc
                elif fill + tc > budget:
                    seq += 1
                    fill = tc
                else:
                    fill += tc
                seq_ids.append(seq)
                fills.append(fill)
            out = pdf[["doc_id", "chunk_index", "token_count"]].copy()
            out["seq_id"] = seq_ids
            out["seq_fill"] = fills
            yield out

    return (
        chunks.select("doc_id", "chunk_index", "token_count")
        .repartition("doc_id")
        .sortWithinPartitions("doc_id", "chunk_index")
        .mapInPandas(pack_partition, out_schema)
    )


def chunk_stats(chunks: DataFrame) -> DataFrame:
    """Per-document chunk rollup (Document.total_chunks parity,
    reference src/database/schema.py:31)."""
    return chunks.groupBy("doc_id").agg(
        F.count("*").alias("total_chunks"),
        F.sum("token_count").alias("total_tokens"),
        F.max("token_count").alias("max_chunk_tokens"),
    )
