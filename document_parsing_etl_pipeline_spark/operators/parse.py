"""Document parse stage: tokenization, normalization + metadata
extraction.

Reference parity: docling conversion post-processing and PyMuPDF
metadata extraction (reference services/parser/main.py:58-83 — page
count / file size / extraction date become char/word/line counts and a
size bucket on the text-native documents table).

This module is the engine's only tokenizer: every Spark-side query
that turns text into tokens goes through the column helpers below (or
``doc_terms``), so the rule lives in one place. The DuckDB oracle SQL
spells the same patterns out on purpose — it is the reference.

All ops are narrow per-row projections except ``doc_terms``'s one
aggregation: no other shuffle, fully inside whole-stage codegen,
linear scale to 100 TB.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOKEN = r"\S+"  # token = non-whitespace run (== Python str.split())
WORD = r"[a-z]+"  # alphabetic word of lowercased text (NB / KN features)


def raw_tokens(c: Column | str) -> Column:
    """Case-preserving tokens (== ``s.split()``); word counts use
    their size."""
    return F.regexp_extract_all(c, F.lit(TOKEN), 0)


def tokens(c: Column | str) -> Column:
    """Lowercased tokens (== ``s.lower().split()``); whitespace-only
    text has zero tokens, null text gives null."""
    return raw_tokens(F.lower(c))


def words(c: Column | str) -> Column:
    """Lowercased alphabetic words (== ``re.findall("[a-z]+",
    s.lower())``)."""
    return F.regexp_extract_all(F.lower(c), F.lit(WORD), 0)


def normalized_text(c: Column | str) -> Column:
    """== ``" ".join(text.lower().split())``."""
    return F.array_join(tokens(c), " ")


def doc_terms(
    docs: DataFrame,
    *keys: str,
    tokenize=tokens,
    term: str = "term",
    count: str = "tf",
) -> DataFrame:
    """(keys…, term, count) — occurrences of each token per key
    group, the one featurize relation every per-(keys, term) consumer
    derives from.

    The ``isNotNull`` guard on every key and the term removes no row:
    the keys are corpus keys that are never null (tests pin this for
    ``documents.doc_id`` and ``documents.lang``) and explode never
    yields a null token (null text yields no rows). It is there for
    the plan: consumer branches of this relation get different
    ``isnotnull`` predicates inferred from their downstream joins,
    which makes their exchange subtrees unequal. One canonical filter
    set keeps them equal, so every branch reads ONE ``ReusedExchange``
    and the tokenize runs once per query instead of once per
    consumer."""
    toks = docs.select(*keys, F.explode(tokenize("text")).alias(term))
    guard = reduce(
        lambda a, b: a & b, [F.col(k).isNotNull() for k in (*keys, term)]
    )
    return toks.where(guard).groupBy(*keys, term).agg(
        F.count("*").alias(count)
    )


def normalize_documents(docs: DataFrame) -> DataFrame:
    """Whitespace-normalize + lowercase → `norm_text`."""
    return docs.withColumn("norm_text", normalized_text(F.col("text")))


def document_metadata(docs: DataFrame) -> DataFrame:
    """Per-document metadata projection.

    char_count/word_count/size_bucket mirror the reference watcher's
    metadata dict (page_count/file_size analogs for a text corpus).
    """
    word_count = F.size(raw_tokens(F.col("text")))
    return docs.select(
        "doc_id",
        "source",
        "lang",
        F.length(F.col("text")).alias("char_count"),
        word_count.alias("word_count"),
        (F.size(F.split(F.col("text"), r"\n")) ).alias("line_count"),
        F.when(F.length(F.col("text")) < 200, F.lit("small"))
        .when(F.length(F.col("text")) < 400, F.lit("medium"))
        .otherwise(F.lit("large"))
        .alias("size_bucket"),
    )
