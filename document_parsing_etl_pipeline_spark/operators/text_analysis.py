"""Text analysis operators: language-ID, quality scoring, token
counting, fingerprinting.

These extend the reference's per-chunk metadata (token_count,
reference services/parser/src/engine/pdf_parser.py:197) into the full
set a large-scale training-data pipeline needs. All JVM-side
expressions — per-row, shuffle-free, codegen'd.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import parse

# Tiny per-language stopword gazetteers for the n-gram/stopword-ratio
# language heuristic (public-knowledge lists).
STOPWORDS = {
    "en": ("the", "a", "and", "of", "to"),
    "es": ("el", "la", "los", "de", "y"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
}

# BPE-ish tokenizer regex: letter runs, digit runs, single punctuation.
RE_BPE_TOKEN = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def _count_matches(c: Column, pattern: str) -> Column:
    return F.size(F.regexp_extract_all(c, F.lit(pattern), 0))


def _stopword_hits(c: Column, lang: str) -> Column:
    pat = r"\b(" + "|".join(STOPWORDS[lang]) + r")\b"
    return _count_matches(c, pat)


def language_id(docs: DataFrame) -> DataFrame:
    """Stopword-ratio language ID: argmax over per-language hit counts.

    Deterministic tie-break on language code order (en < es < de < fr
    by score, then alphabetical).
    """
    c = F.lower(F.col("text"))
    scored = docs.select(
        "doc_id",
        "lang",
        *[_stopword_hits(c, lang).alias(f"hits_{lang}") for lang in STOPWORDS],
    )
    langs = sorted(STOPWORDS)  # alphabetical tie-break
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in langs])
    pred = F.lit("und")
    for lang in reversed(langs):  # earlier langs win ties
        pred = F.when(
            (best > 0) & (F.col(f"hits_{lang}") == best), F.lit(lang)
        ).otherwise(pred)
    return scored.withColumn("pred_lang", pred)


def quality_score(docs: DataFrame) -> DataFrame:
    """Length / punctuation / stopword / lexical-diversity signals.

    All ratios rounded to 4 decimals so float formatting is stable
    across engines.
    """
    c = F.col("text")
    words = parse.raw_tokens(c)
    word_count = F.size(words)
    uniq = F.size(F.array_distinct(words))
    stop_hits = _stopword_hits(F.lower(c), "en")
    punct = _count_matches(c, r"[^a-zA-Z0-9\s]")
    return docs.select(
        "doc_id",
        F.length(c).alias("char_count"),
        word_count.alias("word_count"),
        F.round(uniq / F.greatest(word_count, F.lit(1)), 4).alias("unique_ratio"),
        F.round(stop_hits / F.greatest(word_count, F.lit(1)), 4).alias(
            "stopword_ratio"
        ),
        F.round(punct / F.greatest(F.length(c), F.lit(1)), 4).alias("punct_ratio"),
        F.round(
            F.length(F.regexp_replace(c, r"\s+", "")) /
            F.greatest(word_count, F.lit(1)),
            4,
        ).alias("avg_word_len"),
    )


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace tokens + BPE-ish regex tokens per document."""
    c = F.col("text")
    ws_tokens = F.size(parse.raw_tokens(c))
    return docs.select(
        "doc_id",
        ws_tokens.alias("ws_tokens"),
        _count_matches(c, RE_BPE_TOKEN).alias("bpe_tokens"),
    )


# PII patterns (RE2-safe: no lookaround/backrefs).
RE_EMAIL = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
RE_PHONE = r"\+?[0-9][0-9()\- ]{7,}[0-9]"
RE_SSN = r"[0-9]{3}-[0-9]{2}-[0-9]{4}"


def pii_redact(docs: DataFrame) -> DataFrame:
    """PII scrub: emails/phones/SSN-shaped spans → typed placeholders.

    The standard pre-training privacy pass; pure regexp_replace chain,
    per-row, codegen'd.
    """
    c = F.col("text")
    # priority order SSN > email > phone; counts are the spans each
    # stage actually redacts (an SSN also matches the phone shape, so
    # phone counts run on the SSN/email-redacted text)
    after_ssn = F.regexp_replace(c, RE_SSN, "[SSN]")
    after_email = F.regexp_replace(after_ssn, RE_EMAIL, "[EMAIL]")
    redacted = F.regexp_replace(after_email, RE_PHONE, "[PHONE]")
    return docs.select(
        "doc_id",
        _count_matches(after_ssn, RE_EMAIL).alias("n_emails"),
        _count_matches(after_email, RE_PHONE).alias("n_phones"),
        _count_matches(c, RE_SSN).alias("n_ssns"),
        redacted.alias("redacted_text"),
        F.length(redacted).alias("redacted_len"),
    )


def top_bigrams(docs: DataFrame, top_k: int = 20) -> DataFrame:
    """Corpus-wide top-k bigrams (explode positions → codegen'd
    concat → count, map-side partial; ties broken by bigram)."""
    words = parse.tokens("text")
    base = (
        docs.select("doc_id", words.alias("words"))
        .where(F.size("words") >= 2)
        .select(
            "words",
            F.explode(
                F.sequence(F.lit(1), F.size("words") - F.lit(1))
            ).alias("i"),
        )
    )
    bigram = F.concat_ws(" ", F.slice("words", F.col("i"), 2))
    return (
        base.select(bigram.alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("occurrences"))
        .orderBy(F.col("occurrences").desc(), "bigram")
        .limit(top_k)
    )


def top_ngrams(docs: DataFrame, n: int = 3, top_k: int = 20) -> DataFrame:
    """Corpus-wide top-k word n-grams (the language-model count table
    builder). Same shape as top_bigrams: position explode → one
    slice+concat per n-gram, codegen'd, map-side partial agg."""
    words = parse.tokens("text")
    base = (
        docs.select("doc_id", words.alias("words"))
        .where(F.size("words") >= n)
        .select(
            "words",
            F.explode(
                F.sequence(F.lit(1), F.size("words") - F.lit(n - 1))
            ).alias("i"),
        )
    )
    ngram = F.concat_ws(" ", F.slice("words", F.col("i"), n))
    return (
        base.select(ngram.alias("ngram"))
        .groupBy("ngram")
        .agg(F.count("*").alias("occurrences"))
        .orderBy(F.col("occurrences").desc(), "ngram")
        .limit(top_k)
    )


def repetition_ratio(docs: DataFrame) -> DataFrame:
    """Top-token-fraction repetition signal: max term frequency over
    total tokens per doc — the cheap boilerplate/spam detector in
    LLM quality filtering (high ratio = one token dominates).

    Two aggregations, both with map-side combine; the per-doc shuffle
    key is doc_id (already the natural partitioning)."""
    tf = parse.doc_terms(docs, "doc_id", term="t", count="c")
    agg = tf.groupBy("doc_id").agg(
        F.max("c").alias("max_tf"), F.sum("c").alias("n_tokens")
    )
    ratio = F.col("max_tf") / F.col("n_tokens")
    return agg.select(
        "doc_id", "max_tf", "n_tokens",
        F.round(ratio, 4).alias("top_token_ratio"),
        (ratio > 0.2).alias("is_repetitive"),
    )


def fingerprint(docs: DataFrame, n: int = 4) -> DataFrame:
    """Winnowing-style document fingerprint: min md5 over word n-gram
    shingles (Schleimer et al. 2003 'winnowing' simplified to a global
    min — a stable content fingerprint robust to word appends).

    Shingle construction stays a (cheap) array op, but the md5 + min
    run after an explode so they execute codegen'd with map-side
    partial aggregation instead of an interpreted array transform.
    """
    lt = docs.select(
        "doc_id", F.trim(F.lower(F.col("text"))).alias("lt")
    ).select(
        "doc_id", "lt",
        parse.raw_tokens("lt").alias("words"),
    )
    # explode shingle positions, then build each shingle with ONE
    # slice+concat_ws — no higher-order functions anywhere, so md5 +
    # min run codegen'd with map-side partial aggregation.
    pos = lt.select(
        "doc_id", "lt", "words",
        F.explode(
            F.sequence(
                F.lit(1), F.greatest(F.size("words") - F.lit(n - 1), F.lit(1))
            )
        ).alias("i"),
    )
    shingle = F.when(
        F.size("words") >= n,
        F.concat_ws(" ", F.slice("words", F.col("i"), n)),
    ).otherwise(F.col("lt"))
    return (
        pos.select("doc_id", F.md5(shingle).alias("h"))
        .groupBy("doc_id")
        .agg(F.min("h").alias("fp"))
    )


def gopher_quality(docs: DataFrame) -> DataFrame:
    """Gopher-rules quality gate (Rae et al. 2021, App. A heuristics):
    word-count bounds, mean-word-length window, symbol-to-word ratio,
    alphabetic-word fraction, bullet/ellipsis line ratios → per-doc
    keep flag. The standard pre-training format filter.

    Every signal is a codegen'd regexp count plus one division — no
    explode, no shuffle; the whole gate is scan-bound at any corpus
    size. The keep flag is computed from the ROUNDED ratios so the
    boundary decisions are engine-identical (rounded values are the
    hash-checked ones).
    """
    t = F.col("text")
    n_words = F.size(parse.raw_tokens(t))
    nw = F.greatest(n_words, F.lit(1)).cast("double")
    # sum of token lengths == chars left after removing all whitespace
    word_chars = F.length(F.regexp_replace(t, r"\s", ""))
    # a token containing >=1 letter matches this exactly once: the
    # greedy \S* runs extend to the token boundaries on both engines
    alpha_words = F.size(
        F.regexp_extract_all(t, F.lit(r"\S*[a-zA-Z]\S*"), 0)
    )
    n_symbols = _count_matches(t, "#") + _count_matches(t, r"\.\.\.")
    n_lines = F.greatest(
        F.size(F.split(t, r"\n")), F.lit(1)
    ).cast("double")
    # [ \t]* (not \s*) so the indent match can never consume a newline
    # and pick up a bullet on a later line — keeps Java/RE2 agreement
    bullet_lines = _count_matches(t, r"(?m)^[ \t]*[-*•]")
    ellipsis_lines = _count_matches(t, r"(?m)\.\.\.$")

    mean_word_len = F.round(word_chars / nw, 4)
    symbol_ratio = F.round(n_symbols / nw, 4)
    alpha_frac = F.round(alpha_words / nw, 4)
    bullet_ratio = F.round(bullet_lines / n_lines, 4)
    ellipsis_ratio = F.round(ellipsis_lines / n_lines, 4)

    scored = docs.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        alpha_frac.alias("alpha_frac"),
        bullet_ratio.alias("bullet_ratio"),
        ellipsis_ratio.alias("ellipsis_ratio"),
    )
    keep = (
        (F.col("n_words") >= 40)
        & (F.col("n_words") <= 100000)
        & (F.col("mean_word_len") >= 2.0)
        & (F.col("mean_word_len") <= 12.0)
        & (F.col("symbol_ratio") < 0.1)
        & (F.col("alpha_frac") > 0.7)
        & (F.col("bullet_ratio") <= 0.9)
        & (F.col("ellipsis_ratio") <= 0.3)
    )
    return scored.withColumn("keep", keep)
