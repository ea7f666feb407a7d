import re
from collections import Counter

from pyspark.sql import Row

from document_parsing_etl_pipeline_spark.operators import entities, parse
from document_parsing_etl_pipeline_spark.operators import text_analysis as ta
from document_parsing_etl_pipeline_spark.operators.parse import (
    document_metadata, normalize_documents,
)

from test_edge_data import EDGE_DOCS


def _docs(spark, *texts):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t, lang="en", source="s", n_chars=len(t))
         for i, t in enumerate(texts)]
    )


# the degenerate texts of the edge-parity corpus (empty, whitespace-
# only, \t\n\r runs, unicode, ...) plus a null text
_EDGE_TEXTS = [t for _, t, *_ in EDGE_DOCS] + [None]


def test_normalize(spark):
    df = normalize_documents(_docs(spark, "  Hello   World\t! "))
    assert df.collect()[0].norm_text == "hello world !"
    # every tokenizer helper against its Python definition
    docs = spark.createDataFrame(
        list(enumerate(_EDGE_TEXTS)), "doc_id long, text string")
    got = docs.select(
        "doc_id", parse.tokens("text").alias("tokens"),
        parse.raw_tokens("text").alias("raw"),
        parse.words("text").alias("words"),
        parse.normalized_text("text").alias("norm"),
    ).orderBy("doc_id").collect()
    for r, s in zip(got, _EDGE_TEXTS):
        if s is None:
            assert (r.tokens, r.raw, r.words, r.norm) == (None,) * 4
            continue
        assert r.tokens == s.lower().split(), repr(s)
        assert r.raw == s.split(), repr(s)
        assert r.words == re.findall("[a-z]+", s.lower()), repr(s)
        assert r.norm == " ".join(s.lower().split()), repr(s)
    # doc_terms == a Python Counter per document; null and
    # whitespace-only texts contribute no rows (never a null term)
    terms = parse.doc_terms(docs, "doc_id").collect()
    want = Counter()
    for i, s in enumerate(_EDGE_TEXTS):
        for t in (s or "").lower().split():
            want[(i, t)] += 1
    assert Counter({(r.doc_id, r.term): r.tf for r in terms}) == want
    assert all(r.term is not None for r in terms)
    empty = {i for i, s in enumerate(_EDGE_TEXTS) if not (s or "").split()}
    assert len(empty) >= 4 and not empty & {r.doc_id for r in terms}


def test_metadata_counts(spark):
    r = document_metadata(_docs(spark, "a b c")).collect()[0]
    assert (r.char_count, r.word_count, r.size_bucket) == (5, 3, "small")


def test_entity_extraction(spark):
    df = _docs(spark, "Daniel Syahputra met customer on 2024-02-13 in jakarta")
    r = entities.extract_entities(df, text_col="text").collect()[0]
    assert r.persons == ["Daniel Syahputra"]
    assert r.organizations == ["customer"]
    assert r.dates == ["2024-02-13"]
    assert r.locations == ["jakarta"]
    assert r.n_misc > 0  # numbers from the date digits


def test_entity_rollup(spark):
    df = _docs(spark, "customer customer spark", "nation")
    rows = entities.entity_rollup(df, text_col="text").collect()
    freq = {(r.entity_type, r.term): r.occurrences for r in rows}
    assert freq[("organization", "customer")] == 2
    assert freq[("organization", "spark")] == 1
    assert freq[("location", "nation")] == 1


def test_language_id_prefers_matching_stopwords(spark):
    df = _docs(spark, "el la los de y hola", "the cat and the hat")
    rows = {r.doc_id: r.pred_lang for r in ta.language_id(df).collect()}
    assert rows[0] == "es"
    assert rows[1] == "en"


def test_quality_score_ranges(spark):
    r = ta.quality_score(_docs(spark, "the the the")).collect()[0]
    assert r.unique_ratio == round(1 / 3, 4)
    assert r.stopword_ratio == 1.0


def test_token_counts(spark):
    r = ta.token_counts(_docs(spark, "ab, cd 12")).collect()[0]
    assert r.ws_tokens == 3
    assert r.bpe_tokens == 4  # ab , cd 12


def test_fingerprint_stable_and_content_sensitive(spark):
    df = _docs(spark, "a b c d e f", "a b c d e f", "x y z w v u")
    rows = ta.fingerprint(df).collect()
    fps = {r.doc_id: r.fp for r in rows}
    assert fps[0] == fps[1]
    assert fps[0] != fps[2]


def test_pii_redaction(spark):
    df = _docs(spark, "mail me at jane.doe@example.com or call +1 (555) 123-4567, ssn 123-45-6789")
    r = ta.pii_redact(df).collect()[0]
    assert (r.n_emails, r.n_phones, r.n_ssns) == (1, 1, 1)
    assert "[EMAIL]" in r.redacted_text and "[PHONE]" in r.redacted_text
    assert "example.com" not in r.redacted_text
    assert "123-45-6789" not in r.redacted_text


def test_top_bigrams(spark):
    df = _docs(spark, "big data big data small", "big data")
    rows = ta.top_bigrams(df, top_k=2).collect()
    assert rows[0].bigram == "big data" and rows[0].occurrences == 3


def test_top_ngrams_trigram(spark):
    df = _docs(spark, "a b c a b c", "a b c")
    rows = ta.top_ngrams(df, n=3, top_k=3).collect()
    assert rows[0].ngram == "a b c" and rows[0].occurrences == 3


def test_repetition_ratio_flags_dominant_token(spark):
    df = _docs(spark, "spam spam spam spam ok", "a b c d e")
    rows = {r.doc_id: r for r in ta.repetition_ratio(df).collect()}
    assert rows[0].max_tf == 4 and rows[0].n_tokens == 5
    assert rows[0].is_repetitive is True
    assert rows[1].top_token_ratio == 0.2 and rows[1].is_repetitive is False


def test_gopher_quality_keeps_clean_prose(spark):
    clean = " ".join(f"word{i}" for i in range(50))
    symbols = "# " * 50
    short = "too short"
    rows = {r.doc_id: r for r in
            ta.gopher_quality(_docs(spark, clean, symbols, short)).collect()}
    assert rows[0].keep is True
    assert rows[0].n_words == 50
    # '#' tokens: symbol_ratio 1.0 and no alphabetic words -> dropped
    assert rows[1].keep is False and rows[1].alpha_frac == 0.0
    # 2 words < 40 -> dropped despite clean text
    assert rows[2].keep is False and rows[2].n_words == 2


def test_gopher_bullet_and_ellipsis_lines(spark):
    t = "- one\n- two\n- three\nplain..."
    r = ta.gopher_quality(_docs(spark, t)).collect()[0]
    assert r.bullet_ratio == 0.75
    assert r.ellipsis_ratio == 0.25
