"""Entity extraction: regex + gazetteer NER over chunk/document text.

Reference parity: spaCy NER bucketing entities into persons /
organizations / dates / locations / misc (reference
services/parser/src/engine/pdf_parser.py:86-109). spaCy is a learned
model and is not in this container; we re-express the *operator* as
deterministic pattern NER (regex date/number/capitalized-name patterns +
gazetteer term lists, the same technique as spaCy's rule-based
EntityRuler). Everything is ``regexp_extract_all`` / ``regexp_count`` —
JVM-side, codegen'd, no shuffle.

Patterns are restricted to syntax with identical semantics in Java
regex (Spark) and RE2 (DuckDB oracle): character classes, alternation,
bounded repetition — no backrefs or lookaround.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import parse

# persons: Capitalized bigrams ("Daniel Syahputra").
RE_PERSON = r"[A-Z][a-z]+ [A-Z][a-z]+"
# dates: ISO dates or slashed dates.
RE_DATE = r"[0-9]{4}-[0-9]{2}-[0-9]{2}|[0-9]{1,2}/[0-9]{1,2}/[0-9]{2,4}"
# misc: standalone numbers.
RE_NUMBER = r"[0-9]+"
# gazetteers (EntityRuler-style term lists) for lowercase corpora.
ORG_TERMS = ("customer", "supplier", "spark")
LOC_TERMS = ("region", "nation", "jakarta", "york", "london")


def _gazetteer_regex(terms: tuple[str, ...]) -> str:
    # \b word boundaries behave the same in Java regex and RE2.
    return r"\b(" + "|".join(terms) + r")\b"


RE_ORG = _gazetteer_regex(ORG_TERMS)
RE_LOC = _gazetteer_regex(LOC_TERMS)


def extract_entities(
    df: DataFrame, text_col: str = "text_content"
) -> DataFrame:
    """Append entity arrays + counts per row.

    Output columns mirror the reference's entity JSON keys: persons,
    organizations, dates, locations, misc (numbers).
    """
    c = F.col(text_col)
    patterns = {
        "persons": RE_PERSON,
        "organizations": RE_ORG,
        "dates": RE_DATE,
        "locations": RE_LOC,
        "misc": RE_NUMBER,
    }
    # two projections, not ten: each withColumn re-analyzes the plan
    out = df.withColumns({
        name: F.regexp_extract_all(c, F.lit(pattern), 0)
        for name, pattern in patterns.items()
    })
    return out.withColumns({f"n_{name}": F.size(name) for name in patterns})


def entity_counts(df: DataFrame, text_col: str = "text_content") -> DataFrame:
    """Scalar projection (no arrays) — oracle-friendly flat schema."""
    ent = extract_entities(df, text_col)
    keep = [c for c in df.columns if c != text_col]
    return ent.select(
        *keep,
        F.concat_ws(",", "organizations").alias("org_terms"),
        "n_persons",
        "n_organizations",
        "n_dates",
        "n_locations",
        "n_misc",
    )


def gazetteer_join_entities(
    docs: DataFrame,
    gazetteer: DataFrame,
) -> DataFrame:
    """Dictionary NER via broadcast join: tokens ⋈ gazetteer(term,
    entity_type) → per-doc hit counts per type.

    The scale pattern for large dictionaries: a regex alternation
    caps out at a few thousand terms; a broadcast (or, beyond memory,
    bucketed) join handles millions of gazetteer entries with the
    token explode staying codegen'd.
    """
    toks = docs.select(
        "doc_id",
        F.explode(parse.tokens("text")).alias("term"),
    )
    return (
        toks.join(F.broadcast(gazetteer), "term")
        .groupBy("doc_id", "entity_type")
        .agg(
            F.count("*").alias("n_mentions"),
            F.countDistinct("term").alias("n_distinct_terms"),
        )
    )


def default_gazetteer(spark) -> DataFrame:
    """The module's regex gazetteers as a joinable table."""
    rows = [(t, "organization") for t in ORG_TERMS] + [
        (t, "location") for t in LOC_TERMS
    ]
    return spark.createDataFrame(rows, "term string, entity_type string")


def entity_rollup(df: DataFrame, text_col: str = "text_content") -> DataFrame:
    """Corpus-wide entity frequency: explode extracted terms → groupBy.

    One shuffle on the (entity_type, term) key — low cardinality
    (bounded by gazetteer size × types), so the aggregation is nearly
    all map-side partial combine at any scale.
    """
    ent = extract_entities(df, text_col)
    exploded = ent.select(
        F.explode(
            F.flatten(
                F.array(
                    F.transform("organizations", lambda t: F.struct(
                        F.lit("organization").alias("entity_type"), t.alias("term"))),
                    F.transform("locations", lambda t: F.struct(
                        F.lit("location").alias("entity_type"), t.alias("term"))),
                    F.transform("dates", lambda t: F.struct(
                        F.lit("date").alias("entity_type"), t.alias("term"))),
                )
            )
        ).alias("e")
    )
    return (
        exploded.select("e.entity_type", "e.term")
        .groupBy("entity_type", "term")
        .agg(F.count("*").alias("occurrences"))
    )
