"""Seeded input generator for the benchmark.

Documents are word sequences over the vocabulary of the sf0.1 document
texts, with the properties the pipeline's cost and output depend on
varied from the seed:

- doc-length mix: one-chunk notes, a few chunks, and tens of chunks;
- entity density: capitalised name bigrams, ISO dates and gazetteer
  terms (the NER operator's three pattern families);
- chart-marker density: the ``table`` / ``vector`` tokens the chart
  detector counts;
- near duplicates: a share of documents repeat an earlier text plus a
  ``dup`` token, as in the sf0.1 corpus.

Besides the documents the module computes, in plain Python, the counts
the pipeline must produce: chunks per document, entities per type and
charts per document. Those expectations are what the correctness checks
compare against.
"""

from __future__ import annotations

import datetime
import hashlib
import random
import re
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

# Vocabulary of the sf0.1 document texts, minus the words the
# generator places on purpose (gazetteer terms, chart markers, "dup").
BASE_WORDS = (
    "a", "agg", "batch", "big", "column", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "stream", "the",
    "value", "window",
)
GAZETTEER_TERMS = (
    "customer", "supplier", "spark",
    "region", "nation", "jakarta", "york", "london",
)
CHART_MARKERS = ("table", "vector")
FIRST_NAMES = ("Daniel", "Maria", "Budi", "Sarah", "Ahmad", "Olga",
               "Tomas", "Grace", "Hiro", "Nadia", "Pedro", "Ines")
LAST_NAMES = ("Syahputra", "Smith", "Tanaka", "Garcia", "Novak",
              "Okafor", "Rossi", "Larsen", "Kim", "Silva")
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
N_SOURCES = 20

# The pipeline's contract, restated independently of the program:
# fixed 120-char windows, a trailing window shorter than 20 chars is
# dropped unless it is the only one; NER patterns per chunk; chart
# markers per document.
CHUNK_SIZE = 120
MIN_CHUNK = 20
ENTITY_PATTERNS = {
    "persons": re.compile(r"[A-Z][a-z]+ [A-Z][a-z]+"),
    "organizations": re.compile(r"\b(?:customer|supplier|spark)\b"),
    "dates": re.compile(
        r"[0-9]{4}-[0-9]{2}-[0-9]{2}|[0-9]{1,2}/[0-9]{1,2}/[0-9]{2,4}"),
    "locations": re.compile(r"\b(?:region|nation|jakarta|york|london)\b"),
    "misc": re.compile(r"[0-9]+"),
}
TABLE_RE = re.compile(r"\btable\b")
FIGURE_RE = re.compile(r"\bvector\b")
FIGURE_ID_OFFSET = 1_000_000


@dataclass
class Mix:
    """Seed-drawn corpus properties. The ranges are narrow enough that
    the seed moves the pipeline's work by a few per cent, not tens."""
    short_w: float
    long_w: float
    p_name: float
    p_date: float
    p_gazetteer: float
    p_marker: float
    p_dup: float

    @classmethod
    def draw(cls, rng: random.Random) -> "Mix":
        return cls(
            short_w=rng.uniform(0.40, 0.50),
            long_w=rng.uniform(0.07, 0.10),
            p_name=rng.uniform(0.02, 0.03),
            p_date=rng.uniform(0.006, 0.012),
            p_gazetteer=rng.uniform(0.03, 0.05),
            p_marker=rng.uniform(0.015, 0.025),
            p_dup=rng.uniform(0.04, 0.06),
        )


@dataclass
class Corpus:
    docs: list[dict]
    mix: Mix
    # per doc_id: expected chunk count, entity counts and chart ids
    n_chunks: dict[int, int] = field(default_factory=dict)
    entities: dict[str, int] = field(default_factory=dict)
    charts: dict[int, list[int]] = field(default_factory=dict)

    @property
    def doc_ids(self) -> list[int]:
        return [d["doc_id"] for d in self.docs]

    def realised(self) -> dict:
        """The realised input properties, for the output file."""
        n = max(len(self.docs), 1)
        chunks = sum(self.n_chunks.values())
        return {
            "docs": len(self.docs),
            "chunks_per_doc": round(chunks / n, 3),
            "max_chunks_per_doc": max(self.n_chunks.values(), default=0),
            "entities_per_chunk": {
                k: round(v / max(chunks, 1), 4)
                for k, v in self.entities.items()
            },
            "charts_per_doc": round(
                sum(len(v) for v in self.charts.values()) / n, 3),
            "text_bytes": sum(len(d["text"]) for d in self.docs),
            "mix": {k: round(v, 4) for k, v in vars(self.mix).items()},
        }


def chunk_texts(text: str) -> list[str]:
    last = max(len(text) - 1, 0) // CHUNK_SIZE
    out = []
    for i in range(last + 1):
        piece = text[i * CHUNK_SIZE:(i + 1) * CHUNK_SIZE]
        if len(piece) >= MIN_CHUNK or i == 0:
            out.append(piece)
    return out


def chart_ids(text: str) -> list[int]:
    n_tables = len(TABLE_RE.findall(text))
    n_figures = len(FIGURE_RE.findall(text))
    return (list(range(1, n_tables + 1))
            + [FIGURE_ID_OFFSET + i for i in range(1, n_figures + 1)])


def blob_bytes(doc_id: int, chart_id: int) -> bytes:
    """Deterministic 512-byte chart image for one chart."""
    key = f"documents/{doc_id}/charts/{chart_id}.png".encode()
    return hashlib.sha256(key).digest() * 16


def _special(rng: random.Random, kind: int) -> str:
    if kind == 1:
        return rng.choice(FIRST_NAMES) + " " + rng.choice(LAST_NAMES)
    if kind == 2:
        day = datetime.date(2020, 1, 1) + datetime.timedelta(
            days=rng.randrange(2000))
        return day.isoformat()
    if kind == 3:
        return rng.choice(GAZETTEER_TERMS)
    return rng.choice(CHART_MARKERS)


def _words(rng: random.Random, mix: Mix, n: int) -> list[str]:
    words = rng.choices(BASE_WORDS, k=n)
    p = (mix.p_name, mix.p_date, mix.p_gazetteer, mix.p_marker)
    kinds = rng.choices(range(5), weights=(1 - sum(p), *p), k=n)
    for i, kind in enumerate(kinds):
        if kind:
            words[i] = _special(rng, kind)
    return words


def _doc_words(rng: random.Random, mix: Mix) -> int:
    r = rng.random()
    if r < mix.short_w:
        return rng.randint(6, 18)            # one chunk
    if r < mix.short_w + mix.long_w:
        return rng.randint(250, 600)         # tens of chunks
    return rng.randint(30, 110)              # a few chunks


def make_documents(seed: int, n_docs: int, first_id: int = 0) -> Corpus:
    rng = random.Random(seed)
    mix = Mix.draw(rng)
    docs: list[dict] = []
    for i in range(n_docs):
        doc_id = first_id + i
        if docs and rng.random() < mix.p_dup:
            text = rng.choice(docs)["text"] + " dup"
        else:
            text = " ".join(_words(rng, mix, _doc_words(rng, mix)))
        docs.append({
            "doc_id": doc_id, "text": text, "lang": rng.choice(LANGS),
            "source": f"src{doc_id % N_SOURCES}", "n_chars": len(text),
        })
    corpus = Corpus(docs=docs, mix=mix,
                    entities={k: 0 for k in ENTITY_PATTERNS})
    for d in docs:
        pieces = chunk_texts(d["text"])
        corpus.n_chunks[d["doc_id"]] = len(pieces)
        for piece in pieces:
            for k, pat in ENTITY_PATTERNS.items():
                corpus.entities[k] += len(pat.findall(piece))
        corpus.charts[d["doc_id"]] = chart_ids(d["text"])
    return corpus


DOC_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64()),
])


def write_documents(corpus: Corpus, path: str) -> None:
    pq.write_table(pa.Table.from_pylist(corpus.docs, DOC_SCHEMA), path)
