"""SURVEY §2.B — doc-store query surface: the @register query
definitions for this section (split out of the former monolithic
plans/queries.py in round 11; shared helpers live in
plans/_prelude.py, re-exported through plans/queries.py).
Importing this module registers the queries into the shared
QUERIES/ORACLES dicts."""

from __future__ import annotations

from ._prelude import *  # noqa: F401,F403



@register("q_documents_list", f"""
WITH {_DOCSTORE_CTE}
SELECT * FROM documents_t WHERE doc_id >= 10 AND doc_id < 60
""")
def q_documents_list(spark, sf_dir):
    """DocumentResponse parity: every list row carries metainfo +
    created_at/updated_at (reference api.py:15-21 DocumentResponse,
    schema.py Document.metainfo/created_at/updated_at)."""
    t = _docstore_tables(spark, sf_dir, "documents")
    df = t["documents"].where((F.col("doc_id") >= 10) & (F.col("doc_id") < 60))
    return _long(
        df.select(
            "doc_id", "filename", "lang", "source", "n_chars",
            "total_chunks", "total_tokens",
            F.to_json("metainfo").alias("metainfo"),
            F.unix_micros("created_at").alias("created_at_us"),
            F.unix_micros("updated_at").alias("updated_at_us"),
        ),
        "total_chunks", "total_tokens",
    )


@register("q_document_detail", f"""
WITH {_DOCSTORE_CTE}
SELECT d.doc_id, d.filename, d.lang, d.total_chunks,
       d.created_at_us, d.updated_at_us,
       c.chunk_index, c.text_content, c.token_count,
       ({docstore.INGEST_EPOCH_S} + c.doc_id)::BIGINT * 1000000
           AS chunk_created_at_us
FROM documents_t d JOIN chunks_f c USING (doc_id)
WHERE d.doc_id < 20
""")
def q_document_detail(spark, sf_dir):
    """DocumentDetailResponse parity (reference api.py:37-40): doc
    fields incl. timestamps joined to its chunks (ChunkResponse
    carries created_at too). The join logic is the store-table
    function docstore.document_detail — the SAME plan runs
    exchange-free over write_bucketed_tables output (plan-asserted
    in tests/test_docstore_api.py)."""
    t = _docstore_tables(spark, sf_dir, "documents", "chunks")
    df = docstore.document_detail(
        t["documents"].where(F.col("doc_id") < 20), t["chunks"]
    )
    return _long(df, "total_chunks", "chunk_index", "token_count")


@register("q_chunk_range", f"""
WITH {CHUNK_CTE}
SELECT doc_id, chunk_index, text_content, token_count
FROM chunks_f
WHERE doc_id = 7 AND chunk_index BETWEEN 0 AND 1
""")
def q_chunk_range(spark, sf_dir):
    """Chunk range scan through the store-table function
    (docstore.chunk_range) — doc_id + index predicates push to the
    scan; on the doc store they skip row groups by min/max."""
    ch = chunking.chunk_documents(load_table(spark, sf_dir, "documents"))
    df = docstore.chunk_range(ch, doc_id=7, start=0, end=1)
    return _long(df, "chunk_index", "token_count")


@register("q_charts_by_doc", f"""
WITH {_CHARTS_CTE}
SELECT doc_id, chart_type, count(*) AS n_charts
FROM charts_f WHERE doc_id < 50
GROUP BY doc_id, chart_type
""")
def q_charts_by_doc(spark, sf_dir):
    df = charts_op.charts_per_document(
        load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    )
    return _long(df, "n_charts")


@register("q_doc_delete", f"""
WITH {CHUNK_CTE}
SELECT doc_id, chunk_index, token_count FROM chunks_f
WHERE doc_id < 5 AND doc_id <> 3
""")
def q_doc_delete(spark, sf_dir):
    t = _docstore_tables(spark, sf_dir, "chunks")
    deleted = docstore.delete_document(t, 3)
    df = deleted["chunks"].where(F.col("doc_id") < 5).select(
        "doc_id", "chunk_index", "token_count"
    )
    return _long(df, "chunk_index", "token_count")


@register("q_doc_update", f"""
WITH {_DOCSTORE_CTE}
SELECT doc_id, filename,
       CASE WHEN doc_id = 7 THEN 'id' ELSE lang END AS lang,
       CASE WHEN doc_id = 7 THEN updated_at_us + 86400000000
            ELSE updated_at_us END AS updated_at_us,
       created_at_us
FROM documents_t WHERE doc_id < 20
""")
def q_doc_update(spark, sf_dir):
    """BaseRepository.update parity (reference base.py:38-53):
    update-then-read — doc 7's lang is overwritten and its updated_at
    bumps (onupdate), every other row unchanged."""
    t = _docstore_tables(spark, sf_dir, "documents")
    updated = docstore.update_document_meta(t["documents"], 7, {"lang": "id"})
    return updated.where(F.col("doc_id") < 20).select(
        "doc_id", "filename", "lang",
        F.unix_micros("updated_at").alias("updated_at_us"),
        F.unix_micros("created_at").alias("created_at_us"),
    )


@register("q_chunk_entities", f"""
WITH {CHUNK_CTE}, ent AS (
    SELECT doc_id, chunk_index, 'persons' AS entity_type,
           regexp_extract_all(text_content, '{entities.RE_PERSON}') AS terms
    FROM chunks_f
    UNION ALL
    SELECT doc_id, chunk_index, 'organizations',
           regexp_extract_all(text_content, '{entities.RE_ORG}')
    FROM chunks_f
    UNION ALL
    SELECT doc_id, chunk_index, 'dates',
           regexp_extract_all(text_content, '{entities.RE_DATE}')
    FROM chunks_f
    UNION ALL
    SELECT doc_id, chunk_index, 'locations',
           regexp_extract_all(text_content, '{entities.RE_LOC}')
    FROM chunks_f
    UNION ALL
    SELECT doc_id, chunk_index, 'misc',
           regexp_extract_all(text_content, '{entities.RE_NUMBER}')
    FROM chunks_f
)
SELECT doc_id, chunk_index, entity_type,
       coalesce(array_to_string(terms, '|'), '') AS terms,
       len(terms) AS n_terms
FROM ent
""")
def q_chunk_entities(spark, sf_dir):
    """Reads the typed entities map<string,array<string>> stored per
    chunk (DocumentChunk.entities parity, reference schema.py:17) —
    the map is exploded to one row per entity type so the oracle can
    cross-check every array."""
    t = _docstore_tables(spark, sf_dir, "chunks")
    df = (
        t["chunks"]
        .select(
            "doc_id", "chunk_index",
            F.explode("entities").alias("entity_type", "terms_arr"),
        )
        .select(
            "doc_id", "chunk_index", "entity_type",
            F.array_join("terms_arr", "|").alias("terms"),
            F.size("terms_arr").alias("n_terms"),
        )
    )
    return _long(df, "chunk_index", "n_terms")


@register("q_chart_info", f"""
WITH {_CHARTS_CTE}
SELECT doc_id, chart_type, chart_index, image_path,
       chart_type AS info_type, chart_index AS info_index,
       1::BIGINT AS info_level, CAST(NULL AS VARCHAR) AS info_caption,
       ({docstore.INGEST_EPOCH_S} + doc_id)::BIGINT * 1000000
           AS created_at_us
FROM charts_f
""")
def q_chart_info(spark, sf_dir):
    """ChartData.info parity (reference schema.py ChartData.info,
    api.py:30-35 ChartResponse): the store's typed info struct
    (type, index, image_path, metadata.level/caption) projected
    flat, plus created_at."""
    t = _docstore_tables(spark, sf_dir, "charts")
    df = t["charts"].select(
        "doc_id", "chart_type", "chart_index", "image_path",
        F.col("info.type").alias("info_type"),
        F.col("info.index").alias("info_index"),
        F.col("info.metadata.level").alias("info_level"),
        F.col("info.metadata.caption").alias("info_caption"),
        F.unix_micros("created_at").alias("created_at_us"),
    )
    return _long(df, "chart_index", "info_index", "info_level")
