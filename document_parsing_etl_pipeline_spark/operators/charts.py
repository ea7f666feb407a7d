"""Chart/figure extraction: per-document table & figure inventory.

Reference parity: docling TableItem/PictureItem iteration with
per-type counters and MinIO path layout
``documents/{doc_id}/charts/{chart_id}.png`` (reference
services/parser/src/engine/pdf_parser.py:130-186,
src/storage/minio.py:38-57).

Real PDF layout analysis is not available in this container; the
*detector* is a deterministic marker scan (occurrences of table/figure
marker tokens), while the inventory/enumeration/path plumbing — the
part that matters for the Spark plan — is real: counts → sequence →
posexplode, all JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TABLE_MARKER = r"\btable\b"
FIGURE_MARKER = r"\bvector\b"


def chart_inventory(docs: DataFrame) -> DataFrame:
    """One row per detected table/figure with per-type 1-based index
    and object-store image path (MinIO layout parity)."""
    c = F.col("text")
    n_tables = F.size(F.regexp_extract_all(c, F.lit(TABLE_MARKER), 0))
    n_figures = F.size(F.regexp_extract_all(c, F.lit(FIGURE_MARKER), 0))
    counted = docs.select(
        "doc_id", n_tables.alias("n_tables"), n_figures.alias("n_figures")
    )

    def _items(chart_type: str, n_col: str) -> DataFrame:
        return (
            counted.where(F.col(n_col) > 0)
            .select(
                "doc_id",
                F.explode(F.sequence(F.lit(1), F.col(n_col))).alias("chart_index"),
            )
            .withColumn("chart_type", F.lit(chart_type))
        )

    items = _items("table", "n_tables").unionByName(_items("figure", "n_figures"))
    # chart_id: tables first, then figures (reference iterates document
    # order; we use a deterministic per-doc ordinal).
    chart_id = F.when(
        F.col("chart_type") == "table", F.col("chart_index")
    ).otherwise(F.col("chart_index") + F.lit(1_000_000))
    return items.select(
        "doc_id",
        "chart_type",
        "chart_index",
        F.concat(
            F.lit("documents/"),
            F.col("doc_id").cast("string"),
            F.lit("/charts/"),
            chart_id.cast("string"),
            F.lit(".png"),
        ).alias("image_path"),
    )


def charts_per_document(docs: DataFrame) -> DataFrame:
    """Rollup: chart counts per document and type."""
    return (
        chart_inventory(docs)
        .groupBy("doc_id", "chart_type")
        .agg(F.count("*").alias("n_charts"))
    )
