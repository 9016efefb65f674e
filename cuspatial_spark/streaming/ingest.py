"""Streaming web-page ingest pipeline (the north-star job shape).

Composes the engine's pieces into the end-to-end Common-Crawl-style
flow over a readStream source of pages
(url, warc_ts, html:binary, text, lang):

  extract_text  (codegen regexp, byte-identity invariant)
    -> quality/language gates  (codegen built-ins, pure filters)
    -> geotag  (deterministic url-hash coords)
    -> tile assignment  (Morton key + tile, codegen)
    -> optional streaming PIP join against a broadcast polygon layer

Every stage is stateless, so the whole pipeline is trigger-agnostic
(availableNow batch drains and continuous micro-batches run the same
plan) and scales with source partitions — there is no shuffle until
(and unless) a downstream aggregation asks for one.  Late data needs
no handling here (no event-time state); watermarked aggregations
compose on top (streaming_tile_counts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..plans.tile_join import assign_tiles, point_in_polygon_join
from ..sources.webpages import geotag_points
from ..textops.analysis import language_id, quality_score
from ..textops.extract import extract_text


def ingest_pages(
    pages: DataFrame,
    x_min: float,
    x_max: float,
    y_min: float,
    y_max: float,
    scale: float,
    max_depth: int = 12,
    tile_level: int = 4,
    min_quality: float = 0.0,
    langs: list[str] | None = None,
    polygons=None,
    keep_columns: list[str] | None = None,
    c4: bool = False,
    pii: bool = False,
) -> DataFrame:
    """Returns the tiled (or, with ``polygons``, polygon-joined) page
    stream.  ``pages`` may be a static OR streaming DataFrame — the
    plan is identical (every stage stateless).  ``c4``/``pii`` slot
    the C4 line/page filters and PII redaction (textops/clean.py —
    codegen regex chains, stateless) between extraction and the
    gates, so the streaming property is preserved."""
    from pyspark.sql import functions as F

    out = extract_text(pages, "html", result="extracted_text")
    if c4:
        from ..textops.clean import c4_clean

        out = (
            c4_clean(out, text_col="extracted_text")
            .where(F.col("c4_page_keep"))
            .drop("extracted_text", "c4_page_keep")
            .withColumnRenamed("c4_text", "extracted_text")
        )
    if pii:
        from ..textops.clean import pii_scrub

        out = pii_scrub(out, text_col="extracted_text", result="clean_text")
    out = quality_score(out, text_col="extracted_text")
    out = language_id(out, text_col="extracted_text")
    if min_quality > 0.0:
        out = out.where(F.col("quality") >= min_quality)
    if langs:
        out = out.where(F.col("lang_pred").isin(langs))
    out = geotag_points(out, x_min, x_max, y_min, y_max)
    if polygons is not None:
        # the pip join embeds its own tile assignment (filter phase)
        return point_in_polygon_join(
            out, polygons,
            x_min=x_min, x_max=x_max, y_min=y_min, y_max=y_max,
            scale=scale, max_depth=max_depth, tile_level=tile_level,
            keep_columns=keep_columns or ["url"],
        )
    return assign_tiles(
        out, "x", "y",
        x_min=x_min, x_max=x_max, y_min=y_min, y_max=y_max,
        scale=scale, max_depth=max_depth, tile_level=tile_level,
    )
