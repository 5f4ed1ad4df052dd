"""Enhancement + splitting + bibtex — one per-document convert over the oracle.

These are the stateful string algorithms that Spark SQL cannot express
(SURVEY.md §2.10 "UDF surface"): first-occurrence splice with fuzzy map
lookup (E1-E3), the boundary search with page-marker pull-in (T2-T3), and
BibTeX assembly (B). :func:`convert_document` runs them on one assembled
document and its body *is* the oracle functions — one implementation,
every call site — which is what makes the byte-identical contract hold
by construction. The fused document stage (operators/document.py) calls
it per document; :func:`convert_udf` wraps it as an Arrow pandas UDF for
the giant-document route, which reassembles in SQL.
"""

from __future__ import annotations

import functools

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..oracle.bibtex import PINNED_YEAR, generate_bibtex_from_markdown
from ..oracle.enhance import enhance_image_references, extract_image_context
from ..oracle.splitter import split_markdown_content
from ..oracle.vision import deterministic_describe
from ..schema import CONVERTED

CONVERT_FIELDS = CONVERTED.fieldNames()


def convert_document(markdown, mode: str, has_images: bool, pages=()) -> dict:
    """Assembled markdown -> the converted columns of one document.

    ``pages`` is ``(page_markdown, image_ids)`` per page, in page order;
    only the description branch reads it (the per-image context map,
    E4). ``markdown`` None (a quarantined document) maps to all-None.
    """
    if markdown is None:
        return dict.fromkeys(CONVERT_FIELDS)
    enhanced = markdown
    if mode == "placeholder":
        if has_images:
            enhanced = enhance_image_references(
                markdown, {}, replace_images_with_placeholder=True
            )
    elif mode == "descriptions":
        descriptions: dict[str, str] = {}
        for page_md, ids in pages:
            for image_id in ids:
                context = extract_image_context(page_md, image_id)
                descriptions[image_id] = deterministic_describe(image_id, context)
        if descriptions:
            enhanced = enhance_image_references(markdown, descriptions)
    else:
        raise ValueError(f"unknown enhancement mode {mode!r}")
    s = split_markdown_content(enhanced)
    r = generate_bibtex_from_markdown(enhanced, now_year=PINNED_YEAR)
    v = r["title_validation"]
    return {
        "markdown": enhanced,
        "main_content": s["main_content"],
        "backmatter": s["backmatter"],
        "appendix": s["appendix"],
        "title": s["title"],
        "bibtex": r["bibtex"],
        "bibtex_key": r["entry"]["key"],
        "bibtex_formatted": r["formatted_entry"],
        "title_validation": {
            "matches": v["matches"],
            "original_title": v["original_title"],
            "bibtex_title": v["bibtex_title"],
            "normalized_original": v["normalized_original"],
            "normalized_bibtex": v["normalized_bibtex"],
        },
    }


def _convert_placeholder(markdown: pd.Series, has_images: pd.Series) -> pd.DataFrame:
    return pd.DataFrame(
        [convert_document(md, "placeholder", has) for md, has in zip(markdown, has_images)],
        columns=CONVERT_FIELDS,
    )


def _convert_descriptions(markdown: pd.Series, pages_light: pd.Series) -> pd.DataFrame:
    def page_images(pages):
        # Arrow hands array columns to pandas as numpy arrays — no truthiness
        return [
            (p["page_markdown"], p["image_ids"] if p["image_ids"] is not None else [])
            for p in (pages if pages is not None else [])
        ]

    return pd.DataFrame(
        [
            convert_document(md, "descriptions", True, page_images(pages))
            for md, pages in zip(markdown, pages_light)
        ],
        columns=CONVERT_FIELDS,
    )


# pandas_udf() needs an active SparkSession to resolve return types, so the
# UDF objects are created lazily (and cached) at first use.

@functools.lru_cache(maxsize=None)
def convert_placeholder_udf():
    return pandas_udf(_convert_placeholder, CONVERTED)


@functools.lru_cache(maxsize=None)
def convert_descriptions_udf():
    return pandas_udf(_convert_descriptions, CONVERTED)


def convert_udf(mode: str) -> Column:
    """Single-hop enhance+split+bibtex result struct over assembled
    documents (the giant-document route of plans/extract.py)."""
    if mode == "placeholder":
        return convert_placeholder_udf()(F.col("markdown"), F.col("has_images"))
    if mode == "descriptions":
        return convert_descriptions_udf()(F.col("markdown"), F.col("pages_light"))
    raise ValueError(f"unknown enhancement mode {mode!r}")
