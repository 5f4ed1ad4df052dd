"""Whole-document oracle — the deterministic core of ``convertPdfToMarkdown``.

Transliterates the pure part of ``src/core/pdf-to-md.ts:22-170`` (reference
repo lacerbi/paper2llm): OCR result -> assembled markdown -> image
enhancement (description branch fed by the deterministic describe
substitute, or the placeholder branch) -> sections/bibtex/export columns.

The canonical configuration is the web app's only one (App.tsx:273-281):
``addPageNumbers, addPageSeparators, normalizeLineBreaks,
extractImageReferences = true; keepOriginalImages = false``; the branch
is selected by ``process_images`` (vision model None => placeholder,
pdf-to-md.ts:113-133).
"""

from __future__ import annotations

from typing import Any

from .assemble import process_markdown
from .bibtex import PINNED_YEAR, generate_bibtex_from_markdown
from .enhance import build_image_context_map, enhance_image_references
from .splitter import split_markdown_content
from .vision import describe_images


def convert_ocr_result(
    ocr_result: dict[str, Any],
    *,
    process_images: bool = False,
    now_year: int = PINNED_YEAR,
) -> dict[str, Any]:
    """OCR struct -> final per-url result dict (golden-output generator).

    Mirrors pdf-to-md.ts step order: processMarkdown (:58-61), hasImages
    check on the images arrays (:67), describe+enhance or
    placeholder-enhance (:69-133), then the sectioning/bibtex surface the
    web app derives from the result (markdown-splitter, bibtex-generator,
    content-utils).

    The keys are exactly the converted columns of ``schema.DOCUMENT_ROW``
    (``bibtex_title_validation`` is its ``title_validation``): the
    pipeline's row builder, ``operators.document.document_row``, is this
    function.
    """
    md_result = process_markdown(ocr_result)

    # hasImages = some page has a non-empty images array (pdf-to-md.ts:67)
    has_images = any(len(p["images"]) > 0 for p in ocr_result["pages"])

    enhanced = md_result["markdown"]
    if has_images:
        if process_images:
            all_image_ids = [
                img["id"] for p in ocr_result["pages"] for img in p["images"]
            ]  # flatMap (:84)
            context_map = build_image_context_map(ocr_result["pages"])  # :87
            descriptions = describe_images(all_image_ids, context_map)  # :90
            enhanced = enhance_image_references(
                md_result["markdown"], descriptions, keep_original_images=False
            )  # :108-112
        else:
            enhanced = enhance_image_references(
                md_result["markdown"], {}, replace_images_with_placeholder=True
            )  # :125-133

    sections = split_markdown_content(enhanced)
    bibtex = generate_bibtex_from_markdown(enhanced, now_year=now_year)

    return {
        "markdown": enhanced,
        "image_references": md_result["image_references"],
        "page_count": md_result["page_count"],
        "model": md_result["model"],
        "main_content": sections["main_content"],
        "backmatter": sections["backmatter"],
        "appendix": sections["appendix"],
        "title": sections["title"],
        "bibtex": bibtex["bibtex"],
        "bibtex_key": bibtex["entry"]["key"],
        "bibtex_formatted": bibtex["formatted_entry"],
        "bibtex_title_validation": bibtex["title_validation"],
    }
