"""Enhancement + splitting + bibtex — one per-document convert over the oracle.

These are the stateful string algorithms that Spark SQL cannot express
(SURVEY.md §2.10 "UDF surface"): first-occurrence splice with fuzzy map
lookup (E1-E3), the boundary search with page-marker pull-in (T2-T3), and
BibTeX assembly (B). :func:`convert_document` runs them on one assembled
document and its body *is* the oracle functions — one implementation,
every call site — which is what makes the byte-identical contract hold
by construction. Its one caller is ``operators.document.document_row``,
the row builder of both routes.
"""

from __future__ import annotations

from ..oracle.bibtex import PINNED_YEAR, generate_bibtex_from_markdown
from ..oracle.enhance import enhance_image_references, extract_image_context
from ..oracle.splitter import split_markdown_content
from ..oracle.vision import deterministic_describe


def convert_document(markdown: str, mode: str, pages) -> dict:
    """Assembled markdown -> the converted columns of one document.

    ``pages`` is ``(page_markdown, image_ids)`` per page, in page order:
    the placeholder branch splices only if some page has an image
    (hasImages, pdf-to-md.ts:67); the description branch builds its
    per-image context map from it (E4).
    """
    enhanced = markdown
    if mode == "placeholder":
        if any(len(ids) > 0 for _, ids in pages):
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
