"""Reference-derived scalar operators as Spark Column expressions.

SQL twins of oracle functions (SURVEY.md §2 marks these SQL-expressible);
each is tested against the Python oracle on an adversarial corpus
(tests/test_refcols.py). Where JS semantics need care:

* JS ``trim`` strips the JS whitespace set — reproduced with an explicit
  character class (Java regex reads the same ``\\uXXXX`` escapes);
* ``regexp_extract`` returns ``''`` on no-match, so presence is tested
  with ``rlike`` first (a matched-but-empty group must NOT fall through);
* Java and JS both treat ``.`` as not matching ``\\n``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..oracle.jsstr import JS_WS_CLASS

_TRIM_RE = f"^[{JS_WS_CLASS}]+|[{JS_WS_CLASS}]+$"


def js_trim_col(col: Column) -> Column:
    """``String.prototype.trim`` as a column (JS whitespace set)."""
    return F.regexp_replace(col, _TRIM_RE, "")


def title_extract_t1(col: Column) -> Column:
    """T1 ``extractTitle`` (markdown-splitter.ts:69-84)."""
    h1_pat = r"(?m)^# ([^\n\r  ]+?)$"
    bib_pat = r"title=\{([^}]*)\}"
    return (
        F.when(col.rlike(h1_pat), js_trim_col(F.regexp_extract(col, h1_pat, 1)))
        .when(col.rlike(bib_pat), js_trim_col(F.regexp_extract(col, bib_pat, 1)))
        .otherwise(F.lit("Untitled_Paper"))
    )


def tag_extract_v2(col: Column) -> Column:
    """V2 ``extractDescriptionFromTags`` (image-prompt-template.ts:60-89):
    trim, take text after ``<img_desc>`` up to ``</img_desc>`` or end,
    trim again; NULL when no opening tag."""
    trimmed = js_trim_col(col)
    pat = r"(?s)<img_desc>(.*?)(?:</img_desc>|$)"
    return F.when(
        F.instr(trimmed, "<img_desc>") > 0,
        js_trim_col(F.regexp_extract(trimmed, pat, 1)),
    )


def year_b1(col: Column, now_year: int = 2026) -> Column:
    """B1 ``extractYearFromDate`` (bibtex-generator.ts:108-119) for
    ISO-leading date strings; pinned current-year fallback."""
    y = F.regexp_extract(col, r"^([0-9]{4})", 1)
    return F.when(
        col.isNotNull() & (y != ""), y
    ).otherwise(F.lit(str(now_year)))


def bibtex_key_b3(
    title: Column, first_author: Column, year: Column
) -> Column:
    """B3 ``generateBibTeXKey`` (bibtex-generator.ts:153-188): last word
    of the first author lowercased + year + first substantive title word
    (>2 chars after [^a-z0-9] strip, not a stop word; fallback first
    word)."""
    author_part = F.lower(F.element_at(F.split(first_author, " "), -1))
    words = F.split(title, " ")
    cleaned = F.transform(
        words, lambda w: F.regexp_replace(F.lower(w), "[^a-z0-9]", "")
    )
    skip = F.array(*[F.lit(w) for w in
                     ["a", "an", "the", "on", "in", "of", "for", "and", "or"]])
    candidates = F.filter(
        cleaned, lambda c: (F.length(c) > 2) & ~F.array_contains(skip, c)
    )
    title_part = F.coalesce(
        F.try_element_at(candidates, F.lit(1)),
        F.try_element_at(cleaned, F.lit(1)),
        F.lit(""),
    )
    return F.concat(author_part, year, title_part)


def image_metrics_o3(col: Column) -> Column:
    """O3 ``calculateImageMetrics`` (content-utils.ts:230-252) as a struct
    (original_image_count, described_image_count, has_processed_images) —
    incl. the colon-variant quirk."""
    md_count = F.regexp_count(col, F.lit(r"!\[.*?\]\(.*?\)")).cast("bigint")
    desc_count = F.regexp_count(
        col, F.lit(r"> \*\*Image Description:\*\*")
    ).cast("bigint")
    return F.struct(
        F.greatest(md_count, desc_count).alias("original_image_count"),
        desc_count.alias("described_image_count"),
        (desc_count > 0).alias("has_processed_images"),
    )


def image_context_e4(page_md: Column, image_id: Column) -> Column:
    """E4 ``extractImageContext`` (markdown-processor.ts:390-408): page
    label from ``id.split('-')[0]`` (the literal ``img`` quirk), page text
    truncated at 1997 + '...' when longer than 2000.

    NOTE: Spark ``length``/``substring`` count code points while JS counts
    UTF-16 units — identical for BMP text; the byte-identical pipeline
    path runs the UTF-16-exact oracle inside its ``mapInPandas`` instead
    (``oracle.pipeline.convert_ocr_result`` via operators/document.py),
    this twin serves SQL-side analytics."""
    first = F.split(image_id, "-").getItem(0)
    label = F.when(first != "", first).otherwise(F.lit("unknown"))
    page_text = F.when(
        F.length(page_md) > 2000,
        F.concat(F.substring(page_md, 1, 1997), F.lit("...")),
    ).otherwise(page_md)
    return F.concat(
        F.lit("This image appears on page "),
        label,
        F.lit(". The surrounding page content follows.\n\n"),
        page_text,
    )


def word_count_t4(col: Column) -> Column:
    """T4 ``countWords`` (markdown-splitter.ts:326-332)."""
    return F.size(
        F.filter(
            F.split(col, f"[{JS_WS_CLASS}]+"), lambda w: F.length(w) > 0
        )
    ).cast("bigint")
