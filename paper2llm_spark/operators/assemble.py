"""Page assembly — A1-A3 in pure Spark SQL (SURVEY.md §2.3).

The reference's ``processMarkdown`` (markdown-processor.ts:17-77) is the
ordered reassembly after per-page map work. Spark shape:

* per-page scalar ops are narrow (map-side): ``\\n{3,}`` collapse,
  image-ref extraction — whole-stage-codegen expressions, no UDF;
* reassembly is the groupBy-sort: ``collect_list(struct(page_index,...))``
  + ``array_sort`` (page_index is the leading struct field), then a
  ``transform``-with-index + ``concat_ws('')`` interleave that reproduces
  the exact separator/heading semantics (separator before every array
  position > 0, heading number from the page's own index + 1 — the §2.3
  ordering note, so skew-split page ranges reassemble byte-identically).

Quarantined rows (err != null) bypass assembly and surface on the side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

PAGE_SEPARATOR = "\n\n---\n\n"  # markdown-processor.ts:45
IMG_REF_PATTERN = r"!\[.*?\]\((.*?)\)"  # :34


def collapsed_markdown(col: Column) -> Column:
    """normalizeLineBreaks (:54-56) — per page, before the join."""
    return F.regexp_replace(col, r"\n{3,}", "\n\n")


def image_refs(col: Column) -> Column:
    """extractImageReferences (:33-41): group 1 of every match, empty
    captures dropped (JS truthiness)."""
    return F.filter(
        F.regexp_extract_all(col, F.lit(IMG_REF_PATTERN), 1),
        lambda x: x != "",
    )


def assemble_documents(pages_df: DataFrame) -> DataFrame:
    """PAGE_ROW rows -> one row per url with the assembled document.

    Output: url, err (non-null => the document is quarantined), markdown,
    image_references, page_count, model, pages_light (sorted
    array<struct<page_index, page_markdown, image_ids>> feeding the
    enhancement stage's context build), has_images.

    A single groupBy handles both good and quarantined documents —
    ``collect_list`` skips the NULL structs of error rows (and of the
    no-page row of an empty document, which assembles to ``markdown ''``
    and ``page_count`` 0 like the oracle's), and ``max(err)``
    surfaces any chunk failure for the url — so the parse subtree is
    evaluated exactly once (no second pass for errors).
    """
    per_page = pages_df.select(
        "url",
        # quarantine rows and the no-page row of an empty document carry
        # page_index -1: no page struct, but the url still forms a group
        F.when(
            F.col("page_index") >= 0,
            F.struct(
                F.col("page_index").alias("page_index"),
                collapsed_markdown(F.col("page_markdown")).alias("collapsed"),
                image_refs(F.col("page_markdown")).alias("refs"),
                F.col("page_markdown").alias("raw_markdown"),
                F.col("images").alias("images"),
            ),
        ).alias("p"),
        "model",
        "err",
        "bytes_in",
        "parse_partition",
        "parse_wall_ms",
    )

    grouped = per_page.groupBy("url").agg(
        F.array_sort(F.collect_list("p")).alias("pages"),
        F.first("model", ignorenulls=True).alias("model"),
        F.max("err").alias("err"),
        # lineage carriers: parse cost attributed per document
        F.max("bytes_in").alias("bytes_in"),
        F.min("parse_partition").alias("parse_partition"),
        F.max("parse_wall_ms").alias("parse_wall_ms"),
    )

    pages = F.col("pages")
    markdown = F.concat_ws(
        "",
        F.transform(
            pages,
            lambda p, i: F.concat(
                F.when(i > 0, F.lit(PAGE_SEPARATOR)).otherwise(F.lit("")),
                F.lit("#### Page "),
                (p["page_index"] + 1).cast("string"),
                F.lit("\n\n"),
                p["collapsed"],
            ),
        ),
    )

    ok = F.col("err").isNull()
    return grouped.select(
        "url",
        "err",
        F.when(ok, markdown).alias("markdown"),
        F.when(
            ok, F.flatten(F.transform(pages, lambda p: p["refs"]))
        ).alias("image_references"),
        F.when(ok, F.size(pages)).alias("page_count"),
        "model",
        F.when(
            ok,
            F.transform(
                pages,
                lambda p: F.struct(
                    p["page_index"].alias("page_index"),
                    p["raw_markdown"].alias("page_markdown"),
                    F.transform(p["images"], lambda im: im["id"]).alias("image_ids"),
                ),
            ),
        ).alias("pages_light"),
        F.coalesce(
            F.exists(pages, lambda p: F.size(p["images"]) > 0), F.lit(False)
        ).alias("has_images"),
        "bytes_in",
        "parse_partition",
        "parse_wall_ms",
    )
