"""Page reassembly of the giant/re-crawl tail — one groupBy, one Python pass.

The reference's ``processMarkdown`` (markdown-processor.ts:17-77) is the
ordered reassembly after per-page map work. On the tail (documents parsed
chunk by chunk, operators/parse.chunked_pages) the Spark shape is:

* a SQL ``groupBy(url)`` — the tail's only ENSURE_REQUIREMENTS shuffle —
  collecting each document's pages as ``sort_array(collect_list(struct(
  page_index, page_markdown, image_ids)))`` (page_index leads the struct,
  so the sort is page order; skew-split page ranges reassemble exactly,
  SURVEY.md §2.3), with the parse lineage aggregated per url;
* one ``mapInPandas`` that rebuilds each document's OCR struct from its
  sorted pages and hands it to ``operators.document.document_row`` — the
  oracle's own ``convert_ocr_result``, and the fused stage's row
  builder, so both routes agree byte for byte by construction.

A single groupBy handles good and quarantined documents alike:
``collect_list`` skips the NULL structs of error rows and of the no-page
row of an empty document (which converts to ``markdown ''`` and
``page_count`` 0 like the oracle's). An error row carries its chunk's
first page as ``page_index``, so ``min_by`` picks the first failing
chunk's ``err`` — the first failing page's, the error a whole-document
parse raises. The parse subtree is evaluated exactly once.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schema import DOCUMENT_ROW
from .document import DOCUMENT_COLUMNS, check_mode, document_row, quarantine_row


def assemble_documents(pages_df: DataFrame, mode: str = "placeholder") -> DataFrame:
    """PAGE_ROW rows -> one DOCUMENT_ROW row per url.

    Lineage is the parse's, per document: the payload size
    (``max(bytes_in)``), the lowest parse partition and the slowest
    chunk batch's wall time.
    """
    check_mode(mode)
    grouped = pages_df.groupBy("url").agg(
        # error rows and the no-page row of an empty document (page_index
        # -1) give no page struct, but the url still forms a group
        F.sort_array(F.collect_list(F.when(
            F.col("err").isNull() & (F.col("page_index") >= 0),
            F.struct("page_index", "page_markdown", "image_ids"),
        ))).alias("pages"),
        F.first("model", ignorenulls=True).alias("model"),
        F.min_by("err", F.when(F.col("err").isNotNull(), F.col("page_index"))).alias("err"),
        F.max("bytes_in").alias("bytes_in"),
        F.min("parse_partition").alias("parse_partition"),
        F.max("parse_wall_ms").alias("parse_wall_ms"),
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for url, pages, model, err, nbytes, partition, wall_ms in zip(
                batch["url"], batch["pages"], batch["model"], batch["err"],
                batch["bytes_in"], batch["parse_partition"], batch["parse_wall_ms"],
            ):
                lineage = {"url": url, "bytes_in": nbytes,
                           "parse_partition": partition, "parse_wall_ms": wall_ms}
                if err is not None:
                    rows.append(quarantine_row(lineage, err))
                    continue
                ocr = {"model": model, "pages": [
                    {"index": p["page_index"], "markdown": p["page_markdown"],
                     "images": [{"id": i} for i in p["image_ids"]]}
                    for p in pages
                ]}
                rows.append({**lineage, **document_row(ocr, mode)})
            yield pd.DataFrame(rows, columns=DOCUMENT_COLUMNS)

    return grouped.mapInPandas(gen, schema=DOCUMENT_ROW)
