"""Document rows — one row builder for both routes, and the fused stage.

The reference converts a document in one call: OCR pages ->
``processMarkdown`` -> enhance -> split/bibtex (pdf-to-md.ts:22-170,
mirrored by ``oracle.pipeline.convert_ocr_result``). :func:`document_row`
is that call after the parse: the oracle's own ``process_markdown``, then
``operators.enhance.convert_document``. Both routes of plans/extract.py
build every output row through it, so they are byte-identical by
construction (tests/test_spark_extract.py checks every output column):

* the fused document stage, :func:`convert_payloads` — every document
  whose payload fits one task (all but the giant-PDF tail) is parsed
  and converted inside ONE ``mapInPandas``, crossing Arrow once each way
  and never crossing a shuffle;
* the giant/re-crawl tail, ``operators.assemble.assemble_documents`` —
  pages parsed chunk by chunk are grouped by url and handed to the same
  builder.

Why fuse: each Python task pays a fixed set-up cost before it runs a
row (pyspark's worker set-up calls ``importlib.invalidate_caches()``,
which re-reads ``pyspark.zip`` once per zip importer), so for small
documents the plumbing around the UDF bodies — the number of Python
tasks and of serial Python stages — outweighs the UDF work itself.
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ..html_extract import html_to_ocr_result
from ..oracle.assemble import process_markdown
from ..pdf.parser import parse_pdf
from ..schema import DOCUMENT_ROW
from .enhance import convert_document

DOCUMENT_COLUMNS = DOCUMENT_ROW.fieldNames()
MODES = ("placeholder", "descriptions")


def check_mode(mode: str) -> None:
    """Reject an unknown enhancement mode on the driver, before any job."""
    if mode not in MODES:
        raise ValueError(f"unknown enhancement mode {mode!r}")


def document_row(pages, model, mode: str) -> dict:
    """Pages of one document, in page order -> its converted columns.

    ``pages`` is ``(index, markdown, image_ids)`` per page. Returns every
    DOCUMENT_ROW column but the url and the lineage columns.
    """
    assembled = process_markdown({
        "model": model,
        "pages": [{"index": index, "markdown": md} for index, md, _ in pages],
    })
    row = convert_document(assembled["markdown"], mode, [(md, ids) for _, md, ids in pages])
    row.update(
        page_count=assembled["page_count"],
        image_references=assembled["image_references"],
        model=assembled["model"],
        err=None,
    )
    return row


def quarantine_row(lineage: dict, err: str) -> dict:
    """A document that failed to parse: ``err`` set, every converted
    column null (S6 semantics)."""
    return {**dict.fromkeys(DOCUMENT_COLUMNS), **lineage, "err": err}


def convert_payloads(df: DataFrame, mode: str) -> DataFrame:
    """(url, kind, html) rows -> one DOCUMENT_ROW row per document.

    A payload that fails to parse becomes a quarantine row. Lineage:
    ``bytes_in`` is the payload size, ``parse_partition`` the task's
    partition and ``parse_wall_ms`` the time the batch spent parsing, as
    on the giant route.
    """
    check_mode(mode)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        tc = TaskContext.get()
        partition_id = tc.partitionId() if tc else -1

        for batch in batches:
            rows = []
            parse_s = 0.0
            for url, kind, payload in zip(batch["url"], batch["kind"], batch["html"]):
                payload = bytes(payload)
                lineage = {"url": url, "bytes_in": len(payload), "parse_partition": partition_id}
                t0 = time.monotonic()
                try:
                    ocr = html_to_ocr_result(payload) if kind == "html" else parse_pdf(payload)
                except Exception as exc:  # quarantine (S6)
                    rows.append(quarantine_row(lineage, f"{type(exc).__name__}: {exc}"))
                    continue
                finally:
                    parse_s += time.monotonic() - t0
                pages = [
                    (p["index"], p["markdown"], [im["id"] for im in p["images"]])
                    for p in ocr["pages"]
                ]
                rows.append({**lineage, **document_row(pages, ocr["model"], mode)})
            wall_ms = int(parse_s * 1000)
            for r in rows:
                r["parse_wall_ms"] = wall_ms
            yield pd.DataFrame(rows, columns=DOCUMENT_COLUMNS)

    return df.select("url", "kind", "html").mapInPandas(gen, schema=DOCUMENT_ROW)
