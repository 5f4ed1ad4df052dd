"""Document rows — one parse, one row builder, and the fused stage.

The reference converts a document in one call: OCR pages ->
``processMarkdown`` -> enhance -> split/bibtex (pdf-to-md.ts:22-170).
The oracle mirrors that call as ``oracle.pipeline.convert_ocr_result``,
and :func:`document_row` is that function, run on the parser's OCR
struct. Both routes of plans/extract.py parse every payload with
:func:`parse_payload` and build every output row through
:func:`document_row`, so they are byte-identical to the oracle by
construction (tests/test_spark_extract.py checks every output column):

* the fused document stage, :func:`convert_payloads` — every document
  whose payload fits one task (all but the giant-PDF tail) is parsed
  and converted inside ONE ``mapInPandas``, crossing Arrow once each way
  and never crossing a shuffle;
* the giant/re-crawl tail, ``operators.assemble.assemble_documents`` —
  pages parsed chunk by chunk are grouped by url, rebuilt into one OCR
  struct per document and handed to the same builder.

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
from ..oracle.pipeline import convert_ocr_result
from ..pdf.parser import parse_pdf
from ..schema import DOCUMENT_ROW

DOCUMENT_COLUMNS = DOCUMENT_ROW.fieldNames()
MODES = ("placeholder", "descriptions")


def check_mode(mode: str) -> None:
    """Reject an unknown enhancement mode on the driver, before any job."""
    if mode not in MODES:
        raise ValueError(f"unknown enhancement mode {mode!r}")


def document_row(ocr: dict, mode: str) -> dict:
    """The OCR struct of one document (``{"model", "pages": [{"index",
    "markdown", "images": [{"id"}]}]}``) -> every DOCUMENT_ROW column but
    the url and the lineage columns."""
    row = convert_ocr_result(ocr, process_images=mode == "descriptions")
    row["title_validation"] = row.pop("bibtex_title_validation")
    row["err"] = None
    return row


def quarantine_row(lineage: dict, err: str) -> dict:
    """A document that failed to parse: ``err`` set, every converted
    column null (S6 semantics)."""
    return {**dict.fromkeys(DOCUMENT_COLUMNS), **lineage, "err": err}


def parse_payload(kind: str, payload: bytes, page_lo: int = 0) -> tuple[dict | None, str | None]:
    """The one parse of a payload, on both routes: ``(ocr, None)``, or
    ``(None, err)`` when the parser raises (quarantine, S6). Any kind but
    html is a PDF, or a page-range slice of one starting at ``page_lo``."""
    try:
        if kind == "html":
            return html_to_ocr_result(payload), None
        return parse_pdf(payload, index_offset=page_lo), None
    except Exception as exc:  # quarantine (S6)
        return None, f"{type(exc).__name__}: {exc}"


def convert_payloads(df: DataFrame, mode: str) -> DataFrame:
    """(url, kind, html) rows -> one DOCUMENT_ROW row per document.

    A payload that fails to parse becomes a quarantine row. Lineage:
    ``bytes_in`` is the payload size, ``parse_partition`` the task's
    partition and ``parse_wall_ms`` the batch's seconds in
    :func:`parse_payload`, as on the giant route.
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
                t0 = time.monotonic()
                ocr, err = parse_payload(kind, payload)
                parse_s += time.monotonic() - t0
                lineage = {"url": url, "bytes_in": len(payload), "parse_partition": partition_id}
                rows.append(quarantine_row(lineage, err) if ocr is None
                            else {**lineage, **document_row(ocr, mode)})
            wall_ms = int(parse_s * 1000)
            for r in rows:
                r["parse_wall_ms"] = wall_ms
            yield pd.DataFrame(rows, columns=DOCUMENT_COLUMNS)

    return df.select("url", "kind", "html").mapInPandas(gen, schema=DOCUMENT_ROW)
