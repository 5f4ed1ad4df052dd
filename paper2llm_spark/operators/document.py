"""Fused document stage — payload to extracted row in one Python pass.

The reference converts a document in one call: OCR pages ->
``processMarkdown`` -> enhance -> split/bibtex (pdf-to-md.ts:22-170,
mirrored by ``oracle.pipeline.convert_ocr_result``). Every document whose
payload fits one task (all but the giant-PDF tail, see
operators/parse.chunked_pages) does exactly that here, inside ONE
``mapInPandas``: parse -> ``oracle.assemble.process_markdown`` ->
``operators.enhance.convert_document``. The document crosses Arrow once
each way and never crosses a shuffle.

Why fuse: each Python task pays a fixed set-up cost before it runs a
row (pyspark's worker set-up calls ``importlib.invalidate_caches()``,
which re-reads ``pyspark.zip`` once per zip importer), so for small
documents the plumbing around the UDF bodies — the number of Python
tasks and of serial Python stages — outweighs the UDF work itself.

Reassembly is the oracle's own ``process_markdown`` and conversion is
the giant route's ``convert_document``, so both routes are byte-identical
by construction (tests/test_spark_extract.py checks every output column).
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


def convert_payloads(df: DataFrame, mode: str) -> DataFrame:
    """(url, kind, html) rows -> one DOCUMENT_ROW row per document.

    A payload that fails to parse becomes a quarantine row (``err`` set,
    every converted column null; S6 semantics). Lineage: ``bytes_in`` is
    the payload size, ``parse_partition`` the task's partition and
    ``parse_wall_ms`` the time the batch spent parsing, as on the giant
    route.
    """
    if mode not in ("placeholder", "descriptions"):
        raise ValueError(f"unknown enhancement mode {mode!r}")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        tc = TaskContext.get()
        partition_id = tc.partitionId() if tc else -1

        for batch in batches:
            rows = []
            parse_s = 0.0
            for url, kind, payload in zip(batch["url"], batch["kind"], batch["html"]):
                payload = bytes(payload)
                row = {"url": url, "bytes_in": len(payload), "parse_partition": partition_id}
                t0 = time.monotonic()
                try:
                    ocr = html_to_ocr_result(payload) if kind == "html" else parse_pdf(payload)
                except Exception as exc:  # quarantine (S6)
                    rows.append({**dict.fromkeys(DOCUMENT_COLUMNS), **row,
                                 "err": f"{type(exc).__name__}: {exc}"})
                    continue
                finally:
                    parse_s += time.monotonic() - t0
                pages = ocr["pages"]
                assembled = process_markdown(ocr)
                # hasImages = some page has a non-empty images array (pdf-to-md.ts:67)
                has_images = any(len(p["images"]) > 0 for p in pages)
                page_images = (
                    [(p["markdown"], [im["id"] for im in p["images"]]) for p in pages]
                    if mode == "descriptions" else ()
                )
                row.update(convert_document(assembled["markdown"], mode, has_images, page_images))
                row.update(
                    page_count=assembled["page_count"],
                    image_references=assembled["image_references"],
                    model=assembled["model"],
                    err=None,
                )
                rows.append(row)
            wall_ms = int(parse_s * 1000)
            for r in rows:
                r["parse_wall_ms"] = wall_ms
            yield pd.DataFrame(rows, columns=DOCUMENT_COLUMNS)

    return df.select("url", "kind", "html").mapInPandas(gen, schema=DOCUMENT_ROW)
