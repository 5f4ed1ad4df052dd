"""Parse stage — S4 replacement: binary payload -> page rows.

The per-page route of the giant/re-crawl tail, SURVEY.md §3.4 / §4
"Skew: giant PDFs": two ``mapInPandas`` stages with an explicit
by-number repartition between them:

1. :func:`plan_chunks` — cheap page-count scan; documents above
   ``chunk_pages`` split into page-range chunk rows. AQE cannot see skew
   inside a UDF, so the split is explicit; payload bytes are duplicated
   only for the (rare) giant documents that need spreading.
2. :func:`parse_chunks` — the real parse (PDF layout parse or HTML
   boilerplate strip) producing one row per page with only what
   conversion reads (index, markdown, image ids), carrying per-partition
   lineage measurements (partition id, wall ms, bytes in).

``operators.assemble.assemble_documents`` then groups the pages by url
and converts each document. The pipeline (plans/extract.py) sends every
other document through the fused document stage (operators/document.py)
instead, which parses and converts in one Python pass;
:func:`parse_pages` keeps both routes at page granularity for per-layer
measurement.

Parse failures become ``err`` rows (quarantine, S6 semantics:
ocr-service.ts:468-532 maps errors to values instead of crashing the
run); they never kill the job.
"""

from __future__ import annotations

import time
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..html_extract import html_to_ocr_result
from ..pdf.parser import count_pages, parse_pdf
from ..schema import CHUNK_ROW, PAGE_ROW

DEFAULT_CHUNK_PAGES = 16


def plan_chunks(df: DataFrame, chunk_pages: int = DEFAULT_CHUNK_PAGES) -> DataFrame:
    """(url, kind, html) -> chunk rows; page_lo/page_hi inclusive, or
    (0, -1) meaning "whole document" (html / small pdf). ``bytes_in`` is
    the whole document's payload size on every chunk row, so lineage
    reads the same whichever route a document took.

    Split documents emit BYTE-SLICED chunk payloads (kind ``pdf_slice``,
    pdf.slicer): each chunk row carries only its own pages' objects, so
    the spread shuffle moves O(payload) total bytes instead of
    O(payload x n_chunks) — the difference between ~2 GB and ~250 GB on
    one 2000-page document. If slicing raises (payload the slicer can't
    take apart), the planner falls back to full-payload chunk rows:
    correctness never depends on the slicer, only shuffle volume does.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..pdf.slicer import PdfSlicer

        for pdf_batch in batches:
            out: dict[str, list[Any]] = {
                "url": [], "kind": [], "page_lo": [], "page_hi": [],
                "n_pages": [], "html": [], "bytes_in": [],
            }

            def emit(url, kind, lo, hi, n, chunk, nbytes):
                out["url"].append(url)
                out["kind"].append(kind)
                out["page_lo"].append(lo)
                out["page_hi"].append(hi)
                out["n_pages"].append(n)
                out["html"].append(chunk)
                out["bytes_in"].append(nbytes)

            for url, kind, payload in zip(
                pdf_batch["url"], pdf_batch["kind"], pdf_batch["html"]
            ):
                payload = bytes(payload)
                nbytes = len(payload)
                if kind != "pdf":
                    emit(url, kind, 0, -1, 1, payload, nbytes)
                    continue
                try:
                    n = count_pages(payload)
                except Exception:
                    n = 0  # parse stage will quarantine it
                if n > chunk_pages:
                    try:
                        slicer = PdfSlicer(payload)  # ONE object scan per doc
                    except Exception:
                        slicer = None
                    for lo in range(0, n, chunk_pages):
                        hi = min(lo + chunk_pages, n) - 1
                        try:
                            if slicer is None:
                                raise ValueError("unsliceable payload")
                            emit(url, "pdf_slice", lo, hi, n,
                                 slicer.slice(lo, hi), nbytes)
                        except Exception:
                            emit(url, kind, lo, hi, n, payload, nbytes)
                else:
                    emit(url, kind, 0, -1, n, payload, nbytes)
            yield pd.DataFrame(out)

    return df.select("url", "kind", "html").mapInPandas(gen, schema=CHUNK_ROW)


def parse_chunks(df: DataFrame) -> DataFrame:
    """Chunk rows -> page rows (PAGE_ROW schema). Pure function of the
    payload; task retries are safe (idempotent stage, SURVEY.md §4).

    A document that parses to no pages (a PDF whose ``/Kids`` is empty)
    emits one row with ``page_index`` -1 and no ``err``, so the url
    survives reassembly as the oracle's empty document."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        tc = TaskContext.get()
        partition_id = tc.partitionId() if tc else -1

        for pdf_batch in batches:
            t0 = time.monotonic()
            rows: list[dict[str, Any]] = []

            def no_page(url, nbytes, model, err):
                rows.append({
                    "url": url, "page_index": -1, "page_markdown": None,
                    "image_ids": None, "model": model,
                    "err": err, "bytes_in": nbytes,
                    "parse_partition": partition_id, "parse_wall_ms": 0,
                })

            for url, kind, lo, hi, payload, nbytes in zip(
                pdf_batch["url"], pdf_batch["kind"], pdf_batch["page_lo"],
                pdf_batch["page_hi"], pdf_batch["html"], pdf_batch["bytes_in"],
            ):
                payload = bytes(payload)
                nbytes = int(nbytes)
                try:
                    if kind == "html":
                        ocr = html_to_ocr_result(payload)
                    elif kind == "pdf_slice":
                        # byte-sliced chunk: pages restart at 0 inside the
                        # slice; restore document-absolute indexes
                        ocr = parse_pdf(payload, index_offset=int(lo))
                    elif hi >= 0:
                        ocr = parse_pdf(payload, int(lo), int(hi))
                    else:
                        ocr = parse_pdf(payload)
                except Exception as exc:  # quarantine (S6)
                    no_page(url, nbytes, None, f"{type(exc).__name__}: {exc}")
                    continue
                if not ocr["pages"] and hi < 0:
                    no_page(url, nbytes, ocr["model"], None)
                for page in ocr["pages"]:
                    rows.append({
                        "url": url,
                        "page_index": page["index"],
                        "page_markdown": page["markdown"],
                        "image_ids": [im["id"] for im in page["images"]],
                        "model": ocr["model"],
                        "err": None,
                        "bytes_in": nbytes,
                        "parse_partition": partition_id,
                        "parse_wall_ms": 0,
                    })
            wall_ms = int((time.monotonic() - t0) * 1000)
            for r in rows:
                r["parse_wall_ms"] = wall_ms
            yield pd.DataFrame(rows, columns=PAGE_ROW.fieldNames())

    return df.mapInPandas(gen, schema=PAGE_ROW)


DEFAULT_GIANT_BYTES = 2_000_000


def chunked_pages(
    df: DataFrame,
    chunk_pages: int = DEFAULT_CHUNK_PAGES,
    spread_partitions: int | None = None,
) -> DataFrame:
    """Page rows of the per-page route, for the documents routed to it
    (giant payloads and re-crawled urls): the page-range planner, then an
    explicit spread repartition on (url, page_lo) so one 2000-page PDF
    doesn't pin a single task — AQE can't see skew inside a UDF, so this
    split is explicit (SURVEY.md §4).

    A url on more than one input row is one document: its latest crawl
    (the greatest ``warc_ts``, nulls oldest; ties broken by the payload's
    ``xxhash64``), as when each crawl overwrites the last. The ``max_by``
    aggregate that keeps it runs on the ``repartition("url")`` below,
    adding no exchange.

    The SQL-only ``repartition("url")`` on the input ends the scan stage
    before any Python node, so scan tasks start no Python worker. The
    spread is a repartition BY NUMBER (default: the context's
    ``defaultParallelism``), which AQE never coalesces — a by-column
    repartition of a few MB of chunks collapses into one task.
    plans/extract.py plans this route only when its routing query sent
    a url here, so an extraction with no giant or re-crawled document
    starts none of these stages.
    """
    latest = F.max_by(F.struct("kind", "html"), F.struct("warc_ts", F.xxhash64("html")))
    docs = df.repartition("url").groupBy("url").agg(latest.alias("doc")).select(
        "url", "doc.kind", "doc.html"
    )
    chunks = plan_chunks(docs, chunk_pages)
    if spread_partitions is None:
        spread_partitions = df.sparkSession.sparkContext.defaultParallelism
    return parse_chunks(chunks.repartition(spread_partitions, "url", "page_lo"))


def parse_pages(
    df: DataFrame,
    chunk_pages: int = DEFAULT_CHUNK_PAGES,
    spread_partitions: int | None = None,
    giant_bytes: int = DEFAULT_GIANT_BYTES,
) -> DataFrame:
    """Size-gated two-path parse stage, one row per page.

    * **Small documents** (payload <= ``giant_bytes``, the overwhelming
      majority) parse directly — no payload shuffle.
    * **Giant documents** (heavy tail) go through :func:`chunked_pages`.

    The gate is a pure SQL predicate (``octet_length``), so Catalyst
    pushes it into both branch scans. Page indexes stay
    document-absolute either way, making the reassembly sort identical
    across paths (tested byte-identical).
    """
    small = df.filter(F.octet_length("html") <= giant_bytes).select(
        "url",
        "kind",
        F.lit(0).alias("page_lo"),
        F.lit(-1).alias("page_hi"),
        F.lit(-1).alias("n_pages"),
        "html",
        F.octet_length("html").cast("long").alias("bytes_in"),
    )
    giant = df.filter(F.octet_length("html") > giant_bytes)
    return parse_chunks(small).unionByName(
        chunked_pages(giant, chunk_pages, spread_partitions)
    )
