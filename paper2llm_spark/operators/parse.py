"""Parse stage — S4 replacement: binary payload -> page rows.

The per-page route of the giant/re-crawl tail, SURVEY.md §3.4 / §4
"Skew: giant PDFs": two ``mapInPandas`` stages with an explicit
by-number repartition between them:

1. :func:`plan_chunks` — one object scan per PDF (pdf.slicer) reads
   the parser's own page list; a PDF with more than ``chunk_pages``
   pages becomes one byte-sliced chunk row per page range, every other
   document one whole-payload row. AQE cannot see skew inside a UDF, so
   the split is explicit; each page's bytes are shipped once.
2. :func:`parse_chunks` — the real parse, the fused stage's own
   ``operators.document.parse_payload``, one call per chunk, producing
   one row per page with only what conversion reads (index, markdown,
   image ids), carrying per-partition lineage measurements (partition
   id, parse ms, bytes in).

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

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schema import CHUNK_ROW, PAGE_ROW
from .document import parse_payload

DEFAULT_CHUNK_PAGES = 16


def plan_chunks(df: DataFrame, chunk_pages: int = DEFAULT_CHUNK_PAGES) -> DataFrame:
    """(url, kind, html) -> chunk rows, each parsed from its first page
    ``page_lo``. ``bytes_in`` is the whole document's payload size on
    every chunk row, so lineage reads the same whichever route a document
    took.

    A PDF is split by the parser's own page list (``PdfSlicer.page_nums``,
    read from ``/Kids`` as ``parse_pdf`` reads it): with more than
    ``chunk_pages`` pages it becomes one BYTE-SLICED row (kind
    ``pdf_slice``, pdf.slicer) per page range, each carrying only its own
    pages' objects, so the spread shuffle moves O(payload) total bytes
    instead of O(payload x n_chunks). Every other document — html, a
    small PDF, or one the slicer cannot take apart — is one whole-payload
    row (``page_lo`` 0), parsed exactly as the fused stage parses it.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..pdf.slicer import PdfSlicer

        for pdf_batch in batches:
            rows = []
            for url, kind, payload in zip(
                pdf_batch["url"], pdf_batch["kind"], pdf_batch["html"]
            ):
                payload = bytes(payload)
                chunks = [(kind, 0, payload)]
                if kind == "pdf":
                    try:
                        slicer = PdfSlicer(payload)  # ONE object scan per doc
                        n = len(slicer.page_nums)
                        if n > chunk_pages:
                            chunks = [
                                ("pdf_slice", lo,
                                 slicer.slice(lo, min(lo + chunk_pages, n) - 1))
                                for lo in range(0, n, chunk_pages)
                            ]
                    except Exception:
                        pass  # one whole-payload row, parsed as the fused stage parses it
                rows += [(url, k, lo, chunk, len(payload)) for k, lo, chunk in chunks]
            yield pd.DataFrame(rows, columns=CHUNK_ROW.fieldNames())

    return df.select("url", "kind", "html").mapInPandas(gen, schema=CHUNK_ROW)


def parse_chunks(df: DataFrame) -> DataFrame:
    """Chunk rows -> page rows (PAGE_ROW schema). Pure function of the
    payload; task retries are safe (idempotent stage, SURVEY.md §4).

    Each chunk is one ``operators.document.parse_payload`` call with the
    chunk's ``page_lo`` as its first page index, so page indexes are
    document-absolute. A chunk with no page emits one row: a parse error
    carries its ``page_lo`` as ``page_index`` and the error in ``err``
    (reassembly reports the first failing chunk's error, which is the
    first failing page's, as a whole-document parse does); an empty
    document (a PDF whose ``/Kids`` is empty) carries ``page_index`` -1
    and the parser's ``model``, so the url survives reassembly as the
    oracle's empty document."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        tc = TaskContext.get()
        partition_id = tc.partitionId() if tc else -1

        for batch in batches:
            rows = []
            parse_s = 0.0
            for url, kind, lo, payload, nbytes in zip(
                batch["url"], batch["kind"], batch["page_lo"], batch["html"], batch["bytes_in"],
            ):
                t0 = time.monotonic()
                ocr, err = parse_payload(kind, bytes(payload), int(lo))
                parse_s += time.monotonic() - t0
                lineage = {"url": url, "bytes_in": int(nbytes), "parse_partition": partition_id}
                if ocr is None or not ocr["pages"]:
                    rows.append({**lineage, "page_index": -1 if err is None else int(lo),
                                 "page_markdown": None, "image_ids": None,
                                 "model": None if ocr is None else ocr["model"], "err": err})
                    continue
                for page in ocr["pages"]:
                    rows.append({**lineage, "page_index": page["index"],
                                 "page_markdown": page["markdown"],
                                 "image_ids": [im["id"] for im in page["images"]],
                                 "model": ocr["model"], "err": None})
            wall_ms = int(parse_s * 1000)
            for r in rows:
                r["parse_wall_ms"] = wall_ms
            yield pd.DataFrame(rows, columns=PAGE_ROW.fieldNames())

    return df.mapInPandas(gen, schema=PAGE_ROW)


DEFAULT_GIANT_BYTES = 2_000_000


def chunked_pages(df: DataFrame, chunk_pages: int = DEFAULT_CHUNK_PAGES) -> DataFrame:
    """Page rows of the per-page route, for the documents routed to it
    (giant payloads and re-crawled urls): the planner splits each PDF by
    its own page list, then an explicit spread repartition on
    (url, page_lo) keeps one 2000-page PDF from pinning a single task —
    AQE can't see skew inside a UDF, so this split is explicit
    (SURVEY.md §4).

    A url on more than one input row is one document: its latest crawl
    (the greatest ``warc_ts``, nulls oldest; ties broken by the payload's
    ``xxhash64``), as when each crawl overwrites the last. The ``max_by``
    aggregate that keeps it runs on the ``repartition("url")`` below,
    adding no exchange.

    The SQL-only ``repartition("url")`` on the input ends the scan stage
    before any Python node, so scan tasks start no Python worker. The
    spread is a repartition BY NUMBER (the context's
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
    spread = df.sparkSession.sparkContext.defaultParallelism
    return parse_chunks(plan_chunks(docs, chunk_pages).repartition(spread, "url", "page_lo"))


def parse_pages(
    df: DataFrame,
    chunk_pages: int = DEFAULT_CHUNK_PAGES,
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
        "html",
        F.octet_length("html").cast("long").alias("bytes_in"),
    )
    giant = df.filter(F.octet_length("html") > giant_bytes)
    return parse_chunks(small).unionByName(chunked_pages(giant, chunk_pages))
