"""Page-range byte slicing for the giant-document chunk path.

The skew split (SURVEY.md §4) turns one giant PDF into page-range chunk
rows so no single task pins on a 2000-page document. Carrying the FULL
payload on every chunk row multiplies shuffle volume by the chunk count
(a 2 GB / 2000-page doc at chunk_pages=16 would shuffle ~250 GB); this
module instead extracts, at plan time, a self-contained byte slice per
range — the kept page objects, their content streams and image XObjects,
plus a fresh ``/Pages`` object — so total shuffled bytes stay O(payload)
(each page's bytes cross the wire exactly once, plus a tiny per-chunk
header).

The slice is an internal wire format consumed only by
:func:`paper2llm_spark.pdf.parser.parse_pdf` (which scans ``N 0 obj``
bodies and takes page order from ``/Kids`` — it needs no xref table, font
objects, or catalog). It is NOT a standalone viewer-valid PDF. Page
indexes inside a slice restart at 0; the chunk row carries ``page_lo`` so
the parse stage restores document-absolute indexes via ``index_offset``
(reassembly-by-sort stays exact, SURVEY.md §2.3).

The planner sizes its split from ``PdfSlicer.page_nums``, the parser's
own page list; when the slicer raises, it ships the document once, as one
whole-payload row, so correctness never depends on the slicer.

For real-world PDFs (compressed xref streams, shared font/resource
graphs) the same architecture holds — swap this regex slicer for a
library page-extractor (qpdf/pikepdf) at the single seam
:func:`slice_pdf`.
"""

from __future__ import annotations

from .parser import (
    PdfParseError,
    _CONTENTS_RE,
    _XOBJ_ENTRY_RE,
    _XOBJ_MAP_RE,
    _objects,
    _page_object_numbers,
    _search_closed,
)


class PdfSlicer:
    """Pre-scanned slicing context: the object-graph scan (the expensive
    regex pass over the full payload) runs ONCE per document; each
    ``slice(lo, hi)`` then only copies the kept objects' bytes. The chunk
    planner emits n_chunks slices per giant doc — without this split a
    2000-page doc would pay ~125 redundant full-payload scans (measured
    ~19% of skew-corpus pipeline wall at chunk granularity 16)."""

    def __init__(self, data: bytes):
        self.objects = _objects(data)
        self.page_nums = _page_object_numbers(self.objects)
        self._next_obj_num = max(self.objects) + 1

    def slice(self, page_lo: int, page_hi: int) -> bytes:
        """Pages ``page_lo..page_hi`` (inclusive, 0-based) as a minimal
        parser-consumable PDF slice. Object bodies are copied verbatim
        (byte-identical content streams => byte-identical parse) under
        their ORIGINAL object numbers; only the ``/Pages`` object is
        rebuilt, listing the kept kids in order."""
        keep = self.page_nums[page_lo : page_hi + 1]
        if len(keep) != page_hi - page_lo + 1:
            raise PdfParseError(
                f"page range {page_lo}..{page_hi} out of bounds "
                f"({len(self.page_nums)} pages)"
            )

        needed: list[int] = []
        for pn in keep:
            body = self.objects.get(pn)
            if body is None or b"/Type /Page" not in body:
                raise PdfParseError(f"missing page object {pn}")
            needed.append(pn)
            cm = _CONTENTS_RE.search(body)
            if cm:
                needed.append(int(cm.group(1)))
            xmap = _search_closed(_XOBJ_MAP_RE, b">>", body)
            if xmap:
                for entry in _XOBJ_ENTRY_RE.finditer(xmap.group(1)):
                    needed.append(int(entry.group(2)))

        kids_refs = b" ".join(b"%d 0 R" % n for n in keep)
        out = bytearray(b"%PDF-1.4\n")
        out += b"%d 0 obj\n<< /Type /Pages /Kids [%s] /Count %d >>\nendobj\n" % (
            self._next_obj_num,
            kids_refs,
            len(keep),
        )
        seen: set[int] = set()
        for n in needed:
            if n in seen:
                continue
            seen.add(n)
            body = self.objects.get(n)
            if body is None:
                raise PdfParseError(f"dangling object reference {n}")
            out += b"%d 0 obj\n%s\nendobj\n" % (n, body)
        out += b"%%EOF\n"
        return bytes(out)


def slice_pdf(data: bytes, page_lo: int, page_hi: int) -> bytes:
    """One-shot convenience: scan + slice a single range."""
    return PdfSlicer(data).slice(page_lo, page_hi)
