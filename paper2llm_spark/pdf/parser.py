"""Layout-aware PDF parser — the OCR-stage replacement (SURVEY.md §2.1 S4).

Replaces the reference's Mistral OCR network call
(``src/core/ocr-service.ts:90-425``) with a deterministic local parse of
the binary ``html`` column: PDF bytes -> the ``OcrResult``-shaped struct
(``src/types/interfaces.ts:103-132``) with the same defaulting the
reference applies to the API response (``ocr-service.ts:430-461``: model
``mistral-ocr-latest`` :16,:457, image ids ``img-N.jpeg``, page
``index``/``markdown``/``images``/``dimensions``).

Genuine layout work, no cross-page state (so page-range skew splitting
needs nothing but the byte payload):

* object graph: xref-free scan of ``N 0 obj ... endobj``; page order from
  the ``/Kids`` array;
* content streams: ``Tm``/``Tf``/``Tj`` text runs and ``cm`` + ``Do``
  image placements;
* reading order: descending flow anchor (text baseline / image top),
  two-column pages (x-split at :data:`COLUMN_SPLIT_X`) emit the left
  column before the right;
* paragraph gaps: anchor step > :data:`GAP_THRESHOLD` -> blank line;
* headings: font size -> ``#`` level via the shared
  :data:`~paper2llm_spark.pdf.writer.HEADING_SIZES` contract;
* images: ``![img-N.jpeg](img-N.jpeg)`` ref in the flow + an OcrImage
  entry with the top-left-origin bbox, id from the XObject ``/Name``.

Designed to be driven from ``mapInPandas`` over Arrow record batches —
pure function of (bytes, page range), no I/O, no globals.
"""

from __future__ import annotations

import re
from typing import Any

from .writer import BODY_SIZE, HEADING_SIZES, PAGE_DPI, PAGE_HEIGHT, PAGE_WIDTH

COLUMN_SPLIT_X = 300
GAP_THRESHOLD = 20  # anchor step: 14 within paragraph, 28 across blocks

_SIZE_TO_LEVEL = {size: level for level, size in HEADING_SIZES.items()}

# (?<!\d): a match never starts inside a digit run (one that would has
# already failed from the run's first digit), so a long digit run is
# scanned once, not once per digit. The body's trailing whitespace is
# stripped after the match (see _objects), not by a \s* before the
# closer, which rescans a whitespace run from each of its positions.
_OBJ_RE = re.compile(rb"(?<!\d)(\d+) 0 obj\s*(.*?)endobj", re.S)
_KIDS_RE = re.compile(rb"/Kids\s*\[(.*?)\]", re.S)
_REF_RE = re.compile(rb"(?<!\d)(\d+) 0 R")
_CONTENTS_RE = re.compile(rb"/Contents\s+(\d+) 0 R")
_STREAM_RE = re.compile(rb"stream\r?\n(.*?)endstream", re.S)
_XOBJ_MAP_RE = re.compile(rb"/XObject\s*<<(.*?)>>", re.S)
_XOBJ_ENTRY_RE = re.compile(rb"/(\w+)\s+(\d+) 0 R")
_NAME_RE = re.compile(rb"/Name\s*/(\w+)")
_MEDIABOX_RE = re.compile(rb"/MediaBox\s*\[\s*\d+\s+\d+\s+(\d+)\s+(\d+)\s*\]")
_COUNT_RE = re.compile(rb"/Count\s+(\d+)")

_TEXT_OP_RE = re.compile(
    rb"BT /F1 (\d+) Tf 1 0 0 1 (-?\d+) (-?\d+) Tm \(((?:[^()\\]|\\.)*)\) Tj ET",
    re.S,
)
_IMAGE_OP_RE = re.compile(
    rb"q (-?\d+) 0 0 (-?\d+) (-?\d+) (-?\d+) cm /(\w+) Do Q"
)
_ESCAPE_RE = re.compile(rb"\\(.)", re.S)
_ESCAPES = {b"n": b"\n", b"r": b"\r"}


class PdfParseError(ValueError):
    """Malformed payload — mapped to the quarantine error column (S6)."""


def _unescape_pdf_string(raw: bytes) -> str:
    """``\\n`` -> LF, ``\\r`` -> CR, ``\\`` + any other byte -> that byte;
    a lone trailing backslash is kept."""
    if b"\\" in raw:
        raw = _ESCAPE_RE.sub(lambda m: _ESCAPES.get(m.group(1), m.group(1)), raw)
    return raw.decode("utf-8", errors="surrogatepass")


def count_pages(data: bytes) -> int:
    """Cheap page count from the first ``/Count`` (no full parse); the
    chunk planner reads the page list itself (pdf.slicer.PdfSlicer)."""
    if data[:5] != b"%PDF-":
        raise PdfParseError("not a PDF payload (missing %PDF- magic)")
    m = _COUNT_RE.search(data)
    if m:
        return int(m.group(1))
    return data.count(b"/Type /Page ")


def _closed_end(data: bytes, closer: bytes) -> int:
    """End of the last ``closer`` in ``data`` (0 if none). A lazy
    ``opener(.*?)closer`` pattern searched only up to here finds the same
    matches — every match ends with a closer — but an opener with no
    closer after it fails at once instead of rescanning to the end of
    the payload, which made a payload of unterminated openers cost time
    quadratic in its size."""
    end = data.rfind(closer)
    return 0 if end < 0 else end + len(closer)


def _search_closed(pattern: re.Pattern, closer: bytes, data: bytes) -> re.Match | None:
    return pattern.search(data, 0, _closed_end(data, closer))


def _objects(data: bytes) -> dict[int, bytes]:
    """Object number -> body of every ``N 0 obj <body> endobj``, the body
    without its surrounding whitespace (``bytes.rstrip`` strips exactly
    the regex's ``\\s`` set)."""
    end = _closed_end(data, b"endobj")
    return {int(m.group(1)): m.group(2).rstrip() for m in _OBJ_RE.finditer(data, 0, end)}


def _page_object_numbers(objects: dict[int, bytes]) -> list[int]:
    for body in objects.values():
        if b"/Type /Pages" in body:
            kids = _search_closed(_KIDS_RE, b"]", body)
            if kids:
                return [int(m.group(1)) for m in _REF_RE.finditer(kids.group(1))]
    raise PdfParseError("no /Type /Pages object with /Kids found")


def parse_pdf(
    data: bytes,
    page_lo: int | None = None,
    page_hi: int | None = None,
    index_offset: int = 0,
) -> dict[str, Any]:
    """Parse PDF bytes into the OcrResult-shaped dict.

    ``page_lo``/``page_hi`` select an inclusive 0-based page-index range
    (the reference a byte slice's parse is checked against); page
    ``index`` fields keep their document-absolute values (SURVEY.md §2.3
    ordering note). ``index_offset`` shifts emitted indexes, and the page
    numbers in errors, for byte-sliced chunk payloads (pdf.slicer), whose
    internal page positions restart at 0 but whose document-absolute
    range starts at the chunk's ``page_lo``.
    """
    if data[:5] != b"%PDF-":
        raise PdfParseError("not a PDF payload (missing %PDF- magic)")

    objects = _objects(data)
    page_nums = _page_object_numbers(objects)

    pages: list[dict[str, Any]] = []
    for page_index, page_obj_num in enumerate(page_nums):
        if page_lo is not None and page_index < page_lo:
            continue
        if page_hi is not None and page_index > page_hi:
            continue
        body = objects.get(page_obj_num)
        if body is None or b"/Type /Page" not in body:
            raise PdfParseError(f"missing page object {page_obj_num}")

        mb = _MEDIABOX_RE.search(body)
        width, height = (
            (int(mb.group(1)), int(mb.group(2))) if mb else (PAGE_WIDTH, PAGE_HEIGHT)
        )

        # XObject name -> (id, width, height) from the object graph
        xobjects: dict[bytes, tuple[str, int, int]] = {}
        xmap = _search_closed(_XOBJ_MAP_RE, b">>", body)
        if xmap:
            for entry in _XOBJ_ENTRY_RE.finditer(xmap.group(1)):
                res_name, objnum = entry.group(1), int(entry.group(2))
                xbody = objects.get(objnum, b"")
                name_m = _NAME_RE.search(xbody)
                img_name = (
                    name_m.group(1).decode() if name_m else res_name.decode()
                )
                # img{N} -> Mistral-style id img-N.jpeg (ocr fixture contract)
                num_m = re.match(r"img(\d+)$", img_name, re.A)
                image_id = f"img-{num_m.group(1)}.jpeg" if num_m else img_name
                xobjects[res_name] = (image_id, 0, 0)

        cm = _CONTENTS_RE.search(body)
        if not cm:
            raise PdfParseError(f"page {page_index + index_offset} has no /Contents")
        stream_m = _search_closed(
            _STREAM_RE, b"endstream", objects.get(int(cm.group(1)), b"")
        )
        if not stream_m:
            raise PdfParseError(f"page {page_index + index_offset} content stream missing")
        stream = stream_m.group(1)

        # collect flow elements: (anchor_y, x, kind, payload)
        flow: list[tuple[int, int, str, Any]] = []
        images: list[dict[str, Any]] = []
        for m in _TEXT_OP_RE.finditer(stream):
            size, x, y = int(m.group(1)), int(m.group(2)), int(m.group(3))
            text = _unescape_pdf_string(m.group(4))
            level = _SIZE_TO_LEVEL.get(size)
            line = f"{'#' * level} {text}" if level else text
            flow.append((y, x, "text", line))
        for m in _IMAGE_OP_RE.finditer(stream):
            w, h, x, y = (int(m.group(i)) for i in range(1, 5))
            res_name = m.group(5)
            image_id = xobjects.get(res_name, (res_name.decode(), 0, 0))[0]
            # PDF y-up bbox -> top-left-origin ints (OcrImage contract)
            images.append(
                {
                    "id": image_id,
                    "base64": "",
                    "top_left_x": x,
                    "top_left_y": height - (y + h),
                    "bottom_right_x": x + w,
                    "bottom_right_y": height - y,
                }
            )
            flow.append((y + h, x, "image", image_id))  # anchor = image top

        # reading order: two-column split, then descending anchor
        left = sorted(
            (e for e in flow if e[1] < COLUMN_SPLIT_X), key=lambda e: (-e[0], e[1])
        )
        right = sorted(
            (e for e in flow if e[1] >= COLUMN_SPLIT_X), key=lambda e: (-e[0], e[1])
        )
        ordered = left + right if (left and right) else sorted(
            flow, key=lambda e: (-e[0], e[1])
        )

        lines: list[str] = []
        prev_anchor: int | None = None
        prev_col_left: bool | None = None
        for anchor, x, kind, payload in ordered:
            is_left = x < COLUMN_SPLIT_X
            if prev_anchor is not None:
                same_col = prev_col_left == is_left
                if same_col and prev_anchor - anchor > GAP_THRESHOLD:
                    lines.append("")
                elif not same_col:
                    lines.append("")  # column break reads as paragraph break
            if kind == "text":
                lines.append(payload)
            else:
                lines.append(f"![{payload}]({payload})")
            prev_anchor = anchor
            prev_col_left = is_left

        # images array in reading order (matches Mistral's per-page list):
        # ids ranked by first appearance, in one pass over the flow
        rank: dict[str, int] = {}
        for a, x, k, p in ordered:
            if k == "image":
                rank.setdefault(p, len(rank))
        images.sort(key=lambda im: rank[im["id"]])

        pages.append(
            {
                "index": page_index + index_offset,
                "markdown": "\n".join(lines),
                "images": images,
                "dimensions": {"width": width, "height": height, "dpi": PAGE_DPI},
            }
        )

    return {"pages": pages, "model": "mistral-ocr-latest"}
