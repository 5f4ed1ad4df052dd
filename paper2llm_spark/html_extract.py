"""Deterministic HTML main-content extraction (the north_rule HTML branch).

The reference (lacerbi/paper2llm) converts PDFs only; its URL layer merely
*detects* non-PDF payloads (``src/adapters/web/file-handler.ts:200-226``).
The north_rule requires an HTML boilerplate-strip branch for
Common-Crawl-style payloads, so this module defines our own frozen,
deterministic semantics. The output is the same OcrResult-shaped struct
the PDF parser emits (one synthetic page), so everything downstream —
assembly, enhancement, splitting, bibtex — is shared between branches.

Rules (frozen; regex-based so the identical pure function runs inside the
Arrow pandas UDF and in the golden generator):

1. strip comments, ``<script>``, ``<style>``, ``<noscript>``, ``<svg>``,
   ``<template>`` wholesale;
2. strip boilerplate containers ``<nav>``, ``<header>``, ``<footer>``,
   ``<aside>`` wholesale (DOM-heuristic boilerplate removal);
3. ``<title>`` becomes the leading ``# `` heading (if no ``<h1>`` exists);
4. ``<h1>``-``<h6>`` become ``#``-headings, ``<ol>`` items become
   ``1.``/``2.``/... (non-nested), remaining ``<li>`` become ``- ``
   items, ``<blockquote>`` paragraphs get ``> ``;
5. ``<img src=...>`` becomes ``![{src}]({src})`` so the image-placeholder
   stage applies to HTML docs too;
6. ``<pre>`` becomes a fenced code block (inner lines preserved, blank
   runs collapsed to one newline); ``<table>`` becomes a pipe table
   (first row is the header, cell pipes escaped); inline ``<a href>`` /
   ``<strong>|<b>`` / ``<em>|<i>`` / ``<code>`` become
   ``[text](href)`` / ``**text**`` / ``*text*`` / `` `text` ``;
7. remaining tags drop; block tags break paragraphs; whitespace collapses
   per paragraph; HTML entities (named common + numeric) unescape.
"""

from __future__ import annotations

import html as _htmllib
import re
from typing import Any

from .pdf.writer import PAGE_DPI, PAGE_HEIGHT, PAGE_WIDTH

_DROP_WHOLESALE_RE = re.compile(
    r"<!--.*?-->"
    r"|<script\b.*?</script\s*>"
    r"|<style\b.*?</style\s*>"
    r"|<noscript\b.*?</noscript\s*>"
    r"|<svg\b.*?</svg\s*>"
    r"|<template\b.*?</template\s*>"
    r"|<nav\b.*?</nav\s*>"
    r"|<header\b.*?</header\s*>"
    r"|<footer\b.*?</footer\s*>"
    r"|<aside\b.*?</aside\s*>",
    re.S | re.I,
)

_TITLE_RE = re.compile(r"<title\b[^>]*>(.*?)</title\s*>", re.S | re.I)
_HEADING_RE = re.compile(r"<h([1-6])\b[^>]*>(.*?)</h\1\s*>", re.S | re.I)
_IMG_RE = re.compile(r"<img\b[^>]*?src\s*=\s*[\"']([^\"']*)[\"'][^>]*>", re.S | re.I)
_LI_RE = re.compile(r"<li\b[^>]*>(.*?)</li\s*>", re.S | re.I)
_BLOCKQUOTE_RE = re.compile(r"<blockquote\b[^>]*>(.*?)</blockquote\s*>", re.S | re.I)
_PRE_RE = re.compile(r"<pre\b[^>]*>(.*?)</pre\s*>", re.S | re.I)
_OL_RE = re.compile(r"<ol\b[^>]*>(.*?)</ol\s*>", re.S | re.I)
_TABLE_RE = re.compile(r"<table\b[^>]*>(.*?)</table\s*>", re.S | re.I)
_TR_RE = re.compile(r"<tr\b[^>]*>(.*?)</tr\s*>", re.S | re.I)
_CELL_RE = re.compile(r"<t[hd]\b[^>]*>(.*?)</t[hd]\s*>", re.S | re.I)
_LINK_RE = re.compile(
    r"<a\b[^>]*?href\s*=\s*[\"']([^\"']*)[\"'][^>]*>(.*?)</a\s*>", re.S | re.I
)
_STRONG_RE = re.compile(r"<(?:strong|b)\b[^>]*>(.*?)</(?:strong|b)\s*>", re.S | re.I)
_EM_RE = re.compile(r"<(?:em|i)\b[^>]*>(.*?)</(?:em|i)\s*>", re.S | re.I)
_CODE_RE = re.compile(r"<code\b[^>]*>(.*?)</code\s*>", re.S | re.I)

# block-level boundaries that force a paragraph break
_BLOCK_BREAK_RE = re.compile(
    r"</?(?:p|div|section|article|main|table|tr|ul|ol|br|hr|h[1-6]|blockquote|li|pre|figure|figcaption)\b[^>]*>",
    re.I,
)
_TAG_RE = re.compile(r"<[^>]+>")
_WS_RUN_RE = re.compile(r"[ \t\r\f\v]+")


def _clean_inline(fragment: str) -> str:
    """Drop tags, unescape entities, collapse whitespace within a block."""
    text = _TAG_RE.sub("", fragment)
    text = _htmllib.unescape(text)
    text = _WS_RUN_RE.sub(" ", text.replace("\n", " "))
    return text.strip()


def extract_html_markdown(data: bytes) -> str:
    """HTML bytes -> markdown-ish main content (frozen semantics)."""
    try:
        raw = data.decode("utf-8", errors="replace")
    except Exception:  # pragma: no cover - decode with replace cannot raise
        raw = data.decode("latin-1")

    raw = _DROP_WHOLESALE_RE.sub(" ", raw)

    title_m = _TITLE_RE.search(raw)
    title = _clean_inline(title_m.group(1)) if title_m else ""
    # the <title> element itself must not leak into the body text
    raw = _TITLE_RE.sub(" ", raw)

    # structural replacements into markdown-ish markers, protected by
    # sentinels so the generic tag-strip below keeps them
    def _heading(m: re.Match) -> str:
        level = int(m.group(1))
        text = _clean_inline(m.group(2))
        return f"\n\n\x00{'#' * level} {text}\x00\n\n" if text else "\n\n"

    def _img(m: re.Match) -> str:
        src = m.group(1).strip()
        return f"\n\n\x00![{src}]({src})\x00\n\n" if src else "\n\n"

    def _li(m: re.Match) -> str:
        text = _clean_inline(m.group(1))
        return f"\n\n\x00- {text}\x00\n\n" if text else "\n\n"

    def _bq(m: re.Match) -> str:
        text = _clean_inline(m.group(1))
        return f"\n\n\x00> {text}\x00\n\n" if text else "\n\n"

    def _pre(m: re.Match) -> str:
        # fenced code block: inner tags drop, entities unescape, line
        # structure survives (blank runs collapse so the block splitter
        # below cannot cut the fence in half)
        body = _htmllib.unescape(_TAG_RE.sub("", m.group(1)))
        body = re.sub(r"\n\s*\n+", "\n", body).strip("\n")
        if not body.strip():
            return "\n\n"
        return f"\n\n\x00```\n{body}\n```\x00\n\n"

    def _table(m: re.Match) -> str:
        rows = []
        for tr in _TR_RE.findall(m.group(1)):
            cells = [
                _clean_inline(c).replace("|", "\\|")
                for c in _CELL_RE.findall(tr)
            ]
            if cells:
                rows.append("| " + " | ".join(cells) + " |")
        if not rows:
            return "\n\n"
        n_cols = rows[0].count(" | ") + 1
        rows.insert(1, "|" + " --- |" * n_cols)
        return "\n\n\x00" + "\n".join(rows) + "\x00\n\n"

    def _link(m: re.Match) -> str:
        text = _clean_inline(m.group(2))
        href = m.group(1).strip()
        return f"[{text}]({href})" if href and text else text

    def _wrap(marker: str):
        def sub(m: re.Match) -> str:
            text = _clean_inline(m.group(1))
            return f"{marker}{text}{marker}" if text else ""
        return sub

    # inline conversions FIRST (their markers are plain text, so the
    # structural handlers' _clean_inline keeps them); <pre> is consumed
    # before them so code is never rewritten
    raw = _PRE_RE.sub(_pre, raw)
    raw = _LINK_RE.sub(_link, raw)
    raw = _STRONG_RE.sub(_wrap("**"), raw)
    raw = _EM_RE.sub(_wrap("*"), raw)
    raw = _CODE_RE.sub(_wrap("`"), raw)

    def _ol(m: re.Match) -> str:
        # numbered items; consumed before the generic <li> handler so
        # ordered lists keep their 1./2./3. markers (non-nested scope)
        items = [
            _clean_inline(li) for li in _LI_RE.findall(m.group(1))
        ]
        items = [t for t in items if t]
        if not items:
            return "\n\n"
        return "".join(
            f"\n\n\x00{i + 1}. {t}\x00\n\n" for i, t in enumerate(items)
        )

    has_h1 = bool(re.search(r"<h1\b", raw, re.I))
    raw = _TABLE_RE.sub(_table, raw)
    raw = _OL_RE.sub(_ol, raw)
    raw = _HEADING_RE.sub(_heading, raw)
    raw = _IMG_RE.sub(_img, raw)
    raw = _LI_RE.sub(_li, raw)
    raw = _BLOCKQUOTE_RE.sub(_bq, raw)
    raw = _BLOCK_BREAK_RE.sub("\n\n", raw)

    blocks: list[str] = []
    if title and not has_h1:
        blocks.append(f"# {title}")
    for chunk in raw.split("\n\n"):
        chunk = chunk.strip()
        if not chunk:
            continue
        if chunk.startswith("\x00") and chunk.endswith("\x00"):
            blocks.append(chunk.strip("\x00"))
        else:
            cleaned = _clean_inline(chunk)
            if cleaned:
                blocks.append(cleaned)
    return "\n\n".join(blocks)


def html_to_ocr_result(data: bytes) -> dict[str, Any]:
    """HTML bytes -> the shared OcrResult-shaped struct (single page).

    Image refs found in the extracted markdown populate the page's
    ``images`` array (zero bboxes — HTML carries no layout geometry), so
    the ``hasImages`` gate (pdf-to-md.ts:67) fires for HTML docs too.
    """
    markdown = extract_html_markdown(data)
    image_ids = re.findall(r"!\[[^\]]*\]\(([^)]*)\)", markdown)
    images = [
        {
            "id": src,
            "base64": "",
            "top_left_x": 0,
            "top_left_y": 0,
            "bottom_right_x": 0,
            "bottom_right_y": 0,
        }
        for src in image_ids
        if src
    ]
    return {
        "pages": [
            {
                "index": 0,
                "markdown": markdown,
                "images": images,
                "dimensions": {
                    "width": PAGE_WIDTH,
                    "height": PAGE_HEIGHT,
                    "dpi": PAGE_DPI,
                },
            }
        ],
        "model": "html-extract-v1",
    }
