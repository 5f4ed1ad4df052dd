"""JavaScript string-semantics helpers.

The reference (lacerbi/paper2llm) is TypeScript; its deterministic text
transforms rely on JS string semantics that differ from Python's:

* ``String.prototype.trim`` strips the JS WhiteSpace+LineTerminator set,
  which includes U+FEFF (not stripped by Python ``str.strip()``).
* ``String.prototype.replace(searchString, replaceString)`` replaces only
  the FIRST occurrence and interprets ``$$``, ``$&``, ``$`` + backtick,
  ``$'`` patterns in the replacement string
  (used by markdown-processor.ts:325,338).
* ``String.prototype.length`` counts UTF-16 code units (astral chars = 2),
  which matters for the 2000-char context truncation at
  markdown-processor.ts:400-404.
* JS regex ``\\s`` / ``\\d`` / ``\\w`` / ``\\b`` are respectively the JS
  whitespace set / ``[0-9]`` / ``[A-Za-z0-9_]`` / boundaries of JS ``\\w``.
  Python translations therefore compile with ``re.ASCII`` and use the
  explicit :data:`JS_WS_CLASS` class instead of ``\\s``.
"""

from __future__ import annotations

# JS WhiteSpace (ES2020 11.2) + LineTerminator (11.3) code points.
_JS_WS_CODEPOINTS = (
    0x09, 0x0A, 0x0B, 0x0C, 0x0D, 0x20, 0xA0, 0x1680,
    *range(0x2000, 0x200B), 0x2028, 0x2029, 0x202F, 0x205F, 0x3000, 0xFEFF,
)
JS_WS = "".join(chr(c) for c in _JS_WS_CODEPOINTS)

# Regex character-class body equivalent to JS \s (for use inside [...]).
# \uXXXX escapes are interpreted by the `re` parser, not the string literal.
JS_WS_CLASS = (
    "\t\n\x0b\x0c\r "
    "\u00a0\u1680\u2000-\u200a\u2028\u2029\u202f\u205f\u3000\ufeff"
)


def js_trim(s: str) -> str:
    """``String.prototype.trim`` — strips the JS whitespace set."""
    return s.strip(JS_WS)


def js_replace_first(haystack: str, search: str, replacement: str) -> str:
    """``String.prototype.replace(searchString, replaceString)``.

    First occurrence only; expands ``$$`` ``$&`` ``$`` +backtick ``$'`` in
    the replacement (MDN: replacement string patterns apply even to string
    searches). ``$n`` / ``$<name>`` are left verbatim (no capture groups).
    """
    idx = haystack.find(search)
    if idx < 0:
        return haystack
    before = haystack[:idx]
    after = haystack[idx + len(search):]
    out = []
    i = 0
    n = len(replacement)
    while i < n:
        ch = replacement[i]
        if ch == "$" and i + 1 < n:
            nxt = replacement[i + 1]
            if nxt == "$":
                out.append("$")
                i += 2
                continue
            if nxt == "&":
                out.append(search)
                i += 2
                continue
            if nxt == "`":
                out.append(before)
                i += 2
                continue
            if nxt == "'":
                out.append(after)
                i += 2
                continue
        out.append(ch)
        i += 1
    return before + "".join(out) + after


def utf16_len(s: str) -> int:
    """``String.prototype.length`` — UTF-16 code units."""
    return len(s.encode("utf-16-le", "surrogatepass")) // 2


def utf16_substring(s: str, start: int, end: int | None = None) -> str:
    """``String.prototype.substring`` in UTF-16 code-unit indices.

    A slice that lands inside a surrogate pair keeps the unit via
    surrogatepass (matching JS, where a lone surrogate survives).
    """
    b = s.encode("utf-16-le", errors="surrogatepass")
    if end is None:
        end = len(b) // 2
    return b[start * 2 : end * 2].decode("utf-16-le", errors="surrogatepass")
