"""The PDF parser runs in time linear in its payload, whatever the payload.

Each crafted payload below once made ``parse_pdf`` quadratic: a lazy
``opener(.*?)closer`` pattern whose closer never comes rescans to the end
of the payload from every opener, a regex started at every position of a
digit or whitespace run rescans the rest of the run, and a per-image
``list.index`` rescans the page's images. The fused stage accepts
payloads up to 2 MB, where a quadratic path costs minutes in one task.
Doubling each payload must cost at most ~2.5x the time.
"""

from __future__ import annotations

import time

import pytest

from paper2llm_spark.pdf.parser import parse_pdf

HEAD = b"%PDF-1.4\n"
PAGES = b"1 0 obj\n<< /Type /Pages /Kids [2 0 R] /Count 1 >>\nendobj\n"
PAGE = b"2 0 obj\n<< /Type /Page /Contents 3 0 R >>\nendobj\n"


def _repeat(prefix: bytes, unit: bytes, suffix: bytes):
    return lambda n: prefix + unit * (n // len(unit)) + suffix


def _image_ops(n: int) -> bytes:
    ops = b"".join(
        b"q 10 0 0 10 %d %d cm /Im%d Do Q\n" % (i % 600, i % 700, i)
        for i in range(n // 32)
    )
    return HEAD + PAGES + PAGE + b"3 0 obj\n<< >>\nstream\n" + ops + b"endstream\nendobj\n"


CRAFTED = {
    "obj_no_endobj": _repeat(HEAD, b"1 0 obj\n<< /A 1 >>\n", b""),
    "obj_digit_run": _repeat(HEAD, b"7", b" endobj\n"),
    "obj_space_run": _repeat(HEAD + b"1 0 obj x", b" ", b"y endobj\n"),
    "stream_no_endstream": _repeat(
        HEAD + PAGES + PAGE + b"3 0 obj\n<< >>\n", b"stream\nBT ET\n", b"endobj\n"
    ),
    "kids_no_close": _repeat(HEAD + b"1 0 obj\n<< /Type /Pages ", b"/Kids [ 2 0 R ", b"\nendobj\n"),
    "kids_digit_run": _repeat(
        HEAD + b"1 0 obj\n<< /Type /Pages /Kids [", b"9", b"] >>\nendobj\n"
    ),
    "xobject_no_close": _repeat(
        HEAD + PAGES + b"2 0 obj\n<< /Type /Page /Resources << ",
        b"/XObject << /Im0 5 0 R ", b"\nendobj\n",
    ),
    "image_ops": _image_ops,
}


def _parse_s(payload: bytes) -> float:
    """Best-of wall time of one ``parse_pdf`` call (a parse error is an
    outcome too); stops repeating once a second is spent."""
    best, spent = float("inf"), 0.0
    for _ in range(9):
        t0 = time.perf_counter()
        try:
            parse_pdf(payload)
        except Exception:
            pass
        took = time.perf_counter() - t0
        best, spent = min(best, took), spent + took
        if spent > 1.0:
            break
    return best


@pytest.mark.parametrize("kind", sorted(CRAFTED))
def test_doubling_a_crafted_payload_at_most_doubles_parse_time(kind):
    small, large = CRAFTED[kind](64_000), CRAFTED[kind](128_000)
    t_small, t_large = _parse_s(small), _parse_s(large)
    assert t_large <= 2.5 * t_small, (kind, t_small, t_large)
