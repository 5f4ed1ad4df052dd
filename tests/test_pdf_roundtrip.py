"""Writer<->parser round-trip and fixture-corpus sanity (F-REFLOW R1-R3, A6)."""

import pytest
from hypothesis import given
from hypothesis import strategies as st

from paper2llm_spark.html_extract import extract_html_markdown
from paper2llm_spark.pdf.fixtures import fixture_docs, golden_outputs, pages_rows
from paper2llm_spark.pdf.parser import (
    PdfParseError,
    _unescape_pdf_string,
    count_pages,
    parse_pdf,
)
from paper2llm_spark.pdf.writer import layout_markdown_page, two_column_page, write_pdf


def _roundtrip(pages_md):
    pdf = write_pdf([layout_markdown_page(md) for md in pages_md])
    ocr = parse_pdf(pdf)
    return [p["markdown"] for p in ocr["pages"]]


def test_roundtrip_headings_all_levels():
    md = "# H1\n\n## H2\n\n### H3\n\n#### H4\n\n##### H5\n\n###### H6\n\nbody"
    assert _roundtrip([md]) == [md]


def test_roundtrip_equations_and_tables_pass_through():
    md = ("# Eq\n\nInline $E = mc^2$ and ${ }^{1}$ sup.\n\n"
          "$$\\int_0^1 f(x) dx$$\n\n| a | b |\n| - | - |\n| 1 | 2 |")
    assert _roundtrip([md]) == [md]


def test_roundtrip_multi_page_indexes_absolute():
    pdf = write_pdf([layout_markdown_page(f"Page {i} body.") for i in range(5)])
    whole = parse_pdf(pdf)
    assert [p["index"] for p in whole["pages"]] == [0, 1, 2, 3, 4]
    part = parse_pdf(pdf, 2, 3)
    assert [p["index"] for p in part["pages"]] == [2, 3]
    assert [p["markdown"] for p in part["pages"]] == [
        p["markdown"] for p in whole["pages"][2:4]
    ]


def test_roundtrip_two_column_reading_order():
    pdf = write_pdf([two_column_page("# T\n\nLeft A.\nLeft B.", "Right A.\nRight B.")])
    md = parse_pdf(pdf)["pages"][0]["markdown"]
    assert md == "# T\n\nLeft A.\nLeft B.\n\nRight A.\nRight B."


def test_split_parse_equals_whole_parse_bytewise():
    # A6 regression: parse whole vs parse in page ranges -> same per-page md
    pages_md = [f"## Chapter {i}\n\nBody {i}." for i in range(40)]
    pdf = write_pdf([layout_markdown_page(md) for md in pages_md])
    whole = parse_pdf(pdf)
    ranged = []
    for lo in range(0, 40, 16):
        ranged.extend(parse_pdf(pdf, lo, lo + 15)["pages"])
    assert [p["markdown"] for p in ranged] == [p["markdown"] for p in whole["pages"]]
    assert [p["index"] for p in ranged] == list(range(40))
    assert [p["images"] for p in ranged] == [p["images"] for p in whole["pages"]]


def test_image_ids_document_wide_and_bbox():
    pdf = write_pdf([
        layout_markdown_page("![img-0.jpeg](img-0.jpeg)\n\ntext"),
        layout_markdown_page("![img-1.jpeg](img-1.jpeg)"),
    ])
    ocr = parse_pdf(pdf)
    assert ocr["pages"][0]["images"][0]["id"] == "img-0.jpeg"
    assert ocr["pages"][1]["images"][0]["id"] == "img-1.jpeg"
    im = ocr["pages"][0]["images"][0]
    assert im["bottom_right_x"] > im["top_left_x"]
    assert im["bottom_right_y"] > im["top_left_y"]
    # split parse keeps ids without cross-page state
    part = parse_pdf(pdf, 1, 1)
    assert part["pages"][0]["images"][0]["id"] == "img-1.jpeg"


def test_count_pages_and_errors():
    pdf = write_pdf([layout_markdown_page("x")] * 7)
    assert count_pages(pdf) == 7
    with pytest.raises(PdfParseError):
        parse_pdf(b"not a pdf")
    with pytest.raises(PdfParseError):
        parse_pdf(b"%PDF-1.4 truncated garbage")


def test_fixture_corpus_shape():
    rows = pages_rows()
    assert len(rows) >= 30
    urls = [r["url"] for r in rows]
    assert len(set(urls)) == len(urls), "urls must be unique keys"
    assert all(isinstance(r["html"], bytes) for r in rows)


def test_golden_outputs_cover_en_parsable_docs():
    goldens = golden_outputs()
    names = {d["url"]: d["name"] for d in fixture_docs()}
    # error rows and non-en rows are excluded
    assert "https://fixtures.test/error/x1" not in goldens
    assert "https://fixtures.test/error/x2" not in goldens
    assert "https://fixtures.test/error/x3" not in goldens
    # a known case: S6 bare-A-after-refs has an appendix
    s6 = goldens["https://fixtures.test/split/s6-barea-after"]
    assert s6["appendix"] is not None and s6["appendix"].startswith("## A Proofs")
    # S5 bare-A-before-refs has NO appendix
    s5 = goldens["https://fixtures.test/split/s5-barea-before"]
    assert s5["appendix"] is None
    # placeholder splice happened wherever images exist
    i1 = goldens["https://fixtures.test/images/i1"]
    assert "> **Image.** [not displayed]" in i1["markdown"]
    assert i1["image_references"] == ["img-0.jpeg"]
    # html branch produced a golden too
    w1 = goldens["https://fixtures.test/html/w1"]
    assert w1["title"] == "An HTML Article"
    assert "> **Image.** [not displayed]" in w1["markdown"]
    assert w1["backmatter"].startswith("## References")


def test_description_branch_goldens_deterministic():
    g1 = golden_outputs(process_images=True)
    g2 = golden_outputs(process_images=True)
    assert g1 == g2
    i1 = g1["https://fixtures.test/images/i1"]
    assert "> **Image description.** A figure identified as img-0.jpeg." in i1["markdown"]


def test_html_extract_boilerplate_stripped():
    md = extract_html_markdown(
        b"<html><head><title>T</title></head><body><nav>skip</nav>"
        b"<p>keep this</p><footer>skip</footer></body></html>"
    )
    assert "skip" not in md
    assert md.startswith("# T\n\nkeep this")


def test_html_extract_tables_code_links_emphasis():
    md = extract_html_markdown(
        b"<html><head><title>T</title></head><body>"
        b"<p>See <a href='https://x.test/a'>the paper</a> and "
        b"<strong>bold</strong>, <em>it</em>, <code>f(x)</code>.</p>"
        b"<pre>def f():\n    return 1\n\nprint(f())</pre>"
        b"<table><tr><th>name</th><th>val|ue</th></tr>"
        b"<tr><td>a</td><td>1</td></tr></table>"
        b"<p>after</p></body></html>"
    )
    assert "[the paper](https://x.test/a)" in md
    assert "**bold**" in md and "*it*" in md and "`f(x)`" in md
    # fenced block survives the paragraph splitter with inner lines intact
    assert "```\ndef f():\n    return 1\nprint(f())\n```" in md
    # pipe table with header separator and escaped cell pipe
    assert "| name | val\\|ue |\n| --- | --- |\n| a | 1 |" in md
    assert md.endswith("after")


def test_html_extract_inline_degenerate_cases():
    md = extract_html_markdown(
        b"<html><body><p>no <a href=''>href</a> and <b></b>empty "
        b"<table></table>done</p></body></html>"
    )
    assert md == "no href and empty\n\ndone"


def test_html_extract_ordered_vs_unordered_lists():
    md = extract_html_markdown(
        b"<html><body><ol><li>first</li><li>second</li></ol>"
        b"<ul><li>bullet a</li><li>bullet b</li></ul></body></html>"
    )
    assert md == "1. first\n\n2. second\n\n- bullet a\n\n- bullet b"


def _unescape_by_byte(raw: bytes) -> str:
    """The byte loop ``_unescape_pdf_string`` replaced, kept as its
    definition."""
    out = bytearray()
    i = 0
    while i < len(raw):
        b = raw[i]
        if b == 0x5C and i + 1 < len(raw):
            nxt = raw[i + 1]
            if nxt == 0x6E:  # n
                out.append(0x0A)
            elif nxt == 0x72:  # r
                out.append(0x0D)
            else:
                out.append(nxt)
            i += 2
        else:
            out.append(b)
            i += 1
    return out.decode("utf-8", errors="surrogatepass")


def _outcome(f, raw):
    try:
        return f(raw)
    except UnicodeDecodeError as e:
        return ("UnicodeDecodeError", e.start, e.end)


_PDF_STRING_PIECES = st.one_of(
    st.sampled_from(
        [b"\\", b"\\n", b"\\r", b"\\\\", b"\\(", b"\\)", b"\\\n", b"\\\r",
         b"\xc3\xa9", b"\xed\xa0\x80"]
    ),
    st.binary(min_size=1, max_size=1).map(lambda b: b"\\" + b),  # any escape
    st.binary(max_size=3),
)


@given(st.lists(_PDF_STRING_PIECES, max_size=12).map(b"".join))
def test_unescape_pdf_string_matches_byte_loop(raw):
    assert _outcome(_unescape_pdf_string, raw) == _outcome(_unescape_by_byte, raw)


@pytest.mark.parametrize(
    "raw, text",
    [
        (b"plain", "plain"),
        (b"end\\", "end\\"),  # lone trailing backslash kept
        (b"a\\nb", "a\nb"),
        (b"a\\rb", "a\rb"),
        (b"a\\\\b", "a\\b"),
        (b"\\(x\\)", "(x)"),
        (b"a\\\nb", "a\nb"),  # backslash + newline byte -> the newline
        (b"\\\\\\", "\\\\"),  # escaped backslash, then a lone one
        (b"caf\xc3\xa9 \\t", "caf\u00e9 t"),
        (b"\xed\xa0\x80", "\ud800"),  # surrogatepass decode
    ],
    ids=[
        "plain", "trailing_backslash", "escaped_n", "escaped_r",
        "escaped_backslash", "escaped_parens", "backslash_newline",
        "escaped_then_lone_backslash", "utf8", "lone_surrogate",
    ],
)
def test_unescape_pdf_string_edge_cases(raw, text):
    assert _unescape_pdf_string(raw) == text
    assert _unescape_by_byte(raw) == text
