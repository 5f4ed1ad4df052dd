"""``utf16_len`` against its per-character definition: astral characters
count two UTF-16 code units, lone surrogates one (JS ``length``)."""

from hypothesis import given
from hypothesis import strategies as st

from paper2llm_spark.oracle.jsstr import utf16_len


def _utf16_len_by_char(s: str) -> int:
    """The per-character count ``utf16_len`` replaced, kept as its
    definition."""
    return sum(2 if ord(c) > 0xFFFF else 1 for c in s)


_CHARS = st.one_of(
    st.characters(),
    st.characters(min_codepoint=0xD800, max_codepoint=0xDFFF, exclude_categories=()),
    st.characters(min_codepoint=0x10000),  # astral
)


@given(st.text(alphabet=_CHARS))
def test_utf16_len_matches_per_char_count(s):
    assert utf16_len(s) == _utf16_len_by_char(s)


def test_utf16_len_edge_cases():
    assert utf16_len("") == 0
    assert utf16_len("abc") == 3
    assert utf16_len("\U0001f600") == 2  # astral: one surrogate pair
    assert utf16_len("\ud83d") == 1  # lone high surrogate
    assert utf16_len("\ude00") == 1  # lone low surrogate
    assert utf16_len("\ud83d\ude00") == 2  # two lone surrogates, not a pair
    assert utf16_len("a\U00010000b\uffff") == 5
