"""The Arrow-array text kernel equals the pure-Python oracle.

functions/text_arrow.py rewrites ``extract_text`` / ``tag_lang`` of
functions/text.py over whole Arrow arrays with RE2.  Hypothesis drives a
differential test against the oracle, and the kernel's hard-coded
tables (Python's whitespace, the word class, the lower-casing
exceptions) are pinned code point by code point.
"""

from __future__ import annotations

import re

import pyarrow as pa
import pyarrow.compute as pc
from hypothesis import given, settings
from hypothesis import strategies as st

from giraffe_etl_spark.functions import text, text_arrow

CODE_POINTS = [c for c in range(0x110000) if not 0xD800 <= c <= 0xDFFF]

_ATOMS = [
    b"<script>", b"<SCRIPT type=x>", b"<ScRiPt>", b"</script>", b"</sCrIpT \x0b>",
    b"<style>", b"<STYLE a='>'>", b"</style>", b"</StYlE\t>", b"<scripts>",
    b"<script_x>", b"<!--", b"-->", b"<!-- c -->", b"<p>", b"</p>", b"<", b">",
    b"<br/>", b"&amp;", b"&amp;lt;", b"&lt;", b"&gt;", b"&quot;", b"&#39;",
    b"&apos;", b"&nbsp;", b"&amp;amp;", b"&", b";", b" ", b"  ", b"\t", b"\n",
    b"\r\n", b"\x0b", b"\x0c", b"\x1c", b"\xff\xfe\x80", b"\xc0\xaf", b"\xed\xa0\x80",
    b"\xf4\x90\x80\x80", b"\xe2\x82", b"the", b"The", b"THE", b"der", b"und", b"le",
    b"la", b"de", b"het", b"a", b"az", b"il", b"o", b"x", b"_", b"1",
    *(s.encode() for s in (
        " ", "\u0085", " ", " ", " ", " ", "　",
        "İ", "İs", "Σ", "ΑΣ", "ΑΣ b", "és",
        "für", "não", "ß", "ő", "ÉS", "K", "ſ",
        "�",
    )),
]

_html = st.one_of(
    st.none(),
    st.lists(
        st.one_of(
            st.sampled_from(_ATOMS),
            st.binary(max_size=6),
            st.text(max_size=4).map(lambda s: s.encode("utf-8", "surrogatepass")),
        ),
        max_size=24,
    ).map(b"".join),
)


@settings(max_examples=200, deadline=None)
@given(st.lists(_html, max_size=12))
def test_kernel_matches_oracle(rows):
    got = text_arrow.extract_text_lang(pa.array(rows, pa.binary()))
    texts = [text.extract_text(h) for h in rows]
    assert got.field("text").to_pylist() == texts
    assert got.field("lang").to_pylist() == [text.tag_lang(t) for t in texts]
    only = text_arrow.extract_text(pa.array(rows, pa.binary()))
    assert only.to_pylist() == texts


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.lists(
                st.one_of(
                    st.sampled_from(["the", "der", "le", "la", "de", "és",
                                     "İ", "Σ", " ", " ", ".", "E"]),
                    st.text(max_size=3),
                ),
                max_size=16,
            ).map("".join),
        ),
        max_size=12,
    )
)
def test_tag_lang_matches_oracle(rows):
    got = text_arrow.tag_lang(pa.array(rows, pa.string()))
    assert got.to_pylist() == [text.tag_lang(t) for t in rows]


def test_tilde_vowels_are_word_letters_in_the_kernel():
    got = text_arrow.tag_lang(pa.array(["não", "são", "põe", "NÃO"]))
    assert got.to_pylist() == ["pt", "und", "und", "pt"]


def _kernel_class(cls: str) -> set[int]:
    """Every code point a one-character RE2 class of the kernel matches."""
    arr = pa.array([chr(c) for c in CODE_POINTS])
    hit = pc.match_substring_regex(arr, r"\A" + cls + r"\z").to_numpy(
        zero_copy_only=False
    )
    return {c for c, h in zip(CODE_POINTS, hit) if h}


def test_whitespace_table_is_python_str_whitespace():
    py = {c for c in range(0x110000) if re.match(r"\s", chr(c))}
    assert py == {c for c in range(0x110000) if chr(c).isspace()}
    assert len(py) == 29
    assert _kernel_class("[ " + text_arrow._WS_NOT_SPACE + "]") == py
    assert 0x20 not in _kernel_class("[" + text_arrow._WS_NOT_SPACE + "]")


def test_word_class_is_the_oracle_word_class():
    py = {c for c in CODE_POINTS if text._WORD_RE.fullmatch(chr(c))}
    assert _kernel_class("[" + text_arrow._WORD + "]") == py


def test_lower_exceptions_are_dotted_capital_i_and_sigma():
    low = pc.utf8_lower(pa.array([chr(c) for c in CODE_POINTS])).to_pylist()
    assert {c for c, lo in zip(CODE_POINTS, low) if chr(c).lower() != lo} == {0x130}
    # U+03A3 lowers by context in Python (final sigma), never in Arrow
    final = "ΑΣ"
    assert final.lower() != pc.utf8_lower(pa.array([final]))[0].as_py()
    assert _kernel_class(text_arrow._LOWER_EXCEPTIONS) == {0x130, 0x3A3}
