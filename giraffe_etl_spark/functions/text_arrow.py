"""html -> (text, lang) over whole Arrow arrays (``pyarrow.compute``, RE2).

The batch-at-a-time twin of ``extract_text`` / ``tag_lang`` in
functions/text.py, which stay the oracle: a row is computed here only
where the result is provably byte-identical to the oracle's, and every
other row is handed to the oracle itself.  The Arrow UDFs of
functions/udf.py call this module; tests/test_text_arrow.py proves it
against the oracle with Hypothesis and pins its hard-coded tables
code point by code point.

Translation rules (Python ``re`` -> RE2):

- The tag-stripping regexes run on the binary array, where RE2 works in
  Latin-1 byte mode.  Bytes are written as ``\\xNN`` escapes in the
  pattern text; a literal non-ASCII character would be read as UTF-8.
- Python's bytes ``\\s`` is ``[\\t\\n\\x0b\\x0c\\r ]`` (RE2's lacks
  ``\\x0b``), and bytes ``IGNORECASE`` folds ASCII only, so
  ``script``/``style`` are spelled as ``[sS][cC]...`` classes.  The
  backreference ``</\\1>`` becomes one branch per tag name; under
  leftmost-first matching the two branches never compete.
- UTF-8 decoding: a row whose stripped bytes are not valid UTF-8 (the
  grammar regex below) is decoded by the oracle's own step,
  ``bytes.decode("utf-8", errors="replace")``; the rest of the chain
  then runs on it like on any other row.
- Entities are applied as sequential literal replaces, ``&amp;`` last:
  no replacement produces ``&`` except that last one, so this equals the
  oracle's single-pass alternation (``&amp;lt;`` -> ``&lt;``).
- Whitespace: Python's str ``\\s`` is the 29 code points of ``_WS``.
  Only runs that are not already one space are rewritten.
- Lower-casing: ``utf8_lower`` equals ``str.lower`` on every code point
  but U+0130, and ``str.lower`` maps U+03A3 by context (final sigma);
  rows holding either go to the oracle.
- The vote: words are runs of ``_WORD``; scores are summed per language
  and ``argmax`` over the languages in sorted order keeps the oracle's
  first-best tie-break; a row that scores 0 everywhere is ``und``.

Nothing is computed at import (the stopword index is built on first
use), so importing the module adds nothing to a worker's set-up.
"""

from __future__ import annotations

import functools

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import text as _oracle

# Python's bytes-mode \s
_BWS = r"[\t\n\x0b\x0c\r ]"
_SCRIPT = (
    r"<[sS][cC][rR][iI][pP][tT]\b[^>]*>(?s:.*?)</[sS][cC][rR][iI][pP][tT]"
    + _BWS
    + r"*>|<[sS][tT][yY][lL][eE]\b[^>]*>(?s:.*?)</[sS][tT][yY][lL][eE]"
    + _BWS
    + r"*>"
)
_COMMENT = r"<!--(?s:.*?)-->"
_TAG = r"<[^>]*>"
# well-formed UTF-8 as Python's strict decoder defines it: no overlong
# forms, no surrogates, nothing above U+10FFFF
_UTF8 = (
    r"\A(?:[\x00-\x7F]|[\xC2-\xDF][\x80-\xBF]|\xE0[\xA0-\xBF][\x80-\xBF]"
    r"|[\xE1-\xEC\xEE\xEF][\x80-\xBF]{2}|\xED[\x80-\x9F][\x80-\xBF]"
    r"|\xF0[\x90-\xBF][\x80-\xBF]{2}|[\xF1-\xF3][\x80-\xBF]{3}"
    r"|\xF4[\x80-\x8F][\x80-\xBF]{2})*\z"
)
# entity -> replacement, "&amp;" last (see the module docstring)
_ENTITIES = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)
# Python's str \s (== str.isspace), without and with the space
_WS_NOT_SPACE = (
    r"\t\n\x0b\x0c\r\x1c-\x1f\x{85}\x{a0}\x{1680}\x{2000}-\x{200a}"
    r"\x{2028}\x{2029}\x{202f}\x{205f}\x{3000}"
)
_WS_RUN = r" [ " + _WS_NOT_SPACE + r"]+|[" + _WS_NOT_SPACE + r"][ " + _WS_NOT_SPACE + r"]*"
# code points whose str.lower differs from utf8_lower: U+0130 always,
# U+03A3 in final position
_LOWER_EXCEPTIONS = r"[\x{130}\x{3a3}]"
# the oracle's _WORD_RE class: a-z plus
# á é í ó ö ő ú ü ű à â ç è ê ë î ï ô û ñ ß
_WORD = (
    r"a-z\x{e1}\x{e9}\x{ed}\x{f3}\x{f6}\x{151}\x{fa}\x{fc}\x{171}\x{e0}"
    r"\x{e2}\x{e7}\x{e8}\x{ea}\x{eb}\x{ee}\x{ef}\x{f4}\x{fb}\x{f1}\x{df}"
    r"\x{e3}\x{f5}"
)
_NOT_WORD_RUN = r"[^ " + _WORD + r"]+"


@functools.cache
def _stopword_index() -> tuple[pa.Array, np.ndarray, pa.Array]:
    """(every stopword, word x language membership, language codes + und)."""
    langs = _oracle._LANGS
    words = sorted(set().union(*_oracle._LANG_STOPWORDS.values()))
    member = np.array(
        [[w in _oracle._LANG_STOPWORDS[lang] for lang in langs] for w in words],
        dtype=np.float64,
    )
    return pa.array(words), member, pa.array(langs + ["und"])


def _redo(fast: pa.Array, mask: pa.Array, src: pa.Array, fn) -> pa.Array:
    """``fast`` with the rows under ``mask`` recomputed in Python by
    ``fn`` from ``src``."""
    if not pc.any(mask).as_py():
        return fast
    redo = [fn(v) for v in src.filter(mask).to_pylist()]
    return pc.replace_with_mask(fast, mask, pa.array(redo, fast.type))


def extract_text(html: pa.Array) -> pa.Array:
    """``text.extract_text`` over a binary array (string array out)."""
    b = html
    for pattern in (_SCRIPT, _COMMENT, _TAG):
        b = pc.replace_substring_regex(b, pattern, " ")
    ok = pc.match_substring_regex(b, _UTF8)
    s = _redo(
        pc.cast(pc.if_else(ok, b, pa.scalar(None, b.type)), pa.string()),
        pc.invert(ok).fill_null(False),
        b,
        lambda v: v.decode("utf-8", errors="replace"),
    )
    for entity, ch in _ENTITIES:
        s = pc.replace_substring(s, entity, ch)
    return pc.utf8_trim(pc.replace_substring_regex(s, _WS_RUN, " "), " ")


def tag_lang(text: pa.Array) -> pa.Array:
    """``text.tag_lang`` over a string array."""
    words, member, codes = _stopword_index()
    low = pc.utf8_lower(text)
    tokens = pc.split_pattern(pc.replace_substring_regex(low, _NOT_WORD_RUN, " "), " ")
    flat = pc.index_in(pc.list_flatten(tokens), value_set=words)
    rows = pc.list_parent_indices(tokens).to_numpy()
    hit = flat.is_valid().to_numpy(zero_copy_only=False)
    rows, hit_words = rows[hit], flat.drop_null().to_numpy()
    n = len(text)
    scores = np.stack(
        [
            np.bincount(rows, weights=member[hit_words, j], minlength=n)
            for j in range(member.shape[1])
        ],
        axis=1,
    )
    best = scores.argmax(axis=1)
    pick = np.where(scores[np.arange(n), best] > 0, best, member.shape[1])
    out = pc.take(codes, pa.array(pick, mask=text.is_null().to_numpy(zero_copy_only=False)))
    return _redo(
        out,
        pc.match_substring_regex(text, _LOWER_EXCEPTIONS).fill_null(False),
        text,
        _oracle.tag_lang,
    )


def extract_text_lang(html: pa.Array) -> pa.StructArray:
    """``(extract_text(html), tag_lang(extract_text(html)))`` as a struct."""
    text = extract_text(html)
    return pa.StructArray.from_arrays([text, tag_lang(text)], names=["text", "lang"])
