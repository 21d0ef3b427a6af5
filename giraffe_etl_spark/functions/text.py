"""Pure-Python text transforms (the giraffe "task chain" re-expressed).

Reference analog: the per-record transform chain of giraffe-etl
(SURVEY.md §2.2; codegen'd ``work()`` chains,
libgiraffe2 factories/InnerNodeSource.java:207-222).  Here each
transform is a **pure function**, and this module is the single source
of truth for html -> text and text -> lang:

1. the pandas oracle (cdc/oracle.py) calls it directly;
2. ``extract_text`` and ``tag_lang`` are the oracle of their
   Arrow-array kernel (functions/text_arrow.py), which the distributed
   path runs through ``arrow_udf`` (functions/udf.py): the kernel hands
   back to this module's own steps every row it cannot prove
   byte-identical, and tests/test_text_arrow.py checks it against these
   functions;
3. ``token_count``, ``quality_score`` and ``fingerprint64`` are wrapped
   row by row in ``pandas_udf``s (functions/udf.py).

That is what guarantees the "byte-identical extracted text per url"
invariant (BASELINE.json input_hint).

All functions are deterministic: no wall-clock, no locale, no ambient
randomness.
"""

from __future__ import annotations

import math
import re
import zlib

# --- extract_text ----------------------------------------------------------

_SCRIPT_RE = re.compile(
    rb"<(script|style)\b[^>]*>.*?</\1\s*>", re.IGNORECASE | re.DOTALL
)
_COMMENT_RE = re.compile(rb"<!--.*?-->", re.DOTALL)
_TAG_RE = re.compile(rb"<[^>]*>")
_WS_RE = re.compile(r"\s+")

_ENTITIES = {
    "&amp;": "&",
    "&lt;": "<",
    "&gt;": ">",
    "&quot;": '"',
    "&#39;": "'",
    "&apos;": "'",
    "&nbsp;": " ",
}
_ENTITY_RE = re.compile("|".join(re.escape(k) for k in _ENTITIES))


def extract_text(html: bytes | None) -> str | None:
    """Deterministic HTML -> visible-text extraction.

    Operates on raw bytes first (tag stripping is byte-level so invalid
    UTF-8 inside tags can never corrupt the visible text), then decodes
    UTF-8 with U+FFFD replacement — a deterministic total function of
    the input bytes.  Steps:

    1. drop <script>/<style> blocks and <!-- comments --> (byte-level),
    2. strip remaining tags (byte-level),
    3. decode UTF-8 (errors='replace'),
    4. unescape the common named entities,
    5. collapse all whitespace runs to single spaces; strip ends.
    """
    if html is None:
        return None
    b = _SCRIPT_RE.sub(b" ", html)
    b = _COMMENT_RE.sub(b" ", b)
    b = _TAG_RE.sub(b" ", b)
    s = b.decode("utf-8", errors="replace")
    s = _ENTITY_RE.sub(lambda m: _ENTITIES[m.group(0)], s)
    s = _WS_RE.sub(" ", s).strip()
    return s


# --- tag_lang ---------------------------------------------------------------

# Tiny deterministic stopword tables for a handful of languages.  This is
# a heuristic language ID (n-gram/stopword voting) — the giraffe analog is
# the dictionary-driven UserAgent classifier (SURVEY.md §2.8,
# dataprocessors/useragent/UserAgent.java): a broadcastable rule table
# consulted by a vectorized UDF.
_LANG_STOPWORDS: dict[str, frozenset[str]] = {
    "en": frozenset(
        "the of and to in is was for on that with as it at by from this be are".split()
    ),
    "de": frozenset(
        "der die das und ist von zu mit den im für auf des ein eine nicht als".split()
    ),
    "fr": frozenset(
        "le la les de des et un une est dans pour que qui au aux par sur".split()
    ),
    "es": frozenset(
        "el la los las de y un una es en por que para con del se su".split()
    ),
    "it": frozenset(
        "il la le di e un una che per con del non sono della nel".split()
    ),
    "pt": frozenset(
        "o a os as de e um uma que para com não do da em no na por".split()
    ),
    "nl": frozenset(
        "de het een en van in is dat op te met voor niet aan er ook".split()
    ),
    "hu": frozenset(
        "a az és hogy nem is egy ez meg volt ha már csak mint el".split()
    ),
}
_LANGS = sorted(_LANG_STOPWORDS)  # deterministic tie-break order
_WORD_RE = re.compile(r"[a-záéíóöőúüűàâçèêëîïôûñßãõ]+")


def tag_lang(text: str | None) -> str | None:
    """Heuristic language tag: stopword vote, deterministic tie-break.

    Returns a 2-letter code, or 'und' when no stopword matches (or the
    text is empty).  Ties break by language-code sort order so results
    are stable across runs / partitionings.
    """
    if text is None:
        return None
    words = _WORD_RE.findall(text.lower())
    if not words:
        return "und"
    best_lang, best_score = "und", 0
    for lang in _LANGS:
        sw = _LANG_STOPWORDS[lang]
        score = sum(1 for w in words if w in sw)
        if score > best_score:
            best_lang, best_score = lang, score
    return best_lang if best_score > 0 else "und"


# --- quality / token / fingerprint (training-data pipeline ops) -------------

_TOKEN_RE = re.compile(r"\w+|[^\w\s]")


def token_count(text: str | None) -> int | None:
    """BPE-ish token proxy: words plus standalone punctuation marks."""
    if text is None:
        return None
    return len(_TOKEN_RE.findall(text))


def quality_score(text: str | None) -> float | None:
    """Deterministic [0,1] quality heuristic for web text.

    Components (equal weight): length band, alpha ratio, mean word
    length band, stopword presence.  Mirrors the ratio-based quality
    filters of public web-corpus pipelines (C4/Gopher-style rules).
    """
    if text is None:
        return None
    n = len(text)
    if n == 0:
        return 0.0
    words = text.split()
    n_alpha = sum(ch.isalpha() for ch in text)
    alpha_ratio = n_alpha / n
    mean_wlen = (sum(len(w) for w in words) / len(words)) if words else 0.0
    lower_words = [w.lower() for w in words]
    en_sw = _LANG_STOPWORDS["en"]
    sw_ratio = (sum(1 for w in lower_words if w in en_sw) / len(words)) if words else 0.0

    len_score = 1.0 if 200 <= n <= 100_000 else (n / 200.0 if n < 200 else 0.5)
    alpha_score = min(1.0, alpha_ratio / 0.7)
    wlen_score = 1.0 if 3.0 <= mean_wlen <= 12.0 else 0.3
    sw_score = min(1.0, sw_ratio / 0.1)
    score = (len_score + alpha_score + wlen_score + sw_score) / 4.0
    # half-UP to 6 dp (not Python's banker's round): SQL engines round
    # half away from zero, and the DuckDB oracle must reproduce this
    # value bit-for-bit (a dyadic score like 0.7890625 would otherwise
    # round to ...62 here and ...63 there)
    return math.floor(score * 1e6 + 0.5) / 1e6


def fingerprint64(text: str | None) -> int | None:
    """64-bit rolling document fingerprint (deterministic, seedless).

    crc32 over the text and over its reverse, packed into 64 bits —
    cheap, stable across platforms, good enough for exact-dup grouping.
    """
    if text is None:
        return None
    b = text.encode("utf-8", errors="surrogatepass")
    hi = zlib.crc32(b) & 0xFFFFFFFF
    lo = zlib.crc32(b[::-1]) & 0xFFFFFFFF
    v = (hi << 32) | lo
    # keep within signed 64-bit for Spark LongType
    return v - (1 << 64) if v >= (1 << 63) else v
