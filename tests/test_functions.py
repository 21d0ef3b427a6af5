"""Unit tests for the pure transform library (no Spark needed)."""

from giraffe_etl_spark.functions import (
    extract_text,
    fingerprint64,
    normalize_url,
    quality_score,
    tag_lang,
    token_count,
)


class TestExtractText:
    def test_strips_tags_scripts_styles_comments(self):
        html = (
            b"<html><head><script>var a = '<p>no</p>';</script>"
            b"<style>p{}</style></head>"
            b"<body><!-- hidden --><p>Hello <b>world</b></p></body></html>"
        )
        assert extract_text(html) == "Hello world"

    def test_entities(self):
        assert extract_text(b"<p>a &amp; b &lt;c&gt; &quot;d&quot;</p>") == 'a & b <c> "d"'

    def test_whitespace_collapse(self):
        assert extract_text(b"  a\n\n\t b   c ") == "a b c"

    def test_invalid_utf8_deterministic(self):
        out1 = extract_text(b"<p>x \xff\xfe\x80 y</p>")
        out2 = extract_text(b"<p>x \xff\xfe\x80 y</p>")
        assert out1 == out2
        assert "�" in out1

    def test_none(self):
        assert extract_text(None) is None

    def test_multibyte(self):
        assert extract_text("<p>über straße 😀</p>".encode()) == "über straße 😀"


class TestTagLang:
    def test_en(self):
        assert tag_lang("the cat sat on the mat and it was happy") == "en"

    def test_de(self):
        assert tag_lang("der hund und die katze sind nicht im haus") == "de"

    def test_fr(self):
        assert tag_lang("le chien est dans la maison pour la nuit") == "fr"

    def test_tilde_vowels_are_word_letters(self):
        # "não" is one word (the pt stopword), not "n" + the stopword
        # "o"; a word with ã or õ that is no stopword scores nothing
        assert tag_lang("não") == "pt"
        assert tag_lang("são") == "und"
        assert tag_lang("põe") == "und"
        assert tag_lang("NÃO") == "pt"

    def test_und(self):
        assert tag_lang("zzz qqq xxx") == "und"
        assert tag_lang("") == "und"

    def test_none(self):
        assert tag_lang(None) is None


class TestNormalizeUrl:
    def test_lowercase_and_www(self):
        assert normalize_url("HTTP://WWW.Example.COM/Path") == "http://example.com/Path"

    def test_default_port_elision(self):
        assert normalize_url("http://a.com:80/x") == "http://a.com/x"
        assert normalize_url("https://a.com:443/x") == "https://a.com/x"
        assert normalize_url("http://a.com:8080/x") == "http://a.com:8080/x"

    def test_index_files_stripped(self):
        assert normalize_url("http://a.com/dir/index.html") == "http://a.com/dir/"
        assert normalize_url("http://a.com/index.php") == "http://a.com/"

    def test_dot_segments(self):
        assert normalize_url("http://a.com/a/./b/../c") == "http://a.com/a/c"

    def test_query_sort(self):
        assert normalize_url("http://a.com/p?b=2&a=1&a=0") == "http://a.com/p?a=0&a=1&b=2"

    def test_fragment_dropped(self):
        assert normalize_url("http://a.com/p#frag") == "http://a.com/p"

    def test_idempotent(self):
        u = "HTTP://WWW.A.com:80/x/./y/index.htm?b=1&a=2#f"
        once = normalize_url(u)
        assert normalize_url(once) == once

    def test_none_and_garbage(self):
        assert normalize_url(None) is None
        assert normalize_url("not a url") == "not a url"


class TestTextStats:
    def test_token_count(self):
        assert token_count("hello, world!") == 4
        assert token_count("") == 0
        assert token_count(None) is None

    def test_quality_score_bounds(self):
        s = quality_score("the quick brown fox jumps over the lazy dog. " * 20)
        assert 0.0 <= s <= 1.0
        assert quality_score("") == 0.0

    def test_fingerprint_stable_and_distinct(self):
        a = fingerprint64("hello world")
        b = fingerprint64("hello world")
        c = fingerprint64("hello worle")
        assert a == b
        assert a != c
        assert -(2**63) <= a < 2**63


class TestOracleAsciiPrecondition:
    """Pins the ASCII precondition the driver's lang/token oracles state.

    The DuckDB oracles for lang_tag_documents / doc_token_count match
    the Python UDFs only on printable-ASCII text ([a-z]+ vs the
    accent-aware _WORD_RE; RE2 ASCII \\w vs Python unicode \\w).  The
    docstrings state the assumption; this test enforces it, so a future
    non-ASCII test table fails HERE with a pointer instead of silently
    diverging at the driver's value hash.
    """

    def test_documents_text_is_printable_ascii(self):
        import os

        import pyarrow.parquet as pq

        for sf in ("sf0.001", "sf0.01"):
            path = f"/root/testdata/{sf}/documents.parquet"
            if not os.path.exists(path):
                continue
            texts = pq.read_table(path, columns=["text"]).column("text")
            for t in texts.to_pylist():
                assert t is None or (t.isascii() and t.isprintable()), (
                    f"{sf}: non-printable-ASCII document text found - the "
                    "lang_tag/doc_token DuckDB oracles' stated ASCII "
                    "precondition no longer holds; regenerate them with "
                    "unicode-aware regexes (see __spark_entry__.py)"
                )
