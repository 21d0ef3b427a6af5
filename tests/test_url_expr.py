"""Parity: JVM normalize_url_expr == pure-Python normalize_url.

The expression's contract (functions/url_expr.py) is byte-identical
output on the simple URL grammar; this corpus walks every rule plus
adversarial in-grammar shapes.  Out-of-grammar URLs must pass through
trimmed-but-unchanged.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from giraffe_etl_spark.functions.url import normalize_url
from giraffe_etl_spark.functions.url_expr import normalize_url_expr

IN_GRAMMAR = [
    "http://example.org/page/1",
    "HTTP://EXAMPLE.ORG/Page/1",
    "http://www.example.org/a",
    "http://www.x/a",                      # www. stripped only when len>4
    "http://example.org",
    "http://example.org/",
    "http://example.org:80/a",             # default port elided
    "http://example.org:0080/a",           # zero-padded default port
    "https://example.org:443/a",
    "https://example.org:8443/a",          # non-default kept
    "http://example.org:8080/a?b=2&a=1",
    "http://example.org/a/./b/../c",
    "http://example.org/a/index.html",
    "http://example.org/a/INDEX.HTM",
    "http://example.org/default.html",
    "http://example.org/a//b",             # empty segment preserved
    "http://example.org/a/b/../../../c",   # underflow ..
    "http://example.org/?z=1&a=2&a=1",     # dup keys, value tiebreak
    "http://example.org/p?b=2&a=1#frag",   # fragment dropped
    "http://example.org/p?&&a=1&",         # empty pairs dropped
    "http://example.org/p?novalue",
    "http://example.org/p?a",
    "  http://example.org/x  ",            # trimmed
    "ftp://files.example.org/pub/f.txt",
    "http://host7.example.org/page/123?b=2&a=1",
    "http://example.org/a/..",
    "http://example.org/..",
    "http://example.org/.",
    "http://example.org/index.php",
    "http://example.org/p#f?x=1",          # '?' inside fragment is not a query
    "http://example.org/p?a=1#f?x=2",
    "http://example.org/p?a=1?b=2",        # second '?' belongs to the query
    "http://example.org/p?a=1?z&a=0",      # sort with '?' inside a pair
    "http://example.org:65535/a",          # max valid port kept
    "http://example.org:99999/a",          # port > 65535: urllib rejects -> passthrough
    "http://example.org:99999999999999999999/a",  # port > int64: no overflow-null
    # fast-path boundary (url_expr._fast_canonical): both sides of
    # every guard clause, parity-checked against the Python normalizer
    "http://a.com/x",                      # fast: plain canonical
    "http://a.com/",                       # fast: root path
    "http://a.com/a//b/",                  # fast: empty segments preserved
    "http://a.com/x.index.html",           # fast: '.index.html' is not '/index.html'
    "http://a.com/windex.php",             # fast: suffix-only near-miss
    "http://wwwx.com/a",                   # fast: 'www' not a label prefix
    "http://a.com/a%20b",                  # fast: percent bytes untouched
    "http://a.com/index.html",             # slow: index stripped
    "http://a.com/INDEX.HTML",             # slow via uppercase; stripped anyway
    "http://a.com/x/default.htm",          # slow: index stripped
    "http://www.a.com/x",                  # slow: www. stripped
    "http://a.com./x",                     # fast: trailing host dot kept
    "http://a.com/x:y",                    # slow: ':' in path (conservative)
]

OUT_OF_GRAMMAR = [
    "not a url",
    "example.org/no-scheme",
    "http://user:pw@example.org/a",     # userinfo
    "http://[2001:db8::1]:8080/a",      # IPv6 literal
    "//protocol-relative.example.org/x",
    "",
]


def test_expr_matches_python_on_grammar(spark):
    urls = IN_GRAMMAR + OUT_OF_GRAMMAR
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = {
        r["url"]: r["norm"]
        for r in df.select("url", normalize_url_expr("url").alias("norm")).collect()
    }
    for u in IN_GRAMMAR:
        assert got[u] == normalize_url(u), f"parity broken for {u!r}"
    for u in OUT_OF_GRAMMAR:
        assert got[u] == u.strip(), f"out-of-grammar {u!r} must pass through"


def test_expr_null_safe(spark):
    df = spark.createDataFrame([(None,)], "url string")
    assert df.select(normalize_url_expr("url").alias("n")).collect()[0]["n"] is None


def test_expr_idempotent(spark):
    df = spark.createDataFrame([(u,) for u in IN_GRAMMAR], "url string")
    once = df.select(normalize_url_expr("url").alias("u1"))
    twice = once.select("u1", normalize_url_expr("u1").alias("u2"))
    for r in twice.collect():
        assert r["u1"] == r["u2"]


def test_window_dedup_lsn_tiebreak_matches_oracle(spark):
    """The engine's dedup picks the oracle's winners, incl. the
    within-batch equal-warc_ts LSN tiebreak."""
    import datetime as dt

    import pandas as pd

    from giraffe_etl_spark.cdc.oracle import oracle_apply
    from giraffe_etl_spark.cdc.plan import dedup_winners_window
    from giraffe_etl_spark.functions.url import normalize_url_simple

    t = dt.datetime(2024, 1, 1)
    t2 = dt.datetime(2024, 1, 2)
    rows = [
        (1, "I", "http://a.org/", t, b"v1"),
        (2, "U", "http://a.org/", t, b"v2"),   # same ts, higher lsn wins
        (3, "U", "http://b.org/", t2, b"v3"),
        (4, "U", "http://b.org/", t, b"v4"),   # older ts loses despite lsn
        (5, "D", "http://c.org/", t, None),
    ]
    cols = ["lsn", "op", "url", "warc_ts", "html"]
    # already canonical: the dedup keys on the url column as given
    assert all(normalize_url_simple(r[2]) == r[2] for r in rows)
    df = spark.createDataFrame(
        rows, "lsn long, op string, url string, warc_ts timestamp, html binary"
    )
    got = dedup_winners_window(df).collect()
    assert {r["url"]: (r["lsn"], r["op"]) for r in got} == {
        "http://a.org/": (2, "U"),
        "http://b.org/": (3, "U"),
        "http://c.org/": (5, "D"),
    }
    want = oracle_apply(
        pd.DataFrame(columns=["url", "warc_ts", "html", "text", "lang"]),
        pd.DataFrame(rows, columns=cols),
    )
    live = {r["url"]: bytes(r["html"]) for r in got if r["op"] != "D"}
    assert live == dict(zip(want["url"], want["html"]))


def _fast_canonical_py(u: str) -> bool:
    """Python mirror of url_expr._fast_canonical (test-only).

    Kept 1:1 with the Column expression; the corpus test above pins
    expr==python across the guard boundary, and this mirror lets the
    fixed-point property run thousands of examples without a Spark job
    per example.
    """
    import re as _re

    if not _re.match(r"^https?://(?!www\.)[a-z0-9.-]+/[^?#A-Z:\s]*\Z", u):
        return False
    if "/./" in u or "/../" in u or u.endswith(("/.", "/..")):
        return False
    return not u.endswith(
        ("/index.html", "/index.htm", "/index.php", "/default.htm", "/default.html")
    )


def test_fast_path_is_fixed_point():
    """Any URL passing the fast-canonical guard must be a fixed point of
    the normalizer — otherwise the fast path would change an answer."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from giraffe_etl_spark.functions.url import normalize_url_simple

    host = st.text(alphabet="abz09.-w", min_size=1, max_size=12)
    seg = st.text(
        alphabet="abz09._-%~wIndexhtmlphpABC?#: /\\\n\t", min_size=0, max_size=12
    )
    path = st.lists(seg, min_size=0, max_size=4).map("/".join)

    @given(host=host, path=path)
    @settings(max_examples=2000, deadline=None)
    def check(host: str, path: str):
        u = f"http://{host}/{path}"
        if _fast_canonical_py(u):
            assert normalize_url_simple(u) == u, u

    check()
