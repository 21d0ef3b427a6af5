"""URL parsing + normalization (pure Python, shared with the oracle).

Re-implements the *semantics* of the reference's URL normalizer
(giraffe-etl dataprocessors URLComponents.normalize,
URLComponents.java:262-362 — studied for behavior, code not ported):

- lowercase scheme and host,
- drop a leading ``www.`` host label,
- resolve ``.`` / ``..`` path segments,
- strip directory-index filenames (index.html, index.htm, index.php,
  default.htm, default.html),
- sort query parameters by name (stable on value for equal names),
- elide default ports (http:80, https:443),
- drop fragments.

``normalize_url`` produces the canonical CDC key.  It is deterministic
and idempotent: normalize(normalize(u)) == normalize(u).
"""

from __future__ import annotations

import re
from urllib.parse import urlsplit

_INDEX_FILES = frozenset(
    {"index.html", "index.htm", "index.php", "default.htm", "default.html"}
)
_DEFAULT_PORTS = {"http": 80, "https": 443}

# The "simple grammar": scheme://host[:port][/path][?query][#fragment]
# with host from [A-Za-z0-9.-] (no userinfo / IPv6 / pct-encoded
# authority).  Shared by the JVM expression (functions/url_expr.py) and
# the grammar-guarded Python normalizer below — keep in one place.
SIMPLE_URL_RE = (
    r"^[A-Za-z][A-Za-z0-9+.-]*://[A-Za-z0-9.-]+(:[0-9]+)?(/[^?#]*)?(\?[^#]*)?(#.*)?$"
)
_SIMPLE_URL_COMPILED = re.compile(SIMPLE_URL_RE)


def _normalize_path(path: str) -> str:
    """Resolve '.'/'..' and strip a trailing directory-index filename."""
    segments = path.split("/")
    out: list[str] = []
    for seg in segments:
        if seg == ".":
            continue
        if seg == "..":
            if out and out[-1] != "":
                out.pop()
            continue
        out.append(seg)
    if out and out[-1].lower() in _INDEX_FILES:
        out[-1] = ""
    norm = "/".join(out)
    if not norm.startswith("/"):
        norm = "/" + norm
    return norm


def normalize_url(url: str | None) -> str | None:
    """Canonicalize a URL per the rule list above; None-safe.

    Unparseable / schemeless / hostless inputs are returned stripped but
    otherwise unchanged (the CDC layer quarantines them separately).
    """
    if url is None:
        return None
    u = url.strip()
    try:
        parts = urlsplit(u)
    except ValueError:
        return u
    scheme = parts.scheme.lower()
    host = parts.hostname
    if not scheme or not host:
        return u
    host = host.lower()
    if host.startswith("www.") and len(host) > 4:
        host = host[4:]

    try:
        port = parts.port  # raises ValueError when outside [0, 65535]
    except ValueError:
        return u
    netloc = host
    if port is not None and port != _DEFAULT_PORTS.get(scheme):
        netloc = f"{host}:{port}"

    path = _normalize_path(parts.path) if parts.path else "/"

    query = ""
    if parts.query:
        pairs = [p for p in parts.query.split("&") if p]
        pairs.sort(key=lambda p: (p.split("=", 1)[0], p))
        query = "&".join(pairs)

    out = f"{scheme}://{netloc}{path}"
    if query:
        out += f"?{query}"
    return out


def normalize_url_simple(url: str | None) -> str | None:
    """Grammar-guarded canonicalizer — the CDC key contract.

    Exactly the semantics of the JVM ``normalize_url_expr``
    (parity-tested): URLs matching :data:`SIMPLE_URL_RE` are normalized
    via :func:`normalize_url`; anything else (userinfo, IPv6 literals,
    schemeless strings, ports urllib rejects) passes through
    trimmed-but-unchanged.  The CDC oracle keys on THIS function so the
    engine's pure-JVM canonicalization and the oracle agree on every
    input, not just in-grammar ones.  Full-urllib canonicalization
    is :func:`normalize_url` (pure Python; the engine does not use it).
    """
    if url is None:
        return None
    u = url.strip()
    if not _SIMPLE_URL_COMPILED.match(u):
        return u
    return normalize_url(u)


def parse_url_components(url: str | None) -> dict[str, str | None]:
    """Decompose a URL into scheme/host/port/path/query/fragment strings.

    The distributed equivalent is the built-in ``parse_url`` SQL
    function; this pure version backs the oracle and edge-case tests.
    """
    empty = {k: None for k in ("scheme", "host", "port", "path", "query", "fragment")}
    if url is None:
        return empty
    try:
        p = urlsplit(url.strip())
        port = p.port  # raises ValueError when outside [0, 65535]
    except ValueError:
        return empty
    return {
        "scheme": p.scheme or None,
        "host": p.hostname,
        "port": str(port) if port is not None else None,
        "path": p.path or None,
        "query": p.query or None,
        "fragment": p.fragment or None,
    }
