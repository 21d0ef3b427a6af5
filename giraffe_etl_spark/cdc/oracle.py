"""Single-threaded pandas oracle for the CDC apply (FIXTURES.md §5).

Semantics (the contract every distributed path must match exactly):

- malformed events (see ``validity_reason``) never reach the table,
- the canonical key is ``normalize_url_simple(url)`` — the
  grammar-guarded normalizer, byte-identical to the engine's JVM
  canonicalization expression on EVERY input (in-grammar URLs are
  normalized, out-of-grammar URLs pass through trimmed),
- per key, the *winning* event is the one with max ``(warc_ts, lsn)``
  — last-writer-wins on event time, monotonic-LSN tiebreak.  The
  initial page row participates with lsn = -1 (it predates the stream),
- winner op D  -> key absent from the final table,
- winner op I/U -> row (url, warc_ts, text=extract_text(html),
  lang=tag_lang(text), html) — transforms via the same pure functions
  the Spark UDFs wrap, giving byte-identical text per url.

The reference analog is giraffe's per-value memoization with
last-write-wins cache puts (BDBLookupTable.java:81-100, studied for
behavior only); re-expressed as a deterministic fold.
"""

from __future__ import annotations

import pandas as pd

from ..functions.text import extract_text, tag_lang
from ..functions.url import normalize_url_simple

VALID_OPS = frozenset({"I", "U", "D"})


def validity_reason(op, url, warc_ts, html) -> str | None:
    """Return a quarantine reason string, or None when the event is valid.

    The same rule set drives the Spark-side quarantine routing; keep in
    sync with cdc/plan.py::batch_exprs.
    """
    if url is None or (isinstance(url, str) and url.strip() == ""):
        return "null_url"
    if op not in VALID_OPS:
        return "bad_op"
    if warc_ts is None or pd.isna(warc_ts):
        return "null_warc_ts"
    if op in ("I", "U") and html is None:
        return "null_html"
    return None


def oracle_apply(pages: pd.DataFrame, changes: pd.DataFrame) -> pd.DataFrame:
    """Fold the whole change stream over the initial pages table.

    Returns the final table sorted by url, columns
    (url, warc_ts, html, text, lang).
    """
    state: dict[str, tuple[pd.Timestamp, int, str, bytes | None]] = {}
    # (warc_ts, lsn, op, html) per canonical url; initial rows at lsn -1
    for row in pages.itertuples(index=False):
        key = normalize_url_simple(row.url)
        state[key] = (row.warc_ts, -1, "I", row.html)

    ordered = changes.sort_values("lsn", kind="mergesort")
    for row in ordered.itertuples(index=False):
        if validity_reason(row.op, row.url, row.warc_ts, row.html) is not None:
            continue
        key = normalize_url_simple(row.url)
        cand = (row.warc_ts, int(row.lsn), row.op, row.html)
        cur = state.get(key)
        if cur is None or (cand[0], cand[1]) >= (cur[0], cur[1]):
            state[key] = cand

    out = []
    for url in sorted(state):
        ts, lsn, op, html = state[url]
        if op == "D":
            continue
        text = extract_text(html)
        out.append((url, ts, html, text, tag_lang(text)))
    return pd.DataFrame(out, columns=["url", "warc_ts", "html", "text", "lang"])


def oracle_quarantine(changes: pd.DataFrame) -> pd.DataFrame:
    """Malformed rows with reasons — mirror of the quarantine table."""
    reasons = [
        validity_reason(r.op, r.url, r.warc_ts, r.html)
        for r in changes.itertuples(index=False)
    ]
    mask = [r is not None for r in reasons]
    bad = changes.loc[mask].copy()
    bad["reason"] = [r for r in reasons if r is not None]
    return bad
