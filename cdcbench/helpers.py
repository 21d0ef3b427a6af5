"""Pure helpers of the CDC benchmark: no Spark, no I/O.

Kept apart from the runner so the tests in this directory can pin the
statistics rules and the content digest without starting a JVM.
"""

from __future__ import annotations

import hashlib
import math
import statistics


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """Highest whole percentile with at least ``beyond`` samples above it.

    With ``n`` samples, percentile ``p`` has ``n * (100 - p) / 100``
    samples beyond it; the rule keeps a tail figure from resting on a
    handful of samples.  Returns None when ``n < beyond``.
    """
    if n < beyond:
        return None
    return int(math.floor(100.0 * (n - beyond) / n))


def percentile(values: list[float], p: int) -> float:
    """Nearest-rank percentile (``p`` in 0..100) of the samples."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return float(ordered[rank - 1])


def cycle_batches(compact_threshold: int) -> int:
    """Batches per inline-compaction cycle when every batch touches
    every bucket: a bucket compacts on the batch that gives it more
    than ``compact_threshold`` delta files, and is then empty again."""
    if compact_threshold < 1:
        raise ValueError("inline compaction must be on (threshold >= 1)")
    return compact_threshold + 1


def window_cycles(seconds: float, cycle_seconds: float) -> int:
    """Whole compaction cycles that fill about ``seconds`` of timing.

    Rounded, never below one, so the window always samples every delta
    depth the same number of times and its compaction count is a pure
    function of the arguments.
    """
    if seconds <= 0 or cycle_seconds <= 0:
        raise ValueError("seconds and cycle_seconds must be positive")
    return max(1, int(round(seconds / cycle_seconds)))


def window_compactions(warmup_batches: int, window_batches: int,
                       compact_threshold: int) -> int:
    """Inline compactions expected in the window, starting from a
    freshly seeded table (zero delta files) and ``warmup_batches``
    untimed batches."""
    cyc = cycle_batches(compact_threshold)
    done = warmup_batches + window_batches
    return done // cyc - warmup_batches // cyc


def content_digest(rows) -> str:
    """Order-independent hash of table content.

    ``rows`` yields ``(url, warc_ts_us, text, lang, html_len)`` tuples.
    Rows are hashed in url order, so the digest is the same whatever
    order a scan returned them in.
    """
    h = hashlib.sha256()
    n = 0
    for url, ts_us, text, lang, html_len in sorted(rows, key=lambda r: r[0]):
        h.update(
            f"{url}\x1f{int(ts_us)}\x1f{text}\x1f{lang}\x1f{int(html_len)}\x1e".encode(
                "utf-8", "surrogatepass"
            )
        )
        n += 1
    return f"{n}:{h.hexdigest()}"


def iqr_share(values: list[float]) -> float:
    """Distance between the first and third quartile, as a share of the
    median (the spread rule the benchmark's bounds are held to)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
