"""Batch planning: validity tagging, canonicalization, per-key dedup.

All pure DataFrame -> DataFrame builders (no actions), so Catalyst sees
one logical plan per batch and can pipeline projection/filter stages
into a single whole-stage-codegen'd pass over the scan.

Dedup (the heart of the apply stage) has two formulations of the same
last-writer-wins answer, and the applier picks one per batch from its
skew plan:

- no hot keys detected -> ``dedup_winners_window``: row_number() over
  the bucket-aligned ``repartition(P, url)`` exchange;
- hot keys detected -> ``dedup_winners_agg``: one map-side-combined
  ``max_by`` aggregate.  Its partial aggregate collapses each hot key
  to one row per map task before the exchange, and with the shuffle
  partitions pinned to P its one exchange is the same bucket-aligned
  ``hashpartitioning(url, P)``.

Either way the payload crosses exactly ONE exchange, which doubles as
the write clustering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..lake.table import last_writer_wins


def batch_exprs():
    """(reason, canonical-url) Column pair used by ``tag_batch``.

    The reason rules mirror cdc/oracle.py::validity_reason exactly
    (single contract).  Building the normalize expression tree costs
    ~1 s of driver-side py4j round trips — a pure serial cost if
    rebuilt per batch.  Column objects are immutable unresolved
    references, reusable across any DataFrame with the named columns,
    so a long-lived applier builds this pair ONCE and amortizes it over
    every batch it applies.
    """
    from ..functions.url_expr import normalize_url_expr

    reason = (
        F.when(F.col("url").isNull() | (F.trim(F.col("url")) == ""), "null_url")
        .when(~F.col("op").isin("I", "U", "D"), "bad_op")
        .when(F.col("warc_ts").isNull(), "null_warc_ts")
        .when(F.col("op").isin("I", "U") & F.col("html").isNull(), "null_html")
    )
    return reason, normalize_url_expr(F.col("url"))


def tag_batch(changes: DataFrame, exprs=None) -> DataFrame:
    """Single-pass validity tagging + canonicalization.

    Adds ``_reason`` (null = valid) and replaces ``url`` with the
    canonical CDC key for valid rows (quarantined rows keep the raw
    url), so the normalize expression is evaluated once per event in
    the merge job's scan.

    ``exprs``: a prebuilt ``batch_exprs`` pair (see its docstring).
    """
    reason, canon = exprs if exprs is not None else batch_exprs()
    tagged = changes.withColumn("_reason", reason)
    return tagged.withColumn(
        "url",
        F.when(F.col("_reason").isNull(), canon).otherwise(F.col("url")),
    )


def key_stats_two_level(raw: DataFrame, canon) -> DataFrame:
    """Per canonical key: event count and max (warc_ts, lsn), with
    canonicalization lifted above a raw-url aggregate.

    A change stream has many events per key (that is why dedup-then-
    merge exists), so normalizing every EVENT's url pays the regex
    chain once per event.  Aggregating by the raw url first (map-side
    combined — a few bytes per event regardless of payload width),
    normalizing only the distinct raw urls that survive, then
    re-aggregating by the canonical key computes the identical result
    — counts sum, (warc_ts, lsn) maxes take the max of maxes — with the
    normalize expression evaluated once per DISTINCT raw url instead of
    once per event.  The second aggregate runs over one row per
    distinct key, so its shuffle is noise.

    ``raw``: (url, warc_ts, lsn) with the raw (non-canonical) url;
    ``canon``: the canonicalization Column over ``url``.
    """
    per_raw = raw.groupBy("url").agg(
        F.count(F.lit(1)).alias("_events"),
        F.max(F.struct("warc_ts", "lsn")).alias("_r"),
    )
    return (
        per_raw.withColumn("url", canon)
        .groupBy("url")
        .agg(F.sum("_events").alias("_events"), F.max("_r").alias("_r"))
    )


def _whole_partition(w):
    return w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)


def dedup_winners_window(valid: DataFrame, with_counts: bool = False) -> DataFrame:
    """Per-url winning event by max (warc_ts, lsn): row_number() over
    (url).  Schema-generic: whatever columns the change stream carries
    (e.g. post-evolution extras) ride along in the winner payload.

    ``with_counts``: winners additionally carry ``_events`` — the
    key's exact event count in this batch.  It rides the SAME window
    partitioning as the dedup itself (a full-partition count frame on
    the already-sorted rows), so it adds no exchange and no job — this
    is what lets the apply stage harvest next-batch skew statistics
    from an Observation instead of a planning pass.
    """
    w = Window.partitionBy("url").orderBy(F.col("warc_ts").desc(), F.col("lsn").desc())
    out = valid.withColumn("_rn", F.row_number().over(w))
    if with_counts:
        out = out.withColumn("_events", F.count(F.lit(1)).over(_whole_partition(w)))
    return out.filter(F.col("_rn") == 1).drop("_rn")


def dedup_winners_agg(valid: DataFrame, with_counts: bool = False) -> DataFrame:
    """Per-url winning event by max (warc_ts, lsn): one map-side-combined
    ``max_by`` aggregate (``last_writer_wins``, the formulation the lake
    table's read-time reconcile uses).  Skew-proof by construction: a
    hot key reaches the exchange as one partial row per map task.

    ``with_counts``: winners also carry ``_events`` (the key's exact
    event count), a ``count`` in the same aggregate.
    """
    return last_writer_wins(
        valid, "url", ["warc_ts", "lsn"], count_as="_events" if with_counts else None
    )
