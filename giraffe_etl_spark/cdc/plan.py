"""Batch planning: validity tagging, canonicalization, per-key dedup.

All pure DataFrame -> DataFrame builders (no actions), so Catalyst sees
one logical plan per batch and can pipeline projection/filter stages
into a single whole-stage-codegen'd pass over the scan.

Dedup (the heart of the apply stage): ``dedup_winners_window`` is the
row_number() formulation over the bucket-aligned exchange, plus hot-key
salting from the applier's skew plan (two-phase: per (url, salt)
top-1, then per url top-1).  The payload crosses exactly ONE exchange,
which doubles as the write clustering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


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


def dedup_winners_window(
    valid: DataFrame,
    hot_keys: list[str] | None = None,
    n_salts: int = 16,
    with_counts: bool = False,
) -> DataFrame:
    """Per-url winning event by max (warc_ts, lsn): row_number() with
    explicit hot-key salting.

    Cold keys: single window over (url).  Hot keys: phase 1 picks a
    winner per (url, salt) with salt = pmod(hash(lsn), n_salts) —
    spreads one hot key over n_salts reducers; phase 2 reduces the
    <= n_salts survivors per key.  Schema-generic: whatever columns
    the change stream carries (e.g. post-evolution extras) ride along
    in the winner payload.

    ``hot_keys``: a small list of hot url strings, compiled into an
    ``isin`` predicate — no extra job, no broadcast exchange (the apply
    stage reads the list from its skew plan).

    ``with_counts``: winners additionally carry ``_events`` — the
    key's exact event count in this batch.  It rides the SAME window
    partitioning as the dedup itself (a full-partition count frame on
    the already-sorted rows; in the salted path phase 1 counts per
    (url, salt) and phase 2 sums the partials), so it adds no exchange
    and no job — this is what lets the apply stage harvest next-batch
    skew statistics from an Observation instead of a planning pass.
    """
    order = (F.col("warc_ts").desc(), F.col("lsn").desc())
    w = Window.partitionBy("url").orderBy(*order)

    def top1(df: DataFrame) -> DataFrame:
        out = df.withColumn("_rn", F.row_number().over(w))
        if with_counts:
            out = out.withColumn("_events", F.count(F.lit(1)).over(_whole_partition(w)))
        return out.filter(F.col("_rn") == 1).drop("_rn")

    if not hot_keys:
        return top1(valid)

    is_hot = F.col("url").isin(list(hot_keys))
    cold_winners = top1(valid.filter(~is_hot))

    salted = valid.filter(is_hot).withColumn(
        "_salt", F.pmod(F.hash("lsn"), F.lit(n_salts))
    )
    w1 = Window.partitionBy("url", "_salt").orderBy(*order)
    phase1 = salted.withColumn("_rn", F.row_number().over(w1))
    if with_counts:
        phase1 = phase1.withColumn("_cnt", F.count(F.lit(1)).over(_whole_partition(w1)))
    phase1 = phase1.filter(F.col("_rn") == 1).drop("_rn", "_salt")
    hot_winners = phase1.withColumn("_rn", F.row_number().over(w))
    if with_counts:
        hot_winners = hot_winners.withColumn(
            "_events", F.sum("_cnt").over(_whole_partition(w))
        ).drop("_cnt")
    hot_winners = hot_winners.filter(F.col("_rn") == 1).drop("_rn")
    return cold_winners.unionByName(hot_winners)
