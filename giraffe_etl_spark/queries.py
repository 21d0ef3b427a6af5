"""Headline query pack over the driver's parquet tables + synthetic CDC.

Each function takes (spark, sf_dir) and returns a DataFrame.  Every
aggregate / computed column is aliased identically to the companion
DuckDB oracle SQL in __spark_entry__.py (the driver hash-compares
values after sorting columns by name).  Doubles are rounded in BOTH
engines to absorb summation-order FP differences.

Operator coverage demonstrated here (SURVEY.md §2 mapping):
scan+filter+project (pushdown), hash agg, broadcast + shuffle joins,
window/top-k, set ops, string transforms, per-key latest (the CDC
dedup semantic), cosine similarity, dedup family, pandas-UDF chain.
"""

from __future__ import annotations

import os

import pandas as pd  # module-level: pandas_udf type hints resolve here

from pyspark.sql import DataFrame, SparkSession, Window, functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ---- TPC-H-ish relational coverage -----------------------------------------

def q1_pricing_summary(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q3_shipping_priority(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1997-03-15"))
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1997-03-15"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


def q5_region_revenue(spark, sf_dir):
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    return (
        # region/nation are tiny: broadcast them explicitly
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .join(s, (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


def top_customer_per_nation(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    top = (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return (
        top.join(F.broadcast(n), top.c_nationkey == n.n_nationkey)
        .select(
            "n_name",
            "c_custkey",
            F.round("c_acctbal", 2).alias("acctbal"),
        )
        .orderBy("n_name")
    )


def q6_revenue_delta(spark, sf_dir):
    """Pure filter + global agg — predicate pushdown to the parquet scan."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q4_order_priority(spark, sf_dir):
    """EXISTS semi-join: orders with at least one late-shipped lineitem."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01"))
        & (F.col("o_orderdate") < F.lit("1996-10-01"))
    )
    l = _t(spark, sf_dir, "lineitem")
    late = o.join(
        l,
        (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def purchasers_without_errors(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    buyers = e.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    erroring = e.filter(F.col("event_type") == "error").select("user_id").distinct()
    return buyers.exceptAll(erroring).orderBy("user_id")


# ---- CDC semantics over the events stream (oracle-checkable) ----------------

def events_latest_per_user(spark, sf_dir):
    """Per-key latest-event collapse — the CDC dedup winner, as SQL.

    One groupBy with max_by over the (ts, id) rank struct, map-side
    combined — the formulation the CDC apply uses for batches with hot
    keys (cdc.plan.dedup_winners_agg); unskewed batches take the
    row_number() window, cdc.plan.dedup_winners_window.
    """
    e = _t(spark, sf_dir, "events")
    payload = F.struct("event_id", "ts", "event_type", "value")
    rank = F.struct("ts", "event_id")
    won = e.groupBy("user_id").agg(F.max_by(payload, rank).alias("w"))
    return won.select(
        "user_id",
        F.col("w.event_id").alias("event_id"),
        F.col("w.ts").alias("ts"),
        F.col("w.event_type").alias("event_type"),
        F.round(F.col("w.value"), 4).alias("value"),
    ).orderBy("user_id")


def purchase_and_error_users(spark, sf_dir):
    """INTERSECT set op (complement of purchasers_without_errors)."""
    e = _t(spark, sf_dir, "events")
    buyers = e.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    erroring = e.filter(F.col("event_type") == "error").select("user_id").distinct()
    return buyers.intersect(erroring).orderBy("user_id")


def events_running_total(spark, sf_dir):
    """Cumulative frame-spec window: running sum of value per user.

    Deterministic FP: both engines accumulate in the same (ts,
    event_id) order, so rounded values match exactly.
    """
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(w), 4).alias("running_value"),
    ).orderBy("user_id", "event_id")


def events_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity) via lag + running sum.

    The giraffe analog is nothing — this is the training-pipeline
    sessionizer every clickstream system needs; one shuffle on user_id,
    both window stages reuse that partitioning.
    """
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = e.withColumn("_new", new_sess).withColumn(
        "session_id",
        F.sum("_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        sess.groupBy("user_id")
        .agg(
            F.max("session_id").alias("n_sessions"),
            F.round(
                F.count(F.lit(1)) / F.max("session_id"), 4
            ).alias("avg_events_per_session"),
        )
        .orderBy("user_id")
    )


def events_props_topk(spark, sf_dir):
    """JSON extraction from the props column + top-k by frequency."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.select(k.alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("k"))
        .limit(20)
    )


def events_rollup_day_type(spark, sf_dir):
    """ROLLUP grouping-sets: (type, day), (type), () subtotals."""
    e = _t(spark, sf_dir, "events")
    return (
        e.rollup("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy(
            F.col("event_type").asc_nulls_first(), F.col("day").asc_nulls_first()
        )
    )


def part_price_stats(spark, sf_dir):
    e = _t(spark, sf_dir, "part")
    return (
        e.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.avg("p_retailprice"), 2).alias("avg_price"),
            F.round(F.max("p_retailprice") - F.min("p_retailprice"), 2).alias(
                "price_range"
            ),
        )
        .orderBy("p_brand")
    )


def url_parse_hosts(spark, sf_dir):
    """URL decomposition via built-ins (giraffe URLComponents analog).

    Synthesizes deterministic URLs from the documents table, then
    extracts host/path with parse_url — JVM-side, no UDF.  Cited
    reference behavior: URLComponents.java:106-196 (parse), semantics
    only.
    """
    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("http://"),
        F.col("source"),
        F.lit(".example.org/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?b=2&a=1"),
    )
    u = d.select(F.col("doc_id"), url.alias("url"))
    return (
        u.select(
            F.parse_url("url", F.lit("HOST")).alias("host"),
            F.parse_url("url", F.lit("PATH")).alias("path"),
            F.parse_url("url", F.lit("QUERY")).alias("query"),
        )
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.min("path").alias("min_path"),
            F.max("query").alias("max_query"),
        )
        .orderBy("host")
    )


def events_type_rollup(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 4).alias("avg_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


def events_user_daily(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("user_id", "day")
    )


# ---- documents: text-pipeline ops (oracle-checkable subset) -----------------

_NORM = r"regexp_replace(lower(trim(text)), '\\s+', ' ')"


def doc_exact_dedup(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return (
        d.groupBy(norm.alias("norm_text"))
        .agg(F.min("doc_id").alias("rep_id"), F.count(F.lit(1)).alias("n_dups"))
        .select("rep_id", "n_dups")
        .orderBy("rep_id")
    )


def doc_token_count(spark, sf_dir):
    from .operators.textstats import token_count_expr

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", token_count_expr("text").alias("n_tokens")).orderBy(
        "doc_id"
    )


def doc_stats_by_lang(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(F.length("text")), 2).alias("avg_chars"),
            F.round(
                F.avg(F.size(F.filter(F.split("text", r"\s+"), lambda w: w != ""))), 2
            ).alias("avg_words"),
        )
        .orderBy("lang")
    )


# ---- embeddings: similarity search ------------------------------------------

def ann_topk_cosine(spark, sf_dir):
    """Exact cosine top-10 vs the vec_id=0 embedding (brute force)."""
    from .operators.similarity import cosine_col

    emb = _t(spark, sf_dir, "embeddings")
    qvec = F.broadcast(
        emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("_q"))
    )
    scored = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(qvec)
        .select(
            "vec_id",
            F.round(
                cosine_col(
                    F.col("embedding").cast("array<double>"),
                    F.col("_q").cast("array<double>"),
                ),
                4,
            ).alias("cosine"),
        )
    )
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id")).limit(10)


# ---- non-SQL-expressible ops (rows-only driver check) ------------------------

# Stopword-bearing ASCII fillers, one per expected language tag, shared
# verbatim with the DuckDB oracle (__spark_entry__._cdc_replay_sql): the
# html body is built from these, so the oracle can reconstruct the
# extracted text AND the expected tag_lang vote per row.
CDC_FILLERS = [
    ("en", "the cat sat on the mat and it was good"),
    ("de", "der hund und die katze sind nicht im haus"),
    ("fr", "le chat est sur la table et il mange pour que"),
    ("es", "el perro y la casa es para los que se van"),
    ("hu", "az ember hogy nem volt egy csak mint el"),
]


def cdc_changes_from_events(spark, sf_dir) -> DataFrame:
    """Deterministic change stream derived from the ``events`` table.

    Every column is a simple SQL expression of (event_id, user_id, ts)
    — reproducible in DuckDB — so a full CDC replay over this stream is
    hash-checkable end to end: the oracle recomputes the per-url
    last-writer-wins winner (window over warc_ts desc, lsn desc), the
    text the html extractor must produce, and the language the
    stopword vote must assign.  op mix: 60% I / 30% U / 10% D, with
    every 97th event malformed (op='X' -> quarantine route).
    """
    e = _t(spark, sf_dir, "events")
    url = F.concat(
        F.lit("http://host"),
        (F.col("user_id") % 20).cast("string"),
        F.lit(".example.org/page/"),
        F.col("user_id").cast("string"),
    )
    op = (
        F.when(F.col("event_id") % 97 == 0, F.lit("X"))
        .when(F.col("event_id") % 10 < 6, F.lit("I"))
        .when(F.col("event_id") % 10 < 9, F.lit("U"))
        .otherwise(F.lit("D"))
    )
    filler = F.element_at(
        F.array(*[F.lit(t) for _, t in CDC_FILLERS]),
        (F.col("user_id") % 5 + 1).cast("int"),
    )
    html_str = F.concat(
        F.lit("<html><head><title>doc "),
        F.col("event_id").cast("string"),
        F.lit("</title><script>var x = 1 < 2;</script></head><body><h1>"),
        url,
        F.lit("</h1><p>"),
        filler,
        F.lit(" rev "),
        F.col("event_id").cast("string"),
        F.lit("</p></body></html>"),
    )
    return e.select(
        F.col("event_id").alias("lsn"),
        op.alias("op"),
        url.alias("url"),
        F.col("ts").alias("warc_ts"),
        F.when(op != "D", F.encode(html_str, "UTF-8"))
        .otherwise(F.lit(None).cast("binary"))
        .alias("html"),
    )


def _cdc_fixture(spark, sf_dir, prefix, n_buckets=8):
    """Shared setup for the cdc_* queries: a fresh applier over a temp
    root + the events-derived change stream."""
    import tempfile

    from .cdc import CdcApplier

    root = tempfile.mkdtemp(prefix=prefix)
    return (
        CdcApplier(spark, root, n_buckets=n_buckets),
        cdc_changes_from_events(spark, sf_dir),
    )


def _apply3(applier, changes, on_batch=None):
    """The standard 3-batch interleaved replay (lsn % 3).  Returns the
    pages-table snapshot ids [initial, after b0, after b1, after b2];
    ``on_batch(b)`` runs after each batch commit (sync hooks)."""
    snaps = [applier.pages.current_snapshot().snapshot_id]
    for b in range(3):
        applier.apply_batch(changes.filter(F.col("lsn") % 3 == b), batch_id=b)
        snaps.append(applier.pages.current_snapshot().snapshot_id)
        if on_batch is not None:
            on_batch(b)
    return snaps


def cdc_replay_synthetic(spark, sf_dir):
    """Flagship: full CDC replay, hash-checked against a SQL oracle.

    Applies the events-derived change stream (see
    ``cdc_changes_from_events``) in 3 interleaved batches (lsn % 3 —
    every batch carries events older than rows already merged, so the
    cross-batch LWW path is exercised, not just within-batch dedup),
    through the real pipeline: quarantine route, canonicalize, window
    dedup, fused text/lang transform UDFs, bucketed MERGE with the
    transactional offset log.  Returns the final public table; the
    DuckDB oracle recomputes it with one window + string construction.
    """
    import tempfile

    from .cdc import CdcApplier, read_pages

    root = tempfile.mkdtemp(prefix="cdc_entry_")
    changes = cdc_changes_from_events(spark, sf_dir)
    applier = CdcApplier(spark, root, n_buckets=8)
    for b in range(3):
        applier.apply_batch(changes.filter(F.col("lsn") % 3 == b), batch_id=b)
    return (
        read_pages(applier.pages)
        .select("url", "warc_ts", "text", "lang")
        .orderBy("url")
    )


def cdc_changelog_read(spark, sf_dir):
    """Changelog emission (CDC out): incremental read between snapshots.

    Applies the same events-derived stream as ``cdc_replay_synthetic``
    in 3 batches, then reads ONLY the rows committed by batch 1 via
    ``Table.read_changes`` (the snapshot-diff scan: O(changed files),
    base files never re-read).  Under merge-on-read each commit's delta
    files ARE its change rows, so the result is exactly batch 1's
    within-batch LWW winners — upserts carrying the fused text/lang
    transforms, deletes as tombstones with null payload — which the
    DuckDB oracle recomputes with one window over the batch's events.
    """
    import tempfile

    from .cdc import CdcApplier

    root = tempfile.mkdtemp(prefix="cdc_changelog_")
    changes = cdc_changes_from_events(spark, sf_dir)
    applier = CdcApplier(spark, root, n_buckets=8)
    snaps = [applier.pages.current_snapshot().snapshot_id]
    for b in range(3):
        applier.apply_batch(changes.filter(F.col("lsn") % 3 == b), batch_id=b)
        snaps.append(applier.pages.current_snapshot().snapshot_id)
    delta = applier.pages.read_changes(snaps[1], snaps[2])
    return delta.select(
        "url",
        "warc_ts",
        F.col("_lsn").alias("lsn"),
        F.col("_deleted").alias("deleted"),
        "text",
        "lang",
    ).orderBy("url", "lsn")


def cdc_changelog_preimage(spark, sf_dir):
    """Changelog with pre-images: the UPDATE_BEFORE half of CDC out.

    Same 3-batch replay; reads batch 1's changelog with
    ``with_pre_images=True`` — every new row version tagged 'after',
    plus each touched key's PRIOR reconciled winner (state as of the
    batch-0 snapshot) tagged 'before', including prior tombstones.
    Differential consumers retract old contributions from the 'before'
    rows without keeping their own table copy.  Pre-image I/O is
    bucket-pruned to the window's touched buckets and semi-joined to
    the window's keys.  The DuckDB oracle recomputes both halves with
    two windows (batch-1 winners; batch-0 winners restricted to
    batch-1's key set).
    """
    applier, changes = _cdc_fixture(spark, sf_dir, "cdc_preimg_")
    snaps = _apply3(applier, changes)
    delta = applier.pages.read_changes(
        snaps[1], snaps[2], with_pre_images=True
    )
    return delta.select(
        "url",
        "warc_ts",
        F.col("_lsn").alias("lsn"),
        F.col("_deleted").alias("deleted"),
        "text",
        "lang",
        F.col("_change_type").alias("change_type"),
    ).orderBy("url", "change_type", "lsn")


def cdc_meta_history(spark, sf_dir):
    """Metadata inspection, oracle-checked: the commit history itself.

    Runs the standard 3-batch replay, then reads
    ``Table.meta("snapshots")`` — one row per commit, newest first,
    with operation tags and manifest row counts.  Everything in it is
    deterministic: the applier commits the pages table exactly once per
    batch (create + 3 delta-appends), and each delta-append adds one
    winner row-version per distinct key in the batch, so the DuckDB
    oracle recomputes the whole history — ids, tags, cumulative row
    versions — from the events table alone.  A hash match proves the
    manifest bookkeeping (per-file row counts, operation summaries,
    parent chain) is exact, not just the data.
    """
    applier, changes = _cdc_fixture(spark, sf_dir, "cdc_meta_")
    _apply3(applier, changes)
    return (
        applier.pages.meta("snapshots")
        .select("snapshot_id", "operation", F.col("rows").alias("row_versions"))
        .orderBy("snapshot_id")
    )


def cdc_filtered_follow(spark, sf_dir):
    """Predicate-filtered partial replica, LWW-correct under late data.

    A ``ChangelogFollower`` with ``where="lang = 'en'"`` tails the
    3-batch replay into a replica holding only English pages.
    Non-matching row versions are tombstonized rather than dropped —
    the index-sized stubs outrank late-arriving older matching
    versions, so a page that left the predicate can never resurrect
    (the replay's interleaved batches exercise exactly that).  The
    DuckDB oracle filters the full replay's final state, so the hash
    match proves the partial replica equals ``filter(where)`` over a
    recompute.
    """
    import tempfile

    from .cdc import ChangelogFollower, read_pages

    applier, changes = _cdc_fixture(spark, sf_dir, "cdc_filt_src_")
    replica = tempfile.mkdtemp(prefix="cdc_filt_dst_")
    follower = ChangelogFollower(
        spark, applier.pages, replica + "/en", n_buckets=4,
        where="lang = 'en'",
    )
    _apply3(applier, changes, on_batch=lambda b: follower.sync())
    return (
        read_pages(follower.dst)
        .select("url", "warc_ts", "text", "lang")
        .orderBy("url")
    )


def cdc_incremental_rollup(spark, sf_dir):
    """Differential aggregate view: no replica, no recompute.

    An ``IncrementalRollup`` maintains per-lang page count + total text
    chars from the changelog's pre-images — each sync retracts the
    'before' winners and adds the LWW post-winners of the touched keys
    (O(changes) + bucket-pruned pre-image I/O; the source's base data
    is never re-aggregated).  Synced after every batch of the standard
    3-batch replay, which exercises retraction under inserts, updates,
    deletes AND late data that loses to existing winners.  The DuckDB
    oracle aggregates the full replay's final state, so the hash match
    proves differential maintenance == recompute-from-scratch.
    """
    import tempfile

    from .cdc import IncrementalRollup

    applier, changes = _cdc_fixture(spark, sf_dir, "cdc_ivr_src_")
    rpath = tempfile.mkdtemp(prefix="cdc_ivr_dst_")
    rollup = IncrementalRollup(
        spark,
        applier.pages,
        rpath + "/rollup",
        group_cols=["lang"],
        measures={"n_pages": "1", "chars": "coalesce(length(text), 0)"},
    )
    _apply3(applier, changes, on_batch=lambda b: rollup.sync())
    return rollup.read().select("lang", "n_pages", "chars").orderBy("lang")


def cdc_follow_replica(spark, sf_dir):
    """Changelog follower end-to-end: a replica kept in sync by CDC out.

    Replays the events-derived change stream into a source table (the
    same 3 interleaved batches as ``cdc_replay_synthetic``), while a
    ``ChangelogFollower`` tails the source's commit log into a replica
    table with a DIFFERENT bucket layout (4 vs 8), syncing after every
    source batch — each sync reads ONLY that commit's delta files
    (O(changes) I/O, base files never re-read).  Returns the REPLICA's
    reconciled live rows; the DuckDB oracle is the same final-state
    recomputation the source replay is checked against, so the hash
    match proves the follower is content-exact, not just row-complete.
    """
    import tempfile

    from .cdc import CdcApplier, ChangelogFollower, read_pages

    root = tempfile.mkdtemp(prefix="cdc_follow_src_")
    replica = tempfile.mkdtemp(prefix="cdc_follow_dst_")
    changes = cdc_changes_from_events(spark, sf_dir)
    applier = CdcApplier(spark, root, n_buckets=8)
    follower = ChangelogFollower(
        spark, applier.pages, replica + "/replica", n_buckets=4
    )
    for b in range(3):
        applier.apply_batch(changes.filter(F.col("lsn") % 3 == b), batch_id=b)
        follower.sync()
    return (
        read_pages(follower.dst)
        .select("url", "warc_ts", "text", "lang")
        .orderBy("url")
    )


def cdc_rescale_replay(spark, sf_dir):
    """Online bucket rescale mid-stream: content-exact, layout adopted.

    Applies batch 0 at 4 buckets, grows the table to 16 with the
    shuffle-free split rewrite (``rescale_buckets``: every old-bucket
    file fans locally into its k split-image buckets — zero exchanges),
    then applies batches 1-2, which pick the new count up from the
    table.  The final state must be byte-identical to an unrescaled
    replay, so the oracle is the same final-state SQL as
    ``cdc_replay_synthetic``.
    """
    import tempfile

    from .cdc import CdcApplier, read_pages

    root = tempfile.mkdtemp(prefix="cdc_rescale_")
    changes = cdc_changes_from_events(spark, sf_dir)
    applier = CdcApplier(spark, root, n_buckets=4)
    applier.apply_batch(changes.filter(F.col("lsn") % 3 == 0), batch_id=0)
    applier.pages.rescale_buckets(16)
    for b in (1, 2):
        applier.apply_batch(changes.filter(F.col("lsn") % 3 == b), batch_id=b)
    return (
        read_pages(applier.pages)
        .select("url", "warc_ts", "text", "lang")
        .orderBy("url")
    )


def cdc_evolution_replay(spark, sf_dir):
    """Schema evolution mid-stream: add, rename, widen, drop — content-exact.

    Applies batch 0, then walks the table through every supported
    evolution kind (add two columns, rename one, widen the other
    int→long), applies batch 1 against the evolved schema (the
    id-mapped readers span pre- and post-evolution file vintages),
    drops both added columns (metadata-only; the retired field ids are
    never reused), and applies batch 2.  The public projection is
    untouched by the detour, so the final state must hash-match the
    same oracle as ``cdc_replay_synthetic`` — evolution is proven to
    never perturb content.
    """
    import tempfile

    from .cdc import CdcApplier, read_pages

    root = tempfile.mkdtemp(prefix="cdc_evolve_")
    changes = cdc_changes_from_events(spark, sf_dir)
    applier = CdcApplier(spark, root, n_buckets=8)
    applier.apply_batch(changes.filter(F.col("lsn") % 3 == 0), batch_id=0)
    applier.pages.add_column("crawl_note", "string")
    applier.pages.add_column("fetch_ms", "int")
    applier.pages.rename_column("crawl_note", "note")
    applier.pages.widen_column("fetch_ms", "long")
    applier.apply_batch(changes.filter(F.col("lsn") % 3 == 1), batch_id=1)
    applier.pages.drop_column("note")
    applier.pages.drop_column("fetch_ms")
    applier.apply_batch(changes.filter(F.col("lsn") % 3 == 2), batch_id=2)
    return (
        read_pages(applier.pages)
        .select("url", "warc_ts", "text", "lang")
        .orderBy("url")
    )


def cdc_maintained_replay(spark, sf_dir):
    """The full replay with the self-maintenance policy ENGAGED.

    Same 3-batch stream as ``cdc_replay_synthetic``, but the applier
    carries an aggressive ``MaintenancePolicy`` (compact every batch,
    expire after every 2, keep 3 snapshots) and the loop invokes
    ``maintain`` after each commit — compaction folds deltas into base
    and expiry drops history WHILE the stream is still applying.
    Content must hash-match the plain replay's oracle: maintenance is
    housekeeping, never semantics.
    """
    import tempfile

    from .cdc import CdcApplier, MaintenancePolicy, read_pages

    root = tempfile.mkdtemp(prefix="cdc_maint_")
    changes = cdc_changes_from_events(spark, sf_dir)
    applier = CdcApplier(
        spark, root, n_buckets=8,
        maintenance=MaintenancePolicy(
            compact_every=1, max_delta_files=0,
            expire_every=2, keep_last=3, orphan_min_age_s=0.0,
        ),
    )
    for b in range(3):
        applier.apply_batch(changes.filter(F.col("lsn") % 3 == b), batch_id=b)
        applier.maintain(b)
    return (
        read_pages(applier.pages)
        .select("url", "warc_ts", "text", "lang")
        .orderBy("url")
    )


def cdc_catalog_replay(spark, sf_dir):
    """The full replay with the ``_current`` pointer in an external
    HTTP catalog process (compare-and-swap pointer flips).

    Same 3-batch stream as ``cdc_replay_synthetic``; every commit of
    every table the applier owns flips its pointer via a conditional
    PUT against a separate catalog process (lake/catalog_http.py) —
    the Iceberg-REST/DynamoDB deployment shape.  Content must
    hash-match the plain replay's oracle.
    """
    import tempfile

    from .cdc import CdcApplier, read_pages
    from .lake import CatalogServer, HttpCatalogIO

    root = tempfile.mkdtemp(prefix="cdc_catalog_")
    changes = cdc_changes_from_events(spark, sf_dir)
    with CatalogServer() as srv:
        applier = CdcApplier(
            spark, root, n_buckets=8, io=HttpCatalogIO(srv.url)
        )
        for b in range(3):
            applier.apply_batch(
                changes.filter(F.col("lsn") % 3 == b), batch_id=b
            )
        out = (
            read_pages(applier.pages)
            .select("url", "warc_ts", "text", "lang")
            .orderBy("url")
        )
        # materialize before the catalog process stops (the driver
        # collects lazily after return)
        rows = out.collect()
    return spark.createDataFrame(rows, out.schema)


def cdc_object_store_replay(spark, sf_dir):
    """The full replay with ALL commit metadata on object-store semantics.

    Same 3-batch stream as ``cdc_replay_synthetic``, but every table
    the applier owns (pages, quarantine, metrics) runs its snapshot
    commits through ``MemoryObjectStoreIO`` — conditional-PUT
    create-if-absent, atomic plain-PUT pointer flips, prefix LIST, no
    POSIX rename/link anywhere in the metadata protocol
    (lake/fileio.py).  Content must hash-match the POSIX replay's
    oracle, proving the exactly-once commit path is portable to
    S3-class stores, not merely documented as such.
    """
    import tempfile

    from .cdc import CdcApplier, read_pages
    from .lake.fileio import MemoryObjectStoreIO

    root = tempfile.mkdtemp(prefix="cdc_objstore_")
    changes = cdc_changes_from_events(spark, sf_dir)
    applier = CdcApplier(spark, root, n_buckets=8, io=MemoryObjectStoreIO())
    for b in range(3):
        applier.apply_batch(changes.filter(F.col("lsn") % 3 == b), batch_id=b)
    return (
        read_pages(applier.pages)
        .select("url", "warc_ts", "text", "lang")
        .orderBy("url")
    )


def cdc_rollback_replay(spark, sf_dir):
    """Non-destructive rollback: the table time-travels to a prior state.

    Applies the 3-batch stream, then rolls back to the snapshot
    committed by batch 1.  The rollback is a NEW commit sharing the
    old files by reference (history stays linear), so the read must
    equal a replay that never saw batch 2 — which is exactly what the
    DuckDB oracle recomputes (the same final-state SQL over only the
    lsn%3!=2 events).  Also proves the rolled-back offset log: the
    watermark returns to batch 1, so re-applying batch 2 would be
    accepted again.
    """
    import tempfile

    from .cdc import CdcApplier, read_pages

    root = tempfile.mkdtemp(prefix="cdc_rollback_")
    changes = cdc_changes_from_events(spark, sf_dir)
    applier = CdcApplier(spark, root, n_buckets=8)
    snaps = []
    for b in range(3):
        applier.apply_batch(changes.filter(F.col("lsn") % 3 == b), batch_id=b)
        snaps.append(applier.pages.current_snapshot().snapshot_id)
    applier.pages.rollback(snaps[1])
    assert applier.last_committed_batch() == 1  # offset log rolled back too
    return (
        read_pages(applier.pages)
        .select("url", "warc_ts", "text", "lang")
        .orderBy("url")
    )


#: user ids whose derived urls the point-lookup query fetches — shared
#: with the DuckDB oracle (__spark_entry__) so engine and oracle cannot
#: drift on the key list
CDC_LOOKUP_USER_IDS = (1, 7, 13, 4242)


def cdc_lookup_urls() -> list[str]:
    return [
        f"http://host{u % 20}.example.org/page/{u}" for u in CDC_LOOKUP_USER_IDS
    ]


def cdc_point_lookup(spark, sf_dir):
    """Bucket-transform point lookup against the replayed table.

    Replays the same 3-batch stream as ``cdc_replay_synthetic``, then
    fetches a fixed key list via ``Table.read_keys`` — the scan is
    pruned to the buckets the keys hash to (manifest-level pruning via
    the exact write-side transform), reconciled, and tombstone-
    filtered.  The oracle is the replay's final-state SQL restricted
    to the same keys, so the hash match proves the pruned lookup path
    returns exactly the full scan's answer.  One key (4242) may not
    exist at small SFs — both sides must agree on absence too.
    """
    import tempfile

    from .cdc import CdcApplier

    root = tempfile.mkdtemp(prefix="cdc_lookup_")
    changes = cdc_changes_from_events(spark, sf_dir)
    applier = CdcApplier(spark, root, n_buckets=8)
    for b in range(3):
        applier.apply_batch(changes.filter(F.col("lsn") % 3 == b), batch_id=b)
    df = applier.pages.read_keys(cdc_lookup_urls())
    return (
        df.filter(~F.col("_deleted"))
        .select("url", "warc_ts", "text", "lang")
        .orderBy("url")
    )


def cdc_time_travel(spark, sf_dir):
    """Snapshot time travel: read the table AS OF an earlier commit.

    Replays the same 3-batch stream as ``cdc_replay_synthetic``, then
    reads the pages table as of the snapshot the BATCH-1 commit
    produced — after batch 2 has already landed on top of it.  Snapshot
    isolation makes the historical read byte-stable: the scan resolves
    that snapshot's own manifest list and schema id, so later commits,
    compactions and evolutions are invisible (the reference replays an
    offset-bounded prefix to recover a past state — here it is one
    pointer read + the same O(live files) scan, no replay;
    libgiraffe2's offset log has no analog of this).  The DuckDB
    oracle recomputes the LWW state over batches 0-1 only.
    """
    from .cdc import read_pages

    applier, changes = _cdc_fixture(spark, sf_dir, "cdc_timetravel_")
    snaps = _apply3(applier, changes)
    past = applier.pages.snapshot_at(snaps[2])
    return (
        read_pages(applier.pages, snap=past)
        .select("url", "warc_ts", "text", "lang")
        .orderBy("url")
    )


def cdc_derived_rollup(spark, sf_dir):
    """Incremental view maintenance: rollup over a column-pruned replica.

    A ``ChangelogFollower`` with ``columns=["lang"]`` maintains a
    derived table carrying only (url, warc_ts, lang) + engine columns —
    synced after every source batch with O(changes) I/O, never
    re-reading the source's html/text payload (at 100 TB of html the
    derived table is ~10^4x smaller than its source).  The returned
    per-lang rollup (page count + latest crawl ts) aggregates the
    derived table alone; the DuckDB oracle aggregates the full replay's
    final state, so the hash match proves the pruned replica stayed
    content-exact through inserts, updates, deletes and cross-batch
    LWW — incremental maintenance equals recompute-from-scratch.
    """
    import tempfile

    from .cdc import ChangelogFollower, read_pages

    applier, changes = _cdc_fixture(spark, sf_dir, "cdc_deriv_src_")
    replica = tempfile.mkdtemp(prefix="cdc_deriv_dst_")
    follower = ChangelogFollower(
        spark, applier.pages, replica + "/langs", n_buckets=4,
        columns=["lang"],
    )
    _apply3(applier, changes, on_batch=lambda b: follower.sync())
    return (
        read_pages(follower.dst)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.max("warc_ts").alias("latest_warc_ts"),
        )
        .orderBy("lang")
    )


def _planted_neardup_corpus(d: DataFrame) -> DataFrame:
    """Documents corpus with STRUCTURALLY planted near-dup clusters.

    Every base doc gets 20 doc-unique words, so cross-doc Jaccard is
    exactly 0 and every planted pairwise Jaccard is an exact rational
    (windows-of-3 arithmetic over 20 words, 18 shingles/doc):

    - near copy   (doc_id%5==0, +100000): last 2 words swapped
      -> 2 of 18 shingles changed, J = 16/20 = 0.80  >= 0.7  (dropped)
    - far copy    (doc_id%5==1, +200000): last 6 words swapped
      -> 6 changed, J = 12/24 = 0.50 < 0.7            (kept)
    - chain copy  (doc_id%5==0, +300000): near copy with word 16
      also swapped -> vs near J = 15/21 = 0.714 >= 0.7 (edge), vs
      base J = 14/22 = 0.636 < 0.7 (no direct edge) — dropped only
      if min-label propagation crosses the 2-hop component.

    The kept set is therefore a pure function of the planting rule —
    SQL-recomputable — while the engine still runs the full real
    pipeline (fingerprinted shingles, banded LSH, Jaccard verify,
    connected components).
    """
    W = 20

    def text_for(prefix_at: dict[int, str]) -> F.Column:
        words = [
            F.concat(
                F.lit(prefix_at.get(j, "w")),
                F.col("doc_id").cast("string"),
                F.lit(f"_{j}"),
            )
            for j in range(W)
        ]
        return F.concat_ws(" ", *words)

    base = d.select("doc_id", text_for({}).alias("text"))
    near = (
        d.filter(F.col("doc_id") % 5 == 0)
        .select("doc_id", text_for({18: "x", 19: "x"}).alias("text"))
        .withColumn("doc_id", F.col("doc_id") + 100000)
    )
    far = (
        d.filter(F.col("doc_id") % 5 == 1)
        .select("doc_id", text_for({j: "z" for j in range(14, 20)}).alias("text"))
        .withColumn("doc_id", F.col("doc_id") + 200000)
    )
    chain = (
        d.filter(F.col("doc_id") % 5 == 0)
        .select("doc_id", text_for({16: "y", 18: "x", 19: "x"}).alias("text"))
        .withColumn("doc_id", F.col("doc_id") + 300000)
    )
    return base.unionByName(near).unionByName(far).unionByName(chain)


def minhash_dedup_documents(spark, sf_dir):
    """MinHash+LSH near-dup removal, hash-checked via planted structure.

    Runs the full pipeline over ``_planted_neardup_corpus`` (structural
    Jaccard levels 0.80 / 0.714 / 0.636 / 0.50 around the 0.7 verify
    threshold, plus a 2-hop duplicate chain for the connected-components
    stage).  Banding here is recall-oriented — 32 bands of 1 row, miss
    probability (1-J)^32 < 1e-17 at J >= 0.714 — because the verify
    threshold (0.7) sits far below the production 8x8 s-curve (~0.77);
    false candidates cost nothing (cross-doc J = 0, verifier rejects).
    """
    from .operators.dedup import minhash_lsh_dedup

    corpus = _planted_neardup_corpus(_t(spark, sf_dir, "documents").select("doc_id"))
    kept = minhash_lsh_dedup(
        corpus, num_hashes=32, bands=32, shingle_n=3, threshold=0.7
    )
    return kept.select("doc_id").orderBy("doc_id")


def simhash_documents(spark, sf_dir):
    """Per-doc SimHash fingerprint over the engine-portable md5 hash.

    ``simhash_md5_expr`` (operators/dedup.py) keeps the exact simhash
    algorithm — distinct 3-word shingles, per-bit +-1 votes, sign fold
    — but derives shingle bits from md5, which Spark and DuckDB compute
    identically, so the driver hash-compares every signature.  The
    xxhash64 variant (``simhash_expr``) remains the production default.
    """
    from .operators.dedup import simhash_md5_expr

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", simhash_md5_expr("text", bits=32).alias("simhash32")
    ).orderBy("doc_id")


def embedding_neardup(spark, sf_dir):
    """Near-duplicate detection by embedding cosine, via LSH buckets.

    The driver's embeddings table has no organic near-dups (max pair
    cosine ~0.6 at sf0.01/0.1), so the query plants exact duplicates
    of vec_id < 10 under vec_id + 100000 and must find exactly those
    pairs — identical vectors share every LSH bucket, making recall
    deterministic and the result oracle-checkable.
    """
    from .operators.similarity import embedding_neardup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    dups = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    corpus = emb.unionByName(dups)
    pairs = embedding_neardup_pairs(corpus, threshold=0.95, n_planes=8, n_tables=4)
    return pairs.select(
        "id_a", "id_b", F.round(F.col("cosine"), 4).alias("cosine")
    ).orderBy("id_a", "id_b")


def lang_tag_documents(spark, sf_dir):
    from .functions.udf import quality_score_udf, tag_lang_udf, token_count_udf

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        tag_lang_udf(F.col("text")).alias("lang_tag"),
        token_count_udf(F.col("text")).alias("n_tokens"),
        quality_score_udf(F.col("text")).alias("quality"),
    ).orderBy("doc_id")


def lang_vote_rollup(spark, sf_dir):
    """Per-language rollup of the stopword-vote tagger — hash-checkable.

    Same ``tag_lang`` UDF as lang_tag_documents, but the output is
    integer-only (counts + char sums per tag) so the DuckDB oracle —
    which re-runs the identical vote with list lambdas — matches on
    the value hash, proving the UDF semantics, not just row counts.
    """
    from .functions.udf import tag_lang_udf

    d = _t(spark, sf_dir, "documents")
    return (
        d.select(tag_lang_udf(F.col("text")).alias("lang_tag"), "n_chars")
        .groupBy("lang_tag")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("lang_tag")
    )


def media_features(spark, sf_dir):
    """Multimodal decode plumbing, oracle-checkable.

    Binary payloads are derived deterministically from the shared
    ``documents`` table (ascii-projected text bytes stand in for an
    opaque media blob; the container ships no codecs), run through the
    ``decode_features`` mapInPandas stage, and the float32 histogram
    feature is folded back to exact integer byte-class counts so the
    output hashes stably and a DuckDB oracle can recompute it.
    """
    from .operators.multimodal import decode_features

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    s = F.regexp_replace(F.substring(F.col("text"), 1, 200), "[^ -~]", "")
    media = docs.filter(F.col("doc_id") < 200).select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.encode(s, "UTF-8").alias("payload"),
        F.lit(None)
        .cast("struct<width:int,height:int,duration_ms:int,mime:string>")
        .alias("meta"),
    )
    feats = decode_features(media)
    # feature[k] = count(bytes%8==k)/n as float32; *n + round is exact
    # for n <= 200 (rel. error ~1e-7 << 0.5/n)
    hcols = [
        F.round(F.element_at("feature", k + 1).cast("double") * F.col("n_bytes"))
        .cast("bigint")
        .alias(f"h{k}")
        for k in range(8)
    ]
    return feats.select(
        "media_id",
        F.col("n_bytes").cast("bigint").alias("n_bytes"),
        "width",
        "height",
        *hcols,
    ).orderBy("media_id")


def media_png_decode(spark, sf_dir):
    """REAL codec round-trip, oracle-checkable end to end.

    Deterministic grayscale PNGs are encoded in an Arrow-batched pandas
    UDF (width/height/pixel bytes are pure functions of ``doc_id``),
    pushed through the SAME ``decode_features`` mapInPandas stage as
    any media batch, and the decoder's outputs — header width/height
    plus the 8-bin histogram over the inflated+defiltered PIXEL bytes
    — are checked against a DuckDB oracle that recomputes them from
    the doc_id formula alone.  A match proves the stdlib PNG decoder
    (multimodal.png_decode) really parsed IHDR and decompressed IDAT,
    not that it echoed its input.
    """
    from pyspark.sql.functions import pandas_udf

    from .operators.multimodal import decode_features, png_encode

    @pandas_udf("binary")
    def make_png(media_id: pd.Series) -> pd.Series:
        out = []
        for mid in media_id:
            mid = int(mid)
            w, h = 4 + mid % 13, 3 + mid % 11
            pixels = bytes((mid + i) % 256 for i in range(w * h))
            out.append(png_encode(w, h, pixels))
        return pd.Series(out)

    docs = _t(spark, sf_dir, "documents")
    media = docs.filter(F.col("doc_id") < 120).select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        make_png(F.col("doc_id")).alias("payload"),
        F.lit(None)
        .cast("struct<width:int,height:int,duration_ms:int,mime:string>")
        .alias("meta"),
    )
    feats = decode_features(media)
    n_px = F.col("width") * F.col("height")
    hcols = [
        F.round(F.element_at("feature", k + 1).cast("double") * n_px)
        .cast("bigint")
        .alias(f"h{k}")
        for k in range(8)
    ]
    return feats.select(
        "media_id",
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        *hcols,
    ).orderBy("media_id")


def typed_convert_events(spark, sf_dir):
    """importConversion analog: raw string stream -> typed + error capture.

    A raw all-string view of ``events`` is derived with deterministic,
    SQL-reproducible corruptions (empty user, non-numeric value,
    unparseable ts), then converted back through the declarative
    try_cast layer: ``user_id`` absorbs failures with default -1,
    ``value``/``ts`` failures are captured as ``cast:<field>`` errors.
    """
    from .cdc.convert import FieldSpec, convert_typed

    e = _t(spark, sf_dir, "events")
    val_s = F.format_string("%.2f", F.col("value"))
    raw = e.select(
        "event_id",
        F.when(F.col("event_id") % 41 == 0, F.lit(""))
        .otherwise(F.col("user_id").cast("string"))
        .alias("raw_user"),
        F.when(F.col("event_id") % 37 == 0, F.concat(F.lit("x"), val_s))
        .otherwise(val_s)
        .alias("raw_value"),
        F.when(F.col("event_id") % 43 == 0, F.lit("not-a-ts"))
        .otherwise(F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        .alias("raw_ts"),
    )
    specs = [
        FieldSpec("user_id", "bigint", source="raw_user", default=-1),
        FieldSpec("value", "double", source="raw_value"),
        FieldSpec("ts", "timestamp", source="raw_ts", fmt="yyyy-MM-dd HH:mm:ss.SSSSSS"),
    ]
    conv = convert_typed(raw, specs, keep=("event_id",))
    return conv.select(
        "event_id",
        "user_id",
        F.round("value", 2).alias("value"),
        "ts",
        F.concat_ws(",", "_errors").alias("err"),
    ).orderBy("event_id")


def weblog_parse_stats(spark, sf_dir):
    """TokenizerImporter analog: raw log lines -> typed + discard route.

    Apache-combined-style lines are synthesized deterministically from
    ``events`` (with a corrupt subset), parsed by the single-regex
    weblog reader, and aggregated per (host, status); corrupt lines are
    counted under host='_corrupt' — the oracle recomputes the expected
    counts from the generating rule, so the parse itself is what is
    being verified.
    """
    from .operators.weblog import parse_weblog, weblog_stats

    e = _t(spark, sf_dir, "events")
    status = F.when(F.col("event_id") % 17 == 0, F.lit(404)).otherwise(F.lit(200))
    good = F.format_string(
        'host%d.example.org - user%d [01/Jan/2024:00:00:00 +0000] '
        '"GET /page/%d HTTP/1.1" %d %d',
        F.col("user_id") % 20,
        F.col("user_id"),
        F.col("event_id"),
        status,
        F.col("event_id") % 1000,
    )
    line = F.when(
        F.col("event_id") % 29 == 0,
        F.concat(F.lit("corrupt line "), F.col("event_id").cast("string")),
    ).otherwise(good)
    return weblog_stats(parse_weblog(e.select(line.alias("line"))))


def httpget_parse(spark, sf_dir):
    """HttpGet analog: request line -> method/document/protocol + url.

    The synthesized document carries a '..' segment and unsorted query
    params so the normalizer's path folding + query sort are exercised
    end-to-end on the synthesized URL.
    """
    from .functions.httpline import parse_http_get

    e = _t(spark, sf_dir, "events")
    line = F.format_string(
        "host%d.example.org,GET /page/%d/../%d?b=2&a=1 HTTP/1.0",
        F.col("user_id") % 20,
        F.col("user_id"),
        F.col("event_id"),
    )
    s = parse_http_get(line)
    return e.select(
        "event_id",
        s["method"].alias("method"),
        s["host"].alias("host"),
        s["document"].alias("document"),
        s["protocol"].alias("protocol"),
        s["url"].alias("url"),
    ).orderBy("event_id")


def ua_classify(spark, sf_dir):
    """UserAgent analog: rule-table classifier over synthetic UA strings.

    Template 4 contains both 'Googlebot' and 'Android' — the priority
    order of the rule table (first match wins) is part of what the
    oracle checks; template 5 exercises the unknown fallback.  version /
    language / os_version / model are EXTRACTED from the UA string via
    the rules' capture groups (UserAgent.java:44-59 analog), not
    constants — the oracle pins the expected extraction per template.
    """
    from .operators.classify import classify_expr

    e = _t(spark, sf_dir, "events")
    tpl = F.array(
        F.lit("Mozilla/5.0 (Windows NT 10.0; Win64; x64) [en-us] Chrome/120.0"),
        F.lit("Mozilla/5.0 (Macintosh; Intel Mac OS X 13_1) Safari/605.1"),
        F.lit("Mozilla/5.0 (iPhone; CPU iPhone OS 17_0) Safari/604.1"),
        F.lit("Mozilla/5.0 (Linux; Android 14; Pixel 8) Chrome/120.0"),
        F.lit("Mozilla/5.0 (compatible; Googlebot/2.1; Android) +bot.html"),
        F.lit("curl/8.4.0"),
    )
    ua = F.element_at(tpl, (F.col("user_id") % 6 + 1).cast("int"))
    cls = classify_expr(ua)
    # Group by the classification STRUCT and extract fields after the
    # aggregate: per-field extraction (cls[f] x 7) makes Catalyst push
    # GetStructField into every CaseWhen branch, duplicating the whole
    # rlike/regexp_extract chain once per field (CaseWhen branches get
    # no common-subexpression elimination).  Grouping on the struct
    # evaluates the chain ONCE per row; the post-agg extraction runs on
    # #distinct-classes rows.  Measured ~4x faster cold (codegen is 7x
    # smaller), ~30% faster warm, identical results.
    fields = ("family", "version", "language", "os", "os_version", "model", "device")
    return (
        e.groupBy(cls.alias("c"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(*[F.col("c")[f].alias(f) for f in fields], "n")
        # second-level merge over #distinct-structs rows: two full
        # structs may project to the same 7 fields, and the original
        # grouping merged those
        .groupBy(*fields)
        .agg(F.sum("n").alias("n"))
        .orderBy("family", "os")
    )


def geoip_enrich(spark, sf_dir):
    """GeoIP analog: broadcast dictionary enrichment, per-country rollup.

    Hosts 50-59 are absent from the dictionary -> null geo fields (the
    unmatched route), visible as the NULL-country row.
    """
    from .operators.enrich import enrich_hosts, geo_table

    e = _t(spark, sf_dir, "events")
    hosts = e.select(
        F.concat(
            F.lit("host"), (F.col("user_id") % 60).cast("string"), F.lit(".example.org")
        ).alias("host")
    )
    enr = enrich_hosts(hosts, geo_table(spark, n_hosts=50))
    return (
        enr.groupBy("country")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("host").alias("n_hosts"),
            F.sum("asn").alias("sum_asn"),
            # 7-field parity coverage: city + exact .5-grid latitude
            # aggregate (FP-exact, so the value hash is stable)
            F.countDistinct("city").alias("n_cities"),
            F.sum("latitude").alias("sum_lat"),
        )
        .orderBy("country")
    )


def rdns_hosts(spark, sf_dir):
    """rDNS analog: vectorized PTR resolution + per-host rollup.

    IPs are derived deterministically from user_id; the resolver is the
    Arrow-batched pandas UDF (the real-resolver shape — see
    operators/rdns.py), whose synthetic answer is also SQL-expressible
    so the oracle can recompute it exactly.
    """
    from .operators.rdns import resolve_hosts

    e = _t(spark, sf_dir, "events")
    ips = e.select(
        F.concat(
            F.lit("10.0."),
            (F.col("user_id") % 16).cast("string"),
            F.lit("."),
            (F.col("user_id") % 100).cast("string"),
        ).alias("ip"),
        "user_id",
    )
    return (
        resolve_hosts(ips, "ip", mode="udf")
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy(F.desc("n"), "host")
        .limit(25)
    )


def doc_dense_ids(spark, sf_dir):
    """NumberedKeyset analog: dense sequential ids, scalably.

    Equal to ``row_number() OVER (ORDER BY lang, doc_id) - 1`` (the
    oracle identity) but computed via range-repartition + per-partition
    zip — no global-order window, no single-reducer stage.
    """
    from .operators.keyset import dense_ids_ordered

    d = _t(spark, sf_dir, "documents")
    out = dense_ids_ordered(d.select("doc_id", "lang"), ["lang", "doc_id"])
    return out.select("doc_id", "lang", "dense_id").orderBy("doc_id")


def keyset_assign_documents(spark, sf_dir):
    """Persistent NumberedKeyset: stable dense ids across two batches.

    Batch 1 registers the keys of even doc_ids; batch 2 brings ALL
    doc_ids — existing keys must keep their batch-1 ids, new keys
    extend from max+1 in sorted order (the deterministic assignment
    rule, so the DuckDB oracle recomputes every id from the batch
    split).  Returns the final dictionary.
    """
    import tempfile

    from .operators.keyset import PersistentKeyset

    d = _t(spark, sf_dir, "documents")
    key = F.concat(F.col("source"), F.lit("-"), (F.col("doc_id") % 37).cast("string"))
    ks = PersistentKeyset(
        spark, os.path.join(tempfile.mkdtemp(prefix="keyset_"), "dict")
    )
    ks.assign_or_get(d.filter(F.col("doc_id") % 2 == 0).select(key.alias("key")))
    ks.assign_or_get(d.select(key.alias("key")))
    return ks.lookup().orderBy("key")


# ---- registry ---------------------------------------------------------------

QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q4_order_priority": q4_order_priority,
    "q5_region_revenue": q5_region_revenue,
    "q6_revenue_delta": q6_revenue_delta,
    "purchase_and_error_users": purchase_and_error_users,
    "events_running_total": events_running_total,
    "events_sessionize": events_sessionize,
    "events_props_topk": events_props_topk,
    "events_rollup_day_type": events_rollup_day_type,
    "part_price_stats": part_price_stats,
    "url_parse_hosts": url_parse_hosts,
    "top_customer_per_nation": top_customer_per_nation,
    "purchasers_without_errors": purchasers_without_errors,
    "events_latest_per_user": events_latest_per_user,
    "events_type_rollup": events_type_rollup,
    "events_user_daily": events_user_daily,
    "doc_exact_dedup": doc_exact_dedup,
    "doc_token_count": doc_token_count,
    "doc_stats_by_lang": doc_stats_by_lang,
    "ann_topk_cosine": ann_topk_cosine,
    "cdc_replay_synthetic": cdc_replay_synthetic,
    "cdc_changelog_read": cdc_changelog_read,
    "cdc_follow_replica": cdc_follow_replica,
    "cdc_rescale_replay": cdc_rescale_replay,
    "cdc_evolution_replay": cdc_evolution_replay,
    "cdc_object_store_replay": cdc_object_store_replay,
    "cdc_maintained_replay": cdc_maintained_replay,
    "cdc_catalog_replay": cdc_catalog_replay,
    "cdc_point_lookup": cdc_point_lookup,
    "cdc_rollback_replay": cdc_rollback_replay,
    "cdc_time_travel": cdc_time_travel,
    "cdc_derived_rollup": cdc_derived_rollup,
    "cdc_changelog_preimage": cdc_changelog_preimage,
    "cdc_incremental_rollup": cdc_incremental_rollup,
    "cdc_filtered_follow": cdc_filtered_follow,
    "cdc_meta_history": cdc_meta_history,
    "minhash_dedup_documents": minhash_dedup_documents,
    "simhash_documents": simhash_documents,
    "embedding_neardup": embedding_neardup,
    "lang_tag_documents": lang_tag_documents,
    "lang_vote_rollup": lang_vote_rollup,
    "media_features": media_features,
    "media_png_decode": media_png_decode,
    "typed_convert_events": typed_convert_events,
    "weblog_parse_stats": weblog_parse_stats,
    "httpget_parse": httpget_parse,
    "ua_classify": ua_classify,
    "geoip_enrich": geoip_enrich,
    "rdns_hosts": rdns_hosts,
    "doc_dense_ids": doc_dense_ids,
    "keyset_assign_documents": keyset_assign_documents,
}
