"""Structured Streaming front-end + tombstone compaction tests.

The streaming path is foreachBatch over the exactly-once batch applier
(streaming/stream.py); these tests drive it with a file source and the
availableNow trigger, including a stop/extend/restart cycle sharing one
checkpoint dir (the crash/resume analog for streams).
"""

from __future__ import annotations

import os

import pytest

from giraffe_etl_spark.cdc import (
    CdcApplier,
    ChangeGenConfig,
    gen_changes,
    gen_pages,
    read_pages,
    seed_pages,
)
from giraffe_etl_spark.cdc.oracle import oracle_apply
from giraffe_etl_spark.streaming.stream import read_change_stream, start_apply_stream

CFG = ChangeGenConfig(n_keys=40, late_frac=0.05, dup_frac=0.01, malformed_frac=0.02)


def _write_chunks(spark, src_dir, changes, n_chunks):
    os.makedirs(src_dir, exist_ok=True)
    per = (len(changes) + n_chunks - 1) // n_chunks
    for i in range(n_chunks):
        chunk = changes.iloc[i * per : (i + 1) * per]
        if len(chunk):
            spark.createDataFrame(chunk).coalesce(1).write.mode("append").parquet(
                src_dir
            )


@pytest.fixture
def roots(tmp_path):
    return str(tmp_path / "table"), str(tmp_path / "src"), str(tmp_path / "ckpt")


def test_stream_apply_matches_oracle(spark, roots):
    table_root, src_dir, ckpt = roots
    n_pages, n_events = 30, 240
    changes = gen_changes(n_events, CFG)
    _write_chunks(spark, src_dir, changes, n_chunks=3)

    applier = CdcApplier(spark, table_root, n_buckets=4)
    seed_pages(applier.pages, spark.createDataFrame(gen_pages(n_pages)))

    q = start_apply_stream(
        read_change_stream(spark, src_dir, max_files_per_trigger=1),
        applier,
        ckpt,
    )
    q.awaitTermination(300)

    got = read_pages(applier.pages).toPandas().sort_values("url").reset_index(drop=True)
    want = (
        oracle_apply(gen_pages(n_pages), changes)
        .sort_values("url")
        .reset_index(drop=True)
    )
    assert got["url"].tolist() == want["url"].tolist()
    assert got["text"].tolist() == want["text"].tolist()
    assert got["lang"].tolist() == want["lang"].tolist()


def test_stream_restart_resumes_without_double_apply(spark, roots):
    table_root, src_dir, ckpt = roots
    n_events = 200
    changes = gen_changes(n_events, CFG)

    applier = CdcApplier(spark, table_root, n_buckets=4)
    seed_pages(applier.pages, spark.createDataFrame(gen_pages(20)))

    # phase 1: first half of the stream
    _write_chunks(spark, src_dir, changes.iloc[: n_events // 2], n_chunks=2)
    q1 = start_apply_stream(
        read_change_stream(spark, src_dir, max_files_per_trigger=1), applier, ckpt
    )
    q1.awaitTermination(300)
    mid_batch = applier.last_committed_batch()
    assert mid_batch >= 0

    # phase 2: more files arrive; restart from the same checkpoint
    _write_chunks(spark, src_dir, changes.iloc[n_events // 2 :], n_chunks=2)
    q2 = start_apply_stream(
        read_change_stream(spark, src_dir, max_files_per_trigger=1), applier, ckpt
    )
    q2.awaitTermination(300)
    assert applier.last_committed_batch() > mid_batch

    got = read_pages(applier.pages).toPandas().sort_values("url").reset_index(drop=True)
    want = (
        oracle_apply(gen_pages(20), changes).sort_values("url").reset_index(drop=True)
    )
    assert got["url"].tolist() == want["url"].tolist()
    assert got["warc_ts"].tolist() == want["warc_ts"].tolist()
    assert got["text"].tolist() == want["text"].tolist()


def test_compact_tombstones_drops_old_deletes(spark, tmp_path):
    import datetime as dt

    root = str(tmp_path / "t")
    applier = CdcApplier(spark, root, n_buckets=4)
    seed_pages(applier.pages, spark.createDataFrame(gen_pages(10)))

    ddl = "lsn long, op string, url string, warc_ts timestamp, html binary"
    urls = gen_pages(10)["url"].tolist()
    batch = spark.createDataFrame(
        [
            (1, "D", urls[0], dt.datetime(2024, 1, 2), None),
            (2, "D", urls[1], dt.datetime(2024, 3, 1), None),
        ],
        ddl,
    )
    applier.apply_batch(batch, batch_id=0)

    internal = applier.pages.read()
    assert internal.filter("_deleted").count() == 2
    # watermark between the two deletes: only the older tombstone goes
    applier.compact_tombstones(dt.datetime(2024, 2, 1))
    after = applier.pages.read()
    assert after.filter("_deleted").count() == 1
    # live rows untouched, public view unchanged
    assert read_pages(applier.pages).count() == 8


def test_stream_killed_mid_epoch_between_commits_resumes(spark, roots):
    """Round-4 verdict #4: kill a RUNNING start_apply_stream mid-epoch —
    after the quarantine commit, before the pages commit (the crash
    point the watermark design claims to survive) — restart from the
    same checkpoint, and prove convergence to the oracle.

    Injection: the applier's _merge_mor raises on its second epoch.  The
    quarantine route runs on a concurrent thread and is joined in
    apply_batch's finally, so by the time the failure surfaces the
    quarantine table HAS committed batch 1 while pages has not —
    exactly the torn-commit state."""
    import pandas as pd

    from giraffe_etl_spark.cdc.oracle import oracle_quarantine

    table_root, src_dir, ckpt = roots
    n_pages, n_events = 30, 240
    cfg = ChangeGenConfig(
        n_keys=40, late_frac=0.05, dup_frac=0.01, malformed_frac=0.15
    )
    changes = gen_changes(n_events, cfg)
    _write_chunks(spark, src_dir, changes, n_chunks=3)

    a1 = CdcApplier(spark, table_root, n_buckets=4)
    seed_pages(a1.pages, spark.createDataFrame(gen_pages(n_pages)))

    real_merge = a1._merge_mor
    boom = RuntimeError("injected mid-epoch crash")

    def failing_merge(winners, batch_id, *args, **kw):
        if batch_id == 1:
            raise boom
        return real_merge(winners, batch_id, *args, **kw)

    a1._merge_mor = failing_merge
    q1 = start_apply_stream(
        read_change_stream(spark, src_dir, max_files_per_trigger=1), a1, ckpt
    )
    try:
        q1.awaitTermination(300)
    except Exception:
        pass  # the injected failure terminates the query
    assert q1.exception() is not None, "injected crash never fired"

    # torn state: epoch 0 fully committed; epoch 1's quarantine commit
    # landed (its thread is joined in apply_batch's finally) while the
    # pages commit did not
    assert a1.last_committed_batch() == 0
    q_mark = int(a1.quarantine.properties.get("stream.default.last_batch", "-1"))
    assert q_mark == 1

    # restart: fresh applier (no injection), same checkpoint — epoch 1
    # replays (pages watermark 0 < 1), its quarantine commit no-ops
    # (watermark already 1), epoch 2 proceeds
    a2 = CdcApplier(spark, table_root, n_buckets=4)
    q2 = start_apply_stream(
        read_change_stream(spark, src_dir, max_files_per_trigger=1), a2, ckpt
    )
    q2.awaitTermination(300)
    assert q2.exception() is None
    assert a2.last_committed_batch() == 2

    got = (
        read_pages(a2.pages)
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    want = (
        oracle_apply(gen_pages(n_pages), changes)
        .sort_values("url")
        .reset_index(drop=True)
    )
    assert got["url"].tolist() == want["url"].tolist()
    assert got["text"].tolist() == want["text"].tolist()
    assert got["lang"].tolist() == want["lang"].tolist()

    # quarantine converged too — exactly once despite the replay
    q_got = (
        a2.quarantine.read()
        .select("lsn", "reason")
        .toPandas()
        .sort_values("lsn")
        .reset_index(drop=True)
    )
    q_want = (
        oracle_quarantine(changes)[["lsn", "reason"]]
        .sort_values("lsn")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(q_got, q_want)


def test_stream_feeds_derived_views_end_to_end(spark, roots):
    """Stream -> applier -> changelog -> {filtered replica, differential
    rollup}: after the drain, both derived tables equal their
    recompute-from-scratch over the streamed table's final state."""
    from pyspark.sql import functions as F

    from giraffe_etl_spark.cdc import ChangelogFollower, IncrementalRollup

    table_root, src_dir, ckpt = roots
    n_pages, n_events = 30, 240
    changes = gen_changes(n_events, CFG)
    _write_chunks(spark, src_dir, changes, n_chunks=3)

    applier = CdcApplier(spark, table_root, n_buckets=4)
    seed_pages(applier.pages, spark.createDataFrame(gen_pages(n_pages)))
    follower = ChangelogFollower(
        spark,
        applier.pages,
        table_root + "_en",
        n_buckets=2,
        where="lang = 'en'",
    )
    rollup = IncrementalRollup(
        spark,
        applier.pages,
        table_root + "_rollup",
        group_cols=["lang"],
        measures={"n_pages": "1"},
    )

    q = start_apply_stream(
        read_change_stream(spark, src_dir, max_files_per_trigger=1),
        applier,
        ckpt,
    )
    q.awaitTermination(300)
    follower.sync()
    rollup.sync()

    final = read_pages(applier.pages)
    want_en = sorted(
        tuple(r)
        for r in final.filter("lang = 'en'").select("url", "text").collect()
    )
    got_en = sorted(
        tuple(r)
        for r in read_pages(follower.dst).select("url", "text").collect()
    )
    assert got_en == want_en and len(want_en) > 0

    want_counts = sorted(
        (r["lang"], float(r["n"]))
        for r in final.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    got_counts = sorted(
        (r["lang"], r["n_pages"]) for r in rollup.read().collect()
    )
    assert got_counts == want_counts
