"""Optimistic-concurrency retry, watermark races, snapshot expiry.

The commit protocol is optimistic (parent-id check at pointer flip).
These tests lock in which losses of the race RETRY (commutative
manifest merges: appends, delta-appends, metadata), which ABORT
(copy-on-write rewrites whose touched content changed — retrying would
drop the concurrent writer's rows), and which SKIP (a concurrent
applier already committed the same batch id — exactly-once).
"""

import datetime as dt
import os
import threading

import pytest
from pyspark.sql.types import StructType

from giraffe_etl_spark.cdc.apply import BatchRaced, CdcApplier, read_pages
from giraffe_etl_spark.cdc.follow import ChangelogFollower, ResyncRequired
from giraffe_etl_spark.lake import CommitConflict, SnapshotExpired, Table

CHANGES_DDL = "lsn long, op string, url string, warc_ts timestamp, html binary"

MOR_PROPS = {
    "merge.key": "k",
    "merge.order": "v",
    "stats.cols": "v",
}


def make_table(spark, root, n_buckets=4, mor=False):
    schema = StructType.fromDDL("k string, v long")
    return Table.create(
        spark,
        os.path.join(root, "t"),
        schema,
        bucket_key="k",
        n_buckets=n_buckets,
        properties=MOR_PROPS if mor else None,
    )


def kv_df(spark, pairs):
    return spark.createDataFrame(pairs, "k string, v long")


def test_append_retries_on_stale_base(spark, tmp_root):
    """Two appends from the same base: the loser re-merges manifests."""
    t = make_table(spark, tmp_root)
    t.append(kv_df(spark, [("a", 1)]))
    stale = t.current_snapshot()
    t.append(kv_df(spark, [("b", 2)]))  # advances past ``stale``
    snap = t.append(kv_df(spark, [("c", 3)]), base=stale)  # would conflict
    assert snap.parent_id == stale.snapshot_id + 1
    got = {(r.k, r.v) for r in t.read().collect()}
    assert got == {("a", 1), ("b", 2), ("c", 3)}  # nothing lost


def test_append_deltas_retries_on_stale_base(spark, tmp_root):
    t = make_table(spark, tmp_root, mor=True)
    t.append(kv_df(spark, [("a", 1), ("b", 1)]))
    stale = t.current_snapshot()
    all_b = list(range(4))
    t.append_deltas(all_b, t._with_bucket(kv_df(spark, [("a", 5)])))
    t.append_deltas(all_b, t._with_bucket(kv_df(spark, [("b", 7)])), base=stale)
    got = {(r.k, r.v) for r in t.read().collect()}
    assert got == {("a", 5), ("b", 7)}  # both delta commits reconciled


def test_overwrite_aborts_when_touched_bucket_changed(spark, tmp_root):
    """CoW rewrite loses the race to new rows in its buckets: no retry."""
    t = make_table(spark, tmp_root, mor=True)
    t.append(kv_df(spark, [(f"k{i}", i) for i in range(8)]))
    stale = t.current_snapshot()
    all_b = [int(b) for b in stale.buckets]
    content = t.read(snap=stale, with_bucket_col=True)
    # concurrent writer lands a delta in (at least one of) the buckets
    t.append_deltas(list(range(4)), t._with_bucket(kv_df(spark, [("k0", 99)])))
    with pytest.raises(CommitConflict, match="changed during a copy-on-write"):
        t.overwrite_buckets(all_b, content, base=stale)
    # the concurrent row survived
    assert ("k0", 99) in {(r.k, r.v) for r in t.read().collect()}


def test_overwrite_retries_when_conflict_is_elsewhere(spark, tmp_root):
    """A metadata/properties commit must not abort a compaction."""
    t = make_table(spark, tmp_root)
    t.append(kv_df(spark, [(f"k{i}", i) for i in range(8)]))
    stale = t.current_snapshot()
    all_b = [int(b) for b in stale.buckets]
    content = t.read(snap=stale, with_bucket_col=True)
    t.set_properties({"owner": "someone"})  # conflicts, touches no bucket
    snap = t.overwrite_buckets(all_b, content, base=stale)
    assert snap.properties["owner"] == "someone"  # retried on fresh base
    assert t.read().count() == 8


def test_schema_evolution_retries_and_recomputes_ids(spark, tmp_root):
    t = make_table(spark, tmp_root)
    stale_sid = t.current_snapshot().schema_id
    t.add_column("x", "string")
    t.add_column("y", "string")  # would race if both used stale base
    fields = {f["name"] for f in t.current_snapshot().schema_fields}
    assert {"k", "v", "x", "y"} <= fields
    assert t.current_snapshot().schema_id == stale_sid + 2


def _changes(spark, n, base_lsn=0):
    rows = [
        (
            base_lsn + i,
            "U",
            f"http://h{i % 3}.example.org/p/{i % 17}",
            dt.datetime(2025, 1, 1, 0, 0, 0, i),
            b"<html><body><p>v</p></body></html>",
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, CHANGES_DDL)


def test_concurrent_appliers_same_batch_exactly_once(spark, tmp_root):
    """Two appliers race the SAME batch id: exactly one commit lands.

    Whether they overlap (watermark guard fires inside the retry loop,
    BatchRaced -> skipped) or serialize (entry check skips), the
    invariant is the same: one applied, one skipped, table state equals
    a single application.
    """
    a1 = CdcApplier(spark, tmp_root, n_buckets=4)
    a2 = CdcApplier(spark, tmp_root, n_buckets=4)
    changes = _changes(spark, 60)
    results = {}

    def run(name, ap):
        results[name] = ap.apply_batch(changes, batch_id=0)

    t1 = threading.Thread(target=run, args=("a", a1))
    t2 = threading.Thread(target=run, args=("b", a2))
    t1.start(); t2.start(); t1.join(); t2.join()

    applied = [r for r in results.values() if not r.skipped]
    assert len(applied) == 1, results
    assert a1.last_committed_batch() == 0
    # exactly ONE commit beyond create: the loser's copy must not land
    assert a1.pages.current_snapshot().snapshot_id == 1
    assert read_pages(a1.pages).count() == 51  # 51 distinct urls, once


def test_concurrent_streams_both_land(spark, tmp_root):
    """Two INDEPENDENT streams race the same table: the loser RETRIES.

    Each stream has its own offset watermark, and MOR delta-appends
    commute (reconciliation is per key by merge.order, not commit
    order), so neither commit may be lost and neither may be skipped.
    Same-stream concurrency is the failover race covered by
    ``test_concurrent_appliers_same_batch_exactly_once``; a single
    stream's batch ids are sequential by contract.
    """
    a1 = CdcApplier(spark, tmp_root, n_buckets=4, stream_id="s1")
    a2 = CdcApplier(spark, tmp_root, n_buckets=4, stream_id="s2")
    b0, b1 = _changes(spark, 40), _changes(spark, 40, base_lsn=1000)
    results = {}

    def run(name, ap, df):
        results[name] = ap.apply_batch(df, batch_id=0)

    t1 = threading.Thread(target=run, args=("a", a1, b0))
    t2 = threading.Thread(target=run, args=("b", a2, b1))
    t1.start(); t2.start(); t1.join(); t2.join()

    assert not results["a"].skipped and not results["b"].skipped
    assert a1.last_committed_batch() == 0  # s1 watermark
    assert a2.last_committed_batch() == 0  # s2 watermark
    # same 40 distinct urls + same warc_ts in both batches; s2's higher
    # lsn breaks the tie, so the reconciled winner set is deterministic
    assert read_pages(a1.pages).count() == 40


def test_shared_session_pins_restore_conf(spark, tmp_root, monkeypatch):
    """Two skewed appliers on one session, whose aligned counts differ
    (32 buckets -> 8 on the 8-slot session, 4 buckets -> 4), race their
    merge writes.  Each write plans under its OWN shuffle-partition pin,
    not the other's or the session's 12, so each writes one delta file
    per touched bucket; the second pin waits for the first instead of
    saving its value, and the session ends at 12.  Both share the AQE
    pin: each write runs with AQE off, and the session's AQE setting
    comes back after the last of them.
    The spy holds A inside its pinned write until B has pinned (or 3 s
    pass) and holds B until A has returned (or 3 s pass): unguarded
    save/restore pins interleave there and leave the session at 8."""
    from tests.test_cdc_apply import assert_matches_oracle, spark_changes

    from giraffe_etl_spark.cdc.apply import seed_pages
    from giraffe_etl_spark.cdc.generate import (
        ChangeGenConfig,
        gen_changes,
        gen_pages,
    )

    key, aqe = "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled"
    pages = gen_pages(50)
    changes = gen_changes(600, ChangeGenConfig(n_keys=50, hot_frac=0.5, n_hot_keys=3))
    appliers = {
        name: CdcApplier(
            spark, os.path.join(tmp_root, name), n_buckets=nb,
            hot_key_threshold=20,
        )
        for name, nb in (("a", 32), ("b", 4))
    }
    for ap in appliers.values():
        seed_pages(ap.pages, spark.createDataFrame(pages))

    a_in, b_in, a_done = threading.Event(), threading.Event(), threading.Event()
    seen, errs, results = {}, [], {}
    append_deltas = Table.append_deltas

    def spy(self, *args, **kw):
        name = threading.current_thread().name
        if name in appliers:
            seen[name] = (spark.conf.get(key), spark.conf.get(aqe))
            if name == "a":
                a_in.set()
                b_in.wait(3)
            else:
                b_in.set()
                a_done.wait(3)
        return append_deltas(self, *args, **kw)

    monkeypatch.setattr(Table, "append_deltas", spy)

    def run(name):
        try:
            if name == "b":
                a_in.wait(60)
            results[name] = appliers[name].apply_batch(
                spark_changes(spark, changes), batch_id=0
            )
        except Exception as e:  # pragma: no cover - surfaced below
            errs.append(e)
        finally:
            if name == "a":
                a_done.set()

    old, old_aqe = spark.conf.get(key), spark.conf.get(aqe)
    spark.conf.set(key, "12")
    spark.conf.set(aqe, "true")
    try:
        threads = [threading.Thread(target=run, args=(n,), name=n) for n in appliers]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        after = (spark.conf.get(key), spark.conf.get(aqe))
    finally:
        spark.conf.set(key, old)
        spark.conf.set(aqe, old_aqe)

    assert not errs, errs
    assert after == ("12", "true")
    assert seen == {"a": ("8", "false"), "b": ("4", "false")}
    for name, ap in appliers.items():
        assert results[name].hot_keys_detected >= 3
        deltas = ap.pages.current_snapshot().deltas
        assert deltas and all(len(fs) == 1 for fs in deltas.values()), (
            name, deltas,
        )
        assert_matches_oracle(ap, pages, changes)


def test_watermark_guard_raises_batch_raced(spark, tmp_root):
    ap = CdcApplier(spark, tmp_root, n_buckets=4)
    ap.apply_batch(_changes(spark, 10), batch_id=0)
    guard = ap._watermark_guard(0)
    with pytest.raises(BatchRaced):
        guard(ap.pages.current_snapshot())
    guard_next = ap._watermark_guard(1)
    guard_next(ap.pages.current_snapshot())  # not yet committed: no raise


def test_expire_snapshots_bounds_history(spark, tmp_root):
    t = make_table(spark, tmp_root)
    for i in range(6):
        t.append(kv_df(spark, [(f"k{i}", i)]))
    head = t.current_snapshot().snapshot_id
    rep = t.expire_snapshots(keep_last=2, orphan_min_age_s=0)
    assert rep["snapshots_expired"] > 0
    # current + previous survive; older manifests raise
    t.snapshot_at(head)
    t.snapshot_at(head - 1)
    with pytest.raises(SnapshotExpired):
        t.snapshot_at(head - 2)
    # content is intact and readable
    assert t.read().count() == 6
    # changelog across the expired boundary refuses cleanly
    with pytest.raises(SnapshotExpired):
        t.read_changes(0)
    # within the surviving window it still works
    assert t.read_changes(head - 1).count() == 1


def test_expire_snapshots_reaps_superseded_files(spark, tmp_root):
    t = make_table(spark, tmp_root, mor=True)
    t.append(kv_df(spark, [(f"k{i}", i) for i in range(8)]))
    for v in range(3):  # delta churn, then fold it into the base
        t.append_deltas(
            list(range(4)),
            t._with_bucket(kv_df(spark, [(f"k{i}", 100 + v) for i in range(8)])),
        )
    t.compact_deltas()
    rep = t.expire_snapshots(keep_last=1, orphan_min_age_s=0)
    assert rep["files_removed"] > 0  # superseded deltas are gone
    got = {(r.k, r.v) for r in t.read().collect()}
    assert got == {(f"k{i}", 102) for i in range(8)}


def test_follower_resync_after_source_expiry(spark, tmp_root):
    src = make_table(spark, tmp_root, mor=True)
    src.append(kv_df(spark, [("a", 1)]))
    f = ChangelogFollower(spark, src, os.path.join(tmp_root, "replica"))
    f.sync()
    cursor = f.cursor
    for v in range(4):
        src.append_deltas(
            list(range(4)), src._with_bucket(kv_df(spark, [("a", 10 + v)]))
        )
    src.expire_snapshots(keep_last=1, orphan_min_age_s=0)
    assert src.current_snapshot().snapshot_id > cursor
    with pytest.raises(ResyncRequired, match="retention window"):
        f.sync()
