"""ChangelogFollower: a replica stays equal to the source via O(changes) syncs.

Locks in the consumer half of the CDC story: bootstrap copy, incremental
delta-append syncs, idempotent cursor (exactly-once), content-preserving
rewrites skipped, content-changing rewrites refused, schema evolution
propagated.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from giraffe_etl_spark.cdc import ChangelogFollower, ResyncRequired
from giraffe_etl_spark.cdc.apply import CdcApplier, read_pages, seed_pages
from giraffe_etl_spark.cdc.generate import ChangeGenConfig, gen_changes, gen_pages

CHANGES_DDL = "lsn long, op string, url string, warc_ts timestamp, html binary"


def _rows(table):
    df = table.read(reconcile=True)
    cols = [c for c in df.columns]
    return sorted(tuple(r) for r in df.select(*sorted(cols)).collect())


@pytest.fixture()
def src_applier(spark, tmp_root):
    applier = CdcApplier(spark, os.path.join(tmp_root, "src"), n_buckets=8)
    seed_pages(applier.pages, spark.createDataFrame(gen_pages(50)))
    return applier


def _apply(spark, applier, lo, hi, batch_id):
    cfg = ChangeGenConfig(n_keys=50)
    changes = gen_changes(hi, cfg)
    batch = changes[(changes.lsn >= lo * 3) & (changes.lsn < hi * 3)]
    applier.apply_batch(
        spark.createDataFrame(batch, CHANGES_DDL), batch_id=batch_id
    )


def test_bootstrap_then_incremental_sync_matches_source(
    spark, tmp_root, src_applier
):
    _apply(spark, src_applier, 0, 100, 0)
    f = ChangelogFollower(
        spark, src_applier.pages, os.path.join(tmp_root, "dst"), n_buckets=4
    )
    assert _rows(f.dst) == _rows(src_applier.pages)  # bootstrap copy

    _apply(spark, src_applier, 100, 200, 1)
    _apply(spark, src_applier, 200, 300, 2)
    rep = f.sync()
    assert rep["commits"] >= 2
    assert _rows(f.dst) == _rows(src_applier.pages)


def test_sync_is_idempotent_and_cursor_persists(spark, tmp_root, src_applier):
    _apply(spark, src_applier, 0, 80, 0)
    dst_path = os.path.join(tmp_root, "dst")
    f = ChangelogFollower(spark, src_applier.pages, dst_path)
    _apply(spark, src_applier, 80, 160, 1)
    rep1 = f.sync()
    assert rep1["commits"] >= 1
    rep2 = f.sync()
    assert rep2["commits"] == 0  # nothing new: no-op
    # a FRESH follower (as after a crash/deploy) resumes from the
    # replica-stored cursor, not from scratch
    f2 = ChangelogFollower(spark, src_applier.pages, dst_path)
    assert f2.cursor == rep1["src_snapshot"]
    assert f2.sync()["commits"] == 0
    assert _rows(f2.dst) == _rows(src_applier.pages)


def test_compaction_and_rescale_are_skipped(spark, tmp_root, src_applier):
    _apply(spark, src_applier, 0, 100, 0)
    f = ChangelogFollower(spark, src_applier.pages, os.path.join(tmp_root, "dst"))
    _apply(spark, src_applier, 100, 200, 1)
    src_applier.pages.compact_deltas()          # content-preserving
    src_applier.pages.rescale_buckets(16)       # content-preserving
    _apply(spark, src_applier, 200, 260, 2)
    rep = f.sync()
    assert rep["commits"] >= 1
    assert _rows(f.dst) == _rows(src_applier.pages)


def test_rollback_on_source_requires_resync(spark, tmp_root, src_applier):
    _apply(spark, src_applier, 0, 60, 0)
    f = ChangelogFollower(spark, src_applier.pages, os.path.join(tmp_root, "dst"))
    pre = src_applier.pages.current_snapshot().snapshot_id
    _apply(spark, src_applier, 60, 120, 1)
    src_applier.pages.rollback(pre)
    with pytest.raises(ResyncRequired, match="rollback"):
        f.sync()


def test_schema_evolution_propagates(spark, tmp_root, src_applier):
    _apply(spark, src_applier, 0, 60, 0)
    f = ChangelogFollower(spark, src_applier.pages, os.path.join(tmp_root, "dst"))
    src_applier.pages.add_column("fetch_status", "int")
    _apply(spark, src_applier, 60, 120, 1)
    f.sync()
    dst_cols = {c for c in f.dst.read().columns}
    assert "fetch_status" in dst_cols
    assert _rows(f.dst) == _rows(src_applier.pages)


def test_rename_and_drop_propagate_by_id(spark, tmp_root, src_applier):
    """The idmap mirrors every evolution kind — incl. the two the
    round-3 by-name contract could not see (rename, drop)."""
    _apply(spark, src_applier, 0, 60, 0)
    f = ChangelogFollower(spark, src_applier.pages, os.path.join(tmp_root, "dst"))

    src_applier.pages.add_column("fetch_status", "int")
    _apply(spark, src_applier, 60, 120, 1)
    f.sync()
    assert "fetch_status" in f.dst.read().columns

    # rename on the source: ids are stable, so the replica column (with
    # its already-synced values) is renamed, not dropped+re-added
    src_applier.pages.rename_column("fetch_status", "status")
    f.sync()  # metadata-only window still propagates
    cols = f.dst.read().columns
    assert "status" in cols and "fetch_status" not in cols
    assert _rows(f.dst) == _rows(src_applier.pages)

    # drop on the source
    src_applier.pages.drop_column("status")
    _apply(spark, src_applier, 120, 180, 2)
    f.sync()
    assert "status" not in f.dst.read().columns
    assert _rows(f.dst) == _rows(src_applier.pages)


def test_replica_local_column_requires_resync(spark, tmp_root, src_applier):
    """A column added on the REPLICA only is outside the idmap: the sync
    append writes src-shaped frames, so it must refuse, not corrupt."""
    _apply(spark, src_applier, 0, 60, 0)
    f = ChangelogFollower(spark, src_applier.pages, os.path.join(tmp_root, "dst"))
    f.dst.add_column("local_note", "string")
    _apply(spark, src_applier, 60, 120, 1)
    with pytest.raises(ResyncRequired):
        f.sync()


def test_stream_to_applier_to_follower_end_to_end(spark, tmp_root):
    """The full pipe: file-source change stream -> exactly-once apply ->
    changelog-follower replica, all three layers agreeing with the
    pandas oracle at the end."""
    from giraffe_etl_spark.cdc.oracle import oracle_apply
    from giraffe_etl_spark.streaming.stream import (
        read_change_stream,
        start_apply_stream,
    )

    cfg = ChangeGenConfig(n_keys=40, late_frac=0.05, dup_frac=0.01,
                          malformed_frac=0.02)
    pages = gen_pages(40)
    changes = gen_changes(300, cfg)
    src_dir = os.path.join(tmp_root, "binlog")
    os.makedirs(src_dir)
    for i in range(3):  # 3 log segments -> 3 micro-batches
        chunk = changes[i * 100 : (i + 1) * 100]
        spark.createDataFrame(chunk, CHANGES_DDL).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(src_dir, f"seg{i}"))

    applier = CdcApplier(spark, os.path.join(tmp_root, "tgt"), n_buckets=8)
    seed_pages(applier.pages, spark.createDataFrame(pages))
    follower = ChangelogFollower(
        spark, applier.pages, os.path.join(tmp_root, "replica"), n_buckets=4
    )

    stream = read_change_stream(spark, src_dir + "/*", max_files_per_trigger=1)
    q = start_apply_stream(
        stream, applier, os.path.join(tmp_root, "ckpt"), available_now=True
    )
    q.awaitTermination(300)
    rep = follower.sync()
    assert rep["commits"] >= 1

    want = (
        oracle_apply(pages, changes)
        .sort_values("url")
        .reset_index(drop=True)[["url", "text", "lang"]]
    )
    got_src = (
        read_pages(applier.pages)
        .select("url", "text", "lang")
        .orderBy("url")
        .toPandas()
    )
    got_rep = (
        read_pages(follower.dst)
        .select("url", "text", "lang")
        .orderBy("url")
        .toPandas()
    )
    import pandas as pd

    pd.testing.assert_frame_equal(got_src, want)
    pd.testing.assert_frame_equal(got_rep, want)


def test_bootstrap_crash_is_redone_on_reconstruction(
    spark, tmp_root, src_applier, monkeypatch
):
    """Crash between Table.create and the bootstrap data commit: the
    replica exists but holds the sentinel cursor; reconstructing the
    follower must redo the copy instead of silently skipping every
    pre-cursor row (the cursor lands only inside the copy's commit)."""
    _apply(spark, src_applier, 0, 60, 0)
    dst_path = os.path.join(tmp_root, "dst")
    real = ChangelogFollower._bootstrap

    def boom(self):
        raise RuntimeError("crash mid-bootstrap")

    monkeypatch.setattr(ChangelogFollower, "_bootstrap", boom)
    with pytest.raises(RuntimeError, match="crash mid-bootstrap"):
        ChangelogFollower(spark, src_applier.pages, dst_path)
    monkeypatch.setattr(ChangelogFollower, "_bootstrap", real)
    f = ChangelogFollower(spark, src_applier.pages, dst_path)
    assert _rows(f.dst) == _rows(src_applier.pages)
    assert f.sync()["commits"] == 0  # cursor is at the copied snapshot


def test_sync_manifest_touches_only_changed_buckets(spark, tmp_root, src_applier):
    """Per-sync manifest metadata is O(touched replica buckets): a small
    source batch (<= 6 distinct keys) must not mark all 8 replica
    buckets dirty."""
    _apply(spark, src_applier, 0, 100, 0)
    f = ChangelogFollower(
        spark, src_applier.pages, os.path.join(tmp_root, "dst"), n_buckets=8
    )
    pre = f.dst.current_snapshot()
    _apply(spark, src_applier, 100, 102, 1)  # 6 events, <= 6 keys
    f.sync()
    post = f.dst.current_snapshot()
    changed = {
        b
        for b in set(post.deltas) | set(pre.deltas)
        if post.deltas.get(b) != pre.deltas.get(b)
    }
    assert changed  # the sync landed
    assert len(changed) < f.dst.n_buckets(), sorted(changed)
    assert _rows(f.dst) == _rows(src_applier.pages)


def test_follower_auto_compacts_replica_deltas(spark, tmp_root, src_applier):
    """Replica delta chains stay bounded: without auto-compaction the
    read-side reconcile of a long-lived replica grows with every sync."""
    _apply(spark, src_applier, 0, 60, 0)
    f = ChangelogFollower(
        spark,
        src_applier.pages,
        os.path.join(tmp_root, "dst"),
        n_buckets=2,
        compact_threshold=2,
    )
    for i in range(1, 7):
        _apply(spark, src_applier, 60 + (i - 1) * 20, 60 + i * 20, i)
        f.sync()
    snap = f.dst.current_snapshot()
    worst = max((len(fs) for fs in snap.deltas.values()), default=0)
    assert worst <= 2, {b: len(fs) for b, fs in snap.deltas.items()}
    assert _rows(f.dst) == _rows(src_applier.pages)


def test_follower_tails_through_full_evolution_replay(spark, tmp_root):
    """Round-4 verdict #8: the driver's evolution-replay shape (add two
    columns, rename, widen, apply, drop both, apply) run ON THE SOURCE
    while a follower tails WITH syncs interleaved between every step —
    the replica's public projection must equal the source's AND the
    pandas oracle (the same content contract cdc_evolution_replay's
    DuckDB oracle hashes at the driver gate)."""
    from giraffe_etl_spark.cdc.oracle import oracle_apply

    cfg = ChangeGenConfig(n_keys=50, late_frac=0.05, dup_frac=0.02,
                          malformed_frac=0.02)
    changes = gen_changes(300, cfg)
    src = CdcApplier(spark, os.path.join(tmp_root, "src"), n_buckets=8)
    seed_pages(src.pages, spark.createDataFrame(gen_pages(50)))

    def batch(i):
        part = changes.iloc[i * 100:(i + 1) * 100]
        src.apply_batch(spark.createDataFrame(part, CHANGES_DDL), batch_id=i)

    batch(0)
    f = ChangelogFollower(
        spark, src.pages, os.path.join(tmp_root, "dst"), n_buckets=4
    )
    src.pages.add_column("crawl_note", "string")
    src.pages.add_column("fetch_ms", "int")
    f.sync()  # follower sees the adds mid-stream
    src.pages.rename_column("crawl_note", "note")
    src.pages.widen_column("fetch_ms", "long")
    batch(1)
    f.sync()  # rename+widen+data in one tail
    src.pages.drop_column("note")
    src.pages.drop_column("fetch_ms")
    batch(2)
    f.sync()

    # replica == source, full internal row equality
    assert _rows(f.dst) == _rows(src.pages)
    # and both match the content oracle on the public projection
    got = (
        read_pages(f.dst)
        .select("url", "warc_ts", "text", "lang")
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    want = (
        oracle_apply(gen_pages(50), changes)[["url", "warc_ts", "text", "lang"]]
        .sort_values("url")
        .reset_index(drop=True)
    )
    assert got.equals(want)
    # the evolution detour left no schema residue on the replica
    assert set(read_pages(f.dst).columns) == {
        "url", "warc_ts", "html", "text", "lang",
    }


# ---- column-pruned (projected) replicas -------------------------------------


def _rows_cols(table, cols):
    df = table.read(reconcile=True).select(*sorted(cols))
    return sorted(tuple(r) for r in df.collect())


PROJ_COLS = ["url", "warc_ts", "lang", "_lsn", "_deleted"]


def test_projected_follower_tracks_kept_columns_only(
    spark, tmp_root, src_applier
):
    """columns=["lang"] mirrors key+order+engine+lang and nothing else;
    incremental syncs keep the projection content-equal to the source's
    own projection (html/text never copied)."""
    _apply(spark, src_applier, 0, 100, 0)
    f = ChangelogFollower(
        spark,
        src_applier.pages,
        os.path.join(tmp_root, "dst"),
        n_buckets=4,
        columns=["lang"],
    )
    assert set(f.dst.read().columns) == set(PROJ_COLS)
    assert _rows_cols(f.dst, PROJ_COLS) == _rows_cols(
        src_applier.pages, PROJ_COLS
    )

    _apply(spark, src_applier, 100, 200, 1)
    _apply(spark, src_applier, 200, 300, 2)
    f.sync()
    assert set(f.dst.read().columns) == set(PROJ_COLS)
    assert _rows_cols(f.dst, PROJ_COLS) == _rows_cols(
        src_applier.pages, PROJ_COLS
    )


def test_projected_follower_evolution_scoped_to_projection(
    spark, tmp_root, src_applier
):
    """Evolution mirror sees only kept ids: source adds are invisible,
    renames of kept columns propagate, a kept column's drop shrinks the
    projection and later syncs keep working."""
    _apply(spark, src_applier, 0, 60, 0)
    f = ChangelogFollower(
        spark,
        src_applier.pages,
        os.path.join(tmp_root, "dst"),
        columns=["lang"],
    )

    # source-side add is OUTSIDE the projection: never mirrored
    src_applier.pages.add_column("fetch_status", "int")
    _apply(spark, src_applier, 60, 120, 1)
    f.sync()
    assert "fetch_status" not in f.dst.read().columns

    # rename of a kept column propagates by id (projection is id-based)
    src_applier.pages.rename_column("lang", "language")
    f.sync()
    cols = f.dst.read().columns
    assert "language" in cols and "lang" not in cols
    kept = ["url", "warc_ts", "language", "_lsn", "_deleted"]
    assert _rows_cols(f.dst, kept) == _rows_cols(src_applier.pages, kept)

    # drop of a kept column propagates and leaves a working replica
    src_applier.pages.drop_column("language")
    _apply(spark, src_applier, 120, 180, 2)
    f.sync()
    rest = ["url", "warc_ts", "_lsn", "_deleted"]
    assert set(f.dst.read().columns) == set(rest)
    assert _rows_cols(f.dst, rest) == _rows_cols(src_applier.pages, rest)


def test_projected_follower_reopen_checks_projection(
    spark, tmp_root, src_applier
):
    _apply(spark, src_applier, 0, 60, 0)
    path = os.path.join(tmp_root, "dst")
    ChangelogFollower(spark, src_applier.pages, path, columns=["lang"])

    # same projection: fine; omitted: persisted projection wins
    f = ChangelogFollower(spark, src_applier.pages, path, columns=["lang"])
    ChangelogFollower(spark, src_applier.pages, path)
    # conflicting projection must refuse, not silently serve other cols
    with pytest.raises(ValueError, match="different projection"):
        ChangelogFollower(spark, src_applier.pages, path, columns=["text"])
    # unknown name fails fast at creation time too
    with pytest.raises(ValueError, match="unknown source columns"):
        ChangelogFollower(
            spark,
            src_applier.pages,
            os.path.join(tmp_root, "dst2"),
            columns=["nope"],
        )
    _apply(spark, src_applier, 60, 120, 1)
    f.sync()
    assert _rows_cols(f.dst, PROJ_COLS) == _rows_cols(
        src_applier.pages, PROJ_COLS
    )


def test_projected_follower_reopens_after_kept_column_drop(
    spark, tmp_root, src_applier
):
    """Reopening a projected replica with its original columns= after a
    kept column was dropped at the source is the same projection, not
    a conflict: ids gone from the source are ignored, before and after
    the sync that drops the column from the replica.  A conflicting
    live column, a name no schema ever had, and a dropped column the
    replica never kept still fail."""
    _apply(spark, src_applier, 0, 60, 0)
    path = os.path.join(tmp_root, "dst")
    other = os.path.join(tmp_root, "dst_text")
    f = ChangelogFollower(spark, src_applier.pages, path, columns=["lang"])
    ChangelogFollower(spark, src_applier.pages, other, columns=["text"])
    src_applier.pages.drop_column("lang")
    with pytest.raises(ValueError, match="unknown source columns"):
        ChangelogFollower(
            spark, src_applier.pages, other, columns=["text", "lang"]
        )
    ChangelogFollower(spark, src_applier.pages, path, columns=["lang"])
    f.sync()
    f = ChangelogFollower(spark, src_applier.pages, path, columns=["lang"])
    with pytest.raises(ValueError, match="different projection"):
        ChangelogFollower(spark, src_applier.pages, path, columns=["text"])
    with pytest.raises(ValueError, match="unknown source columns"):
        ChangelogFollower(spark, src_applier.pages, path, columns=["nope"])
    _apply(spark, src_applier, 60, 120, 1)
    f.sync()
    rest = ["url", "warc_ts", "_lsn", "_deleted"]
    assert set(f.dst.read().columns) == set(rest)
    assert _rows_cols(f.dst, rest) == _rows_cols(src_applier.pages, rest)
    ChangelogFollower(spark, src_applier.pages, path, columns=["lang"])


# ---- predicate-filtered (partial) replicas ----------------------------------


def _live(table, cols):
    df = table.read(reconcile=True).filter("not _deleted").select(*sorted(cols))
    return sorted(tuple(r) for r in df.collect())


def test_filtered_follower_matches_source_filter(spark, tmp_root, src_applier):
    """A where= replica's live rows equal filter(where) over the source,
    batch after batch."""
    _apply(spark, src_applier, 0, 100, 0)
    f = ChangelogFollower(
        spark,
        src_applier.pages,
        os.path.join(tmp_root, "dst"),
        n_buckets=4,
        where="lang = 'en'",
    )
    pub = ["url", "warc_ts", "text", "lang"]
    want = sorted(
        tuple(r)
        for r in read_pages(src_applier.pages)
        .filter("lang = 'en'")
        .select(*sorted(pub))
        .collect()
    )
    got = sorted(
        tuple(r) for r in read_pages(f.dst).select(*sorted(pub)).collect()
    )
    assert got == want and len(want) > 0

    _apply(spark, src_applier, 100, 200, 1)
    _apply(spark, src_applier, 200, 300, 2)
    f.sync()
    want = sorted(
        tuple(r)
        for r in read_pages(src_applier.pages)
        .filter("lang = 'en'")
        .select(*sorted(pub))
        .collect()
    )
    got = sorted(
        tuple(r) for r in read_pages(f.dst).select(*sorted(pub)).collect()
    )
    assert got == want


def test_filtered_follower_tombstones_block_late_losers(spark, tmp_root):
    """Non-matching versions leave tombstone stubs so a late-arriving
    OLDER matching version cannot resurrect in the replica."""
    from pyspark.sql.types import StructType

    from giraffe_etl_spark.lake import Table

    schema = StructType.fromDDL(
        "url string, warc_ts long, lang string, _lsn long, _deleted boolean"
    )
    t = Table.create(
        spark,
        os.path.join(tmp_root, "t"),
        schema,
        bucket_key="url",
        n_buckets=2,
        properties={"merge.key": "url", "merge.order": "warc_ts,_lsn"},
    )
    t.append(
        spark.createDataFrame(
            [("u1", 1, "en", 1, False), ("u2", 1, "fr", 2, False)], schema
        )
    )
    f = ChangelogFollower(
        spark, t, os.path.join(tmp_root, "dst"), where="lang = 'en'"
    )
    assert _live(f.dst, ["url", "lang"]) == [("en", "u1")]

    # u1 leaves the predicate (en -> fr): replica converges to hidden
    t.append_deltas(
        None, spark.createDataFrame([("u1", 3, "fr", 3, False)], schema)
    )
    f.sync()
    assert _live(f.dst, ["url", "lang"]) == []

    # LATE older matching versions arrive for both keys: the stubs
    # (u1@ts3 non-matching, u2@ts1 non-matching) must outrank them
    t.append_deltas(
        None,
        spark.createDataFrame(
            [("u1", 2, "en", 4, False), ("u2", 0, "en", 5, False)], schema
        ),
    )
    f.sync()
    assert _live(f.dst, ["url", "lang"]) == []
    # and the source agrees: neither key's winner matches
    assert _live(t, ["url", "lang"]) == [("fr", "u1"), ("fr", "u2")]


def test_filtered_follower_stubs_keep_distinct_merge_key(spark, tmp_root):
    """With merge.key distinct from the bucket key, tombstone stubs must
    keep the merge key: a stub folded under a null key blocks nothing,
    and a late-arriving older matching version resurrects."""
    from pyspark.sql.types import StructType

    from giraffe_etl_spark.lake import Table

    schema = StructType.fromDDL(
        "bkt string, k string, ts long, lang string, _lsn long, _deleted boolean"
    )
    t = Table.create(
        spark,
        os.path.join(tmp_root, "t"),
        schema,
        bucket_key="bkt",
        n_buckets=2,
        properties={"merge.key": "k", "merge.order": "ts,_lsn"},
    )
    rows = lambda xs: spark.createDataFrame(xs, schema)
    t.append(rows([("a", "k1", 1, "en", 1, False), ("b", "k2", 1, "fr", 2, False)]))
    f = ChangelogFollower(
        spark, t, os.path.join(tmp_root, "dst"), where="lang = 'en'"
    )
    assert _live(f.dst, ["k", "lang"]) == [("k1", "en")]

    # k1 leaves the predicate, then late older matching versions arrive
    t.append_deltas(None, rows([("a", "k1", 3, "fr", 3, False)]))
    f.sync()
    t.append_deltas(
        None,
        rows([("a", "k1", 2, "en", 4, False), ("b", "k2", 0, "en", 5, False)]),
    )
    f.sync()
    assert _live(f.dst, ["k", "lang"]) == []
    # one stub per key, each under its own merge key
    stubs = f.dst.read(reconcile=True).filter("_deleted")
    assert sorted(r["k"] for r in stubs.collect()) == ["k1", "k2"]


def test_filtered_follower_composes_with_projection(
    spark, tmp_root, src_applier
):
    """The predicate may reference columns OUTSIDE the projection: the
    filter runs on the source-shaped frame before projection."""
    _apply(spark, src_applier, 0, 100, 0)
    f = ChangelogFollower(
        spark,
        src_applier.pages,
        os.path.join(tmp_root, "dst"),
        columns=[],  # key + order + engine only — no lang column kept
        where="lang = 'en'",
    )
    _apply(spark, src_applier, 100, 200, 1)
    f.sync()
    assert set(f.dst.read().columns) == {"url", "warc_ts", "_lsn", "_deleted"}
    want = sorted(
        r["url"]
        for r in read_pages(src_applier.pages).filter("lang = 'en'").collect()
    )
    got = sorted(
        r["url"]
        for r in f.dst.read(reconcile=True).filter("not _deleted").collect()
    )
    assert got == want and len(want) > 0

    # conflicting predicate on reopen refuses
    with pytest.raises(ValueError, match="different predicate"):
        ChangelogFollower(
            spark,
            src_applier.pages,
            os.path.join(tmp_root, "dst"),
            where="lang = 'de'",
        )


def test_projection_keeps_spaced_order_and_distinct_merge_key(
    spark, tmp_root
):
    """Required replica columns survive a spaced merge.order list and a
    merge.key distinct from the bucket key — silently dropping either
    would break the replica's own reconciled reads."""
    from pyspark.sql.types import StructType

    from giraffe_etl_spark.lake import Table

    schema = StructType.fromDDL(
        "bkt string, k string, ts long, seq long, v long, w long"
    )
    t = Table.create(
        spark,
        os.path.join(tmp_root, "t"),
        schema,
        bucket_key="bkt",
        n_buckets=2,
        properties={"merge.key": "k", "merge.order": "ts, seq"},
    )
    rows = lambda xs: spark.createDataFrame(xs, schema)
    t.append(rows([("a", "k1", 1, 1, 10, 100), ("b", "k2", 1, 2, 20, 200)]))

    f = ChangelogFollower(
        spark, t, os.path.join(tmp_root, "dst"), columns=["v"]
    )
    # bkt (bucket key), k (merge key), ts+seq (spaced order) all kept;
    # w (unrequested payload) projected away
    assert set(f.dst.read().columns) == {"bkt", "k", "ts", "seq", "v"}

    # a dirty-bucket reconcile on the replica works (the bug this
    # pins: a dropped ' seq' column broke the replica's own max_by)
    t.append_deltas(None, rows([("a", "k1", 2, 3, 11, 101)]))
    f.sync()
    got = sorted(
        tuple(r)
        for r in f.dst.read(reconcile=True).select("k", "ts", "v").collect()
    )
    assert got == [("k1", 2, 11), ("k2", 1, 20)]


def test_sync_runs_a_fixed_number_of_jobs(spark, tmp_root, src_applier):
    """One follower sync over a fixed small window runs an exact number
    of Spark jobs — the replica's delta write and nothing else: the
    change scan opens from the source manifests, with no listing or
    schema-inference job."""
    from tests.test_lake import jobs_run

    f = ChangelogFollower(
        spark, src_applier.pages, os.path.join(tmp_root, "dst"), n_buckets=4
    )
    _apply(spark, src_applier, 0, 100, 0)
    rep, jobs = jobs_run(spark, f.sync)
    assert rep["commits"] == 1
    assert len(jobs) == 2, jobs
    assert _rows(f.dst) == _rows(src_applier.pages)


def test_sync_reads_the_head_snapshot_once(spark, tmp_root):
    """A sync over one source commit reads at most three source metadata
    files (the ``_current`` pointer, the head manifest, the cursor's
    manifest): the window is walked from the head snapshot the sync
    already holds instead of reading the head manifest again."""
    from giraffe_etl_spark.lake import PosixFileIO

    class ReadCountingIO(PosixFileIO):
        def __init__(self):
            super().__init__()
            self.reads = []

        def read_text(self, path):
            self.reads.append(path)
            return super().read_text(path)

    io = ReadCountingIO()
    applier = CdcApplier(spark, os.path.join(tmp_root, "src"), n_buckets=8, io=io)
    seed_pages(applier.pages, spark.createDataFrame(gen_pages(50)))
    f = ChangelogFollower(
        spark, applier.pages, os.path.join(tmp_root, "dst"), n_buckets=4
    )
    _apply(spark, applier, 0, 100, 0)
    assert applier.pages.current_snapshot().snapshot_id == f.cursor + 1
    io.reads.clear()
    rep = f.sync()
    src = [p for p in io.reads if p.startswith(applier.pages.path)]
    assert rep["commits"] == 1
    assert len(src) <= 3, src
    assert _rows(f.dst) == _rows(applier.pages)
