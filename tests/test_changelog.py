"""Changelog emission (CDC out) + rollback over the lake table.

``read_changes`` is the snapshot-diff incremental scan: a consumer that
saw snapshot A reads exactly the rows commits (A, B] added — upserts +
tombstones under merge-on-read — with O(changed files) I/O.  Rewrite
commits (compaction, copy-on-write merge) restate rows instead of
describing changes and must be refused or skipped, never emitted.
"""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from giraffe_etl_spark.lake import Table


def mor_table(spark, root, n_buckets=4):
    schema = StructType.fromDDL("k string, ts long, v long")
    return Table.create(
        spark,
        os.path.join(root, "t"),
        schema,
        bucket_key="k",
        n_buckets=n_buckets,
        properties={"merge.key": "k", "merge.order": "ts"},
    )


def rows_df(spark, rows):
    return spark.createDataFrame(rows, "k string, ts long, v long")


def _buckets_of(t, df):
    return sorted(
        r["_b"]
        for r in df.select(t.bucket_expr("k").alias("_b")).distinct().collect()
    )


def test_read_changes_returns_exactly_the_committed_rows(spark, tmp_root):
    t = mor_table(spark, tmp_root)
    t.append(rows_df(spark, [("a", 1, 10), ("b", 1, 20)]))
    s1 = t.current_snapshot().snapshot_id
    d2 = rows_df(spark, [("a", 2, 11), ("c", 1, 30)])
    t.append_deltas(_buckets_of(t, d2), d2)
    s2 = t.current_snapshot().snapshot_id
    d3 = rows_df(spark, [("b", 2, 21)])
    t.append_deltas(_buckets_of(t, d3), d3)

    # (s1, s2]: exactly the second commit's rows
    got = {(r.k, r.ts, r.v) for r in t.read_changes(s1, s2).collect()}
    assert got == {("a", 2, 11), ("c", 1, 30)}
    # (s1, current]: both delta commits, not the seed append
    got = {(r.k, r.ts, r.v) for r in t.read_changes(s1).collect()}
    assert got == {("a", 2, 11), ("c", 1, 30), ("b", 2, 21)}
    # empty range
    assert t.read_changes(s2, s2).count() == 0


def test_read_changes_scans_only_changed_files(spark, tmp_root):
    t = mor_table(spark, tmp_root)
    t.append(rows_df(spark, [(f"k{i}", 1, i) for i in range(40)]))
    s1 = t.current_snapshot().snapshot_id
    d = rows_df(spark, [("k0", 2, 100)])
    t.append_deltas(_buckets_of(t, d), d)

    snap = t.current_snapshot()
    base_paths = {fi["path"] for fs in snap.buckets.values() for fi in fs}
    scanned = set(t.read_changes(s1).inputFiles())
    assert scanned, "changelog scan read no files"
    assert not (scanned & base_paths), "changelog re-read base files"


def test_read_changes_commit_col_orders_commits(spark, tmp_root):
    t = mor_table(spark, tmp_root)
    s0 = t.current_snapshot().snapshot_id
    for i in range(3):
        d = rows_df(spark, [("a", i + 1, i)])
        t.append_deltas(_buckets_of(t, d), d)
    got = t.read_changes(s0, with_commit_col=True).orderBy("ts").collect()
    commits = [r._commit_snapshot for r in got]
    assert commits == sorted(commits) and len(set(commits)) == 3


def test_read_changes_refuses_rewrite_commits(spark, tmp_root):
    t = mor_table(spark, tmp_root)
    t.append(rows_df(spark, [("a", 1, 10)]))
    s1 = t.current_snapshot().snapshot_id
    d = rows_df(spark, [("a", 2, 11)])
    t.append_deltas(_buckets_of(t, d), d)
    t.compact_deltas()  # rewrite: restates rows, not a change
    d2 = rows_df(spark, [("a", 3, 12)])
    t.append_deltas(_buckets_of(t, d2), d2)

    with pytest.raises(ValueError, match="rewrote"):
        t.read_changes(s1).collect()
    # skip mode keeps the pure-append commits on both sides of the rewrite
    got = {(r.k, r.ts, r.v) for r in t.read_changes(s1, on_rewrite="skip").collect()}
    assert got == {("a", 2, 11), ("a", 3, 12)}


def test_read_changes_maps_old_files_onto_new_schema(spark, tmp_root):
    t = mor_table(spark, tmp_root)
    s0 = t.current_snapshot().snapshot_id
    d = rows_df(spark, [("a", 1, 10)])
    t.append_deltas(_buckets_of(t, d), d)
    t.rename_column("v", "val")
    t.add_column("extra", "string")
    got = t.read_changes(s0, on_rewrite="skip").collect()
    assert [(r.k, r.val, r.extra) for r in got] == [("a", 10, None)]


def test_rollback_restores_state_without_rewriting(spark, tmp_root):
    t = mor_table(spark, tmp_root)
    t.append(rows_df(spark, [("a", 1, 10)]))
    good = t.current_snapshot()
    d = rows_df(spark, [("a", 2, 999)])  # the bad commit
    t.append_deltas(_buckets_of(t, d), d)
    assert {r.v for r in t.read().collect()} == {999}

    rb = t.rollback(good.snapshot_id)
    assert {r.v for r in t.read().collect()} == {10}
    # non-destructive: history is linear, the bad snapshot still readable
    assert rb.parent_id == good.snapshot_id + 1
    assert t.snapshot_at(good.snapshot_id + 1) is not None
    # nothing was rewritten: same file entries by reference
    assert t.current_snapshot().buckets == good.buckets
    # and the table keeps working after rollback
    d2 = rows_df(spark, [("a", 3, 11)])
    t.append_deltas(_buckets_of(t, d2), d2)
    assert {r.v for r in t.read().collect()} == {11}


def test_read_changes_pre_images_emit_prior_winners(spark, tmp_root):
    """with_pre_images tags the window's new versions 'after' and adds
    each touched key's prior reconciled winner as 'before' — update
    pre-image, insert has none, prior tombstone is emitted as-is."""
    t = mor_table(spark, tmp_root)
    t.append(rows_df(spark, [("a", 1, 10), ("b", 1, 20), ("d", 1, 40)]))
    # tombstone "d" before the window so its prior winner is a delete
    # marker (modeled here as a newer version; tombstoning proper is
    # the cdc layer's _deleted — the table sees only merge.order)
    d0 = rows_df(spark, [("d", 2, 41)])
    t.append_deltas(_buckets_of(t, d0), d0)
    s1 = t.current_snapshot().snapshot_id
    # window: update a (new winner), insert c, leave b and d untouched
    d2 = rows_df(spark, [("a", 3, 12), ("c", 1, 30)])
    t.append_deltas(_buckets_of(t, d2), d2)

    ch = t.read_changes(s1, with_pre_images=True)
    got = sorted(
        (r["k"], r["ts"], r["v"], r["_change_type"]) for r in ch.collect()
    )
    assert got == [
        ("a", 1, 10, "before"),  # prior winner of the updated key
        ("a", 3, 12, "after"),
        ("c", 1, 30, "after"),   # fresh insert: no pre-image row
    ]


def test_read_changes_pre_images_read_only_touched_buckets(spark, tmp_root):
    """Pre-image I/O is bucket-pruned: the before-scan's input files
    all belong to buckets the window touched."""
    t = mor_table(spark, tmp_root, n_buckets=8)
    seed = rows_df(spark, [(f"k{i}", 1, i) for i in range(40)])
    t.append(seed)
    s1 = t.current_snapshot().snapshot_id
    d = rows_df(spark, [("k0", 2, 100)])
    t.append_deltas(_buckets_of(t, d), d)

    ch = t.read_changes(s1, with_pre_images=True)
    rows = {(r["k"], r["_change_type"]) for r in ch.collect()}
    assert rows == {("k0", "after"), ("k0", "before")}
    # plan-level: the scan reads strictly fewer files than a full read
    n_full = len(t.read().inputFiles())
    n_pre = len(ch.inputFiles())
    assert n_pre < n_full


def test_read_changes_pre_images_map_schema_evolution(spark, tmp_root):
    """A column added AFTER the window's from-snapshot materializes as
    null on 'before' rows (id-mapped), real values on 'after' rows."""
    t = mor_table(spark, tmp_root)
    t.append(rows_df(spark, [("a", 1, 10)]))
    s1 = t.current_snapshot().snapshot_id
    t.add_column("w", "long")
    d = spark.createDataFrame([("a", 2, 11, 7)], "k string, ts long, v long, w long")
    t.append_deltas(_buckets_of(t, d), d)

    ch = t.read_changes(s1, with_pre_images=True)
    got = sorted(
        (r["k"], r["ts"], r["w"], r["_change_type"]) for r in ch.collect()
    )
    assert got == [("a", 1, None, "before"), ("a", 2, 7, "after")]


def test_read_changes_pre_images_across_mid_window_rescale(spark, tmp_root):
    """Touched buckets are numbered under the post-rescale layout; the
    pre-image scan must translate them to the from-snapshot's layout
    (new % old) or prior winners silently vanish from the feed."""
    t = mor_table(spark, tmp_root, n_buckets=2)
    seed = rows_df(spark, [(f"k{i}", 1, i) for i in range(20)])
    t.append(seed)
    s1 = t.current_snapshot().snapshot_id

    t.rescale_buckets(8)  # k*N split inside the window (restatement)
    upd = rows_df(spark, [(f"k{i}", 2, 100 + i) for i in range(0, 20, 4)])
    t.append_deltas(None, upd)

    ch = t.read_changes(s1, with_pre_images=True, on_rewrite="skip")
    got = sorted(
        (r["k"], r["ts"], r["_change_type"]) for r in ch.collect()
    )
    want = sorted(
        [(f"k{i}", 2, "after") for i in range(0, 20, 4)]
        + [(f"k{i}", 1, "before") for i in range(0, 20, 4)]
    )
    assert got == want


def test_read_changes_pre_images_with_commit_col(spark, tmp_root):
    """'after' rows carry the committing snapshot id; 'before' rows are
    historical state, not a commit — their _commit_snapshot is null."""
    t = mor_table(spark, tmp_root)
    t.append(rows_df(spark, [("a", 1, 10)]))
    s1 = t.current_snapshot().snapshot_id
    t.append_deltas(None, rows_df(spark, [("a", 2, 11)]))
    s2 = t.current_snapshot().snapshot_id

    ch = t.read_changes(s1, with_pre_images=True, with_commit_col=True)
    got = {
        (r["_change_type"], r["_commit_snapshot"]) for r in ch.collect()
    }
    assert got == {("after", s2), ("before", None)}


def test_read_changes_with_pre_images_builds_without_jobs(spark, tmp_root):
    """The change scan, its pre-image read and their join are built
    from the manifests alone: no Spark job runs until the rows are
    asked for, and the rows are the window's versions plus the prior
    winners of the keys it touched."""
    from tests.test_lake import jobs_run

    t = mor_table(spark, tmp_root, n_buckets=8)
    t.append(rows_df(spark, [(f"k{i}", 1, i) for i in range(40)]))
    s1 = t.current_snapshot().snapshot_id
    d = rows_df(spark, [("k0", 2, 100), ("k1", 2, 101), ("new", 1, 7)])
    t.append_deltas(_buckets_of(t, d), d)

    ch, jobs = jobs_run(
        spark, lambda: t.read_changes(s1, with_pre_images=True)
    )
    assert jobs == []
    got = sorted(
        (r["k"], r["ts"], r["v"], r["_change_type"]) for r in ch.collect()
    )
    assert got == [
        ("k0", 1, 0, "before"),
        ("k0", 2, 100, "after"),
        ("k1", 1, 1, "before"),
        ("k1", 2, 101, "after"),
        ("new", 1, 7, "after"),
    ]
