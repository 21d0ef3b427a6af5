"""IncrementalRollup: differential aggregates from changelog pre-images.

The retraction form of incremental view maintenance: 'after' rows add
their contribution, 'before' rows subtract theirs, so the rollup equals
a recompute-from-scratch at every cursor — without a keyed replica and
without re-reading the source's base data.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from giraffe_etl_spark.cdc import IncrementalRollup
from giraffe_etl_spark.cdc.apply import CdcApplier, read_pages, seed_pages
from giraffe_etl_spark.cdc.generate import ChangeGenConfig, gen_changes, gen_pages
from giraffe_etl_spark.lake import Table

CHANGES_DDL = "lsn long, op string, url string, warc_ts timestamp, html binary"

MEASURES = {"n_pages": "1", "chars": "coalesce(length(text), 0)"}


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


def _recompute(pages_table):
    return sorted(
        (r["lang"], r["n_pages"], r["chars"])
        for r in read_pages(pages_table)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_pages"),
            F.sum(F.coalesce(F.length("text"), F.lit(0)))
            .cast("double")
            .alias("chars"),
        )
        .collect()
    )


def _rollup_rows(rollup):
    return sorted(
        (r["lang"], r["n_pages"], r["chars"]) for r in rollup.read().collect()
    )


def test_rollup_tracks_replay_differentially(spark, tmp_root, src_applier):
    """Seed from the non-empty source, then per-batch syncs stay equal
    to recompute-from-scratch through inserts, updates and deletes."""
    rollup = IncrementalRollup(
        spark,
        src_applier.pages,
        os.path.join(tmp_root, "rollup"),
        group_cols=["lang"],
        measures=MEASURES,
    )
    assert _rollup_rows(rollup) == _recompute(src_applier.pages)

    for i, (lo, hi) in enumerate([(0, 100), (100, 200), (200, 300)]):
        _apply(spark, src_applier, lo, hi, i)
        rollup.sync()
        assert _rollup_rows(rollup) == _recompute(src_applier.pages)


def test_rollup_sync_is_idempotent(spark, tmp_root, src_applier):
    _apply(spark, src_applier, 0, 100, 0)
    rollup = IncrementalRollup(
        spark,
        src_applier.pages,
        os.path.join(tmp_root, "rollup"),
        group_cols=["lang"],
        measures=MEASURES,
    )
    before = _rollup_rows(rollup)
    rep = rollup.sync()
    assert rep["commits"] == 0  # cursor already at head
    assert _rollup_rows(rollup) == before
    # a reconstructed rollup over the same path resumes from its cursor
    again = IncrementalRollup(
        spark,
        src_applier.pages,
        os.path.join(tmp_root, "rollup"),
        group_cols=["lang"],
        measures=MEASURES,
    )
    assert _rollup_rows(again) == before


def test_rollup_sync_reports_its_window(spark, tmp_root, src_applier):
    """A 3-commit window holding a compaction: two commits folded, the
    rewrite skipped, and the (from, to] source range reported."""
    _apply(spark, src_applier, 0, 100, 0)
    rollup = IncrementalRollup(
        spark,
        src_applier.pages,
        os.path.join(tmp_root, "rollup"),
        group_cols=["lang"],
        measures=MEASURES,
        on_rewrite="skip",
    )
    start = rollup.cursor
    _apply(spark, src_applier, 100, 200, 1)
    src_applier.pages.compact_deltas()
    _apply(spark, src_applier, 200, 300, 2)
    head = src_applier.pages.current_snapshot().snapshot_id
    assert head == start + 3

    rep = rollup.sync()
    assert rep == {
        "commits": 2,
        "rewrites_skipped": 1,
        "src_range": (start, head),
        "src_snapshot": head,
    }
    assert _rollup_rows(rollup) == _recompute(src_applier.pages)
    assert rollup.sync()["src_range"] == (head, head)


def test_rollup_fully_retracted_group_disappears(spark, tmp_root):
    """When every row of a group is deleted, the group leaves the
    rollup — exactly as a recompute would drop it."""
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
    rows = [
        ("u1", 1, "xx", 1, False),
        ("u2", 1, "xx", 2, False),
        ("u3", 1, "yy", 3, False),
    ]
    t.append(spark.createDataFrame(rows, schema))
    rollup = IncrementalRollup(
        spark,
        t,
        os.path.join(tmp_root, "rollup"),
        group_cols=["lang"],
        measures={"n_pages": "1"},
    )
    assert _langs(rollup) == [("xx", 2.0), ("yy", 1.0)]

    dead = [("u1", 2, None, 4, True), ("u2", 2, None, 5, True)]
    t.append_deltas(None, spark.createDataFrame(dead, schema))
    rollup.sync()
    assert _langs(rollup) == [("yy", 1.0)]


def _langs(rollup):
    return sorted((r["lang"], r["n_pages"]) for r in rollup.read().collect())


def test_rollup_seed_crash_is_redone(spark, tmp_root, src_applier, monkeypatch):
    """A crash between Table.create and the seed commit leaves the
    sentinel cursor; reconstruction redoes the seed instead of serving
    an empty rollup that claims to be current."""
    _apply(spark, src_applier, 0, 60, 0)
    path = os.path.join(tmp_root, "rollup")

    def boom(self):
        raise RuntimeError("crash before seed")

    monkeypatch.setattr(IncrementalRollup, "_seed", boom)
    with pytest.raises(RuntimeError, match="crash before seed"):
        IncrementalRollup(
            spark,
            src_applier.pages,
            path,
            group_cols=["lang"],
            measures=MEASURES,
        )
    monkeypatch.undo()

    r = IncrementalRollup(
        spark, src_applier.pages, path, group_cols=["lang"], measures=MEASURES
    )
    assert _rollup_rows(r) == _recompute(src_applier.pages)
    # and subsequent differential syncs work off the redone seed
    _apply(spark, src_applier, 60, 120, 1)
    r.sync()
    assert _rollup_rows(r) == _recompute(src_applier.pages)


def test_rollup_over_empty_source_seeds_then_tracks(spark, tmp_root):
    from giraffe_etl_spark.cdc.apply import CdcApplier as _A

    applier = _A(spark, os.path.join(tmp_root, "src"), n_buckets=4)
    r = IncrementalRollup(
        spark,
        applier.pages,
        os.path.join(tmp_root, "rollup"),
        group_cols=["lang"],
        measures=MEASURES,
    )
    assert _rollup_rows(r) == []
    _apply(spark, applier, 0, 60, 0)
    r.sync()
    assert _rollup_rows(r) == _recompute(applier.pages)


def test_rollup_skips_compaction_restatements(spark, tmp_root, src_applier):
    """With on_rewrite='skip', a source compaction inside the sync
    window contributes nothing (its files restate rows) and the
    differential stays equal to recompute."""
    _apply(spark, src_applier, 0, 100, 0)
    rollup = IncrementalRollup(
        spark,
        src_applier.pages,
        os.path.join(tmp_root, "rollup"),
        group_cols=["lang"],
        measures=MEASURES,
        on_rewrite="skip",
    )
    _apply(spark, src_applier, 100, 200, 1)
    src_applier.pages.compact_deltas(max_delta_files=0)
    _apply(spark, src_applier, 200, 300, 2)
    rollup.sync()
    assert _rollup_rows(rollup) == _recompute(src_applier.pages)


def test_rollup_null_group_value_merges_not_duplicates(spark, tmp_root):
    """A null group value is one group (as groupBy folds it); the
    null-safe outer merge must pair current and delta null-group rows
    instead of leaving duplicates."""
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
            [("u1", 1, None, 1, False), ("u2", 1, "yy", 2, False)], schema
        )
    )
    rollup = IncrementalRollup(
        spark,
        t,
        os.path.join(tmp_root, "rollup"),
        group_cols=["lang"],
        measures={"n_pages": "1"},
    )
    def langs():
        return sorted(
            ((r["lang"], r["n_pages"]) for r in rollup.read().collect()),
            key=lambda t: (t[0] is not None, t[0]),
        )

    assert langs() == [(None, 1.0), ("yy", 1.0)]

    # another null-group row arrives: the null group must MERGE to 2,
    # not appear twice
    t.append_deltas(
        None, spark.createDataFrame([("u3", 1, None, 3, False)], schema)
    )
    rollup.sync()
    assert langs() == [(None, 2.0), ("yy", 1.0)]

    # retract one of them
    t.append_deltas(
        None, spark.createDataFrame([("u1", 2, None, 4, True)], schema)
    )
    rollup.sync()
    assert langs() == [(None, 1.0), ("yy", 1.0)]


def test_rollup_zero_netting_group_survives(spark, tmp_root):
    """Group existence tracks the live-row count, not user measures: a
    signed measure netting to exactly 0 is a VALUE, and the group stays
    — as a recompute would report it."""
    schema = StructType.fromDDL(
        "url string, warc_ts long, score long, lang string, "
        "_lsn long, _deleted boolean"
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
            [
                ("u1", 1, 5, "xx", 1, False),
                ("u2", 1, -5, "xx", 2, False),  # xx nets to 0, 2 live rows
                ("u3", 1, 3, "yy", 3, False),
            ],
            schema,
        )
    )
    rollup = IncrementalRollup(
        spark,
        t,
        os.path.join(tmp_root, "rollup"),
        group_cols=["lang"],
        measures={"net": "score"},
    )
    rows = sorted((r["lang"], r["net"]) for r in rollup.read().collect())
    assert rows == [("xx", 0.0), ("yy", 3.0)]

    # a sync touching only yy must not evict the zero-valued xx group
    t.append_deltas(
        None,
        spark.createDataFrame([("u3", 2, 4, "yy", 4, False)], schema),
    )
    rollup.sync()
    rows = sorted((r["lang"], r["net"]) for r in rollup.read().collect())
    assert rows == [("xx", 0.0), ("yy", 4.0)]

    # deleting BOTH xx rows removes the group (live count hits 0)
    dead = [("u1", 3, None, None, 5, True), ("u2", 3, None, None, 6, True)]
    t.append_deltas(None, spark.createDataFrame(dead, schema))
    rollup.sync()
    rows = sorted((r["lang"], r["net"]) for r in rollup.read().collect())
    assert rows == [("yy", 4.0)]


def test_rollup_reopen_with_different_definition_raises(
    spark, tmp_root, src_applier
):
    _apply(spark, src_applier, 0, 60, 0)
    path = os.path.join(tmp_root, "rollup")
    IncrementalRollup(
        spark, src_applier.pages, path, group_cols=["lang"], measures=MEASURES
    )
    # same definition reopens fine
    IncrementalRollup(
        spark, src_applier.pages, path, group_cols=["lang"], measures=MEASURES
    )
    # a changed measure EXPRESSION must refuse (silent divergence)
    with pytest.raises(ValueError, match="different definition"):
        IncrementalRollup(
            spark,
            src_applier.pages,
            path,
            group_cols=["lang"],
            measures={"n_pages": "2", "chars": MEASURES["chars"]},
        )
    # reserved / colliding measure names fail fast
    with pytest.raises(ValueError, match="measure names"):
        IncrementalRollup(
            spark,
            src_applier.pages,
            os.path.join(tmp_root, "r2"),
            group_cols=["lang"],
            measures={"_rows": "1"},
        )


def test_rollup_expired_cursor_raises_resync_and_reseeds(spark, tmp_root):
    """A cursor behind the source's retention window gets the follower
    contract (ResyncRequired + recovery), not a raw SnapshotExpired;
    reseed() restores equality with recompute."""
    from giraffe_etl_spark.cdc import ResyncRequired

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
    rows = lambda xs: spark.createDataFrame(xs, schema)
    t.append(rows([("u1", 1, "xx", 1, False)]))
    rollup = IncrementalRollup(
        spark,
        t,
        os.path.join(tmp_root, "rollup"),
        group_cols=["lang"],
        measures={"n_pages": "1"},
    )
    for i in range(6):  # march the source far past the cursor
        t.append_deltas(None, rows([(f"v{i}", 1, "yy", 10 + i, False)]))
    t.expire_snapshots(keep_last=2, orphan_min_age_s=0.0)

    with pytest.raises(ResyncRequired, match="reseed"):
        rollup.sync()
    rollup.reseed()
    got = sorted((r["lang"], r["n_pages"]) for r in rollup.read().collect())
    assert got == [("xx", 1.0), ("yy", 6.0)]
    # and the reseeded rollup syncs incrementally again
    t.append_deltas(None, rows([("w", 1, "yy", 99, False)]))
    rollup.sync()
    got = sorted((r["lang"], r["n_pages"]) for r in rollup.read().collect())
    assert got == [("xx", 1.0), ("yy", 7.0)]


def test_rollup_sync_runs_a_fixed_number_of_jobs(spark, tmp_root, src_applier):
    """One sync over a fixed small window runs an exact number of Spark
    jobs: the signed-delta aggregate's two shuffle stages and its result
    stage (AQE, on outside the apply, runs each as its own job) and
    nothing else.  The scans open from the manifests (no listing or
    schema-inference job), and the current rows are read, merged and
    replaced on the driver (no join, no rewrite job)."""
    from tests.test_lake import jobs_run

    rollup = IncrementalRollup(
        spark,
        src_applier.pages,
        os.path.join(tmp_root, "rollup"),
        group_cols=["lang"],
        measures=MEASURES,
    )
    _apply(spark, src_applier, 0, 100, 0)
    _, jobs = jobs_run(spark, rollup.sync)
    assert len(jobs) == 3, jobs
    assert _rollup_rows(rollup) == _recompute(src_applier.pages)


def test_rollup_sync_reads_its_window_once(spark, tmp_root):
    """A sync over one source commit reads three source metadata files
    (the ``_current`` pointer, the head manifest, the cursor's manifest):
    one manifest walk serves the sync's report and its change scan,
    instead of walking the window again and re-reading its ends."""
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
    rollup = IncrementalRollup(
        spark,
        applier.pages,
        os.path.join(tmp_root, "rollup"),
        group_cols=["lang"],
        measures=MEASURES,
    )
    _apply(spark, applier, 0, 100, 0)
    io.reads.clear()
    rep = rollup.sync()
    src = [p for p in io.reads if p.startswith(applier.pages.path)]
    assert rep["commits"] == 1
    assert len(src) == 3 and len(set(src)) == 3, src
    assert _rollup_rows(rollup) == _recompute(applier.pages)


def test_rollup_refuses_a_source_rollback(spark, tmp_root, src_applier):
    """A rollback changes content, so it is never skipped as a
    restatement: under on_rewrite='skip' the rollup raises
    ResyncRequired (as the follower does) instead of folding a window
    that leaves it unequal to the recompute, and read_changes raises."""
    from giraffe_etl_spark.cdc import ResyncRequired

    _apply(spark, src_applier, 0, 100, 0)
    rollup = IncrementalRollup(
        spark,
        src_applier.pages,
        os.path.join(tmp_root, "rollup"),
        group_cols=["lang"],
        measures=MEASURES,
        on_rewrite="skip",
    )
    pre = src_applier.pages.current_snapshot().snapshot_id
    _apply(spark, src_applier, 100, 200, 1)
    rollup.sync()
    src_applier.pages.rollback(pre)
    with pytest.raises(ResyncRequired, match="rollback"):
        rollup.sync()
    with pytest.raises(ValueError, match="rollback"):
        src_applier.pages.read_changes(pre + 1, on_rewrite="skip")
    rollup.reseed()
    assert _rollup_rows(rollup) == _recompute(src_applier.pages)


def test_rollup_groups_on_date_and_int_columns_match_recompute(spark, tmp_root):
    """Group columns of non-string types (date, int, with a null) keep
    their type through the driver-side read, merge and write: the
    rollup equals a recompute after a seed and after a sync that
    updates, deletes and inserts."""
    import datetime as dt

    schema = StructType.fromDDL(
        "url string, warc_ts long, day date, n int, size long, "
        "_lsn long, _deleted boolean"
    )
    t = Table.create(
        spark,
        os.path.join(tmp_root, "t"),
        schema,
        bucket_key="url",
        n_buckets=2,
        properties={"merge.key": "url", "merge.order": "warc_ts,_lsn"},
    )
    d1, d2 = dt.date(2024, 1, 1), dt.date(2024, 1, 2)
    t.append(
        spark.createDataFrame(
            [
                ("u1", 1, d1, 1, 10, 1, False),
                ("u2", 1, d1, 1, 20, 2, False),
                ("u3", 1, d2, 2, 30, 3, False),
                ("u4", 1, d2, None, 40, 4, False),
            ],
            schema,
        )
    )
    rollup = IncrementalRollup(
        spark,
        t,
        os.path.join(tmp_root, "rollup"),
        group_cols=["day", "n"],
        measures={"bytes": "size", "pages": "1"},
    )

    def rows(df):
        return sorted(
            ((r["day"], r["n"], r["bytes"], r["pages"]) for r in df.collect()),
            key=lambda r: (r[0], r[1] is not None, r[1] or 0),
        )

    def recompute():
        return rows(
            t.read()
            .filter(~F.col("_deleted"))
            .groupBy("day", "n")
            .agg(
                F.sum("size").cast("double").alias("bytes"),
                F.count(F.lit(1)).cast("double").alias("pages"),
            )
        )

    assert rows(rollup.read()) == recompute()
    t.append_deltas(
        None,
        spark.createDataFrame(
            [
                ("u1", 2, d2, 2, 11, 5, False),      # moves to (d2, 2)
                ("u2", 2, None, None, None, 6, True),  # empties (d1, 1)
                ("u5", 1, d1, 3, 50, 7, False),       # new group
                ("u6", 1, d2, None, 60, 8, False),    # null group grows
            ],
            schema,
        ),
    )
    rollup.sync()
    assert rows(rollup.read()) == recompute()
    assert (d1, 1) not in {(r[0], r[1]) for r in rows(rollup.read())}


def test_rollup_racing_syncs_never_fold_a_window_twice(
    spark, tmp_root, src_applier, monkeypatch
):
    """Two syncs of one rollup over the same window: the second to
    commit finds bucket 0 changed since the rollup state its deltas
    were computed against, and raises CommitConflict instead of adding
    the window a second time.  Re-run, it is a no-op, and the rollup
    equals a recompute."""
    from giraffe_etl_spark.lake import CommitConflict

    path = os.path.join(tmp_root, "rollup")
    first = IncrementalRollup(
        spark, src_applier.pages, path, group_cols=["lang"], measures=MEASURES
    )
    second = IncrementalRollup(
        spark, src_applier.pages, path, group_cols=["lang"], measures=MEASURES
    )
    _apply(spark, src_applier, 0, 100, 0)
    commit = second._commit_deltas

    def lands_after_first(*args):
        first.sync()
        commit(*args)

    monkeypatch.setattr(second, "_commit_deltas", lands_after_first)
    with pytest.raises(CommitConflict):
        second.sync()
    monkeypatch.undo()
    assert second.sync()["commits"] == 0
    assert _rollup_rows(second) == _recompute(src_applier.pages)


def _lww_table(spark, tmp_root):
    schema = StructType.fromDDL(
        "url string, warc_ts long, lang string, score long, html string, "
        "_lsn long, _deleted boolean"
    )
    t = Table.create(
        spark,
        os.path.join(tmp_root, "t"),
        schema,
        bucket_key="url",
        n_buckets=2,
        properties={"merge.key": "url", "merge.order": "warc_ts,_lsn"},
    )
    return t, lambda xs: spark.createDataFrame(xs, schema)


def _lww_recompute(t):
    return sorted(
        (r["lang"], r["n"], r["score"])
        for r in t.read()
        .filter(~F.col("_deleted"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("score").cast("double").alias("score"),
        )
        .collect()
    )


def _lww_rollup_rows(rollup):
    return sorted((r["lang"], r["n"], r["score"]) for r in rollup.read().collect())


def _lww_rollup(spark, tmp_root, t):
    return IncrementalRollup(
        spark,
        t,
        os.path.join(tmp_root, "rollup"),
        group_cols=["lang"],
        measures={"n": "1", "score": "score"},
    )


def test_rollup_multi_commit_window_matches_recompute(spark, tmp_root):
    """One sync folds a window of four commits whose versions interact
    across commits and with the prior state, and the rollup equals the
    recompute after every sync:

    - u1 changes group twice inside the window (xx -> yy -> zz);
    - u2's window version is late: it loses to the prior winner;
    - u3 is deleted, then re-inserted into another group;
    - u4's prior winner is a tombstone, and the window re-inserts it;
    - u5's prior winner is a tombstone, and its late insert loses."""
    t, rows = _lww_table(spark, tmp_root)
    t.append(
        rows(
            [
                ("u1", 1, "xx", 1, "<p>a</p>", 1, False),
                ("u2", 5, "xx", 2, "<p>b</p>", 2, False),
                ("u3", 1, "yy", 3, "<p>c</p>", 3, False),
                ("u4", 1, "yy", 4, "<p>d</p>", 4, False),
                ("u5", 1, "yy", 5, "<p>e</p>", 5, False),
            ]
        )
    )
    t.append_deltas(
        None,
        rows(
            [
                ("u4", 2, None, None, None, 6, True),
                ("u5", 5, None, None, None, 7, True),
            ]
        ),
    )
    rollup = _lww_rollup(spark, tmp_root, t)
    assert _lww_rollup_rows(rollup) == _lww_recompute(t)
    window = [
        [
            ("u1", 2, "yy", 10, "<p>a2</p>", 10, False),
            ("u2", 3, "zz", 20, "<p>late</p>", 11, False),
            ("u3", 2, None, None, None, 12, True),
        ],
        [
            ("u1", 3, "zz", 100, "<p>a3</p>", 13, False),
            ("u4", 3, "zz", 40, "<p>d2</p>", 14, False),
        ],
        [("u3", 3, "ww", 30, "<p>c2</p>", 15, False)],
        [("u5", 2, "ww", 50, "<p>e-late</p>", 16, False)],
    ]
    for commit in window:
        t.append_deltas(None, rows(commit))
    rep = rollup.sync()
    assert rep["commits"] == len(window)
    assert _lww_rollup_rows(rollup) == _lww_recompute(t)
    assert _lww_rollup_rows(rollup) == [
        ("ww", 1.0, 30.0),
        ("xx", 1.0, 2.0),
        ("zz", 2.0, 140.0),
    ]

    # a second window over the folded state: u1 deleted, u2 moved
    t.append_deltas(None, rows([("u1", 4, None, None, None, 17, True)]))
    t.append_deltas(None, rows([("u2", 6, "ww", 7, "<p>b2</p>", 18, False)]))
    rollup.sync()
    assert _lww_rollup_rows(rollup) == _lww_recompute(t)


def test_rollup_sync_plans_one_keyed_aggregate(spark, tmp_root, monkeypatch):
    """The signed deltas are one aggregate per key and one per group:
    exactly two exchanges, no window and no join, and the source's
    wide column (html) is never read."""
    t, rows = _lww_table(spark, tmp_root)
    t.append(rows([("u1", 1, "xx", 1, "<p>a</p>", 1, False)]))
    rollup = _lww_rollup(spark, tmp_root, t)
    t.append_deltas(None, rows([("u1", 2, "yy", 2, "<p>b</p>", 2, False)]))
    t.append_deltas(None, rows([("u2", 1, "yy", 3, "<p>c</p>", 3, False)]))

    planned = []
    frame_class = type(spark.range(1))
    to_arrow = frame_class.toArrow

    def record(df):
        qe = df._jdf.queryExecution()
        # before it runs: AQE shows its initial plan only
        planned.append((qe.optimizedPlan().toString(), qe.executedPlan().toString()))
        return to_arrow(df)

    monkeypatch.setattr(frame_class, "toArrow", record)
    rollup.sync()
    monkeypatch.undo()
    assert len(planned) == 1
    optimized, physical = planned[0]
    exchanges = [ln for ln in physical.splitlines() if "Exchange" in ln]
    assert len(exchanges) == 2, physical
    assert "Window" not in optimized and "Join" not in optimized, optimized
    assert "html" not in physical, physical
    assert _lww_rollup_rows(rollup) == _lww_recompute(t)
